"""DuckDB for the benchmark's output checks, in a process of its own.

The checks read the marts and run the catalog's oracles with DuckDB. In this
process their memory stays out of ``peak_rss_mb``: the sampler skips it.
``workloads.Checker`` starts it and talks to it in pickles over stdin and
stdout: a request is ``(sql, how)``, with ``how`` one of ``run``, ``all``,
``one`` and ``df``; a reply is ``(True, result)`` or ``(False, message)``.
The process ends at the end of its stdin.
"""

from __future__ import annotations

import pickle
import sys

import duckdb


def main() -> int:
    requests, replies = sys.stdin.buffer, sys.stdout.buffer
    sys.stdout = sys.stderr  # nothing but replies may reach the reply stream
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET memory_limit = '1GB'")
    con.execute("SET threads = 2")
    while True:
        try:
            sql, how = pickle.load(requests)
        except EOFError:
            return 0
        try:
            cur = con.execute(sql)
            result = {"run": lambda: None, "all": cur.fetchall, "one": cur.fetchone, "df": cur.fetchdf}[how]()
            reply = (True, result)
        except Exception as ex:  # noqa: BLE001 - the caller raises it
            reply = (False, f"{type(ex).__name__}: {ex}")
        pickle.dump(reply, replies)
        replies.flush()


if __name__ == "__main__":
    raise SystemExit(main())
