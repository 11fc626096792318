"""Web-corpus text operators: HTML → text extraction and URL
canonicalization — the post-WARC stage of a Common-Crawl-style training-data
pipeline (the stage that turns `sources/warc.py` records into the
`documents` corpus the dedup/quality operators consume). The reference has
no web stage; this extends the LLM-pipeline surface the build brief asks
for as first-class.

Scale design: both operators are pure native column expressions — map-only,
zero Python, zero shuffle, whole-stage codegen — so at 100 TB they cost one
linear scan co-partitioned with the read. The regex pipeline is shared,
step for step and in the same order, with the DuckDB oracle generators
(:func:`html_extract_sql` / :func:`canonical_url_ctes`), so the catalog's
cross-engine hash equality proves the *chain*, not just summary stats.

Cross-engine regex contract (Java regex on Spark, RE2 on DuckDB — the
patterns are restricted to their common subset):

- no backreferences or lookaround (RE2 has neither);
- ``\\A`` / ``\\z`` anchors instead of ``^`` / ``$`` (Java's ``$`` matches
  *before* a trailing newline, RE2's does not — the one anchor semantics
  split between the engines);
- inline flags ``(?i)`` / ``(?s)`` at pattern start only;
- ASCII character classes (Java's ``\\s`` and RE2's ``\\s`` are both
  ASCII-only by default, but spelled-out classes leave no doubt).

DuckDB quirk normalized in the SQL mirrors: ``array_to_string([])`` is
NULL there (Spark's ``array_join`` gives ``''``), hence the COALESCE.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------------------
# HTML → text: one ordered (pattern, replacement) table drives BOTH engines.
# --------------------------------------------------------------------------

# 1. Remove non-content subtrees wholesale (script/style payloads are code,
#    comments are invisible), THEN structure, THEN the generic tag strip —
#    order matters: a generic strip first would leave script bodies behind.
_HTML_STEPS: list[tuple[str, str]] = [
    (r"(?is)<script\b[^>]*>.*?</script\s*>", " "),
    (r"(?is)<style\b[^>]*>.*?</style\s*>", " "),
    (r"(?s)<!--.*?-->", " "),
    # Block-level tags become line breaks so document structure survives as
    # newlines (what the quality / line-dedup operators key on).
    (
        r"(?i)</?(?:p|div|br|li|ul|ol|tr|td|th|h[1-6]|table|blockquote|section|article)\b[^>]*>",
        "\n",
    ),
    (r"(?s)<[^>]*>", " "),
]

# 2. Minimal entity decode (the named set ubiquitous in real HTML). &amp;
#    deliberately LAST so "&amp;lt;" decodes to the literal "&lt;", not "<"
#    — double-unescaping is the classic extraction bug.
_HTML_ENTITIES: list[tuple[str, str]] = [
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
]

# 3. Whitespace normalization: collapse runs, tighten around newlines,
#    collapse blank lines, trim. Left-to-right global replace semantics are
#    identical in both engines, so the chained passes converge identically.
_WS_STEPS: list[tuple[str, str]] = [
    (r"[ \t\r]+", " "),
    (r" ?\n ?", "\n"),
    (r"\n+", "\n"),
    (r"\A\s+|\s+\z", ""),
]


def extract_html_text(col: Column) -> Column:
    """Plain text of an HTML fragment/document (native expressions only)."""
    e = col
    for pat, rep in _HTML_STEPS:
        e = F.regexp_replace(e, pat, rep)
    for ent, ch in _HTML_ENTITIES:
        e = F.replace(e, F.lit(ent), F.lit(ch))
    for pat, rep in _WS_STEPS:
        e = F.regexp_replace(e, pat, rep)
    return e


def _sql_str(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _sql_rep(s: str) -> str:
    # chr(10): DuckDB standard strings keep backslashes literal, so a raw
    # newline replacement must be spelled as an expression.
    return "chr(10)" if s == "\n" else _sql_str(s)


def html_extract_sql(expr: str) -> str:
    """The DuckDB expression applying the IDENTICAL chain to ``expr``."""
    e = expr
    for pat, rep in _HTML_STEPS:
        e = f"regexp_replace({e}, {_sql_str(pat)}, {_sql_rep(rep)}, 'g')"
    for ent, ch in _HTML_ENTITIES:
        e = f"replace({e}, {_sql_str(ent)}, {_sql_str(ch)})"
    for pat, rep in _WS_STEPS:
        e = f"regexp_replace({e}, {_sql_str(pat)}, {_sql_rep(rep)}, 'g')"
    return e


def extract_web_documents(pages: DataFrame, *, html_col: str = "html", id_col: str = "page_id") -> DataFrame:
    """documents-shaped frame (id, extracted text, n_chars, n_lines) from a
    frame of raw HTML pages. Map-only; composes directly with
    ``sources.warc.parse_warc_streams`` output."""
    text = extract_html_text(F.col(html_col))
    return pages.select(
        F.col(id_col),
        text.alias("text"),
        F.length(text).cast("long").alias("n_chars"),
        F.when(F.length(text) == 0, F.lit(0))
        .otherwise(F.length(text) - F.length(F.replace(text, F.lit("\n"), F.lit(""))) + 1)
        .cast("long")
        .alias("n_lines"),
    )


# --------------------------------------------------------------------------
# URL canonicalization (the key web-dedup primitive: crawl frontiers and
# page dedup both group by canonical URL before any content comparison).
# --------------------------------------------------------------------------

# Query parameters that never affect page identity (tracking); compared
# anchored + case-insensitively against "key=".
_TRACKING_PARAM_RE = r"\A(utm_[a-z0-9]+|gclid|fbclid|msclkid|ref|ref_src)="


def canonical_url(col: Column) -> Column:
    """RFC-3986-style normal form: lowercase scheme+host, default ports
    (http:80/https:443) stripped, fragment dropped, tracking params dropped,
    remaining params sorted (dedup-canonical, stronger than RFC), empty path
    → "/". NULL when ``col`` has no ``scheme://`` prefix. Dot-segment
    resolution is out of scope (crawlers emit absolute resolved URLs)."""
    u = F.regexp_replace(col, r"(?s)#.*", "")
    scheme = F.lower(F.regexp_extract(u, r"\A([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"\A[^:/?#]+://([^/?#]*)", 1))
    host = (
        F.when(scheme == "http", F.regexp_replace(hostport, r":80\z", ""))
        .when(scheme == "https", F.regexp_replace(hostport, r":443\z", ""))
        .otherwise(hostport)
    )
    rest = F.regexp_extract(u, r"(?s)\A[^:/?#]+://[^/?#]*(.*)", 1)
    path = F.regexp_extract(rest, r"\A([^?]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"(?s)\A[^?]*\?(.*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda x: (x != F.lit("")) & ~F.lower(x).rlike(_TRACKING_PARAM_RE),
    )
    q = F.array_join(F.array_sort(params), "&")
    out = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(q == "", F.lit("")).otherwise(F.concat(F.lit("?"), q)),
    )
    return F.when(scheme == "", F.lit(None).cast("string")).otherwise(out)


def with_canonical_url(df: DataFrame, url_col: str = "url") -> DataFrame:
    """``df`` plus a ``canonical_url`` column, built through STAGED
    projections instead of one nested Column tree. :func:`canonical_url`
    inlines each stage into every consumer (scheme feeds the port strip,
    the NULL guard and the concat; the fragment-strip feeds all three
    extracts), which compounded into a generated-code blob measured at
    ~6 s of first-run codegen compile at sf0.1. Materializing the stages
    as named columns keeps each expression evaluated once — Catalyst's
    CollapseProject leaves non-cheap expressions referenced more than once
    in their own Project. Warm-run plan and results are identical."""
    u = F.regexp_replace(F.col(url_col), r"(?s)#.*", "")
    staged = df.withColumn("_cu_u", u).withColumns(
        {
            "_cu_scheme": F.lower(F.regexp_extract(F.col("_cu_u"), r"\A([A-Za-z][A-Za-z0-9+.-]*)://", 1)),
            "_cu_hostport": F.lower(F.regexp_extract(F.col("_cu_u"), r"\A[^:/?#]+://([^/?#]*)", 1)),
            "_cu_rest": F.regexp_extract(F.col("_cu_u"), r"(?s)\A[^:/?#]+://[^/?#]*(.*)", 1),
        }
    )
    path = F.regexp_extract(F.col("_cu_rest"), r"\A([^?]*)", 1)
    query = F.regexp_extract(F.col("_cu_rest"), r"(?s)\A[^?]*\?(.*)", 1)
    params = F.filter(
        F.split(query, "&"),
        lambda x: (x != F.lit("")) & ~F.lower(x).rlike(_TRACKING_PARAM_RE),
    )
    staged = staged.withColumns(
        {
            "_cu_host": (
                F.when(F.col("_cu_scheme") == "http", F.regexp_replace(F.col("_cu_hostport"), r":80\z", ""))
                .when(F.col("_cu_scheme") == "https", F.regexp_replace(F.col("_cu_hostport"), r":443\z", ""))
                .otherwise(F.col("_cu_hostport"))
            ),
            "_cu_path": F.when(path == "", F.lit("/")).otherwise(path),
            "_cu_q": F.array_join(F.array_sort(params), "&"),
        }
    )
    out = F.concat(
        F.col("_cu_scheme"),
        F.lit("://"),
        F.col("_cu_host"),
        F.col("_cu_path"),
        F.when(F.col("_cu_q") == "", F.lit("")).otherwise(F.concat(F.lit("?"), F.col("_cu_q"))),
    )
    return staged.withColumn(
        "canonical_url",
        F.when(F.col("_cu_scheme") == "", F.lit(None).cast("string")).otherwise(out),
    ).drop("_cu_u", "_cu_scheme", "_cu_hostport", "_cu_rest", "_cu_host", "_cu_path", "_cu_q")


def canonical_url_ctes(src: str, url_col: str = "url") -> str:
    """CTE-chain text mirroring :func:`canonical_url` stage for stage as
    SET-BASED SQL (a correlated scalar subquery per row would force DuckDB
    to re-plan the chain per URL). Splice into a WITH list; the final CTE
    ``_cu4`` carries every column of ``src`` plus ``canonical_url``."""
    return f"""_cu1 AS (
  SELECT *, regexp_replace({url_col}, '(?s)#.*', '', 'g') AS _cu_u FROM {src}
),
_cu2 AS (
  SELECT *,
    lower(regexp_extract(_cu_u, '\\A([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS _cu_scheme,
    lower(regexp_extract(_cu_u, '\\A[^:/?#]+://([^/?#]*)', 1)) AS _cu_hostport,
    regexp_extract(_cu_u, '(?s)\\A[^:/?#]+://[^/?#]*(.*)', 1) AS _cu_rest
  FROM _cu1
),
_cu3 AS (
  SELECT *,
    CASE WHEN _cu_scheme = 'http' THEN regexp_replace(_cu_hostport, ':80\\z', '')
         WHEN _cu_scheme = 'https' THEN regexp_replace(_cu_hostport, ':443\\z', '')
         ELSE _cu_hostport END AS _cu_host,
    CASE WHEN regexp_extract(_cu_rest, '\\A([^?]*)', 1) = '' THEN '/'
         ELSE regexp_extract(_cu_rest, '\\A([^?]*)', 1) END AS _cu_path,
    coalesce(array_to_string(list_sort(list_filter(
      string_split(regexp_extract(_cu_rest, '(?s)\\A[^?]*\\?(.*)', 1), '&'),
      x -> x <> '' AND NOT regexp_matches(lower(x),
        '{_TRACKING_PARAM_RE}'))), '&'), '') AS _cu_q
  FROM _cu2
),
_cu4 AS (
  SELECT *, CASE WHEN _cu_scheme = '' THEN NULL
    ELSE _cu_scheme || '://' || _cu_host || _cu_path ||
         (CASE WHEN _cu_q = '' THEN '' ELSE '?' || _cu_q END) END AS canonical_url
  FROM _cu3
)"""


def dedup_by_canonical_url(pages: DataFrame) -> DataFrame:
    """Group a ``(page_id, url)`` crawl by canonical URL: one row per
    canonical form with the raw-variant count, distinct source pages, and
    the winning (min-id) representative. One hash-shuffle on the canonical
    key — the standard first-pass web dedup, orders of magnitude cheaper
    than content dedup because it runs before fetch/extract at crawl time."""
    canon = with_canonical_url(
        pages.select(F.col("page_id").alias("_pid"), F.col("url").alias("_raw")), "_raw"
    )
    return (
        canon.where(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(
            F.count("*").cast("long").alias("n_raw"),
            F.countDistinct("_pid").cast("long").alias("n_pages"),
            F.min("_pid").cast("long").alias("canonical_page_id"),
        )
    )
