"""Property tests for the round-5 continuation operators: sweep-line peak
concurrency vs a brute-force timeline scan, snapshot_diff vs a dict-based
reference diff, and the forward as-of join vs a naive per-row scan — all on
random inputs with deliberate ties."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.asof import asof_join
from pipeline_etl_ecommerce_spark.operators.diff import snapshot_diff
from pipeline_etl_ecommerce_spark.operators.intervals import peak_concurrency


def _brute_peak(intervals):
    """Reference: evaluate concurrency of half-open [s,e) at every boundary
    instant; return (peak, earliest ts achieving it)."""
    best = (0, None)
    for t in sorted({x for s, e in intervals for x in (s, e)}):
        open_n = sum(1 for s, e in intervals if s <= t < e)
        if open_n > best[0]:
            best = (open_n, t)
    return best


def test_peak_concurrency_matches_brute_force(spark):
    rng = random.Random(515)
    rows = []
    expect = {}
    for g in range(6):
        ivs = []
        for _ in range(rng.randrange(1, 40)):
            s = rng.randrange(0, 50)  # tight range -> many shared boundaries
            e = s + rng.randrange(1, 15)
            ivs.append((s, e))
            rows.append((f"g{g}", s, e))
        expect[f"g{g}"] = _brute_peak(ivs)
    df = spark.createDataFrame(rows, "grp string, s bigint, e bigint")
    got = {
        r.grp: (r.peak_open, r.peak_start)
        for r in peak_concurrency(df, ["grp"], "s", "e").collect()
    }
    assert got == expect


def test_peak_concurrency_bucketed_scan_equals_single_window(spark):
    """The two-level parallel prefix scan must be value-identical to the
    single-window plan for every cell width, including degenerate ones
    (width 1 = one row per cell; width larger than the span = one cell
    per group = the single-window case)."""
    rng = random.Random(575)
    rows = []
    for g in range(5):
        for _ in range(rng.randrange(1, 50)):
            s = rng.randrange(0, 100)
            rows.append((f"g{g}", s, s + rng.randrange(1, 25)))
    df = spark.createDataFrame(rows, "grp string, s bigint, e bigint")
    base = {
        (r.grp, r.peak_open, r.peak_start)
        for r in peak_concurrency(df, ["grp"], "s", "e").collect()
    }
    for width in (1, 7, 30, 10_000):
        got = {
            (r.grp, r.peak_open, r.peak_start)
            for r in peak_concurrency(
                df, ["grp"], "s", "e", cell_width=width
            ).collect()
        }
        assert got == base, width


def test_peak_concurrency_rejects_bad_cell_width(spark):
    import pytest

    df = spark.createDataFrame([("a", 0, 5)], "grp string, s bigint, e bigint")
    with pytest.raises(ValueError):
        peak_concurrency(df, ["grp"], "s", "e", cell_width=0)


def test_peak_concurrency_touching_is_not_overlap(spark):
    # [0,5) and [5,10) never overlap: the end-at-5 delta nets the start-at-5
    df = spark.createDataFrame(
        [("a", 0, 5), ("a", 5, 10)], "grp string, s bigint, e bigint"
    )
    [r] = peak_concurrency(df, ["grp"], "s", "e").collect()
    assert (r.peak_open, r.peak_start) == (1, 0)


def _brute_diff(old: dict, new: dict):
    out = {}
    for k in old.keys() | new.keys():
        if k not in old:
            out[k] = ("added", None, new[k])
        elif k not in new:
            out[k] = ("removed", old[k], None)
        elif old[k] != new[k]:  # test values are ints/None; None != int holds
            out[k] = ("changed", old[k], new[k])
    return out


def test_snapshot_diff_matches_reference(spark):
    rng = random.Random(525)
    old = {(k,): rng.choice([None, 1, 2, 3]) for k in range(60) if rng.random() < 0.8}
    new = {}
    for k in range(60):
        r = rng.random()
        if r < 0.6 and (k,) in old:
            new[(k,)] = old[(k,)]  # unchanged
        elif r < 0.9:
            new[(k,)] = rng.choice([None, 1, 2, 3, 4])
    cases = [(old, new, ["k"])]
    # a NULL key component is part of the identity: unchanged (1, NULL) is
    # no change, and (2, NULL) -> (3, NULL) is one removal plus one addition
    cases.append((
        {(1, None): 5, (1, 7): 1, (2, None): 3},
        {(1, None): 5, (1, 7): 2, (3, None): None},
        ["k", "k2"],
    ))
    for old, new, keys in cases:
        # drop keys colliding into "unchanged None == None" from expectations
        # via the same null-safe rule snapshot_diff uses
        expect = {}
        for k in old.keys() | new.keys():
            if k not in old:
                expect[k] = ("added", None, new[k])
            elif k not in new:
                expect[k] = ("removed", old[k], None)
            elif old[k] is None and new[k] is None:
                continue
            elif old[k] != new[k] or (old[k] is None) != (new[k] is None):
                expect[k] = ("changed", old[k], new[k])
        schema = ", ".join(f"{c} bigint" for c in keys) + ", v int"
        o = spark.createDataFrame([(*k, v) for k, v in old.items()], schema)
        n = spark.createDataFrame([(*k, v) for k, v in new.items()], schema)
        got = {
            tuple(r[c] for c in keys): (r.change_type, r.old_v, r.new_v)
            for r in snapshot_diff(o, n, keys, ["v"]).collect()
        }
        assert got == expect


def test_snapshot_diff_keys_only(spark):
    # no compared columns: added/removed still classify; no 'changed' rows
    o = spark.createDataFrame([(1,), (2,)], "k bigint")
    n = spark.createDataFrame([(2,), (3,)], "k bigint")
    got = {r.k: r.change_type for r in snapshot_diff(o, n, ["k"], []).collect()}
    assert got == {1: "removed", 3: "added"}


def test_snapshot_diff_null_flip_is_changed(spark):
    o = spark.createDataFrame([(1, None), (2, 5)], "k bigint, v int")
    n = spark.createDataFrame([(1, 7), (2, None)], "k bigint, v int")
    got = {r.k: r.change_type for r in snapshot_diff(o, n, ["k"], ["v"]).collect()}
    assert got == {1: "changed", 2: "changed"}


def _brute_forward_asof(left, right):
    """left: [(lid, k, ts)]; right: [(rid, k, ts)] -> {lid: rid|None} taking
    the smallest right ts >= left ts, ties broken by smallest rid."""
    out = {}
    for lid, k, lts in left:
        cands = [(rts, rid) for rid, rk, rts in right if rk == k and rts >= lts]
        out[lid] = min(cands)[1] if cands else None
    return out


def test_forward_asof_matches_naive_scan(spark):
    rng = random.Random(535)
    left = [(i, rng.randrange(5), rng.randrange(0, 40)) for i in range(80)]
    right = [(i, rng.randrange(5), rng.randrange(0, 40)) for i in range(60)]
    l = spark.createDataFrame(left, "lid bigint, k bigint, lts bigint")
    r = spark.createDataFrame(right, "rid bigint, k bigint, rts bigint")
    out = asof_join(
        l, r, ["k"], "lts", "rts",
        payload_cols=["rid"], right_tiebreak="rid", direction="forward",
    )
    got = {row.lid: row.asof_rid for row in out.collect()}
    assert got == _brute_forward_asof(left, right)


def test_forward_asof_inclusive_at_equal_ts(spark):
    l = spark.createDataFrame([(1, 1, 10)], "lid bigint, k bigint, lts bigint")
    r = spark.createDataFrame(
        [(7, 1, 10), (3, 1, 10), (9, 1, 11)], "rid bigint, k bigint, rts bigint"
    )
    [row] = asof_join(
        l, r, ["k"], "lts", "rts",
        payload_cols=["rid"], right_tiebreak="rid", direction="forward",
    ).collect()
    assert row.asof_rid == 3  # same-instant match allowed; smallest tie wins


def test_asof_rejects_unknown_direction(spark):
    l = spark.createDataFrame([(1, 1)], "k bigint, lts bigint")
    r = spark.createDataFrame([(1, 1, 1)], "k bigint, rts bigint, v bigint")
    import pytest

    with pytest.raises(ValueError):
        asof_join(l, r, ["k"], "lts", "rts", payload_cols=["v"],
                  right_tiebreak="v", direction="sideways")


def test_time_weighted_avg_matches_reference(spark):
    """TWAP over random irregular samples == the pure-Python hold-until-next
    integral, including tied timestamps (zero-duration segments drop out)."""
    rng = random.Random(545)
    rows = [
        (i, rng.randrange(4), rng.randrange(0, 1000), round(rng.uniform(0, 50), 2))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "event_id bigint, k bigint, tus bigint, value double")
    from pyspark.sql import Window

    w = Window.partitionBy("k").orderBy("tus", "event_id")
    d = df.withColumn("next_tus", F.lead("tus").over(w)).filter(F.col("next_tus").isNotNull())
    dur = F.col("next_tus") - F.col("tus")
    got = {
        r.k: r.twap
        for r in d.groupBy("k")
        .agg(
            F.sum(F.col("value").cast("decimal(20,6)") * dur.cast("decimal(18,0)")).alias("vw"),
            F.sum(dur).alias("span"),
        )
        .filter(F.col("span") > 0)
        .select("k", F.round(F.col("vw").cast("double") / F.col("span").cast("double"), 6).alias("twap"))
        .collect()
    }
    by_k = {}
    for eid, k, tus, value in rows:
        by_k.setdefault(k, []).append((tus, eid, value))
    expect = {}
    for k, pts in by_k.items():
        pts.sort()
        num = sum(v * (pts[i + 1][0] - t) for i, (t, _e, v) in enumerate(pts[:-1]))
        span = pts[-1][0] - pts[0][0]
        if span > 0:
            expect[k] = round(num / span, 6)
    assert set(got) == set(expect)
    for k in expect:
        assert abs(got[k] - expect[k]) < 1e-9, (k, got[k], expect[k])


def _brute_streaks(days):
    """days: sorted distinct day ordinals -> (longest, n_streaks, start_of_longest)."""
    streaks = []
    start = prev = None
    for d in days:
        if prev is not None and d == prev + 1:
            prev = d
            continue
        if start is not None:
            streaks.append((prev - start + 1, start))
        start = prev = d
    streaks.append((prev - start + 1, start))
    longest = max(s[0] for s in streaks)
    return longest, len(streaks), min(s[1] for s in streaks if s[0] == longest)


def test_active_day_streaks_matches_brute_force(spark):
    import datetime

    rng = random.Random(555)
    rows = []
    expect = {}
    base = datetime.date(2024, 1, 1)
    for u in range(8):
        ordinals = sorted(rng.sample(range(60), rng.randrange(1, 30)))
        for o in ordinals:
            rows.append((u, base + datetime.timedelta(days=o)))
            rows.append((u, base + datetime.timedelta(days=o)))  # duplicates
        longest, n, start = _brute_streaks(ordinals)
        expect[u] = (longest, n, base + datetime.timedelta(days=start))
    df = spark.createDataFrame(rows, "user_id bigint, d date").distinct()
    from pyspark.sql import Window

    rn = F.row_number().over(Window.partitionBy("user_id").orderBy("d"))
    r = df.withColumn("grp", F.date_sub(F.col("d"), rn.cast("int")))
    s = r.groupBy("user_id", "grp").agg(F.count("*").alias("len"), F.min("d").alias("start_day"))
    p = s.withColumn("peak", F.max("len").over(Window.partitionBy("user_id")))
    got = {
        r.user_id: (r.longest, r.n, r.start)
        for r in p.groupBy("user_id")
        .agg(
            F.max("len").alias("longest"),
            F.count("*").alias("n"),
            F.min(F.when(F.col("len") == F.col("peak"), F.col("start_day"))).alias("start"),
        )
        .collect()
    }
    assert got == expect


def test_asof_tolerance_discards_stale_matches(spark):
    """Backward as-of with tolerance == feature-store max staleness: a match
    older than the bound is nulled; a match exactly AT the bound survives."""
    l = spark.createDataFrame(
        [(1, 1, 100), (2, 1, 200), (3, 1, 300)], "lid bigint, k bigint, lts bigint"
    )
    r = spark.createDataFrame([(9, 1, 90)], "rid bigint, k bigint, rts bigint")
    got = {
        row.lid: row.asof_rid
        for row in asof_join(
            l, r, ["k"], "lts", "rts",
            payload_cols=["rid"], right_tiebreak="rid", tolerance=110,
        ).collect()
    }
    # staleness: 10 (ok), 110 (== bound, inclusive), 210 (stale -> NULL)
    assert got == {1: 9, 2: 9, 3: None}


def test_asof_tolerance_matches_naive_scan_both_directions(spark):
    rng = random.Random(565)
    left = [(i, rng.randrange(4), rng.randrange(0, 60)) for i in range(60)]
    right = [(i, rng.randrange(4), rng.randrange(0, 60)) for i in range(50)]
    l = spark.createDataFrame(left, "lid bigint, k bigint, lts bigint")
    r = spark.createDataFrame(right, "rid bigint, k bigint, rts bigint")
    tol = 7
    for direction in ("backward", "forward"):
        got = {
            row.lid: row.asof_rid
            for row in asof_join(
                l, r, ["k"], "lts", "rts",
                payload_cols=["rid"], right_tiebreak="rid",
                direction=direction, tolerance=tol,
            ).collect()
        }
        expect = {}
        for lid, k, lts in left:
            if direction == "backward":
                cands = [
                    (-rts, -rid)
                    for rid, rk, rts in right
                    if rk == k and 0 <= lts - rts <= tol
                ]
                expect[lid] = -min(cands)[1] if cands else None
            else:
                cands = [
                    (rts, rid)
                    for rid, rk, rts in right
                    if rk == k and 0 <= rts - lts <= tol
                ]
                expect[lid] = min(cands)[1] if cands else None
        assert got == expect, direction


def test_asof_rejects_negative_tolerance(spark):
    import pytest

    l = spark.createDataFrame([(1, 1)], "k bigint, lts bigint")
    r = spark.createDataFrame([(1, 1, 1)], "k bigint, rts bigint, v bigint")
    with pytest.raises(ValueError):
        asof_join(l, r, ["k"], "lts", "rts", payload_cols=["v"],
                  right_tiebreak="v", tolerance=-1)


def _brute_cdc(base: dict, ops):
    """Reference: replay the FULL log in order (latest naturally wins)."""
    snap = dict(base)
    for _ts, _tie, key, op, val in sorted(ops):
        if op == "D":
            snap.pop(key, None)
        else:  # I and U both upsert (log-is-truth semantics)
            snap[key] = val
    return snap


def test_cdc_apply_matches_full_replay(spark):
    """Latest-op-wins must equal replaying every op in order — including
    delete-then-reinsert, insert-of-unknown-key, and delete-of-unknown-key
    sequences the reduction shortcut could get wrong."""
    from pipeline_etl_ecommerce_spark.operators.cdc import cdc_apply

    rng = random.Random(585)
    base = {k: rng.randrange(100) for k in range(30) if rng.random() < 0.7}
    ops = []
    for i in range(200):
        ops.append(
            (rng.randrange(50), i, rng.randrange(40),
             rng.choice(["I", "U", "D", "D"]), rng.randrange(100))
        )
    b = spark.createDataFrame([(k, v) for k, v in base.items()], "k bigint, v bigint")
    o = spark.createDataFrame(
        [(ts, tie, k, op, v) for ts, tie, k, op, v in ops],
        "ts bigint, tie bigint, k bigint, op string, v bigint",
    )
    got = {
        r.k: r.v
        for r in cdc_apply(
            b, o, ["k"], op_col="op", order_by=["ts", "tie"], value_cols=["v"]
        ).collect()
    }
    assert got == _brute_cdc(base, ops)


def test_cdc_compact_log_is_associative_under_any_split(spark):
    """compact(compact(a) ∪ b) == compact(a ∪ b) for random logs and random
    splits — the property that lets a streaming foreachBatch fold
    micro-batches into a compacted-log mart and still converge to the
    batch answer even when a later batch carries OLDER ops."""
    from pipeline_etl_ecommerce_spark.operators.cdc import cdc_compact_log

    rng = random.Random(595)
    ops = [
        (rng.randrange(20), rng.randrange(30), i,
         rng.choice(["I", "U", "D"]), rng.randrange(100))
        for i in range(150)
    ]
    ddl = "k bigint, ts bigint, tie bigint, op string, v bigint"

    def compact(df):
        return cdc_compact_log(
            df, ["k"], op_col="op", order_cols=["ts", "tie"], value_cols=["v"]
        )

    full = {
        (r.k, r.ts, r.tie, r.op, r.v)
        for r in compact(spark.createDataFrame(ops, ddl)).collect()
    }
    for _ in range(3):
        rng.shuffle(ops)
        cut = rng.randrange(1, len(ops))
        a = spark.createDataFrame(ops[:cut], ddl)
        b = spark.createDataFrame(ops[cut:], ddl)
        inc = {
            (r.k, r.ts, r.tie, r.op, r.v)
            for r in compact(compact(a).unionByName(b)).collect()
        }
        assert inc == full


def test_forward_asof_is_single_shuffle_no_join(spark):
    l = spark.createDataFrame([(1, 1)], "k bigint, lts bigint")
    r = spark.createDataFrame([(1, 1, 1)], "k bigint, rts bigint, v bigint")
    out = asof_join(l, r, ["k"], "lts", "rts", payload_cols=["v"],
                    right_tiebreak="v", direction="forward")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan  # union+window, not a join operator
    assert plan.count("Exchange hashpartitioning") <= 1
