"""Unit tests for the corpus-hygiene operators: repetition quality, PII
detection/redaction, train/test decontamination, column profiling,
sketch profiles, deterministic shuffle-sharding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.decontam import (
    contamination_report,
    decontaminate,
)
from pipeline_etl_ecommerce_spark.operators.privacy import (
    pii_counts,
    redact_documents,
)
from pipeline_etl_ecommerce_spark.operators.profiling import (
    profile_columns,
    sketch_profile,
)
from pipeline_etl_ecommerce_spark.operators.sharding import shuffle_shards
from pipeline_etl_ecommerce_spark.operators.textstats import repetition_features


@pytest.fixture(scope="module")
def pii_docs(spark):
    rows = [
        (1, "contact me at alice@example.com or bob.smith+x@mail.co.uk today"),
        (2, "my ssn is 123-45-6789 and phone 555-123-4567 ok"),
        (3, "server at 192.168.1.10 responded"),
        (4, "nothing sensitive here at all"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_pii_counts(pii_docs):
    got = {r["doc_id"]: r for r in pii_counts(pii_docs, "text", "doc_id").collect()}
    assert got[1]["n_email"] == 2 and got[1]["n_pii"] == 2
    assert got[2]["n_ssn"] == 1 and got[2]["n_phone"] == 1 and got[2]["n_pii"] == 2
    assert got[3]["n_ipv4"] == 1
    assert got[4]["n_pii"] == 0


def test_redaction_replaces_every_span(pii_docs):
    got = {r["doc_id"]: r for r in redact_documents(pii_docs, "text", "doc_id").collect()}
    assert got[1]["redacted_text"] == "contact me at <EMAIL> or <EMAIL> today"
    assert "<SSN>" in got[2]["redacted_text"] and "<PHONE>" in got[2]["redacted_text"]
    assert "123" not in got[2]["redacted_text"]
    assert got[3]["redacted_text"] == "server at <IP> responded"
    assert got[4]["was_redacted"] == 0
    assert got[4]["redacted_text"] == "nothing sensitive here at all"


def test_repetition_features(spark):
    rows = [
        (1, "a a a a"),  # one token repeated
        (2, "w x y z"),  # all distinct
        (3, "go go go stop stop run"),
        (4, "solo"),  # single token: no bigrams
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in repetition_features(df, "text", "doc_id").collect()}
    assert got[1]["top_token_frac"] == 1.0 and got[1]["top_bigram_frac"] == 1.0
    assert got[2]["distinct_ratio"] == 1.0 and got[2]["top_token_frac"] == 0.25
    assert got[3]["n_tokens"] == 6 and got[3]["top_token_frac"] == 0.5
    # "go go" appears twice out of 5 bigrams
    assert got[3]["top_bigram_frac"] == 0.4
    assert got[4]["n_tokens"] == 1 and got[4]["top_bigram_frac"] == 0.0


def test_contamination_and_decontaminate(spark):
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains eval 3-grams
            (2, "one two three four five six"),
            (3, "alpha beta gamma other words here"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [(100, "alpha beta gamma delta")], "doc_id long, text string"
    )
    rep = {r["doc_id"]: r for r in contamination_report(train, test, "text", "doc_id", n=3).collect()}
    assert set(rep) == {1, 3}
    assert rep[1]["n_contaminated_grams"] == 2  # 'alpha beta gamma', 'beta gamma delta'
    assert rep[3]["n_contaminated_grams"] == 1
    clean = decontaminate(train, test, "text", "doc_id", n=3)
    assert {r["doc_id"] for r in clean.collect()} == {2}


def test_profile_columns(spark):
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", None), (3, "a", 30), (4, None, 40)],
        "id long, cat string, v int",
    )
    got = {r["column_name"]: r for r in profile_columns(df, ["id", "cat", "v"]).collect()}
    assert got["id"]["n_rows"] == 4 and got["id"]["n_distinct"] == 4
    assert got["cat"]["n_non_null"] == 3 and got["cat"]["n_distinct"] == 2
    # min/max computed in native type BEFORE string render: 10 < 9 lexicographically
    assert got["v"]["min_value"] == "10" and got["v"]["max_value"] == "40"


def test_sketch_profile_tracks_exact_within_tolerance(spark, sf_dir=None):
    li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    got = {
        r["l_returnflag"]: r
        for r in sketch_profile(li, "l_returnflag", "l_extendedprice", "l_partkey").collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(F.countDistinct("l_partkey").alias("d"), F.expr("percentile(l_extendedprice, 0.5)").alias("p50"))
        .collect()
    }
    for flag, e in exact.items():
        g = got[flag]
        assert abs(g["approx_distinct"] - e["d"]) / e["d"] < 0.1
        assert abs(g["approx_quantiles"][0] - e["p50"]) / e["p50"] < 0.05


def test_shuffle_shards_deterministic_balanced_dense(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    a = shuffle_shards(df, "doc_id", n_shards=8, seed="s1")
    b = shuffle_shards(df, "doc_id", n_shards=8, seed="s1")
    assert a.exceptAll(b).count() == 0  # same seed -> identical layout
    c = shuffle_shards(df, "doc_id", n_shards=8, seed="s2")
    moved = a.join(c, ["doc_id", "shard", "pos"]).count()
    assert moved < 50  # different seed -> essentially a fresh permutation
    sizes = [r["n"] for r in a.groupBy("shard").agg(F.count("*").alias("n")).collect()]
    assert len(sizes) == 8 and min(sizes) > 2000 / 8 * 0.6  # hash-balanced
    # positions are dense 1..n within every shard
    dense = a.groupBy("shard").agg(F.max("pos").alias("mx"), F.count("*").alias("n"))
    assert dense.filter(F.col("mx") != F.col("n")).count() == 0


def test_exact_span_pairs_finds_planted_passage(spark):
    """A 60-char passage pasted into two documents must surface with the
    exact span length; unrelated docs must not pair."""
    from pipeline_etl_ecommerce_spark.operators.dedupe import exact_span_pairs

    passage = "the quick brown fox jumps over the lazy dog once again ok"
    rows = [
        # boundary chars differ on both sides so the maximal shared run is
        # EXACTLY the passage (shared flanking chars would extend it)
        (1, "AAA." + passage + ".BBB unique tail one"),
        (2, "totally different head," + passage + ";CCC"),
        (3, "no shared content here at all, just filler words everywhere"),
        (4, "another unrelated document with its own distinct phrasing"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["doc_a"], r["doc_b"]): r["longest_span"] for r in
           exact_span_pairs(df, "text", "doc_id", gram_len=10, min_span=30, max_df=10).collect()}
    assert set(got) == {(1, 2)}
    assert got[(1, 2)] == len(passage)  # the exact planted span, boundary-exact

    import pytest as _pytest
    with _pytest.raises(ValueError):
        exact_span_pairs(df, "text", "doc_id", gram_len=10, min_span=5)


def test_remove_boilerplate_segments(spark):
    from pipeline_etl_ecommerce_spark.operators.textstats import (
        remove_boilerplate_segments,
    )

    rows = [
        (1, "a b c d e f g h i j"),       # 'a..h' shared with doc 2 -> dropped
        (2, "a b c d e f g h x y"),
        (3, "unique words only here"),
        (4, "   "),                        # token-less: absent from output
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in remove_boilerplate_segments(df, "text", "doc_id", seg_tokens=8).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1].clean_text == "i j" and out[1].n_dropped == 1
    assert out[2].clean_text == "x y" and out[2].n_dropped == 1
    assert out[3].clean_text == "unique words only here" and out[3].n_dropped == 0


def test_remove_boilerplate_full_duplicate_doc_empties(spark):
    from pipeline_etl_ecommerce_spark.operators.textstats import (
        remove_boilerplate_segments,
    )

    text = " ".join(f"w{i}" for i in range(16))
    df = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    out = {r.doc_id: r for r in remove_boilerplate_segments(df, "text", "doc_id", seg_tokens=8).collect()}
    # exact duplicates: every segment repeats -> both docs fully pruned but
    # still present with empty text (explicit downstream gate, not silence)
    assert out[1].clean_text == "" and out[1].n_dropped == 2
    assert out[2].clean_text == "" and out[2].n_dropped == 2


def test_dq_checks_count_violations(spark):
    from pipeline_etl_ecommerce_spark.operators.dq import (
        check_accepted_values,
        check_not_null,
        check_referential,
        check_unique,
        dq_report,
    )

    child = spark.createDataFrame(
        [(1, "A", 10), (2, None, 20), (3, "X", None), (3, "A", 99)],
        "id long, flag string, ref long",
    )
    parent = spark.createDataFrame([(10,), (20,)], "pk long")

    report = {r.rule: r.violations for r in dq_report([
        check_not_null(child, ["flag", "ref"], table="child"),
        check_unique(child, ["id"], table="child"),
        check_accepted_values(child, "flag", ["A", "B"], table="child"),
        check_referential(child, parent, "ref", "pk", child_table="child", parent_table="parent"),
    ]).collect()}
    assert report["not_null:child(flag,ref)"] == 2          # rows 2 and 3
    assert report["unique:child(id)"] == 1                  # id 3 twice
    assert report["accepted_values:child.flag[A,B]"] == 1   # 'X' (NULL skipped)
    assert report["referential:child.ref->parent.pk"] == 1  # ref=99 orphan


def test_dq_checks_all_green_on_clean_table(spark):
    from pipeline_etl_ecommerce_spark.operators.dq import (
        check_not_null,
        check_unique,
        dq_report,
    )

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    rows = dq_report([
        check_not_null(df, ["id", "v"], table="t"),
        check_unique(df, ["id"], table="t"),
    ]).collect()
    assert all(r.violations == 0 for r in rows)


def test_pseudonymize_stable_irreversible_null_safe(spark):
    from pipeline_etl_ecommerce_spark.operators.privacy import pseudonymize

    df = spark.createDataFrame([(1, 100), (2, 100), (3, None)], "id long, uid long")
    out = {r.id: r.uid for r in pseudonymize(df, ["uid"], salt="s1").collect()}
    # same value -> same pseudonym; NULL stays NULL; value is replaced
    assert out[1] == out[2] and len(out[1]) == 16 and out[1] != "100"
    assert out[3] is None
    # different salt -> different pseudonym space
    out2 = {r.id: r.uid for r in pseudonymize(df, ["uid"], salt="s2").collect()}
    assert out2[1] != out[1]


def test_delete_keys_from_path_hard_delete(spark, tmp_path):
    from pipeline_etl_ecommerce_spark.sources.sinks import delete_keys_from_path

    path = str(tmp_path / "corpus")
    spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    ).write.parquet(path)

    forget = spark.createDataFrame([(3,), (7,), (99,)], "doc_id long")
    removed = delete_keys_from_path(forget, path, ["doc_id"])
    assert removed == 2  # id 99 never existed
    left = {r.doc_id for r in spark.read.parquet(path).collect()}
    assert left == set(range(10)) - {3, 7}


def test_remove_duplicate_spans_keep_rule_and_merge(spark):
    """remove_duplicate_spans (r9): lowest-id doc keeps the canonical copy;
    a doc repeating the shared passage twice loses BOTH occurrences;
    overlapping/touching intervals merge; untouched docs pass through
    verbatim with zeros."""
    from pipeline_etl_ecommerce_spark.operators.dedupe import remove_duplicate_spans

    shared = "THE-QUICK-BROWN-FOX-JUMPS-OVER-THE-LAZY-DOG-0123456789"  # 54 chars
    rows = [
        (1, "aaa" + shared + "bbb"),
        (2, "cc" + shared + "dd" + shared[:45] + "zz"),
        (3, "unique text with nothing shared at all, long enough to pass"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            df, "text", "doc_id", gram_len=10, min_span=30, max_df=10
        ).collect()
    }
    assert out[1]["clean_text"] == rows[0][1]  # canonical copy intact
    assert out[1]["n_spans_removed"] == 0 and out[1]["chars_removed"] == 0
    assert out[2]["clean_text"] == "ccddzz"  # both occurrences cut
    assert out[2]["n_spans_removed"] == 2 and out[2]["chars_removed"] == 54 + 45
    assert out[3]["clean_text"] == rows[2][1]


def test_remove_duplicate_spans_overlap_union(spark):
    """Two partners whose shared runs OVERLAP inside the victim must merge
    into one removed interval (union, not double-count)."""
    from pipeline_etl_ecommerce_spark.operators.dedupe import remove_duplicate_spans

    seg = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789abcdefghij"  # 46 chars
    rows = [
        (1, "xx" + seg[:35] + "yy-filler-to-pass-length-requirements"),
        (2, "qq" + seg[11:] + "ww-filler-to-pass-length-requirements"),
        (3, "mm" + seg + "nn"),  # loses [0:35) to doc 1 and [11:46) to doc 2
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_duplicate_spans(
            df, "text", "doc_id", gram_len=10, min_span=30, max_df=10
        ).collect()
    }
    # doc 3's two overlapping losses union into one interval covering seg
    assert out[3]["clean_text"] == "mmnn"
    assert out[3]["n_spans_removed"] == 1
    assert out[3]["chars_removed"] == len(seg)


def test_remove_intra_duplicate_spans_keep_first(spark):
    """remove_intra_duplicate_spans (r10): a passage repeated twice WITHIN
    one doc keeps its first occurrence and loses the later one; three
    occurrences lose the later two; docs without repeats (and other docs
    sharing the passage ACROSS docs) pass through verbatim — this operator
    never crosses documents."""
    from pipeline_etl_ecommerce_spark.operators.dedupe import (
        remove_intra_duplicate_spans,
    )

    p = "SHARED-PASSAGE-ALPHA-42"  # 23 chars
    rows = [
        (1, "aa" + p + "bb" + p + "cc"),
        (2, "xx" + p + "yy"),  # cross-doc copy only: untouched here
        # separators start with DISTINCT chars so the maximal repeated run
        # is exactly p (with "n1"/"n2"/"n3" it would extend to p + "n")
        (3, "mm" + p + "u1" + p + "v2" + p + "w3"),
        (4, "no repetition in this document at all, plainly"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_intra_duplicate_spans(
            df, "text", "doc_id", gram_len=8, min_span=16, max_occ=50
        ).collect()
    }
    assert out[1]["clean_text"] == "aa" + p + "bb" + "cc"
    assert out[1]["n_spans_removed"] == 1 and out[1]["chars_removed"] == len(p)
    assert out[2]["clean_text"] == rows[1][1]
    assert out[2]["n_spans_removed"] == 0
    assert out[3]["clean_text"] == "mm" + p + "u1" + "v2" + "w3"
    assert out[3]["n_spans_removed"] == 2
    assert out[3]["chars_removed"] == 2 * len(p)
    assert out[4]["clean_text"] == rows[3][1]


def test_remove_intra_duplicate_spans_tandem_collapse(spark):
    """A periodic (tandem) repeat collapses to one period: the
    diag=period self-match run covers everything past the first period.
    'ab'*5 with gram_len=2/min_span=4 → union interval [3,11) → 'ab'."""
    from pipeline_etl_ecommerce_spark.operators.dedupe import (
        remove_intra_duplicate_spans,
    )

    df = spark.createDataFrame([(1, "ab" * 5)], "doc_id long, text string")
    (r,) = remove_intra_duplicate_spans(
        df, "text", "doc_id", gram_len=2, min_span=4, max_occ=50
    ).collect()
    assert r["clean_text"] == "ab"
    assert r["n_spans_removed"] == 1 and r["chars_removed"] == 8


def test_remove_intra_duplicate_spans_occ_cut_and_args(spark):
    """Occurrence cut: a gram repeated more than max_occ times in one doc
    is excluded from matching (the df-cut analogue), so a hyper-repetitive
    doc passes through; bad arguments raise."""
    import pytest as _pytest

    from pipeline_etl_ecommerce_spark.operators.dedupe import (
        remove_intra_duplicate_spans,
    )

    df = spark.createDataFrame([(1, "z" * 60)], "doc_id long, text string")
    (r,) = remove_intra_duplicate_spans(
        df, "text", "doc_id", gram_len=4, min_span=8, max_occ=10
    ).collect()
    assert r["clean_text"] == "z" * 60 and r["n_spans_removed"] == 0
    with _pytest.raises(ValueError):
        remove_intra_duplicate_spans(df, "text", "doc_id", gram_len=1, min_span=4)
    with _pytest.raises(ValueError):
        remove_intra_duplicate_spans(df, "text", "doc_id", gram_len=4, min_span=2)
    with _pytest.raises(ValueError):
        remove_intra_duplicate_spans(
            df, "text", "doc_id", gram_len=4, min_span=8, max_occ=1
        )
