"""Distributed BPE vocabulary training — the byte-pair-encoding merge
loop (Sennrich et al. 2016, "Neural Machine Translation of Rare Words
with Subword Units") run as pure DataFrame rounds, no driver-side
corpus state.

The classic implementation holds the word-frequency dict in one
process; at 100 TB the corpus doesn't fit, but its WORD-FREQUENCY table
does shrink to vocabulary size after one groupBy — and that table is all
BPE needs. Each merge round is then:

1. adjacent-pair counts over the symbol sequences, weighted by word
   frequency (one map-side-combined groupBy over a vocab-sized table);
2. the argmax pair (count desc, then lexicographic — pinned tie-break)
   kept as a ONE-ROW DataFrame that broadcasts into the next step, so
   the learned rule never round-trips through the driver;
3. the merge applied to every symbol sequence with a single string
   ``replace``.

Symbol sequences are encoded as ``|sym |sym ... `` strings: the ``|``
start-marker plus trailing space make left-to-right non-overlapping
``replace`` EXACTLY the BPE merge semantics (``|a |b |a |b`` merges to
``|ab |ab`` — the replacement's trailing space re-opens the boundary for
the next match, while ``aaa`` under an ``a+a`` merge correctly yields
``aa a``), and both Spark's and DuckDB's ``replace`` scan identically,
so an unrolled SQL oracle replays training bit-for-bit. All counts are
integers — no float anywhere.

Reserved characters: the marker encoding assumes no SYMBOL contains
``|`` (the start marker) or whitespace (the symbol terminator) — a word
containing either would produce empty/corrupt symbols after the
split/rtrim decode and poison pair counts. ``word_frequencies``
therefore EXCLUDES words containing ``|`` or non-space whitespace from
the training vocabulary (documented contract, mirrored in the SQL
oracles); real tokenizers handle these via byte-level pre-encoding,
which is out of scope here.

Lineage doubles per round (each round's frame references the previous);
``localCheckpoint(eager=False)`` linearizes it. Driver collect: none.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_ENCODE = "array_join(transform(sequence(1, length({w})), i -> concat('|', substring({w}, i, 1), ' ')), '')"

_PAIRS = (
    "CASE WHEN size({s}) > 1 THEN"
    " transform(sequence(1, size({s}) - 1),"
    " i -> struct(element_at({s}, i) AS l, element_at({s}, i + 1) AS r))"
    " ELSE array() END"
)


def word_frequencies(df: DataFrame, text_col: str) -> DataFrame:
    """(word, cnt): the vocabulary-sized table BPE trains on — the one
    corpus-sized shuffle in the whole procedure. Words containing the
    reserved marker ``|`` or non-space whitespace are excluded (see the
    module docstring: they cannot round-trip the symbol encoding)."""
    return (
        df.select(
            F.explode(
                F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))
            ).alias("word")
        )
        .filter(~F.col("word").rlike(r"[|\s]"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def learn_bpe_merges(df: DataFrame, text_col: str, *, rounds: int = 6) -> DataFrame:
    """Learn ``rounds`` BPE merges over the corpus. Returns one row per
    round: ``(round, left, right, pair_count)`` — the merge table a
    tokenizer ships. Deterministic end to end: integer counts, pinned
    (count desc, left, right) argmax, marker-string merge application."""
    if rounds <= 0:
        raise ValueError("rounds must be positive")
    words = word_frequencies(df, text_col).select(
        "cnt", F.expr(_ENCODE.format(w="word")).alias("s")
    )
    merges: list[DataFrame] = []
    cur = words
    for rnd in range(1, rounds + 1):
        syms = "transform(filter(split(s, '\\\\|'), x -> x != ''), x -> rtrim(x))"
        pairs = (
            cur.select("cnt", F.explode(F.expr(_PAIRS.format(s=syms))).alias("pr"))
            .groupBy(F.col("pr.l").alias("left"), F.col("pr.r").alias("right"))
            .agg(F.sum("cnt").alias("pair_count"))
        )
        best = pairs.orderBy(
            F.col("pair_count").desc(), F.col("left"), F.col("right")
        ).limit(1)
        merges.append(best.select(F.lit(rnd).cast("int").alias("round"), "*"))
        cur = (
            cur.crossJoin(F.broadcast(best))
            .select(
                "cnt",
                F.replace(
                    F.col("s"),
                    F.concat(F.lit("|"), "left", F.lit(" |"), "right", F.lit(" ")),
                    F.concat(F.lit("|"), "left", "right", F.lit(" ")),
                ).alias("s"),
            )
            .localCheckpoint(eager=False)
        )
    return reduce(DataFrame.unionByName, merges)


def split_words(text_col: str) -> "F.Column":
    """The corpus word array: space-split with empty tokens dropped — the
    shared definition every BPE consumer derives words from."""
    return F.filter(F.split(F.col(text_col), " "), lambda t: t != F.lit(""))


def bpe_tokens_expr(words, merges: list[tuple[str, str]]) -> "F.Column":
    """Document token array under a learned merge list, as ONE pure
    higher-order expression over the word array — per word: the ``|sym ``
    marker encoding, the merge ``replace`` chain in training order, then
    the split/rtrim decode; per document the word token lists flatten in
    word order. Map-only by construction: no explode, no shuffle, the
    merge list is a plan literal."""

    def tokenize(w):
        enc = F.array_join(
            F.transform(
                F.sequence(F.lit(1), F.length(w)),
                lambda i: F.concat(F.lit("|"), F.substring(w, i, F.lit(1)), F.lit(" ")),
            ),
            "",
        )
        for left, right in merges:
            enc = F.replace(
                enc, F.lit(f"|{left} |{right} "), F.lit(f"|{left}{right} ")
            )
        return F.transform(
            F.filter(F.split(enc, "\\|"), lambda x: x != F.lit("")),
            lambda x: F.rtrim(x),
        )

    return F.flatten(F.transform(words, tokenize))
