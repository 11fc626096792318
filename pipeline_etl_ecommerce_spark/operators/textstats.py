"""Text-analysis operators: language ID, quality scoring, token counting,
document fingerprinting — the per-document stats a training-data pipeline
computes at corpus scale.

All native expressions (regexp/length/md5) so they run inside whole-stage
codegen and reproduce exactly in a SQL oracle. Per-document work only — no
shuffles; at 100 TB these are pure map stages pipelined into the scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .ranking import first_per_group, top_k_per_group

# marker stopwords per language (n-gram heuristic; word-boundary matched)
LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|and|of|is|to|in)\b",
    "es": r"\b(el|la|los|las|que|y|es)\b",
    "pt": r"\b(o|os|um|uma|que|e|de|da|do)\b",
    "fr": r"\b(le|les|des|et|est|une)\b",
}


def _count_matches(col: Column, pattern: str) -> Column:
    return F.size(F.regexp_extract_all(col, F.lit(pattern), F.lit(0)))


def lang_scores(text: str | Column) -> dict[str, Column]:
    c = F.lower(F.col(text) if isinstance(text, str) else text)
    return {lang: _count_matches(c, pat) for lang, pat in LANG_MARKERS.items()}


def lang_id(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Predict language by argmax of marker-word counts; deterministic
    tie-break by the LANG_MARKERS declaration order. 'und' when no marker
    matches at all."""
    scores = lang_scores(text_col)
    langs = list(scores)
    out = df.select(F.col(id_col).alias("doc_id"), *[scores[lg].alias(f"score_{lg}") for lg in langs])
    best = F.lit("und")
    best_score = F.lit(0)
    # fold right-to-left so earlier languages win ties (>= beats later ones)
    for lg in reversed(langs):
        cond = F.col(f"score_{lg}") > 0
        better = F.col(f"score_{lg}") >= best_score
        best = F.when(cond & better, F.lit(lg)).otherwise(best)
        best_score = F.greatest(F.col(f"score_{lg}"), best_score)
    return out.withColumn("predicted_lang", best)


def token_count(text: str | Column) -> Column:
    """Whitespace token count (0 for blank text)."""
    c = F.trim(F.col(text) if isinstance(text, str) else text)
    return F.when(F.length(c) == 0, F.lit(0)).otherwise(
        F.size(F.split(c, r"\s+"))
    ).cast("long")


def bpe_ish_token_count(text: str | Column) -> Column:
    """Sub-word-ish token count: word pieces + digits + punctuation, the
    cheap proxy for a BPE tokenizer's length (regex segmentation)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]|[^\sA-Za-z0-9]"), F.lit(0))).cast("long")


def quality_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Length / alpha-ratio / digit-ratio / whitespace-ratio / mean token
    length / stopword-ratio features + a composite [0,1] quality score."""
    c = F.col(text_col)
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^A-Za-z]", "")).cast("double")
    digits = F.length(F.regexp_replace(c, r"[^0-9]", "")).cast("double")
    spaces = F.length(F.regexp_replace(c, r"[^ ]", "")).cast("double")
    toks = token_count(c)
    stop = F.size(F.regexp_extract_all(F.lower(c), F.lit(LANG_MARKERS["en"]), F.lit(0))).cast("double")
    alpha_ratio = F.round(alpha / n, 6)
    digit_ratio = F.round(digits / n, 6)
    space_ratio = F.round(spaces / n, 6)
    mean_tok_len = F.round((n - spaces) / F.greatest(toks.cast("double"), F.lit(1.0)), 6)
    stop_ratio = F.round(stop / F.greatest(toks.cast("double"), F.lit(1.0)), 6)
    # composite: reward alpha + a sane mean token length, punish digit soup
    score = F.round(
        F.least(
            F.greatest(
                alpha_ratio * 0.6
                + F.when((mean_tok_len >= 3) & (mean_tok_len <= 10), 0.3).otherwise(0.0)
                + F.least(stop_ratio, F.lit(0.5)) * 0.2
                - digit_ratio * 0.4,
                F.lit(0.0),
            ),
            F.lit(1.0),
        ),
        6,
    )
    return df.select(
        F.col(id_col).alias("doc_id"),
        F.length(c).cast("long").alias("n_chars_actual"),
        toks.alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        digit_ratio.alias("digit_ratio"),
        space_ratio.alias("space_ratio"),
        mean_tok_len.alias("mean_token_len"),
        stop_ratio.alias("stopword_ratio"),
        score.alias("quality_score"),
    )


def fingerprint(text: str | Column) -> Column:
    """Normalized content fingerprint: md5 of the lowercased text with all
    non-alphanumerics stripped — robust to whitespace/punctuation edits."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(c), r"[^a-z0-9]", "").cast("binary"))


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 5, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS algorithm): hash every
    k-gram (rolling hash stand-in: an 8-hex slice of md5), then select the
    MINIMUM hash of each ``window`` consecutive k-grams. Any shared substring
    of length >= k + window - 1 between two documents is guaranteed to share
    at least one selected fingerprint, so matching on the (much smaller)
    selected set finds partial overlaps exact shingle sets would drown in.

    Output: one row per (doc_id, distinct selected fingerprint) — a join on
    ``fp`` is the plagiarism/containment candidate generator, the same
    bucket-equi-join scale shape as the MinHash band join.

    Plan shape: per-row higher-order functions (map-only, no shuffle except
    the final distinct-explode), md5 computed once per k-gram."""
    c = F.col(text_col)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1))),
        lambda i: c.substr(i, F.lit(k)),
    )
    hashed = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(grams, lambda g: F.substring(F.md5(g.cast("binary")), 1, 8)).alias("hs"),
    )
    starts = F.sequence(F.lit(1), F.greatest(F.size(F.col("hs")) - (window - 1), F.lit(1)))
    selected = F.array_distinct(
        F.transform(starts, lambda i: F.array_min(F.slice(F.col("hs"), i, window)))
    )
    return hashed.select("doc_id", F.explode(selected).alias("fp"))


def repetition_features(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Gopher-style repetition signals per document: distinct-token ratio,
    fraction of tokens taken by the single most frequent token, and fraction
    of bigrams taken by the most frequent bigram. High top-fractions flag
    boilerplate / keyword-stuffed / degenerate-generation text that length
    and alpha-ratio checks miss.

    Shape: explode → two-level groupBy per n-gram order. Both aggregations
    partial-aggregate map-side and land on the same ``doc_id`` hash
    partitioning, so the final join reuses one exchange. No Python, no HOF
    lambdas in the hot aggregation (see the SimHash perf note in NOTES.md)."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != F.lit("")
    )
    base = df.select(F.col(id_col).alias("doc_id"), toks.alias("toks"))
    uni = base.select("doc_id", F.explode("toks").alias("tok"))
    ucnt = uni.groupBy("doc_id", "tok").agg(F.count("*").alias("c"))
    ustat = ucnt.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.count("*").alias("n_distinct_tokens"),
        F.max("c").alias("top_c"),
    )
    bigrams = F.expr(
        "CASE WHEN size(toks) >= 2 THEN transform(sequence(1, size(toks) - 1),"
        " i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"
        " ELSE array() END"
    )
    big = base.select("doc_id", F.explode(bigrams).alias("bg"))
    bcnt = big.groupBy("doc_id", "bg").agg(F.count("*").alias("c"))
    bstat = bcnt.groupBy("doc_id").agg(
        F.max("c").alias("top_b"), F.sum("c").alias("n_bigrams")
    )
    return (
        ustat.join(bstat, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("n_distinct_tokens").cast("long").alias("n_distinct_tokens"),
            F.round(F.col("n_distinct_tokens").cast("double") / F.col("n_tokens"), 6).alias(
                "distinct_ratio"
            ),
            F.round(F.col("top_c").cast("double") / F.col("n_tokens"), 6).alias(
                "top_token_frac"
            ),
            F.coalesce(
                F.round(F.col("top_b").cast("double") / F.col("n_bigrams"), 6), F.lit(0.0)
            ).alias("top_bigram_frac"),
        )
    )


def _char_gram_stream(
    df: DataFrame, text_col: str, id_cols: list[str], n: int
) -> DataFrame:
    """One row per character-n-gram OCCURRENCE, built entirely in codegen:
    posexplode the position range, then a substring expression — measured
    ~2x faster than explode(array_distinct(transform(...))), whose per-doc
    array build and distinct run under the interpreted HOF evaluator.
    Same gram semantics as ``dedupe.char_shingles`` (texts shorter than n
    emit their whole text as the single gram)."""
    t = F.lower(F.col(text_col))
    return (
        df.select(*id_cols, t.alias("_t"))
        .select(
            *id_cols,
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("_t") - (n - 1), F.lit(1)))
            ).alias("_i"),
            "_t",
        )
        .select(*id_cols, F.expr(f"substring(_t, _i, {n})").alias("gram"))
    )


def train_lang_profiles(
    df: DataFrame, text_col: str, lang_col: str, *, n: int = 3, top_k: int = 50,
) -> DataFrame:
    """Train a character-n-gram language profile table IN the engine: the
    ``top_k`` most document-frequent n-grams per language (deterministic
    tie-break by gram). One groupBy + one per-language top-k window; the
    result is a tiny (langs × top_k) broadcastable model table — the classic
    Cavnar-Trenkle n-gram profile, distributable because document frequency
    is just a count (the distinct-per-doc dedup rides the same aggregation
    as a countDistinct instead of an interpreted array_distinct).

    ``doc_id`` must exist in ``df`` and be UNIQUE per document — document
    frequency is ``countDistinct(doc_id)``, so duplicated ids undercount and
    a missing column fails at analysis time."""
    grams = _char_gram_stream(
        df.select(F.col(lang_col).alias("lang"), F.col("doc_id").alias("_doc"), F.col(text_col)),
        text_col,
        ["lang", "_doc"],
        n,
    )
    counts = grams.groupBy("lang", "gram").agg(F.countDistinct("_doc").alias("n_docs"))
    top = top_k_per_group(counts, "lang", [F.col("n_docs").desc(), F.col("gram")], top_k)
    return top.select("lang", "gram")


def classify_lang_ngram(
    df: DataFrame, profiles: DataFrame, text_col: str, id_col: str, *, n: int = 3
) -> DataFrame:
    """Apply trained n-gram profiles: each doc's distinct n-grams join the
    broadcast profile table, overlap counts per language are ranked, argmax
    wins (ties broken by language name; no overlap at all → 'und').
    Map-side join against the model + one groupBy per doc — the inference
    shape that scales to any corpus size. The broadcast-join prunes the
    gram stream to profile hits BEFORE the per-doc distinct, so the
    distinct aggregation sees at most |profiles| grams per document."""
    grams = _char_gram_stream(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col)), text_col, ["doc_id"], n
    )
    overlap = (
        grams.join(F.broadcast(profiles), "gram")
        .groupBy("doc_id", "lang")
        .agg(F.countDistinct("gram").alias("n_overlap"))
    )
    best = first_per_group(
        overlap, "doc_id", [F.col("n_overlap").desc(), F.col("lang")]
    ).select("doc_id", F.col("lang").alias("predicted_lang"), "n_overlap")
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(best, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("predicted_lang"), F.lit("und")).alias("predicted_lang"),
            F.coalesce(F.col("n_overlap"), F.lit(0)).cast("long").alias("n_overlap"),
        )
    )


def winnow_containment_pairs(
    fps: DataFrame, *, max_df: int = 10, min_shared: int = 2
) -> DataFrame:
    """Containment/plagiarism candidate pairs from winnowing fingerprints:
    documents sharing at least ``min_shared`` RARE fingerprints.

    Ubiquitous fingerprints (document frequency > ``max_df``) are dropped
    first — they are boilerplate ("stop fingerprints", the fingerprint
    analogue of stopwords) and would otherwise make the self-join quadratic
    in the hottest buckets. The df computation is a window count partitioned
    by fp, so the pair join that follows reuses the same hash partitioning
    (one logical shuffle on fp end-to-end)."""
    w = Window.partitionBy("fp")
    rare = fps.withColumn("df", F.count("*").over(w)).filter(F.col("df") <= max_df)
    a = rare.select("fp", F.col("doc_id").alias("doc_a"))
    b = rare.select("fp", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def vocab_top_terms(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 20
) -> DataFrame:
    """Exact corpus heavy hitters: the k most frequent tokens with their
    occurrence and document frequencies, ranked. Ties break by term so the
    result is a total order (engine-portable).

    Scale shape: explode → ONE groupBy(term) (map-side partial agg; doc
    frequency via count(distinct) resolves inside the same aggregation
    pass via Spark's distinct-agg expand) → global top-k. The top-k is
    orderBy+limit, which Spark executes as TakeOrderedAndProject — each
    partition keeps only its local k candidates, so nothing resembling a
    global sort materializes. The final rank window runs on k rows."""
    toks = F.filter(
        F.split(F.lower(F.trim(F.col(text_col))), r"\s+"), lambda t: t != F.lit("")
    )
    term_stats = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(toks).alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("n_occurrences"),
            F.countDistinct("doc_id").alias("n_docs"),
        )
    )
    topk = term_stats.orderBy(F.col("n_occurrences").desc(), F.col("term")).limit(k)
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("term"))
    return topk.select(
        "term", "n_occurrences", "n_docs", F.row_number().over(w).cast("int").alias("rnk")
    )


def word_ngrams(text_col: Column, n: int) -> Column:
    """Word n-gram array built by zipping n shifted slices of the token
    array and concatenating per struct — measured ~1.5x faster than the
    transform(sequence, i -> array_join(slice(...))) formulation, whose
    per-gram lambda does an array copy under the interpreted HOF evaluator.
    Docs with fewer than n tokens yield an empty array (slice length
    clamps at 0)."""
    toks = F.split(text_col, " ")
    span = F.greatest(F.size(toks) - F.lit(n - 1), F.lit(0))
    shifted = [F.slice(toks, i + 1, span) for i in range(n)]
    return F.transform(
        F.arrays_zip(*shifted), lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)])
    )


def dup_ngram_fraction(
    df: DataFrame, text_col: str, id_col: str, *, n: int = 5
) -> DataFrame:
    """Corpus-level duplicated-n-gram fraction per document: the share of a
    document's word n-gram positions whose n-gram also occurs in at least
    one OTHER document. This is the inter-document complement of
    ``repetition_features`` — it catches boilerplate shared ACROSS pages
    (headers, license blocks, templated listings) that per-doc repetition
    stats cannot see. Documents shorter than n tokens emit no row.

    Scale shape — the grams are constructed and shuffled exactly ONCE:
    explode → groupBy(gram, doc_id) collapses repeats map-side → a window
    over gram counts the document frequency on the collapsed rows → one
    final groupBy(doc_id). The earlier join-back formulation (aggregate
    then rejoin the raw gram stream) built the gram expression twice and
    measured 7x slower at sf0.1; after the first aggregation everything
    here is (gram, doc) cardinality, tiny relative to the corpus."""
    toks = F.split(F.col(text_col), " ")
    g = df.filter(F.size(toks) >= n).select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_ngrams(F.col(text_col), n)).alias("gram"),
    )
    per_gram_doc = g.groupBy("gram", "doc_id").agg(F.count("*").alias("_c"))
    with_df = per_gram_doc.withColumn(
        "_ndocs", F.count("*").over(Window.partitionBy("gram"))
    )
    return (
        with_df.groupBy("doc_id")
        .agg(
            F.sum("_c").cast("long").alias("n_grams"),
            F.sum(F.when(F.col("_ndocs") >= 2, F.col("_c")).otherwise(0))
            .cast("long")
            .alias("n_dup_grams"),
        )
        .withColumn(
            "dup_gram_frac",
            F.round(F.col("n_dup_grams").cast("double") / F.col("n_grams"), 6),
        )
    )


def remove_boilerplate_segments(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    seg_tokens: int = 8,
    max_docs: int = 1,
) -> DataFrame:
    """C4-style boilerplate pruning, segment-exact: split every document
    into fixed ``seg_tokens``-token segments, drop each segment whose EXACT
    text appears in more than ``max_docs`` distinct documents (nav bars,
    cookie banners, license footers — and full duplicate docs lose all
    their segments), then reassemble the survivors in order.

    C4 does this per LINE; the segmenter here is token-windowed so it also
    works on text without line structure — swap the segmentation for a
    newline split when the corpus has real lines.

    Returns (id, clean_text, n_segments, n_dropped); a fully-boilerplate
    document survives as an empty ``clean_text`` so downstream length
    gates can drop it explicitly.

    Scale shape: segmentation is map-side (one codegen projection);
    frequency counting is one shuffle on the segment text with map-side
    partial aggregation; the keep-join shuffles segments once more; the
    reassembly groupBy shuffles per doc. Three shuffles total, each on a
    different natural key — the same shape C4's production pipeline
    needs, and none of them is quadratic.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    n_segs = F.ceil(F.size("__toks") / F.lit(seg_tokens)).cast("int")
    # token-less docs drop out entirely (Spark's sequence(0, -1) would
    # DESCEND, fabricating empty segments; the empty generate_series on the
    # SQL side drops the doc — match that)
    segs = (
        df.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
        .filter(F.size("__toks") > 0)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), n_segs - 1),
                    lambda i: F.array_join(
                        F.slice(F.col("__toks"), i * seg_tokens + 1, seg_tokens), " "
                    ),
                )
            ).alias("seg_idx", "seg"),
        )
    )
    keep = (
        segs.groupBy("seg")
        .agg(F.countDistinct("doc_id").alias("__df"))
        .filter(F.col("__df") <= max_docs)
        .select("seg")
    )
    kept = segs.join(keep, "seg")
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("clean_text"),
        F.count("*").alias("__n_kept"),
    )
    totals = segs.groupBy("doc_id").agg(F.count("*").alias("n_segments"))
    return (
        totals.join(rebuilt, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            F.col("n_segments").cast("long").alias("n_segments"),
            (F.col("n_segments") - F.coalesce("__n_kept", F.lit(0)))
            .cast("long")
            .alias("n_dropped"),
        )
    )


def char_diversity(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Character-diversity quality signal per document: distinct-character
    count and the Simpson diversity index ``1 - Σ p_c²`` over the
    lowercased character distribution. Low diversity flags the classic
    junk shapes (padding runs, repeated separators, binary-ish noise) that
    length/punctuation ratios miss.

    Entropy is the textbook signal, but ``log`` is libm-dependent and not
    bit-stable across engines; Simpson carries the same ordering
    information from pure integer arithmetic — counts and squared counts
    stay BIGINT-exact until a single final division, so the result is
    engine-exact (this repo's oracle-determinism discipline).

    Two map-side-combinable aggregates keyed on the doc id — the char
    fan-out never leaves its input partition un-combined."""
    from .importance import _widen

    # per-CHARACTER fan-out: escape the byte-sized-split cliff (the
    # importance._widen lesson; no-op when splits already suffice)
    df = _widen(df)
    per_char = (
        _char_gram_stream(df, text_col, [id_col], 1)
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("__n"))
    )
    return per_char.groupBy(id_col).agg(
        F.sum("__n").cast("long").alias("n_chars_total"),
        F.count("*").cast("long").alias("distinct_chars"),
        F.round(
            F.lit(1.0)
            - F.sum(F.col("__n") * F.col("__n")).cast("double")
            / (F.sum("__n") * F.sum("__n")).cast("double"),
            6,
        ).alias("simpson_diversity"),
    )
