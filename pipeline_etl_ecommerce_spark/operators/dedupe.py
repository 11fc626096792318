"""Deduplication operators for large-scale training-data pipelines.

Four families, all built scale-first:

- exact: hash-groupBy canonicalization — one shuffle on the content hash.
- MinHash + LSH: shingle → k min-hashes → banded bucket keys → bucket
  equi-join for candidate pairs. The join is on (band, bucket) so candidate
  generation is linear-ish in corpus size instead of O(n²); at 100 TB the
  bucket join shuffles only (doc_id, band_key) pairs, never the text.
- SimHash: 32-bit near-dup signature from per-token hash bit votes; pairs
  within small Hamming distance are near-dups. Signature build is one
  explode + groupBy (map-side combinable sums).
- n-gram Jaccard: exact set similarity for verifying candidate pairs
  (array_intersect/array_union on deduped shingle arrays — JVM-side).

Everything is native Column expressions (md5/array/higher-order functions);
hash functions are md5-based so an external SQL oracle can reproduce results
bit-for-bit (lexicographic min over hex digests is a valid uniform min-hash).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .ranking import rank_per_group


def content_hash(col: str | Column) -> Column:
    """Exact-dedup key: md5 over the raw UTF-8 bytes."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(c.cast("binary"))


def char_shingles(col: str | Column, k: int = 5) -> Column:
    """Array of all k-char shingles (positions 1..len-k+1; at least one)."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: c.substr(i, F.lit(k)))


def minhash_band_keys(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    num_hashes: int = 4,
    bands: int = 2,
) -> DataFrame:
    """(id, band, band_key) rows: ``bands`` LSH bucket keys per document,
    each hashing ``num_hashes // bands`` min-hash values. Documents sharing a
    band_key in any band are near-dup candidates."""
    if num_hashes > 4:
        raise ValueError("num_hashes > 4 needs wider digests (md5 hex has 4 disjoint 8-char slices)")
    rows_per_band = num_hashes // bands
    # dedup shingles BEFORE digesting: array_min is unaffected by duplicates,
    # and natural text repeats many k-grams, so this drops a large fraction
    # of the md5 calls (the dominant cost of signature building)
    shingled = df.select(
        F.col(id_col).alias("doc_id"), F.array_distinct(char_shingles(text_col, k)).alias("sh")
    )
    # digest each shingle ONCE; the k hash functions are disjoint hex slices
    # of that digest (a separate projection so the md5 array isn't inlined
    # and recomputed per min-hash expression)
    digested = shingled.select(
        "doc_id", F.transform(F.col("sh"), lambda s: F.md5(s.cast("binary"))).alias("dg")
    )
    mh = [
        F.array_min(F.transform(F.col("dg"), lambda d: F.substring(d, 1 + 8 * h, 8))).alias(f"mh{h}")
        for h in range(num_hashes)
    ]
    sigs = digested.select("doc_id", *mh)
    # one band_key struct per band, unpivoted with a single explode: a
    # unionByName of per-band selects would re-execute the whole
    # shingle+digest lineage once PER BAND (the dominant md5 cost × bands)
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.md5(
                F.concat_ws(
                    ",", *[F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
                ).cast("binary")
            ).alias("band_key"),
        )
        for b in range(bands)
    ]
    return sigs.select("doc_id", F.explode(F.array(*band_structs)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_candidate_pairs(band_keys: DataFrame) -> DataFrame:
    """Distinct candidate pairs (a < b) from the band-bucket equi-join.

    This is the scale path: a self-join on (band, band_key) — shuffle on the
    bucket key, quadratic only within a bucket, never across the corpus."""
    left = band_keys.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_a"))
    right = band_keys.select(F.col("band"), F.col("band_key"), F.col("doc_id").alias("doc_b"))
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def incremental_candidate_pairs(
    mart_band_keys: DataFrame, delta_band_keys: DataFrame
) -> DataFrame:
    """Candidate pairs involving at least one DELTA document.

    The incremental half of the signatures-as-a-mart design: band keys are a
    persisted table keyed by (doc_id, band); when a new corpus batch arrives
    only the delta is shingled and hashed (``minhash_band_keys`` on the new
    docs), merged into the mart, and the candidate join is **delta × mart**
    instead of mart × mart. Pairs among pre-existing docs are already in the
    pair mart from earlier runs, so `previous_pairs ∪ this` equals a full
    recompute (asserted by test_incremental_minhash).

    At 100 TB this is the only sane shape: a daily 0.1% ingest re-hashes
    0.1% of the corpus and the band join's delta side is tiny, while a full
    self-join would re-shuffle every signature every day.

    ``mart_band_keys`` must already include the delta rows (join the merged
    mart, or union delta in). Pair orientation is normalized to doc_a < doc_b
    so results are comparable with ``minhash_candidate_pairs``."""
    left = delta_band_keys.select("band", "band_key", F.col("doc_id").alias("delta_id"))
    right = mart_band_keys.select("band", "band_key", F.col("doc_id").alias("mart_id"))
    return (
        left.join(right, ["band", "band_key"])
        .filter(F.col("delta_id") != F.col("mart_id"))
        .select(
            F.least(F.col("delta_id"), F.col("mart_id")).alias("doc_a"),
            F.greatest(F.col("delta_id"), F.col("mart_id")).alias("doc_b"),
        )
        .distinct()
    )


def update_signature_mart(
    new_docs: DataFrame,
    mart_path: str,
    text_col: str,
    id_col: str,
    *,
    k: int = 5,
    num_hashes: int = 4,
    bands: int = 2,
) -> DataFrame:
    """Hash ONLY the new/changed docs and upsert their band keys into the
    persisted signature mart at ``mart_path`` (keyed by doc_id × band, so
    re-ingesting a doc replaces its signature). Returns the delta band keys
    for the follow-up ``incremental_candidate_pairs`` join."""
    from ..sources.sinks import upsert_to_path

    delta = minhash_band_keys(
        new_docs, text_col, id_col, k=k, num_hashes=num_hashes, bands=bands
    )
    upsert_to_path(delta, mart_path, keys=["doc_id", "band"])
    return delta


def simhash32(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """32-bit SimHash: tokens vote ±1 per bit position; bit j of the signature
    is set when the vote sum is positive. Bit source: the high bit of each of
    the first 32 hex digits of md5(token) — reproducible in any engine with
    md5 + substring.

    Plan shape: explode tokens → single groupBy with 32 integer shift-mask
    vote sums (partial aggregation map-side) → bit recombination. One
    shuffle — but a
    cheap one: a document's tokens never leave the partition that read it, so
    map-side partial aggregation collapses each doc to ONE 33-column row
    before the exchange; shuffle payload is O(docs), not O(tokens).
    A shuffle-free variant (per-row higher-order ``aggregate`` over the token
    array, 32 passes) was measured 40% SLOWER at sf0.1: HOF lambdas evaluate
    interpreted, while this shape stays in whole-stage codegen end-to-end."""
    tokens = F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
    tokenized = (
        df.select(F.col(id_col).alias("doc_id"), tokens.alias("tok"))
        .filter(F.col("tok") != "")
        # digest ONCE per token, then parse each 8-hex half into a 32-bit
        # int in the same projection: hex digit j is 'high' (in 89abcdef)
        # iff bit (7 - j%8)*4 + 3 of its half is set, so the 32 vote
        # aggregates become integer shift+mask sums instead of 32
        # substring + 8-way string-IN comparisons per token (~35% faster
        # signature build at sf0.1, bit-identical output)
        .select("doc_id", F.md5(F.col("tok").cast("binary")).alias("dg"))
        .select(
            "doc_id",
            F.conv(F.substring(F.col("dg"), 1, 8), 16, 10).cast("long").alias("h0"),
            F.conv(F.substring(F.col("dg"), 9, 8), 16, 10).cast("long").alias("h1"),
            F.conv(F.substring(F.col("dg"), 17, 8), 16, 10).cast("long").alias("h2"),
            F.conv(F.substring(F.col("dg"), 25, 8), 16, 10).cast("long").alias("h3"),
        )
    )
    votes = []
    for j in range(32):
        half = F.col(f"h{j // 8}")
        shift = (7 - j % 8) * 4 + 3
        bit = F.shiftright(half, shift).bitwiseAND(F.lit(1))
        votes.append(F.sum(bit * 2 - 1).alias(f"v{j}"))
    agg = tokenized.groupBy("doc_id").agg(*votes)
    sig = None
    for j in range(32):
        term = F.when(F.col(f"v{j}") > 0, F.lit(2**j).cast("long")).otherwise(F.lit(0).cast("long"))
        sig = term if sig is None else sig + term
    return agg.select("doc_id", sig.alias("simhash"))


def ngram_jaccard_pairs(
    df: DataFrame, text_col: str, id_col: str, *, k: int = 3, max_id: int | None = None
) -> DataFrame:
    """Exact k-gram Jaccard similarity for all pairs (a < b), optionally
    bounded to ids < max_id. Quadratic — meant for verifying LSH candidates
    or bounded subsets, not full-corpus sweeps (that's what the LSH path is
    for)."""
    base = df
    if max_id is not None:
        base = base.filter(F.col(id_col) < max_id)
    grams = base.select(
        F.col(id_col).alias("gid"), F.array_distinct(char_shingles(text_col, k)).alias("grams")
    )
    a = grams.select(F.col("gid").alias("doc_a"), F.col("grams").alias("grams_a"))
    b = grams.select(F.col("gid").alias("doc_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size(F.array_union(F.col("grams_a"), F.col("grams_b")))
    return (
        a.crossJoin(b)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
    )


def verify_candidate_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    *,
    k: int = 3,
    threshold: float = 0.6,
) -> DataFrame:
    """LSH verification stage: exact k-gram Jaccard computed ONLY for the
    candidate pairs (the scalable shape — candidates are ~linear in corpus
    size, so verification never goes quadratic). Returns pairs with
    jaccard >= threshold.

    The per-doc gram sets are broadcast to every executor instead of
    shuffling a multi-KB array for each side of every candidate pair — the
    dominant cost otherwise (measured 18s -> ~4s at sf0.1). Correct while
    the gram table of CANDIDATE docs fits the broadcast budget."""
    pairs = pairs.persist()
    # only docs that appear in a candidate pair need gram sets — semi-join the
    # corpus down BEFORE shingling so the (expensive) gram build and the
    # broadcast both scale with the candidate set, not the corpus
    cand_ids = (
        pairs.select(F.col("doc_a").alias("gid"))
        .unionByName(pairs.select(F.col("doc_b").alias("gid")))
        .distinct()
    )
    grams = F.broadcast(
        df.join(cand_ids, F.col(id_col) == F.col("gid"), "left_semi")
        .select(F.col(id_col).alias("gid"), F.array_distinct(char_shingles(text_col, k)).alias("grams"))
        .persist()  # read twice (both sides of the pair join): shingle once
    )
    ga = grams.select(F.col("gid").alias("doc_a"), F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("gid").alias("doc_b"), F.col("grams").alias("grams_b"))
    inter = F.size(F.array_intersect(F.col("grams_a"), F.col("grams_b")))
    union = F.size(F.array_union(F.col("grams_a"), F.col("grams_b")))
    return (
        pairs.join(ga, "doc_a")
        .join(gb, "doc_b")
        .withColumn("jaccard", F.round(inter.cast("double") / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def canonicalize_one_step(df: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """One min-propagation step: each doc's canonical id is the minimum of
    itself and all verified partners. Exact for duplicate PAIRS and for
    star-shaped groups; chains need ``connected_components`` (iterative)."""
    partners = pairs.select(F.col("doc_a").alias("doc"), F.col("doc_b").alias("partner")).unionByName(
        pairs.select(F.col("doc_b").alias("doc"), F.col("doc_a").alias("partner"))
    )
    mins = partners.groupBy("doc").agg(F.min("partner").alias("min_partner"))
    return (
        df.select(F.col(id_col).alias("doc_id"))
        .join(mins, F.col("doc_id") == F.col("doc"), "left")
        .select(
            "doc_id",
            F.least(F.col("doc_id"), F.coalesce(F.col("min_partner"), F.col("doc_id"))).alias(
                "canonical_id"
            ),
        )
    )


def keep_best_per_cluster(
    components: DataFrame,
    scores: DataFrame,
    *,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-aware canonical selection: from each near-dup cluster keep the
    member with the HIGHEST score (ties broken by lowest id). Min-id
    canonicalization (``canonicalize_one_step`` / ``connected_components``)
    keeps an arbitrary member; real curation pipelines keep the best one —
    the representative-selection step after clustering.

    ``components`` is (id_col, component_id); ``scores`` is (id_col,
    score_col). Output: one row per cluster with ``best_<id_col>``, the
    winning score, and the cluster size.

    Scale shape: one co-partitioned join on the doc id, then one shuffle on
    component_id shared by the ranking window and the size count — the same
    single-Exchange window pattern as the SCD2 build.
    """
    joined = components.join(scores.select(id_col, score_col), id_col)
    return (
        rank_per_group(
            joined, "component_id", [F.col(score_col).desc(), F.col(id_col)],
            k=1, size_col="n_members",
        )
        .select(
            "component_id",
            F.col(id_col).alias(f"best_{id_col}"),
            F.col(score_col),
            F.col("n_members").cast("long").alias("n_members"),
        )
    )


def connected_components(pairs: DataFrame, *, max_iter: int = 20) -> DataFrame:
    """Transitive closure of the duplicate relation by iterative label
    propagation: every node's label converges to the minimum doc id in its
    component. Deterministic; O(diameter) rounds, each one join + groupBy.
    Returns (doc_id, component_id) for every doc appearing in ``pairs``;
    raises ``RuntimeError`` when ``max_iter`` rounds end before a fixed point.

    Scale note: label propagation is the standard distributed CC algorithm;
    each round's shuffle is proportional to the edge list, and near-dup
    graphs have tiny diameters (dup clusters are dense), so it converges in
    a handful of rounds. ``localCheckpoint`` truncates the growing lineage.
    """
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        # materialize: every iteration joins the edge list — without this the
        # whole upstream lineage (LSH + verification) re-executes per round
        # (measured 290s -> ~20s at sf0.1)
        .localCheckpoint()
    )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges["dst"] == labels["doc_id"])
            .groupBy("src")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # checkpoint BEFORE the convergence probe: the probe and the next
        # round then both read the materialized result instead of executing
        # the round's join+agg twice (one run for the changed-count action,
        # one for the checkpoint).
        updated = (
            labels.join(neighbor_min, labels["doc_id"] == neighbor_min["src"], "left")
            .select(
                "doc_id",
                F.least(F.col("component_id"), F.coalesce(F.col("nbr_min"), F.col("component_id"))).alias(
                    "new_component"
                ),
                "component_id",
            )
            .localCheckpoint()
        )
        changed = updated.filter(F.col("new_component") != F.col("component_id")).limit(1).count()
        labels = updated.select("doc_id", F.col("new_component").alias("component_id"))
        if changed == 0:
            return labels
    # A label still moved in the last round: the labels are not the
    # component minima yet. Fail loudly, as connected_components_star does.
    raise RuntimeError(
        f"connected_components: no fixed point after {max_iter} rounds; raise "
        "max_iter (label propagation needs one round per hop of the graph's "
        "diameter) or use connected_components_star"
    )


def connected_components_star(pairs: DataFrame, *, max_iter: int = 30) -> DataFrame:
    """Connected components by ALTERNATING LARGE-STAR / SMALL-STAR rounds
    (Kiveris et al. 2014, "Connected Components in MapReduce and Beyond") —
    the opt-in variant for graphs where label propagation's O(diameter)
    round count degenerates.

    Crossover guidance: :func:`connected_components` (label propagation)
    does one join+groupBy per round and near-dup graphs are dense little
    cliques (diameter 2-3), so it wins there. A LONG-CHAIN graph (e.g.
    exact-substring overlap chains, citation threads) has diameter O(n) and
    label-prop runs O(n) rounds; the star algorithm contracts ANY topology
    in O(log² n) rounds worst case (O(log n) in practice), each round two
    grouped aggregations over the current edge set. Same output contract as
    label-prop: ``(doc_id, component_id=min doc id in component)`` for every
    node appearing in ``pairs`` (property-tested equal on random graphs).

    Each round strictly shrinks the sum of parent pointers, so convergence
    is guaranteed; the loop stops when the edge set reaches the fixed point
    (every edge points a node at its component minimum).
    """
    # lazy localCheckpoints throughout: the NEXT action (each round's
    # fingerprint collect, the final consumer) materializes and caches in
    # the same job, instead of paying a separate eager-materialize job per
    # round (guide §1.2 — per-round fixed job overhead dominated the wall
    # at bench scale: 8 rounds × an extra scheduled job each).
    edges = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # nodes from the RAW pairs (before the self-loop filter) so a node whose
    # only edge is a self-loop still gets a singleton row — label-prop's
    # contract, property-tested equal
    all_nodes = (
        pairs.select(F.col("doc_a").alias("doc_id"))
        .unionByName(pairs.select(F.col("doc_b").alias("doc_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    def _fingerprint(e: DataFrame) -> tuple[int, int]:
        # xor-fold of per-edge hashes: a set fingerprint (edges are distinct)
        # that cannot overflow under ANSI mode, unlike a SUM of int64 hashes
        row = e.agg(
            F.count("*").alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("src", "dst")), F.lit(0)).alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _large_star(e: DataFrame) -> DataFrame:
        # symmetric neighborhoods; every strictly-larger neighbor re-points
        # at min(N(u) ∪ {u})
        nbrs = e.unionByName(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        mins = nbrs.groupBy("src").agg(
            F.least(F.min("dst"), F.first("src")).alias("m")
        )
        # no trailing .distinct(): the composed _small_star re-canonicalizes
        # with its own leading distinct on the (greatest, least) orientation,
        # so the extra exchange here bought nothing (set semantics unchanged)
        return (
            nbrs.join(mins, "src")
            .filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # orient every edge large→small; u and all its smaller neighbors
        # re-point at the minimum of the closed smaller-neighborhood
        o = e.select(
            F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
        ).distinct()
        mins = o.groupBy("src").agg(F.min("dst").alias("m"))
        repointed = (
            o.join(mins, "src")
            .select(F.col("dst").alias("v"), "m")
            .unionByName(mins.select(F.col("src").alias("v"), "m"))
        )
        return (
            repointed.filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("src"), F.col("m").alias("dst"))
            .distinct()
        )

    # r10: the round checkpoint is LAZY — each round's fingerprint collect
    # materializes it inside its own job, so a round costs one scheduled
    # job, not an eager-checkpoint job plus the collect. (One checkpoint
    # per round stays load-bearing: each star operator references its
    # input several times, so unmaterialized multi-round lineage would
    # re-execute the previous round per reference — measured 3.2 -> 7.2 s
    # when two rounds shared one checkpoint.)
    fp = _fingerprint(edges)
    converged = False
    for _ in range(max_iter):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        new_fp = _fingerprint(edges)
        if new_fp == fp:
            converged = True
            break
        fp = new_fp
    if not converged:
        # A non-fixed-point edge set can leave a node as src with multiple
        # dsts → duplicate (doc_id, component_id) rows with conflicting
        # labels. Fail loudly instead of returning them (advice r7) — the
        # same latent pattern label-prop guards with its own max_iter check.
        raise RuntimeError(
            f"connected_components_star: no fixed point after {max_iter} "
            "rounds; raise max_iter (the star contraction needs "
            "O(log^2 n) rounds worst case)"
        )
    # fixed point: every remaining edge is (node, component_min); roots and
    # isolated-within-pairs nodes map to themselves
    assigned = edges.select(
        F.col("src").alias("doc_id"), F.col("dst").alias("component_id")
    )
    return (
        all_nodes.join(assigned, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("component_id", F.col("doc_id")).alias("component_id"),
        )
    )


def simhash_near_pairs(signatures: DataFrame, *, max_hamming: int = 4) -> DataFrame:
    """Near-dup pairs from SimHash signatures: band the 32-bit signature into
    four bytes; pairs sharing ANY band byte are candidates (a pair within
    Hamming distance 3 must agree on at least one byte — pigeonhole), then
    the exact Hamming distance filters. Band join keeps candidate generation
    near-linear, same pattern as MinHash LSH."""
    banded = _simhash_banded(signatures)
    left = banded.select(
        F.col("band"), F.col("band_byte"), F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sig_a")
    )
    right = banded.select(
        F.col("band"), F.col("band_byte"), F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sig_b")
    )
    return (
        left.join(right, ["band", "band_byte"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def _simhash_banded(signatures: DataFrame) -> DataFrame:
    # per-band unionByName, NOT an explode unpivot: the branches are
    # identical aggregation subplans, so ReuseExchange plans the signature
    # groupBy once and the union costs nothing — while the explode variant
    # measured 25% SLOWER at sf0.1 (11.6s vs 9.2s for the unmaterialized
    # near-pairs path). Contrast with minhash_band_keys, whose lineage is
    # map-only (no exchange to reuse) and genuinely re-executed per band.
    banded = None
    for b in range(4):
        band = signatures.select(
            "doc_id",
            "simhash",
            F.lit(b).alias("band"),
            (F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(F.lit(255))).alias("band_byte"),
        )
        banded = band if banded is None else banded.unionByName(band)
    return banded


def incremental_simhash_pairs(
    mart_sigs: DataFrame, delta_sigs: DataFrame, *, max_hamming: int = 4
) -> DataFrame:
    """Near-dup pairs involving at least one DELTA doc: band both sides into
    the four signature bytes and join **delta × mart** (never mart × mart) —
    the SimHash analog of ``incremental_candidate_pairs``, with the same
    composition invariant: previous pairs ∪ this == a full
    ``simhash_near_pairs`` recompute over the merged mart (asserted by
    tests/test_incremental_minhash.py). ``mart_sigs`` must already include
    the delta rows."""
    left = _simhash_banded(delta_sigs).select(
        "band", "band_byte", F.col("doc_id").alias("delta_id"), F.col("simhash").alias("sig_d")
    )
    right = _simhash_banded(mart_sigs).select(
        "band", "band_byte", F.col("doc_id").alias("mart_id"), F.col("simhash").alias("sig_m")
    )
    return (
        left.join(right, ["band", "band_byte"])
        .filter(F.col("delta_id") != F.col("mart_id"))
        .select(
            F.least("delta_id", "mart_id").alias("doc_a"),
            F.greatest("delta_id", "mart_id").alias("doc_b"),
            F.bit_count(F.col("sig_d").bitwiseXOR(F.col("sig_m"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def edit_distance_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    block_cols: Sequence[str],
    length_bucket: int = 20,
    prefix_len: int = 60,
    max_dist: int = 5,
) -> DataFrame:
    """Blocked fuzzy near-pairs by Levenshtein distance on a normalized
    text prefix: pairs (a < b) in the same block — ``block_cols`` plus a
    document-length bucket — with ``levenshtein(prefix_a, prefix_b) <=
    max_dist``.

    Blocking is part of the declared semantics (as with LSH banding): the
    quadratic comparison runs only inside a block, so cost is
    sum-over-blocks |B|² rather than corpus². The length bucket uses the
    stored character count, keeping block population data-independent of
    the prefix truncation. Levenshtein runs JVM-side (unit-cost edit
    distance, identical definition in DuckDB) inside whole-stage codegen —
    since r9 through the THRESHOLDED form (banded O(max_dist·n) DP instead
    of the full O(n²) table; -1 past the bound, so kept rows carry the
    identical distance) behind a |len_a − len_b| ≤ max_dist prefilter (a
    necessary condition for edit distance, evaluated before the DP).
    """
    norm = F.lower(F.trim(F.col(text_col)))
    base = df.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in block_cols],
        F.floor(F.length(norm) / F.lit(length_bucket)).alias("__lb"),
        F.substring(norm, 1, prefix_len).alias("__pfx"),
    )
    keys = [*block_cols, "__lb"]
    a = base.select(*keys, F.col("doc_id").alias("doc_a"), F.col("__pfx").alias("__pa"))
    b = base.select(*keys, F.col("doc_id").alias("doc_b"), F.col("__pfx").alias("__pb"))
    return (
        a.join(b, keys)
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(F.abs(F.length("__pa") - F.length("__pb")) <= max_dist)
        .withColumn(
            "edit_dist", F.levenshtein("__pa", "__pb", max_dist).cast("long")
        )
        .filter((F.col("edit_dist") >= 0) & (F.col("edit_dist") <= max_dist))
        .select("doc_a", "doc_b", "edit_dist")
    )


def _span_gram_matches(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    gram_len: int,
    max_df: int,
) -> tuple[DataFrame, DataFrame]:
    """Shared construction for :func:`exact_span_pairs` and the
    scale-stress postings diagnostic (STRESS span gate, r8 verdict item 5):
    returns ``(postings, matches)`` — the df-cut positional gram postings
    and the deduplicated gram-join diagonals. Exposed separately so the
    stress battery can COUNT both frames with the exact production plan:
    matches ≤ max_df × postings is the structural never-cartesian bound,
    and wall growth is judged against measured match growth."""
    from .importance import _widen

    # byte-based parquet splits undersell this operator's per-byte cost
    # (one gram row per CHARACTER): a one-split corpus would run the whole
    # explode+substring stream on one core (the importance._widen lesson);
    # no-op when the input already carries enough splits
    df = _widen(df)
    grams = (
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
        .filter(F.length("_t") >= gram_len)
        .select(
            "doc",
            F.explode(F.sequence(F.lit(1), F.length("_t") - (gram_len - 1))).alias("pos"),
            "_t",
        )
        .select("doc", "pos", F.expr(f"substring(_t, pos, {gram_len})").alias("gram"))
        # the gram stream feeds BOTH the df-cut aggregation and the join
        # side; materialize it once (localCheckpoint, not persist: the
        # ContextCleaner releases its blocks once the frame is garbage,
        # where a persist pins them in the CacheManager until an unpersist
        # a lazy operator never calls) — measured 10-15s -> 6-8s at sf0.1
        .localCheckpoint(eager=False)
    )
    gdf = (
        grams.groupBy("gram")
        .agg(F.countDistinct("doc").alias("df"))
        .filter((F.col("df") >= 2) & (F.col("df") <= max_df))
    )
    fg = grams.join(gdf.select("gram"), "gram")
    a = fg.select(F.col("doc").alias("doc_a"), F.col("pos").alias("pos_a"), "gram")
    b = fg.select(F.col("doc").alias("doc_b"), F.col("pos").alias("pos_b"), "gram")
    matches = (
        a.join(b, "gram")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a", (F.col("pos_a") - F.col("pos_b")).alias("diag"))
        .distinct()
    )
    return fg, matches


def exact_span_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    gram_len: int = 20,
    min_span: int = 40,
    max_df: int = 100,
    matches: DataFrame | None = None,
) -> DataFrame:
    """Exact duplicated character spans across documents — the
    exact-substring dedup modality (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better") reduced to a
    shuffle-native Spark plan. Two documents sharing an exact run of
    ``>= min_span`` characters are reported with their longest shared run:
    ``(doc_a, doc_b, longest_span, n_runs)``.

    Construction (gram-diagonal run merge): positional character-gram
    stream (codegen substring over a posexploded range) → document-
    frequency cut (df in [2, max_df]: singleton grams can't pair, and
    corpus-wide stop-grams would blow up the join — same role as winnow's
    stop-fingerprint cut) → gram equi-join (never cartesian) → matching
    positions grouped by the (pair, pos_a - pos_b) DIAGONAL, where
    consecutive pos_a values form runs (row_number-difference trick) →
    longest run of r grams = an exact span of r + gram_len - 1 chars.

    At 100 TB: the gram stream is O(chars) map work, the heavy shuffle is
    the gram join bounded by the df cut, and run detection windows
    partition by (pair, diag) — no global sort anywhere. Suffix arrays
    (the paper's structure) don't distribute; for a fixed minimum span
    this plan finds the identical pairs.

    ``matches`` — an optional precomputed gram-match frame (the second
    element of :func:`_span_gram_matches` at the SAME gram_len/max_df,
    e.g. a persisted signatures-as-a-mart table shared with
    :func:`remove_duplicate_spans`); when given, the gram stream / df cut
    / gram join are skipped and only the run merge runs."""
    if gram_len < 2 or min_span < gram_len:
        raise ValueError("need gram_len >= 2 and min_span >= gram_len")
    from pyspark.sql.window import Window

    if matches is None:
        _fg, matches = _span_gram_matches(
            df, text_col, id_col, gram_len=gram_len, max_df=max_df
        )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        matches.withColumn("rg", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "rg")
        .agg(F.count("*").alias("run_grams"))
    )
    return (
        runs.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_grams") + F.lit(gram_len - 1)).cast("long").alias("longest_span"),
            F.count("*").cast("long").alias("n_runs"),
        )
        .filter(F.col("longest_span") >= min_span)
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    gram_len: int = 20,
    min_span: int = 40,
    max_df: int = 100,
    matches: DataFrame | None = None,
) -> DataFrame:
    """Exact-substring dedup with REMOVAL (r9) — the second half of Lee et
    al. 2022: :func:`exact_span_pairs` only reports the pairs; training
    pipelines CUT the duplicated spans, keeping one canonical occurrence.

    Deterministic keep rule: for every maximal duplicated run of
    ``>= min_span`` chars between ``doc_a < doc_b``, the span is removed
    from the HIGHER-id side (``doc_b``) — the lowest-id occurrence stays
    canonical. A doc's removal set is the interval UNION over all pairs it
    loses (overlapping or touching intervals merge), so a passage shared
    by k docs survives exactly once in the lowest id.

    Scope (ADVICE r9): removal cuts spans duplicated ACROSS documents only
    (``doc_a < doc_b``, gram df counted on distinct docs). A passage
    repeated WITHIN one document is never removed — a deliberate narrowing
    of the full Lee et al. 2022 rule; pair it with the repetition-ratio
    quality gates (textstats) if intra-document loops matter.

    Plan: the shared :func:`_span_gram_matches` construction (df-cut gram
    equi-join — the corpus-scale shuffle), diagonal run merge per
    (pair, diag) window, then PER-DOC interval merge and text rebuild as
    pure higher-order expressions (``aggregate`` over the sorted interval
    array — per-doc interval counts are small by the max_df cut, and the
    whole rebuild stays in the JVM; no Python stage). Returns one row per
    input doc: ``doc_id, clean_text, n_spans_removed, chars_removed``
    (docs losing nothing pass through verbatim with zeros).

    ``matches`` — optional precomputed gram-match frame, same contract as
    :func:`exact_span_pairs`; the two operators share the one corpus-scale
    shuffle through it when the caller persists the frame as a mart.
    """
    if gram_len < 2 or min_span < gram_len:
        raise ValueError("need gram_len >= 2 and min_span >= gram_len")
    if matches is None:
        _fg, matches = _span_gram_matches(
            df, text_col, id_col, gram_len=gram_len, max_df=max_df
        )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = (
        matches.withColumn("rg", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "rg")
        .agg(F.min("pos_a").alias("start_a"), F.count("*").alias("run_grams"))
        .withColumn("span_len", F.col("run_grams") + F.lit(gram_len - 1))
        .filter(F.col("span_len") >= min_span)
    )
    # doc_b loses the span; 1-based start in doc_b, exclusive end
    iv = runs.select(
        F.col("doc_b").alias(id_col),
        (F.col("start_a") - F.col("diag")).alias("s"),
        (F.col("start_a") - F.col("diag") + F.col("span_len")).alias("e"),
    ).distinct()
    return _cut_intervals(df, iv, text_col, id_col)


def _cut_intervals(
    df: DataFrame, iv: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Shared removal tail for :func:`remove_duplicate_spans` and
    :func:`remove_intra_duplicate_spans`: given the input docs and a frame
    of 1-based half-open char intervals ``(id_col, s, e)`` to cut, merge
    each doc's intervals (union; touching merge too) and rebuild the text
    from the kept segments — all as JVM higher-order expressions, no
    Python stage. Returns ``(id_col, clean_text, n_spans_removed,
    chars_removed)`` with verbatim pass-through for untouched docs."""
    per_doc = iv.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_ivs")
    )
    # interval union: fold the sorted list; touching intervals (s == last e)
    # merge too — equivalent for the rebuild, and the rule the oracle
    # replays (break only when s > running max(e))
    merged = F.aggregate(
        F.col("_ivs"),
        F.expr("CAST(array() AS array<struct<s: bigint, e: bigint>>)"),
        lambda acc, x: F.when(
            (F.size(acc) > F.lit(0))
            & (x["s"] <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["s"].alias("s"),
                        F.greatest(
                            F.element_at(acc, -1)["e"], x["e"]
                        ).alias("e"),
                    )
                ),
            ),
        ).otherwise(F.concat(acc, F.array(F.struct(x["s"], x["e"])))),
    )
    docs = df.select(
        F.col(id_col), F.col(text_col).alias("_txt")
    ).join(per_doc.withColumn("_m", merged).select(id_col, "_m"), id_col, "left")
    # rebuild: fold the merged intervals carrying (cursor, text-so-far),
    # then append the tail after the last interval
    rebuilt = F.aggregate(
        F.col("_m"),
        F.struct(
            F.lit(1).cast("bigint").alias("pos"), F.lit("").alias("txt")
        ),
        lambda acc, x: F.struct(
            x["e"].alias("pos"),
            F.concat(
                acc["txt"],
                F.expr("_txt").substr(
                    acc["pos"], (x["s"] - acc["pos"]).cast("int")
                ),
            ).alias("txt"),
        ),
        lambda acc: F.concat(
            acc["txt"], F.expr("_txt").substr(acc["pos"], F.length("_txt"))
        ),
    )
    return docs.select(
        id_col,
        F.when(F.col("_m").isNull(), F.col("_txt"))
        .otherwise(rebuilt)
        .alias("clean_text"),
        F.coalesce(F.size("_m"), F.lit(0)).cast("long").alias("n_spans_removed"),
        F.coalesce(
            F.aggregate(
                F.col("_m"),
                F.lit(0).cast("bigint"),
                lambda acc, x: acc + (x["e"] - x["s"]),
            ),
            F.lit(0),
        ).cast("long").alias("chars_removed"),
    )


def remove_intra_duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    gram_len: int = 8,
    min_span: int = 16,
    max_occ: int = 100,
) -> DataFrame:
    """WITHIN-document exact-substring span removal — the intra-document
    half of the full Lee et al. 2022 rule that
    :func:`remove_duplicate_spans` deliberately scopes out (its docstring
    states the across-documents-only narrowing; this operator is the
    complement, so running both recovers the full removal).

    A maximal run of ``>= min_span`` chars that occurs at two positions of
    the SAME document keeps its FIRST occurrence and cuts the later one:
    for every self-match diagonal ``diag = pos_b - pos_a > 0`` the removal
    interval is ``[start_a + diag, start_a + diag + span_len)``. Periodic
    (tandem) repeats fall out of the same rule: in ``"ababab…"`` the
    ``diag = period`` run covers everything past the first period, so the
    interval union collapses the loop to one period — exactly the
    repetition a crawled page's templating loop injects. Per-doc interval
    UNION + rebuild are shared verbatim with the cross-doc operator
    (:func:`_cut_intervals`).

    Plan: the gram stream is the same map-only explode as
    :func:`_span_gram_matches`, but self-matching needs NO join at all —
    one groupBy ``(doc, gram)`` collects each gram's (sorted) position
    list, the frequency cut is the list size (``2..max_occ`` — the
    analogue of the df cut, so a pathologically self-repetitive doc can't
    go quadratic; pair with the textstats repetition-ratio gates for
    those), and the ``pos_a < pos_b`` pairs expand from the bounded list
    with a higher-order flatten/transform — every position carries
    exactly one gram, so the pairs are distinct by construction. At
    100 TB that is ONE shuffle keyed (doc, gram) — work co-partitioned
    per document, scaling like a per-doc aggregation, never like the
    cross-doc pair join (the r10 first cut shuffled the gram stream a
    second time through a co-partitioned self-join; the aggregation form
    measured ~2x faster at sf0.1 with identical output). Returns the
    :func:`_cut_intervals` shape.
    """
    if gram_len < 2 or min_span < gram_len:
        raise ValueError("need gram_len >= 2 and min_span >= gram_len")
    if max_occ < 2:
        raise ValueError("need max_occ >= 2")
    from .importance import _widen

    # same 1-split escape as _span_gram_matches: the gram stream is one
    # row per character, so byte-sized splits starve the map side
    df = _widen(df)
    grams = (
        df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("_t"))
        .filter(F.length("_t") >= gram_len)
        .select(
            "doc",
            F.explode(
                F.sequence(F.lit(1), F.length("_t") - (gram_len - 1))
            ).alias("pos"),
            "_t",
        )
        .select("doc", "pos", F.expr(f"substring(_t, pos, {gram_len})").alias("gram"))
    )
    occ = (
        grams.groupBy("doc", "gram")
        .agg(F.sort_array(F.collect_list("pos")).alias("ps"))
        .filter((F.size("ps") >= 2) & (F.size("ps") <= max_occ))
    )
    matches = occ.select(
        "doc",
        F.explode(
            F.expr(
                "flatten(transform(ps, (x, i) -> "
                "transform(slice(ps, i + 2, size(ps) - i - 1), "
                "y -> struct(x AS pos_a, y - x AS diag))))"
            )
        ).alias("_pr"),
    ).select("doc", F.col("_pr.pos_a").alias("pos_a"), F.col("_pr.diag").alias("diag"))
    w = Window.partitionBy("doc", "diag").orderBy("pos_a")
    runs = (
        matches.withColumn("rg", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc", "diag", "rg")
        .agg(F.min("pos_a").alias("start_a"), F.count("*").alias("run_grams"))
        .withColumn("span_len", F.col("run_grams") + F.lit(gram_len - 1))
        .filter(F.col("span_len") >= min_span)
    )
    iv = runs.select(
        F.col("doc").alias(id_col),
        (F.col("start_a") + F.col("diag")).alias("s"),
        (F.col("start_a") + F.col("diag") + F.col("span_len")).alias("e"),
    ).distinct()
    return _cut_intervals(df, iv, text_col, id_col)


def dedup_lines(
    documents: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    words_per_line: int = 8,
    min_count: int = 3,
) -> DataFrame:
    """C4-style corpus-level LINE deduplication (Raffel 2020 §2.2: discard
    any line occurring >= 3 times in the corpus — kills boilerplate nav/
    footer/cookie banners that survive document-level dedup because the
    surrounding page differs).

    The testdata corpus has no newlines, so a "line" is a fixed window of
    ``words_per_line`` whitespace-separated words — the windowing is part of
    the operator contract and the oracle replays it exactly. Real corpora
    pass ``words_per_line=None``-equivalent by pre-splitting on newlines
    upstream (``extract_web_documents`` emits them).

    Plan: posexplode words (map-only) → one groupBy (doc, line_no) with an
    order-pinned array_join → a window COUNT over the line VALUE (second
    shuffle, map-side combinable) → one groupBy doc reassembly (third
    shuffle, co-partitioned with nothing reusable — three exchanges total,
    all on keys that scale with the corpus, no driver state). At 100 TB the
    line-frequency pass is the same shape as the exact-dedup hash-groupBy.

    Returns one row per input doc: cleaned text (kept lines joined by
    newline, original order), kept/removed line counts.
    """
    words = documents.select(
        F.col(id_col), F.posexplode(F.split(F.col(text_col), " ")).alias("pos", "word")
    )
    lines = (
        words.groupBy(F.col(id_col), F.floor(F.col("pos") / words_per_line).alias("line_no"))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))), lambda s: s.word
                ),
                " ",
            ).alias("line")
        )
    )
    counted = lines.withColumn("n_occ", F.count("*").over(Window.partitionBy("line")))
    kept = F.filter(
        F.array_sort(F.collect_list(F.struct("line_no", "line", "n_occ"))),
        lambda s: s.n_occ < min_count,
    )
    return counted.groupBy(id_col).agg(
        F.array_join(F.transform(kept, lambda s: s.line), "\n").alias("clean_text"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        (F.count("*") - F.size(kept)).cast("long").alias("n_lines_removed"),
    )


# --------------------------------------------------------------------------
# Bloom-prefiltered O(delta) exact-dedup ingest (r8). At 100 TB the mart of
# already-ingested content hashes is enormous; joining every delta batch
# against it makes ingest cost scale with CORPUS size. A Bloom filter over
# the mart routes the delta instead: "definitely new" hashes skip the join
# entirely, and only the maybe-seen sliver (true dups + the filter's false
# positives) pays the anti-join. The bitmap is engine-native int64 words
# (md5-derived bit positions, bit_or aggregate) — mergeable (OR two bitmaps
# = bitmap of the union, so delta ingests maintain it in O(delta)),
# broadcastable (n_bits/32 rows), zero UDFs, and bit-exact cross-engine, so
# the oracle replays even the false-positive routing.
# --------------------------------------------------------------------------

BLOOM_BITS_DEFAULT = 1 << 20
BLOOM_HASHES_DEFAULT = 3


def _bloom_pos(hash_col: Column, i: int, n_bits: int) -> Column:
    """Bit position i: first 8 hex chars of md5(hash ":" i) mod n_bits —
    the repo's pinned cross-engine hash family (md5, like MinHash)."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(hash_col, F.lit(f":{i}")).cast("binary")), 1, 8),
            16,
            10,
        ).cast("long")
        % n_bits
    )


def bloom_bitmap(
    hashes: DataFrame,
    *,
    n_bits: int = BLOOM_BITS_DEFAULT,
    n_hashes: int = BLOOM_HASHES_DEFAULT,
) -> DataFrame:
    """(word_idx, bits) bitmap rows of the ``text_hash`` column, packing 32
    positions per BIGINT word.

    32, not 64: shifting into bit 63 overflows signed-int64 shift on some
    engines (DuckDB rejects ``1::BIGINT << 63``), and the doubled row count
    is irrelevant next to broadcastability. One explode + one map-side-
    combinable bit_or groupBy; absent words are implicit zeros."""
    pos = hashes.select(
        F.explode(
            F.array(*[_bloom_pos(F.col("text_hash"), i, n_bits) for i in range(n_hashes)])
        ).alias("pos")
    )
    return (
        pos.select(
            F.expr("pos DIV 32").alias("word_idx"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))").alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_route_ingest(
    mart_hashes: DataFrame,
    delta: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    *,
    n_bits: int = BLOOM_BITS_DEFAULT,
    n_hashes: int = BLOOM_HASHES_DEFAULT,
) -> DataFrame:
    """Route a delta batch against the ingested-hash mart: one row per
    DISTINCT delta content hash with ``bloom_route`` ∈ {'new' (bloom miss —
    never joined the mart), 'dup_in_mart' (bloom hit, confirmed), 'fp_new'
    (bloom hit, anti-join cleared it — the false-positive path)}. The
    result is EXACT regardless of n_bits (the bloom only routes; candidates
    are always verified), so callers keep rows with route != 'dup_in_mart'.

    Plan: delta groupBy hash (the only full-delta shuffle) → 3 positions →
    broadcast-join the bitmap → bool_and per hash → only the maybe slice
    joins the mart. The mart-side bitmap build is one linear pass that at
    scale lives as a persisted mergeable mart (bit_or of bitmaps == bitmap
    of unioned hash sets, asserted by test_bloom_dedup)."""
    dh = (
        delta.withColumn("text_hash", content_hash(text_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).cast("long").alias("canonical_doc_id"),
            F.count("*").cast("long").alias("n_delta_copies"),
        )
    )
    bitmap = bloom_bitmap(mart_hashes, n_bits=n_bits, n_hashes=n_hashes)
    pos = dh.select(
        "text_hash",
        F.explode(
            F.array(*[_bloom_pos(F.col("text_hash"), i, n_bits) for i in range(n_hashes)])
        ).alias("pos"),
    )
    probed = (
        pos.join(F.broadcast(bitmap), F.expr("pos DIV 32") == F.col("word_idx"), "left")
        .select(
            "text_hash",
            (
                F.col("bits").isNotNull()
                & (
                    F.col("bits").bitwiseAND(
                        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")
                    )
                    != 0
                )
            ).alias("hit"),
        )
        .groupBy("text_hash")
        .agg(F.bool_and("hit").alias("maybe"))
    )
    routed = dh.join(probed, "text_hash")
    definite = routed.filter(~F.col("maybe")).withColumn("bloom_route", F.lit("new"))
    mart_set = mart_hashes.select("text_hash").distinct().withColumn("_in_mart", F.lit(True))
    candidates = (
        routed.filter(F.col("maybe"))
        .join(mart_set, "text_hash", "left")
        .withColumn(
            "bloom_route",
            F.when(F.col("_in_mart"), F.lit("dup_in_mart")).otherwise(F.lit("fp_new")),
        )
        .drop("_in_mart")
    )
    return definite.unionByName(candidates).select(
        "text_hash", "canonical_doc_id", "n_delta_copies", "bloom_route"
    )
