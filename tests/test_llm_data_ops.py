"""Unit tests for the LLM-data-pipeline operators: dedup families,
similarity search, text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from pipeline_etl_ecommerce_spark.operators.dedupe import (
    minhash_band_keys,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash32,
)
from pipeline_etl_ecommerce_spark.operators.multimodal import (
    decode_image,
    documents_as_media,
    extract_features,
)
from pipeline_etl_ecommerce_spark.operators.similarity import cosine_topk
from pipeline_etl_ecommerce_spark.operators.textstats import lang_id, quality_features


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "el perro corre por la calle y es muy rapido"),
        (5, "completamente diferente texto sobre otra cosa que nada tiene"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_lsh_finds_near_dups(docs):
    bands = minhash_band_keys(docs, "text", "doc_id", k=5, num_hashes=4, bands=2)
    assert bands.count() == 5 * 2  # one row per doc per band
    pairs = {(r["doc_a"], r["doc_b"]) for r in minhash_candidate_pairs(bands).collect()}
    assert (1, 2) in pairs  # exact dups always collide
    assert (1, 5) not in pairs and (2, 5) not in pairs  # unrelated docs don't


def test_simhash_near_dups_have_close_signatures(docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash32(docs, "text", "doc_id").collect()}
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    ham_13 = bin(sigs[1] ^ sigs[3]).count("1")
    ham_15 = bin(sigs[1] ^ sigs[5]).count("1")
    assert ham_13 < ham_15  # near dup closer than unrelated


def test_ngram_jaccard(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(docs, "text", "doc_id").collect()}
    assert pairs[(1, 2)] == 1.0
    assert 0.5 < pairs[(1, 3)] < 1.0
    assert pairs[(1, 5)] < 0.2


def test_cosine_topk_exact(spark):
    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0]),
            (2, [0.9, 0.1, 0.0]),
            (3, [0.0, 1.0, 0.0]),
            (4, [-1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<float>",
    )
    got = cosine_topk(emb, emb.filter(F.col("vec_id") == 1), k=3).collect()
    order = [r["cand_id"] for r in sorted(got, key=lambda r: r["rnk"])]
    assert order == [2, 3, 4]  # by descending cosine
    top = {r["cand_id"]: r["cos_sim"] for r in got}
    assert top[2] == pytest.approx(0.9 / math.sqrt(0.82), abs=1e-6)
    assert top[4] == -1.0


def test_lang_id(docs):
    got = {r["doc_id"]: r["predicted_lang"] for r in lang_id(docs, "text", "doc_id").collect()}
    assert got[1] == "en"
    assert got[4] == "es"


def test_quality_features_bounds(docs):
    rows = quality_features(docs, "text", "doc_id").collect()
    for r in rows:
        assert 0.0 <= r["quality_score"] <= 1.0
        assert r["n_tokens"] > 0
        assert 0.0 <= r["alpha_ratio"] <= 1.0


def test_multimodal_plumbing_and_stub(spark, docs):
    feats = {r["media_id"]: r.asDict() for r in extract_features(documents_as_media(docs)).collect()}
    assert feats[1]["n_bytes"] == len("the quick brown fox jumps over the lazy dog".encode())
    assert feats[1]["decode_status"] == "ok"
    assert feats[1]["content_hash"] == feats[2]["content_hash"]
    # the real decoder is stubbed in this environment
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")
    # and a kernel that raises NotImplementedError degrades gracefully per-row
    degraded = extract_features(documents_as_media(docs), kernel=decode_image).collect()
    assert all(r["decode_status"] == "decoder_unavailable" for r in degraded)


def test_ngram_classifier_learns_real_languages(spark):
    from pipeline_etl_ecommerce_spark.operators.textstats import (
        classify_lang_ngram,
        train_lang_profiles,
    )

    train_rows = [
        (1, "en", "the cat sat on the mat and the dog barked at the moon all night"),
        (2, "en", "she walked through the garden while the birds sang in the trees"),
        (3, "pt", "o gato sentou no tapete e o cachorro latiu para a lua toda a noite"),
        (4, "pt", "ela caminhou pelo jardim enquanto os passaros cantavam nas arvores"),
        (5, "de", "die katze sass auf der matte und der hund bellte den mond an"),
        (6, "de", "sie ging durch den garten waehrend die voegel in den baeumen sangen"),
    ]
    test_rows = [
        (10, "en", "the sun rose over the hills and the children played in the park"),
        (11, "pt", "o sol nasceu sobre as colinas e as criancas brincaram no parque"),
        (12, "de", "die sonne ging ueber den huegeln auf und die kinder spielten im park"),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, lang string, text string")
    test = spark.createDataFrame(test_rows, "doc_id long, lang string, text string")
    profiles = train_lang_profiles(train, "text", "lang", n=3, top_k=40)
    got = {r["doc_id"]: r["predicted_lang"]
           for r in classify_lang_ngram(test, profiles, "text", "doc_id", n=3).collect()}
    assert got == {10: "en", 11: "pt", 12: "de"}  # 3/3 on held-out real text


def test_winnowing_guarantee_and_selectivity(spark):
    from pipeline_etl_ecommerce_spark.operators.textstats import winnow_fingerprints

    shared = "unmistakably shared passage of text"  # len 35 >= k + window - 1
    rows = [
        (1, f"alpha opening words {shared} and a first unique tail"),
        (2, f"totally different preamble here {shared} second distinct ending"),
        (3, "no overlap with anything else in this corpus at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "text", "doc_id", k=5, window=4)
    by_doc = {
        i: {r["fp"] for r in rows_}
        for i, rows_ in ((i, fps.filter(F.col("doc_id") == i).collect()) for i in (1, 2, 3))
    }
    # the winnowing guarantee: docs sharing a long substring share a fingerprint
    assert by_doc[1] & by_doc[2]
    # selectivity: far fewer fingerprints than k-grams
    n_grams = len(rows[0][1]) - 4
    assert len(by_doc[1]) < n_grams / 2


def test_winnow_containment_pairs(spark):
    from pipeline_etl_ecommerce_spark.operators.textstats import (
        winnow_containment_pairs,
        winnow_fingerprints,
    )

    shared = "a sufficiently long plagiarized passage appearing twice"
    rows = [
        (1, f"first document intro {shared} first document ending"),
        (2, f"second document preamble {shared} second document close"),
        (3, "zebra quartz vortex lunar biome crisp anvil"),
        (4, "maple ferry nimbus octave plume wicker dune"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "text", "doc_id", k=5, window=4)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared"]
        for r in winnow_containment_pairs(fps, max_df=3, min_shared=2).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] >= 2  # overlapping docs pair up
    assert not any(3 in p or 4 in p for p in pairs)  # unrelated docs don't


def test_multimodal_resize_and_frame_sample(spark, docs):
    import hashlib

    from pipeline_etl_ecommerce_spark.operators.multimodal import (
        fake_frame_sample,
        resize_media,
        sample_frames,
    )

    media = documents_as_media(docs)
    text1 = "the quick brown fox jumps over the lazy dog"

    resized = {r["media_id"]: r.asDict() for r in resize_media(media, width=4, height=2).collect()}
    assert resized[1]["n_bytes"] == 8  # truncated to the 4x2 pixel budget
    assert resized[1]["content_hash"] == hashlib.md5(text1[:8].encode()).hexdigest()
    assert resized[1]["resize_status"] == "ok"

    frames = sample_frames(media, n_frames=4).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["media_id"], []).append(r)
    assert all(len(v) == 4 for v in by_doc.values())  # one-to-many: 4 rows per doc
    assert sum(r["n_bytes"] for r in by_doc[1]) == len(text1)  # chunks tile the payload
    # chunk boundaries are integer-division, matching the kernel directly
    expect = fake_frame_sample(text1.encode(), 4)
    got = sorted(by_doc[1], key=lambda r: r["frame_index"])
    assert [r["frame_hash"] for r in got] == [f["frame_hash"] for f in expect]

    # a kernel without a decoder degrades per-row, not per-job
    def no_decoder(payload, n_frames):
        raise NotImplementedError("no decoder for this container")

    degraded = sample_frames(media, n_frames=4, kernel=no_decoder).collect()
    assert all(r["sample_status"] == "decoder_unavailable" for r in degraded)
    assert len(degraded) == docs.count()  # one placeholder row per media


def test_lsh_verify_and_canonicalize_end_to_end(docs):
    from pipeline_etl_ecommerce_spark.operators.dedupe import (
        canonicalize_one_step,
        minhash_band_keys,
        minhash_candidate_pairs,
        verify_candidate_pairs,
    )

    bk = minhash_band_keys(docs, "text", "doc_id")
    verified = verify_candidate_pairs(docs, minhash_candidate_pairs(bk), "text", "doc_id", threshold=0.6)
    vp = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in verified.collect()}
    assert vp[(1, 2)] == 1.0  # exact dup survives verification
    assert all(j >= 0.6 for j in vp.values())
    canon = {r["doc_id"]: r["canonical_id"] for r in canonicalize_one_step(docs, verified, "doc_id").collect()}
    assert canon[2] == 1  # dup points at its canonical
    assert canon[5] == 5  # unrelated doc is its own canonical


def test_connected_components_closes_chains(spark):
    from pipeline_etl_ecommerce_spark.operators.dedupe import connected_components

    # chain 1-2, 2-3 and separate pair 7-8: closure must give {1,2,3}->1, {7,8}->7
    pairs = spark.createDataFrame([(1, 2), (2, 3), (7, 8)], "doc_a long, doc_b long")
    comp = {r["doc_id"]: r["component_id"] for r in connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7}


def test_simhash_near_pairs_finds_near_dups(docs):
    from pipeline_etl_ecommerce_spark.operators.dedupe import simhash32, simhash_near_pairs

    sigs = simhash32(docs, "text", "doc_id")
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(sigs, max_hamming=4).collect()}
    assert pairs[(1, 2)] == 0  # identical docs: distance 0
    assert (1, 5) not in pairs  # unrelated docs: far apart


def test_embedding_near_dup_pairs(spark):
    from pipeline_etl_ecommerce_spark.operators.similarity import embedding_near_dup_pairs

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [0.999, 0.01]),   # near-dup of 1
            (3, [0.0, 1.0]),      # orthogonal
            (4, [-1.0, 0.0]),     # opposite bucket
        ],
        "vec_id long, embedding array<float>",
    )
    planes = [[1.0, 0.0], [0.0, 1.0]]
    pairs = {(r["vec_a"], r["vec_b"]): r["cos_sim"] for r in embedding_near_dup_pairs(emb, planes, threshold=0.95).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.99
    assert all(k == (1, 2) for k in pairs)  # nothing else passes the threshold


def test_model_scoring_batch_path_and_pluggable_kernel(spark):
    """The classifier-gate plumbing: Arrow-batched scoring with a pluggable
    kernel; the gate's join drops below-threshold docs but keeps full rows
    for survivors."""
    import pandas as pd

    from pipeline_etl_ecommerce_spark.operators.scoring import (
        md5_stub_model,
        score_documents,
    )

    df = spark.createDataFrame(
        [(1, "good doc text"), (2, "bad"), (3, None)], "doc_id long, text string"
    )
    out = {r["doc_id"]: (r["model_score"], r["score_bucket"]) for r in
           score_documents(df, "text", "doc_id").collect()}
    assert set(out) == {1, 2, 3}
    for s, b in out.values():
        assert 0.0 <= s < 1.0
        assert b in {"high", "mid", "low"}
    # deterministic: stub scores reproduce exactly
    again = {r["doc_id"]: r["model_score"] for r in
             score_documents(df, "text", "doc_id").collect()}
    assert {k: v[0] for k, v in out.items()} == again

    # pluggable kernel: a length-based "model" replaces the stub
    def length_model(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: min(len(t or "") / 10.0, 1.0))

    scored = score_documents(df, "text", "doc_id", model=length_model)
    got = {r["doc_id"]: (r["model_score"], r["score_bucket"]) for r in scored.collect()}
    assert got == {1: (1.0, "high"), 2: (0.3, "low"), 3: (0.0, "low")}
    assert scored.columns == ["doc_id", "model_score", "score_bucket"]


def test_keep_best_per_cluster_quality_and_ties(spark):
    from pipeline_etl_ecommerce_spark.operators.dedupe import keep_best_per_cluster

    comp = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)],
        "doc_id long, component_id long",
    )
    scores = spark.createDataFrame(
        # cluster 1: doc 2 wins on score; cluster 10: tie -> lowest id (10)
        [(1, 0.2), (2, 0.9), (3, 0.5), (10, 0.7), (11, 0.7)],
        "doc_id long, quality_score double",
    )
    out = {r.component_id: r for r in keep_best_per_cluster(comp, scores, score_col="quality_score").collect()}
    assert out[1].best_doc_id == 2 and out[1].n_members == 3
    assert out[10].best_doc_id == 10 and out[10].n_members == 2


def test_random_projection_matches_signature_signs_and_no_shuffle(spark):
    from pipeline_etl_ecommerce_spark.operators.similarity import (
        hyperplane_signature,
        random_projection,
    )
    from pyspark.sql import functions as F

    planes = [[1.0, 0.0], [0.5, -0.5]]
    df = spark.createDataFrame(
        [(1, [2.0, 1.0]), (2, [-1.0, 3.0])], "vec_id long, embedding array<double>"
    )
    proj = random_projection(df, "embedding", "vec_id", planes)
    rows = {r.vec_id: (r.p0, r.p1) for r in proj.collect()}
    assert rows[1] == (2.0, 0.5) and rows[2] == (-1.0, -2.0)

    # the LSH signature is exactly the sign pattern of the projection
    sig = {
        r.vec_id: r.s
        for r in df.select(
            "vec_id", hyperplane_signature(F.col("embedding"), planes).alias("s")
        ).collect()
    }
    for vid, (p0, p1) in rows.items():
        expect = ("1" if p0 >= 0 else "0") + ("1" if p1 >= 0 else "0")
        assert sig[vid] == expect

    # map-side only: a projection must never shuffle
    assert "Exchange" not in proj._jdf.queryExecution().executedPlan().toString()


def test_char_diversity_known_values(spark):
    from pipeline_etl_ecommerce_spark.operators.textstats import char_diversity

    df = spark.createDataFrame(
        [(1, "aaaa"), (2, "abcd"), (3, "AaAa")], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in char_diversity(df, "text", "doc_id").collect()}
    # "aaaa": one symbol -> zero diversity
    assert got[1]["distinct_chars"] == 1 and got[1]["simpson_diversity"] == 0.0
    # "abcd": uniform over 4 -> 1 - 4*(1/16) = 0.75
    assert got[2]["distinct_chars"] == 4 and got[2]["simpson_diversity"] == 0.75
    # lowercased before counting
    assert got[3]["distinct_chars"] == 1 and got[3]["n_chars_total"] == 4


def test_dsir_weights_favor_target_like_docs(spark):
    from pipeline_etl_ecommerce_spark.operators.importance import (
        dsir_importance_weights,
    )

    target_tok = "alpha beta gamma delta"
    rows = (
        # target slice: repeated target vocabulary
        [(i, target_tok, "en") for i in range(1, 6)]
        # raw-only vocabulary
        + [(i, "zork quux blarg frotz", "de") for i in range(6, 11)]
        # one raw doc written in the target vocabulary
        + [(11, target_tok, "de")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = {
        r["doc_id"]: r["importance_weight"]
        for r in dsir_importance_weights(
            df, "text", "doc_id", F.col("lang") == "en"
        ).collect()
    }
    # the raw doc that looks like the target outweighs every raw-only doc
    assert got[11] > got[6]
    # and matches the target docs' own weight (identical token bag)
    assert got[11] == got[1]
    # weights are likelihood ratios: target-like > 1-ish > raw-only
    assert got[6] < 1.0


def test_dsir_weights_deterministic_across_partitioning(spark):
    from pipeline_etl_ecommerce_spark.operators.importance import (
        dsir_importance_weights,
    )

    rows = [(i, f"tok{i % 7} tok{i % 5} shared common words", "en" if i % 3 == 0 else "xx")
            for i in range(1, 40)]
    df1 = spark.createDataFrame(rows, "doc_id long, text string, lang string").repartition(1)
    df8 = spark.createDataFrame(rows, "doc_id long, text string, lang string").repartition(8)
    w1 = {r["doc_id"]: r["importance_weight"]
          for r in dsir_importance_weights(df1, "text", "doc_id", F.col("lang") == "en").collect()}
    w8 = {r["doc_id"]: r["importance_weight"]
          for r in dsir_importance_weights(df8, "text", "doc_id", F.col("lang") == "en").collect()}
    assert w1 == w8


def test_pagerank_hub_outranks_leaves_and_is_layout_independent(spark):
    from pipeline_etl_ecommerce_spark.operators.graph import pagerank_undirected

    # star: 0 connected to 1..5, plus an isolated pair (10, 11)
    pairs = [(0, v) for v in range(1, 6)] + [(10, 11)]
    df1 = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(1)
    df7 = spark.createDataFrame(pairs, "doc_a long, doc_b long").repartition(7)
    r1 = {r["node_id"]: r["pagerank_e9"]
          for r in pagerank_undirected(df1, "doc_a", "doc_b", iters=3).collect()}
    r7 = {r["node_id"]: r["pagerank_e9"]
          for r in pagerank_undirected(df7, "doc_a", "doc_b", iters=3).collect()}
    assert r1 == r7  # integer fixed-point: bit-identical under any layout
    assert r1[0] > r1[1]  # hub beats leaf
    assert r1[1] == r1[5]  # symmetric leaves tie exactly
    assert r1[10] == r1[11]
    # total mass stays ~1 (floor-truncation loses < n * 2e-9)
    assert abs(sum(r1.values()) - 1_000_000_000) < 100


def test_bpe_learns_classic_merges_and_tokenizes(spark):
    from pipeline_etl_ecommerce_spark.operators.bpe import bpe_tokens_expr, learn_bpe_merges, split_words

    df = spark.createDataFrame(
        [(1, "low lower lowest low low"), (2, "new newer newest new")],
        "doc_id long, text string",
    )
    rows = sorted(learn_bpe_merges(df, "text", rounds=5).collect(), key=lambda r: r["round"])
    merges = [(r["left"], r["right"]) for r in rows]
    # 'low' appears 5x (+1 in lower/lowest=7 words containing l-o): l+o
    # then lo+w win the first two rounds
    assert merges[0] == ("l", "o") and merges[1] == ("lo", "w")
    assert rows[0]["pair_count"] == 5 and all(r["pair_count"] >= 1 for r in rows)
    toks = {
        r["doc_id"]: r["tokens"]
        for r in df.select("doc_id", bpe_tokens_expr(split_words("text"), merges).alias("tokens")).collect()
    }
    # full words that reached a single symbol tokenize to one token, and
    # token order follows word order
    assert toks[1][:2] == ["low", "low"]
    assert "new" in toks[2] and toks[2].count("new") == 4


def test_bpe_merge_is_leftmost_nonoverlapping(spark):
    from pipeline_etl_ecommerce_spark.operators.bpe import learn_bpe_merges

    # 'aaa': the a+a merge must apply leftmost-greedy (aa, a) — round 2's
    # top pair is then (aa, a), never an overlapping re-merge inside round 1
    df = spark.createDataFrame([(1, "aaa aaa")], "doc_id long, text string")
    rows = sorted(learn_bpe_merges(df, "text", rounds=2).collect(), key=lambda r: r["round"])
    assert (rows[0]["left"], rows[0]["right"]) == ("a", "a")
    assert (rows[1]["left"], rows[1]["right"]) == ("aa", "a")


def test_udtf_chunk_windows_edges(spark):
    """Python UDTF chunker: overlapping 16/8 windows, short docs one chunk,
    empty/NULL text zero rows — and the word arithmetic matches a direct
    Python replay."""
    from pipeline_etl_ecommerce_spark.operators.udtfs import STRIDE, WINDOW, register_udtfs

    register_udtfs(spark)
    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(20))),  # 20 words -> 3 chunks
            (2, "one two"),                             # short -> 1 chunk
            (3, ""),                                    # empty -> 0 rows
            (4, None),                                  # NULL -> 0 rows
        ],
        "doc_id bigint, text string",
    )
    docs.createOrReplaceTempView("__udtf_edge_docs")
    rows = spark.sql(
        "SELECT d.doc_id, c.* FROM __udtf_edge_docs d, LATERAL chunk_windows(d.text) c"
    ).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert set(by_doc) == {1, 2}
    assert [r["chunk_index"] for r in sorted(by_doc[1], key=lambda r: r["chunk_index"])] == [0, 1, 2]
    words = [f"w{i}" for i in range(20)]
    for r in by_doc[1]:
        start = r["chunk_index"] * STRIDE
        assert r["chunk_text"] == " ".join(words[start : start + WINDOW])
        assert r["n_words"] == len(words[start : start + WINDOW])
    assert by_doc[2][0]["chunk_text"] == "one two" and by_doc[2][0]["n_words"] == 2


def test_triangles_ordered_wedge_closure(spark):
    """triangles(): each triangle emitted exactly once with a<b<c; wedges
    that don't close and disconnected edges emit nothing."""
    from pipeline_etl_ecommerce_spark.operators.graph import triangles

    # graph: triangle {1,2,3}, triangle {2,3,4} (sharing edge 2-3), open
    # wedge 5-6, 5-7 (no 6-7 edge), isolated edge 8-9
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (5, 6), (5, 7), (8, 9)],
        "src bigint, dst bigint",
    )
    out = sorted(
        (r["node_a"], r["node_b"], r["node_c"]) for r in triangles(edges).collect()
    )
    assert out == [(1, 2, 3), (2, 3, 4)]


def test_triangles_degree_ordered_matches_id_ordered(spark):
    """triangles_degree_ordered(): identical triangle set to triangles()
    on a hub-heavy graph (node 1 is a high-degree hub — the shape the
    degree orientation exists for), each triangle exactly once, output
    canonicalized to id order."""
    import random

    from pipeline_etl_ecommerce_spark.operators.graph import (
        triangles,
        triangles_degree_ordered,
    )

    rng = random.Random(13)
    # hub 1 connected to 2..12; random extra edges among 2..12 close
    # triangles through the hub and among themselves
    es = {(1, k) for k in range(2, 13)}
    while len(es) < 30:
        a, b = rng.randrange(2, 13), rng.randrange(2, 13)
        if a != b:
            es.add((min(a, b), max(a, b)))
    edges = spark.createDataFrame(sorted(es), "src bigint, dst bigint")
    base = sorted(
        (r["node_a"], r["node_b"], r["node_c"]) for r in triangles(edges).collect()
    )
    deg = sorted(
        (r["node_a"], r["node_b"], r["node_c"])
        for r in triangles_degree_ordered(edges).collect()
    )
    assert deg == base
    assert len(set(deg)) == len(deg)  # exactly-once emission
    assert all(a < b < c for a, b, c in deg)  # canonical id order


def test_bfs_distances_min_dist_and_depth_cap(spark):
    from pipeline_etl_ecommerce_spark.operators.graph import bfs_distances

    # diamond 1-2, 1-3, 2-4, 3-4 plus tail 4-5-6 and a disconnected 8-9;
    # two equal-length paths to 4 must yield dist 2 exactly once
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (5, 6), (8, 9)],
        "src long, dst long",
    )
    seed = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seed, max_depth=3).collect()
    }
    # depth cap 3: node 6 (dist 4) not reached; 8/9 disconnected
    assert got == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}

    # undirected: seeding from the tail walks back through the diamond
    seed6 = spark.createDataFrame([(6,)], "node long")
    got6 = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seed6, max_depth=4).collect()
    }
    assert got6[1] == 4 and got6[4] == 2

    # max_depth=0: only the seed, and early-exit on an empty frontier
    got0 = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seed, max_depth=0).collect()
    }
    assert got0 == {1: 0}


def test_udtf_oracle_replays_empty_text_guard(spark):
    """ADVICE r4: the UDTF yields nothing for '' but DuckDB's
    string_split('', ' ') is [''] — so a len(words)>0 oracle predicate
    would emit one phantom row. The fixed oracle must agree with the UDTF
    on '', NULL, and ordinary docs, row for row."""
    import duckdb

    from pipeline_etl_ecommerce_spark.operators.udtfs import register_udtfs
    from pipeline_etl_ecommerce_spark.testdata_queries import _UDTF_CHUNKS_SQL

    register_udtfs(spark)
    docs = [(1, " ".join(f"w{i}" for i in range(20))), (2, "one two"), (3, ""), (4, None)]
    spark.createDataFrame(docs, "doc_id bigint, text string").createOrReplaceTempView(
        "__udtf_oracle_docs"
    )
    got = {
        (r["doc_id"], r["chunk_index"], r["chunk_text"], r["n_words"])
        for r in spark.sql(
            "SELECT d.doc_id, c.* FROM __udtf_oracle_docs d, LATERAL chunk_windows(d.text) c"
        ).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    want = set(map(tuple, con.execute(_UDTF_CHUNKS_SQL).fetchall()))
    assert got == want and {d for d, *_ in want} == {1, 2}


def test_margin_mined_pairs_planted_alignment(spark):
    """margin_mined_pairs (r9): a planted aligned pair (near-identical
    vectors across the two sides) must mine with the top margin; a source
    whose best cosine merely matches its neighborhood average (margin ~ 1)
    must not clear tau."""
    import math
    import random

    from pipeline_etl_ecommerce_spark.operators.similarity import margin_mined_pairs

    rng = random.Random(5)
    dim = 16

    def rand_vec():
        return [rng.uniform(-1, 1) for _ in range(dim)]

    base = rand_vec()
    # side A ids even, side B ids odd; A:0 and B:1 are the planted pair
    a_rows = [(0, [x + rng.uniform(-0.01, 0.01) for x in base])] + [
        (2 * i, rand_vec()) for i in range(1, 9)
    ]
    b_rows = [(1, [x + rng.uniform(-0.01, 0.01) for x in base])] + [
        (2 * i + 1, rand_vec()) for i in range(1, 9)
    ]
    schema = "vec_id long, embedding array<double>"
    A = spark.createDataFrame(a_rows, schema)
    B = spark.createDataFrame(b_rows, schema)
    out = {r["src_id"]: r for r in margin_mined_pairs(A, B, k=3, tau=1.05).collect()}
    assert 0 in out and out[0]["tgt_id"] == 1
    assert out[0]["cos_sim"] > 0.99
    assert out[0]["margin"] >= 1.05
    # every mined row clears tau and is the per-source argmax (unique src)
    assert all(r["margin"] >= 1.05 for r in out.values())
