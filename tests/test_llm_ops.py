"""Quality assertions for the approximate dedup operators (the parts the
driver's rows-only check can't see): MinHash-LSH recall/precision vs the
exact Jaccard baseline, SimHash recovery of known near-dups, multimodal
decode-stub behavior."""

from __future__ import annotations

import pytest

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from mta_rtf_dbt_spark.sources.registry import load

    return load(spark, SF, "documents")


def test_minhash_lsh_vs_exact(spark, docs):
    from mta_rtf_dbt_spark.operators.dedup import (
        jaccard_pairs,
        minhash_lsh_dedup,
        shingles,
    )

    exact = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in jaccard_pairs(shingles(docs, 3), 0.2).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b): r.jaccard_ppm for r in minhash_lsh_dedup(docs, 0.2).collect()
    }
    # precision 1.0: every LSH pair is exact-verified with identical jaccard
    for pair, jac in lsh.items():
        assert pair in exact and exact[pair] == jac
    # recall: 16 bands x 4 rows -> P(detect | j=0.2) ~ 1-(1-0.2^4)^16 is low,
    # but planted near-dups are j>=0.8 where P ~ 1. Require full recall there.
    high = {p for p, j in exact.items() if j >= 500_000}
    missed = high - set(lsh)
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_jaccard_hot_shingle_cap(spark):
    from mta_rtf_dbt_spark.operators.dedup import jaccard_pairs, shingles

    # 20 docs that share ONE boilerplate phrase (-> one hot 3-gram shingle
    # "standard legal disclaimer" in every doc) but are otherwise disjoint,
    # plus one true near-dup pair (docs 100/101) sharing real content.
    rows = [
        (i, f"standard legal disclaimer unique{i}a unique{i}b unique{i}c") for i in range(20)
    ] + [
        (100, "the quick brown fox jumps over the lazy dog standard legal disclaimer"),
        (101, "the quick brown fox jumps over the lazy dog again"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sh = shingles(docs, 3)

    uncapped = {(r.doc_a, r.doc_b) for r in jaccard_pairs(sh, 0.1, max_posting=None).collect()}
    capped = {(r.doc_a, r.doc_b) for r in jaccard_pairs(sh, 0.1, max_posting=10).collect()}

    # the boilerplate shingle (df=21 >= 10) is dropped: pairs whose only
    # overlap was the hot shingle disappear, the true near-dup pair survives
    assert (100, 101) in capped
    boiler_only = {(a, b) for (a, b) in uncapped if a < 20 and b < 20}
    assert boiler_only, "fixture should produce boilerplate-only pairs uncapped"
    assert not (boiler_only & capped)
    # cap bounds the posting self-join: no pair in capped that wasn't exact
    assert capped <= uncapped


def test_simhash_recovers_near_dups(spark, docs):
    from mta_rtf_dbt_spark.operators.dedup import (
        SIMHASH_MAX_HAMMING,
        simhash_bands,
        simhash_pairs,
    )

    # The banding guarantee is completeness at its DESIGNED radius (Manku
    # k=3; 4x16-bit bands find every pair with Hamming <= 3 by pigeonhole):
    # the banded join must return exactly the brute-force Hamming <= 3 set.
    # (Short synthetic docs can put a 0.95-Jaccard pair at Hamming 4-6 — a
    # property of the similarity measure, not a recall bug; pairs past the
    # radius are out of contract.)

    sigs = simhash_bands(docs)
    rows = sigs.collect()
    bandcols = [c for c in sigs.columns if c.startswith("band")]
    brute = set()
    for i, ra in enumerate(rows):
        for rb in rows[i + 1 :]:
            ham = sum(
                bin(ra[c] ^ rb[c]).count("1") for c in bandcols
            )
            if ham <= SIMHASH_MAX_HAMMING:
                pair = (min(ra.doc_id, rb.doc_id), max(ra.doc_id, rb.doc_id))
                brute.add(pair)
    sim = {(r.doc_a, r.doc_b) for r in simhash_pairs(sigs).collect()}
    assert sim == brute
    assert brute, "fixture must contain in-radius pairs (non-vacuous check)"


def test_exact_dup_share_rolling_fingerprint(spark, docs):
    from pyspark.sql import functions as F

    from mta_rtf_dbt_spark.functions import text as T

    fp = docs.select(
        "doc_id",
        T.fingerprint_sha(F.col("text")).alias("sha"),
        T.fingerprint_rolling(F.col("text")).alias("roll"),
    )
    a, b = fp.alias("a"), fp.alias("b")
    same_sha_diff_roll = (
        a.join(b, (F.col("a.sha") == F.col("b.sha")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .filter(F.col("a.roll") != F.col("b.roll"))
        .count()
    )
    assert same_sha_diff_roll == 0


def test_multimodal_decode_stub_raises(spark):
    from mta_rtf_dbt_spark.operators.multimodal import decode_stub

    with pytest.raises(NotImplementedError):
        decode_stub(b"\x89PNG")


def test_multimodal_batch_shapes(spark, docs):
    """mapInPandas must preserve row count and produce the declared schema."""
    from mta_rtf_dbt_spark.operators.multimodal import (
        FEATURE_SCHEMA,
        extract_features,
        with_media_column,
    )

    media = with_media_column(docs)
    feats = extract_features(media)
    assert feats.schema == FEATURE_SCHEMA
    assert feats.count() == docs.count()


def test_ivf_ann_recall_and_exactness(spark):
    """IVF results must be a subset of exact cosine scores (no invented
    sims) with usable recall vs brute force (measured 0.92; bound is slack
    for data drift)."""
    import __spark_entry__ as e

    qs = e.queries()
    brute = {
        (r.query_id, r.neighbor_id): r.sim
        for r in qs["knn_brute_force_cosine"](spark, SF).collect()
    }
    ivf = {
        (r.query_id, r.neighbor_id): r.sim
        for r in qs["ann_ivf_cosine"](spark, SF).collect()
    }
    for pair, sim in ivf.items():
        if pair in brute:
            assert abs(sim - brute[pair]) < 1e-9
    recall = sum(1 for p in ivf if p in brute) / len(brute)
    assert recall >= 0.6, recall


def test_ivf_nprobe_recall_sweep(spark):
    """Recall vs brute force must be non-decreasing in nprobe, and probing
    every list (nprobe = n_lists) must return exactly the brute-force top-k
    — IVF search is exact within probed lists, so full probing = full scan."""
    import __spark_entry__ as e
    from pyspark.sql import functions as F
    from mta_rtf_dbt_spark.operators.similarity import ivf_fit, ivf_topk
    from mta_rtf_dbt_spark.registry import persist
    from mta_rtf_dbt_spark.sources.registry import load

    # the brute-force entry's build releases every earlier persist, so it
    # runs before the centroids are cached for the sweep
    brute = {
        (r.query_id, r.neighbor_id)
        for r in e.queries()["knn_brute_force_cosine"](spark, SF).collect()
    }
    emb = load(spark, SF, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    cent = persist(ivf_fit(emb, n_lists=8, iters=3), eager=True)
    recalls = []
    for nprobe in (1, 2, 4, 8):
        ivf = {
            (r.query_id, r.neighbor_id)
            for r in ivf_topk(emb, queries, cent, k=5, nprobe=nprobe).collect()
        }
        recalls.append(len(ivf & brute) / len(brute))
    assert recalls == sorted(recalls), recalls
    assert recalls[-1] == 1.0, recalls


def test_int8_quantization_reconstruction(spark):
    """Dequantized vectors (q*scale) must reconstruct every component within
    scale/2 (the symmetric-quantization bound), and qvals must fit int8."""
    from pyspark.sql import functions as F
    from mta_rtf_dbt_spark.operators.similarity import quantize_embeddings_int8
    from mta_rtf_dbt_spark.sources.registry import load

    emb = load(spark, SF, "embeddings")
    q8 = quantize_embeddings_int8(emb)
    joined = emb.join(q8, "vec_id").select("vec_id", "embedding", "scale", "qvec")
    bad = joined.filter(
        F.exists(
            F.zip_with(
                F.col("embedding"),
                F.col("qvec"),
                lambda v, q: F.abs(v.cast("double") - q * F.col("scale"))
                > F.col("scale") / 2 + 1e-12,
            ),
            lambda x: x,
        )
        | F.exists(F.col("qvec"), lambda q: (q > 127) | (q < -127))
    )
    assert bad.count() == 0


def test_semantic_dedup_canonical_clusters(spark):
    """Planted transitive cluster (A~B, B~C but A~C only via B) must land in
    ONE component with the min id canonical; isolated vectors are their own
    canonical with cluster_size 1."""
    import random

    from mta_rtf_dbt_spark.operators.graph import semantic_dedup_canonical

    rng = random.Random(5)
    base = [rng.gauss(0, 1) for _ in range(64)]
    drift1 = [x + rng.gauss(0, 0.015) for x in base]
    drift2 = [x + rng.gauss(0, 0.015) for x in drift1]
    rows = [(1, base), (2, drift1), (3, drift2)] + [
        (10 + i, [rng.gauss(0, 1) for _ in range(64)]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r.vec_id: (r.canonical_id, r.cluster_size) for r in semantic_dedup_canonical(df, 0.98).collect()}
    assert out[1] == (1, 3) and out[2] == (1, 3) and out[3] == (1, 3)
    for i in range(20):
        assert out[10 + i] == (10 + i, 1)


def test_int8_rerank_vs_brute_force(spark):
    """Quantized-candidate + exact-rerank ANN: every returned sim must match
    the brute-force exact sim for that pair, and recall@5 must be high (the
    20-candidate quantized prefilter rarely drops a true top-5 neighbor at
    int8 precision)."""
    import __spark_entry__ as e

    qs = e.queries()
    brute = {
        (r.query_id, r.neighbor_id): r.sim
        for r in qs["knn_brute_force_cosine"](spark, SF).collect()
    }
    rr = {
        (r.query_id, r.neighbor_id): r.sim
        for r in qs["ann_int8_rerank"](spark, SF).collect()
    }
    for pair, sim in rr.items():
        if pair in brute:
            assert abs(sim - brute[pair]) < 1e-9
    recall = sum(1 for p in rr if p in brute) / len(brute)
    assert recall >= 0.8, recall


def test_embedding_near_dup_finds_planted_pairs(spark):
    """Planted near-dups (clone + small noise) must surface through the ND
    banding; far pairs must not. Candidate pruning may never cost a true
    >=0.98-cosine duplicate at this corpus size."""
    import random

    from mta_rtf_dbt_spark.operators.similarity import embedding_near_dup_pairs

    rng = random.Random(3)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(40)]
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v))
        if i < 10:  # ids 100+i are near-clones of ids 0..9
            rows.append((100 + i, [x + rng.gauss(0, 0.02) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    found = {
        (r.vec_a, r.vec_b)
        for r in embedding_near_dup_pairs(df, threshold=0.98).collect()
    }
    assert {(i, 100 + i) for i in range(10)} <= found
    assert all(b - a == 100 for a, b in found)  # no false pairs among random vecs


def test_minhash_contraction_equivalence(spark, docs):
    """The set-group contraction (r11 engine-side) must emit exactly the
    pairs the doc-level plan would, on a CLONE-DENSE corpus: reference =
    doc-level banding via the same helpers (identical shingle sets give
    identical signatures, so doc-level candidacy == expanded group
    candidacy), exact Jaccard per candidate, same ppm math — set-equality
    with the operator, values included. Clone pairs must surface at
    exactly 1_000_000 ppm."""
    from pyspark.sql import functions as F

    from mta_rtf_dbt_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_lsh_dedup,
        minhash_signatures,
        shingles,
    )

    # clone-dense corpus: 3 copies of each of 30 base docs (ids disjoint)
    base = docs.filter(F.col("doc_id") < 30).select("doc_id", "text")
    clones = base.select((F.col("doc_id") + 1000).alias("doc_id"), "text").unionAll(
        base.select((F.col("doc_id") + 2000).alias("doc_id"), "text")
    )
    corpus = base.unionAll(clones)

    got = {
        (r.doc_a, r.doc_b): r.jaccard_ppm
        for r in minhash_lsh_dedup(corpus, 0.2).collect()
    }

    # Doc-level reference: same signature/banding helpers, no grouping.
    sh = shingles(corpus, 3).persist()
    sigs = minhash_signatures(corpus, shingle_rel=sh)
    cands = lsh_candidate_pairs(sigs)
    sl = sh.groupBy("doc_id").agg(F.sort_array(F.collect_set("shingle")).alias("sl"))
    want = {}
    for r in (
        cands.join(sl.select(F.col("doc_id").alias("doc_a"), F.col("sl").alias("sa")), "doc_a")
        .join(sl.select(F.col("doc_id").alias("doc_b"), F.col("sl").alias("sb")), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sa", "sb")).cast("long").alias("common"),
            F.size("sa").cast("long").alias("na"),
            F.size("sb").cast("long").alias("nb"),
        )
        .selectExpr(
            "doc_a", "doc_b",
            "CAST(common * 1000000L div (na + nb - common) AS BIGINT) AS ppm",
        )
        .filter(F.col("ppm") >= 200_000)
        .collect()
    ):
        want[(r.doc_a, r.doc_b)] = r.ppm
    sh.unpersist()
    assert got == want
    # every clone pair of every base doc that shingled is present at 1.0
    shingled = {r.doc_id for r in sl.filter(F.col("doc_id") < 30).collect()}
    for i in sorted(shingled):
        for pair in [(i, i + 1000), (i, i + 2000), (i + 1000, i + 2000)]:
            assert got.get(pair) == 1_000_000, pair


def test_near_dup_contraction_equivalence(spark):
    """The identical-vector group contraction (r11) must emit exactly the
    pairs the uncontracted plan would: brute-force every (a < b) pair on a
    clone-dense corpus (exact clone groups of size 1/2/5 plus near-clones),
    keep those sharing >= 1 ND band whose cosine rounds >= threshold, and
    require set-equality with the operator — values included."""
    import random

    from pyspark.sql import functions as F

    from mta_rtf_dbt_spark.functions import vectors as V
    from mta_rtf_dbt_spark.operators.similarity import (
        ND_N_BANDS,
        ND_PLANES,
        embedding_near_dup_pairs,
        lsh_signatures,
    )

    rng = random.Random(17)
    base = [[rng.gauss(0, 1) for _ in range(64)] for _ in range(12)]
    rows, nid = [], 0
    for g, v in enumerate(base):
        for _ in range((g % 3) * 2 + 1):  # exact-clone groups of 1, 3, 5
            rows.append((nid, list(v)))
            nid += 1
        if g < 4:  # plus a near-clone that is NOT byte-identical
            rows.append((nid, [x + rng.gauss(0, 0.01) for x in v]))
            nid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    got = {
        (r.vec_a, r.vec_b): r.sim
        for r in embedding_near_dup_pairs(df, threshold=0.9).collect()
    }

    # Uncontracted reference: candidate = shares >= 1 band (same helper,
    # full corpus — no grouping), then exact rounded cosine >= threshold.
    sigs = lsh_signatures(df, planes=ND_PLANES, n_bands=ND_N_BANDS)
    a = sigs.withColumnRenamed("vid", "vec_a")
    b = sigs.withColumnRenamed("vid", "vec_b")
    cand = (
        a.join(b, ["band", "band_sig"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b")
        .distinct()
    )
    va = df.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("av"))
    vb = df.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("bv"))
    want = {
        (r.vec_a, r.vec_b): r.sim
        for r in cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(V.cosine(F.col("av"), F.col("bv")), 6).alias("sim"),
        )
        .filter(F.col("sim") >= 0.9)
        .collect()
    }
    assert got == want
    assert any(v == 1.0 for v in got.values())  # clone pairs actually present


def test_audio_frame_energy_exact(spark):
    """Frame energies must equal a python recomputation over the same bytes
    (int8 interpretation, 256-sample frames, integer sum of squares)."""
    import numpy as np

    from mta_rtf_dbt_spark.operators.multimodal import (
        AUDIO_FRAME,
        audio_frame_energy,
        with_media_column,
    )

    rows = [(1, "abc"), (2, "x" * 300), (3, ""), (4, "Δ unicode β" * 40)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {}
    for r in audio_frame_energy(with_media_column(docs)).collect():
        out[(r.doc_id, r.frame_no)] = (r.n_samples, r.energy)

    for doc_id, text in rows:
        payload = text.encode("utf-8")
        samples = np.frombuffer(payload, dtype=np.int8).astype(np.int64)
        n_frames = max((len(samples) + AUDIO_FRAME - 1) // AUDIO_FRAME, 1)
        for fno in range(n_frames):
            w = samples[fno * AUDIO_FRAME : (fno + 1) * AUDIO_FRAME]
            assert out[(doc_id, fno)] == (len(w), int((w * w).sum()))
    assert out[(3, 0)] == (0, 0)  # empty payload -> one empty frame


def test_compression_ratio_python_parity(spark):
    """zlib byte counts from the Arrow path must equal a direct python
    recompute, and the repetitive-text signal must separate from prose."""
    import zlib

    from mta_rtf_dbt_spark.operators.textops import compression_ratios

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog " * 3),
            (2, "ab" * 200),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r.doc_id: r for r in compression_ratios(docs).collect()}
    for did, text in [(1, "the quick brown fox jumps over the lazy dog " * 3), (2, "ab" * 200)]:
        b = text.encode()
        assert rows[did].n_raw == len(b)
        assert rows[did].n_compressed == len(zlib.compress(b, 6))
        assert rows[did].ratio_ppm == (len(zlib.compress(b, 6)) * 1_000_000) // len(b)
    assert rows[3].ratio_ppm is None  # empty doc: no ratio, not a crash
    assert rows[2].ratio_ppm < rows[1].ratio_ppm  # repetition compresses harder


def test_winnowing_guarantee_shared_substring(spark):
    """Winnowing's coverage guarantee: any common substring of length
    >= k+w-1 (= 8 chars at k=5, w=4) must yield at least one shared
    (hash) fingerprint across the two docs; disjoint texts share none."""
    from mta_rtf_dbt_spark.operators.textops import winnow_fingerprints

    shared = "xylophone quartz banjo"
    rows = [
        (1, f"prefix alpha {shared} suffix omega"),
        (2, f"completely different intro {shared} and a different tail"),
        (3, "no overlap here at all just plain unrelated words"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(docs).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    # density sanity: ~2/(w+1) of positions selected, never zero for long docs
    assert all(len(v) > 0 for v in by_doc.values())


def test_rag_retrieval_planted_relevance(spark):
    """A query chunk sharing a verbatim passage with a corpus doc must
    retrieve that doc at rank 1; an unrelated corpus doc must score below
    it (feature-hash dot product preserves lexical overlap ordering)."""
    from mta_rtf_dbt_spark.operators.similarity import (
        RAG_QUERY_MOD,
        rag_chunk_vectors,
        rag_retrieve_topk,
    )

    passage = "the silver fox leapt across the frozen river at dawn carrying news"
    rows = [
        (0, passage + " and the village woke to the sound of bells"),  # query (0 % 97 == 0)
        (1, "completely different content about database engines and shuffles"),
        (2, passage + " while hunters watched from the tall pines nearby"),  # relevant
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    assert 0 % RAG_QUERY_MOD == 0 and 2 % RAG_QUERY_MOD != 0
    vec = rag_chunk_vectors(docs)
    out = rag_retrieve_topk(vec).collect()
    top = [r for r in out if r.q_doc == 0 and r.rank == 1]
    assert top and all(r.c_doc == 2 for r in top), out
