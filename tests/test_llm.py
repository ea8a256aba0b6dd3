"""LLM-data operator tests: hash-defined ops (MinHash-LSH, SimHash,
ANN) are verified by property — recall against their exact
counterparts — since they have no SQL oracle."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from php_etl_spark.catalog import Catalog
from php_etl_spark.llm import dedup as D
from php_etl_spark.llm import similarity as S
from php_etl_spark.llm import multimodal as M
from php_etl_spark.llm import text as T

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return Catalog(spark, SF).documents


def test_minhash_lsh_recall_vs_exact(spark):
    docs = _docs(spark)
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    lsh = {
        (r.doc_a, r.doc_b)
        for r in D.minhash_lsh_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert exact, "corpus should contain planted near-duplicates"
    # verification step filters candidates by exact jaccard → no false
    # positives; banding may lose a few true pairs (S-curve recall)
    assert lsh <= exact
    assert len(lsh) >= 0.8 * len(exact)


def test_jaccard_gating_matches_unbounded(spark):
    """Candidate gating is a candidate-generation knob only — the
    df-cutoff and explicit-candidates paths report the same pairs and
    the same exact jaccard values as the unbounded inverted index."""
    docs = _docs(spark)
    unbounded = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in D.jaccard_pairs(docs, n=3, threshold=0.8).collect()
    }
    assert unbounded
    cutoff = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in D.jaccard_pairs(
            docs, n=3, threshold=0.8, max_doc_freq=1000
        ).collect()
    }
    assert cutoff == unbounded
    # explicit candidates: score exactly the pairs handed in
    cands = spark.createDataFrame(
        [(a, b) for a, b, _ in unbounded], ["doc_a", "doc_b"]
    )
    scored = {
        (r.doc_a, r.doc_b, round(r.jaccard, 9))
        for r in D.jaccard_pairs(
            docs, n=3, threshold=0.8, candidates=cands
        ).collect()
    }
    assert scored == unbounded


def test_simhash_pairs_are_near_duplicates(spark):
    docs = _docs(spark)
    pairs = D.simhash_pairs(docs, max_distance=3)
    exact = {
        (r.doc_a, r.doc_b)
        for r in D.jaccard_pairs(docs, n=3, threshold=0.5).collect()
    }
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert got, "planted near-duplicates should land within hamming<=3"
    # simhash measures token-multiset similarity, jaccard measures
    # shingle-set similarity — correlated but not identical, so only
    # a majority overlap is promised (tiny vocab widens the gap)
    overlap = len(got & exact) / len(got)
    assert overlap >= 0.5


def test_exact_duplicates_partitions_corpus(spark):
    docs = _docs(spark)
    out = D.exact_duplicates(docs)
    total = out.agg(F.sum("n_copies")).collect()[0][0]
    assert total == docs.count()


def test_ann_lsh_recall(spark):
    emb = Catalog(spark, SF).embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_topk_lsh(emb, queries, n_planes=4, n_tables=8, k=5).collect()
    }
    # multi-table OR-amplification: most true neighbors should land in
    # at least one matching bucket, but recall < 1 by construction
    assert len(approx & exact) / len(exact) >= 0.5


def _lsh_reference(rows, coefs):
    """Pure-Python big-int ``lsh_buckets``: each component quantizes as
    Spark's ``round`` does (half away from zero on the decimal form of
    x·1e6), projections are exact Python ints. A NULL vector, a NULL
    component or a length other than ``dim`` gives bucket 0."""
    from decimal import ROUND_HALF_UP, Decimal

    dim = len(coefs[0][0])
    out = []
    for vid, vec in rows:
        ok = vec is not None and len(vec) == dim and None not in vec
        q = (
            [
                int(Decimal(repr(x * 1e6)).quantize(Decimal(1), ROUND_HALF_UP))
                for x in vec
            ]
            if ok
            else None
        )
        for t, planes in enumerate(coefs):
            bucket = 0
            for p, plane in enumerate(planes if ok else []):
                if sum(a * c for a, c in zip(q, plane)) > 0:
                    bucket |= 1 << p
            out.append((vid, t, bucket))
    return out


def _tie_sensitive(plane, sign, dim):
    """A vector with one exact tie component, x·1e6 = ±7812.5, whose
    projection on ``plane`` has the other sign if that tie rounds to
    ±7812 instead of away from zero: a second component balances the
    projection into (0, d] or (d, 0], d being the change the tie's
    rounding makes."""
    order = sorted(range(dim), key=lambda k: -abs(plane[k]))
    i, j = order[0], order[1]
    d = sign * plane[i]
    base = sign * 7813 * plane[i]
    lo, hi = sorted((0, d))
    r = round(-base / plane[j])
    q_j = next(
        q for q in range(r - 3, r + 4) if lo < q * plane[j] + base <= hi
    )
    vec = [0.0] * dim
    vec[i] = sign * 2.0**-7
    vec[j] = q_j / 1e6
    return vec


def _none_first(row):
    return tuple((v is not None, v) for v in row)


def test_lsh_buckets_match_big_int_reference(spark):
    """The bucket contract, pinned against an independent reference on
    random vectors plus every edge row, with the input split across
    partitions and small Arrow batches."""
    import random

    rnd = random.Random(3)
    dim = 16
    tie = 2.0**-7  # x·1e6 = 7812.5 exactly
    rows = [(i, [rnd.gauss(0, 1) for _ in range(dim)]) for i in range(300)]
    rows += [
        (1000, None),
        (1001, [0.25] * (dim - 1) + [None]),
        (1002, [0.25] * (dim - 1)),
        (1003, [0.25] * (dim + 1)),
        (1004, [0.0] * dim),
        (1005, [tie, -tie, 3 * tie, -3 * tie] * (dim // 4)),
        (1006, [tie] * dim),
        (None, [rnd.gauss(0, 1) for _ in range(dim)]),
    ]
    coefs = S.hyperplane_coefficients(spark, 3, 5, dim)
    rows += [
        (1100 + 10 * t + 2 * p + (sign < 0), _tie_sensitive(coefs[t][p], sign, dim))
        for t in range(3)
        for p in range(5)
        for sign in (1, -1)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).repartition(3)
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        got = [tuple(r) for r in S.lsh_buckets(emb, coefs).collect()]
    finally:
        spark.conf.set(key, prev)
    # the reference reads the vectors back, i.e. already as float32
    want = _lsh_reference([tuple(r) for r in emb.collect()], coefs)
    assert sorted(got, key=_none_first) == sorted(want, key=_none_first)
    by_vid = {}
    for vid, t, b in got:
        by_vid.setdefault(vid, []).append(b)
    for vid in (1000, 1001, 1002, 1003, 1004):
        assert by_vid[vid] == [0, 0, 0], vid
    assert len(by_vid[None]) == 3


@pytest.mark.parametrize("bad", [1e12, 3e38, float("nan"), float("inf")])
def test_lsh_buckets_raise_instead_of_wrapping(spark, bad):
    """A component whose quantized projection could leave int64, or
    that is not finite, fails the query; it never wraps."""
    emb = spark.createDataFrame(
        [(1, [bad] + [0.1] * 63)], "vec_id long, embedding array<float>"
    )
    coefs = S.hyperplane_coefficients(spark, 8, 4, 64)
    with pytest.raises(Exception, match="lsh_buckets"):
        S.lsh_buckets(emb, coefs).collect()


# Jobs one execution of sim_ann_lsh may launch: the candidate side's
# stages, the broadcast query side and the rescore. Coefficients built
# as a driver-side DataFrame would add a Python-RDD scan and two jobs.
ANN_LSH_JOB_CEILING = 6


def test_sim_ann_lsh_jobs_ledger_and_plan(spark):
    from php_etl_spark.queries import QUERIES

    sc = spark.sparkContext
    df = QUERIES["sim_ann_lsh"](spark, SF)
    group = f"ann-lsh-ledger-{id(df)}"
    sc.setJobGroup(group, group)
    try:
        df.write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert jobs <= ANN_LSH_JOB_CEILING, jobs
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" not in plan and "applySchemaToPythonRDD" not in plan
    assert "MapInArrow" in plan


def test_ann_lsh_dim_none_builds_without_jobs(spark):
    """``dim=None`` derives each length's planes on the worker: building
    the frame launches no job, and the answer equals ``dim=64``."""
    emb = Catalog(spark, SF).embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    sc = spark.sparkContext
    group = f"ann-lsh-dim-none-{id(emb)}"
    sc.setJobGroup(group, group)
    try:
        lazy = S.ann_topk_lsh(emb, queries, n_planes=4, n_tables=8, k=5)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    fixed = S.ann_topk_lsh(emb, queries, n_planes=4, n_tables=8, k=5, dim=64)
    assert sorted(lazy.collect()) == sorted(fixed.collect())


def test_cosine_quantized_accuracy(spark):
    import math

    emb = Catalog(spark, SF).embeddings.limit(2).collect()
    a, b = emb[0].embedding, emb[1].embedding
    expected = sum(x * y for x, y in zip(a, b)) / (
        math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b))
    )
    df = spark.createDataFrame([(a, b)], ["a", "b"])
    got = df.select(S.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0].c
    assert abs(got - expected) < 1e-4  # quantization error bound


def test_multimodal_payload_and_decode(spark):
    docs = _docs(spark).limit(20)
    payload = M.with_binary_payload(docs)
    row = payload.first()
    assert isinstance(row.payload, (bytes, bytearray))
    assert row.n_bytes == len(row.payload)

    decoded = M.decode_features(payload, n_features=8, fake=True)
    rows = decoded.collect()
    assert len(rows) == 20
    assert all(len(r.features) == 8 for r in rows)
    # deterministic fake: same input → same features
    again = M.decode_features(payload, n_features=8, fake=True).collect()
    assert sorted(map(tuple, (r.features for r in rows))) == sorted(
        map(tuple, (r.features for r in again))
    )


def test_multimodal_sliced_bounds_and_preserves_rows():
    """_sliced re-chunks Arrow batches to the row cap without changing
    content or order (the post-transfer working-set bound for binary
    payload columns — values must never depend on slice boundaries)."""
    import pandas as pd

    batches = [
        pd.DataFrame({"x": range(0, 250)}),
        pd.DataFrame({"x": range(250, 300)}),
    ]
    out = list(M._sliced(iter(batches), 100))
    assert all(len(pdf) <= 100 for pdf in out)
    assert [len(pdf) for pdf in out] == [100, 100, 50, 50]
    assert pd.concat(out)["x"].tolist() == list(range(300))
    # cap None / cap >= batch size: passthrough, no copies
    assert [len(p) for p in M._sliced(iter(batches), None)] == [250, 50]
    assert [len(p) for p in M._sliced(iter(batches), 250)] == [250, 50]


def test_multimodal_real_decoder_is_stubbed(spark):
    import pytest

    docs = _docs(spark).limit(2)
    payload = M.with_binary_payload(docs)
    with pytest.raises(Exception, match="NotImplementedError|PythonException|media"):
        M.decode_features(payload, fake=False).collect()


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",), ("x y",)], ["text"])
    out = df.select(T.word_shingles("text", 3).alias("s")).collect()
    assert out[0].s == ["a b c", "b c d"]
    assert out[1].s == []


def test_language_id_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("le chat et la mer des une",), ("zzz qqq",)],
        ["text"],
    )
    out = [r.l for r in df.select(T.language_id("text").alias("l")).collect()]
    assert out == ["en", "fr", "und"]


def test_ann_ivf_recall(spark):
    emb = Catalog(spark, SF).embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_topk_ivf(emb, queries, n_cells=8, nprobe=4, k=5).collect()
    }
    # probing half the cells: most true neighbors live in a probed cell
    assert len(approx & exact) / len(exact) >= 0.5


def test_ivf_assignment_covers_corpus(spark):
    emb = Catalog(spark, SF).embeddings
    cents = S.ivf_centroids(emb, n_cells=8)
    assigned = S.ivf_assign(emb, cents, nprobe=1)
    assert assigned.count() == emb.count()
    assert assigned.select("v_id").distinct().count() == emb.count()


def test_chunking_covers_text_with_overlap(spark):
    from php_etl_spark.llm.text import chunk_documents

    docs = _docs(spark).limit(50)
    chunks = chunk_documents(docs, size=300, stride=200)
    joined = (
        chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(F.length("chunk")).alias("chunk_chars"),
        )
        .join(docs.select("doc_id", F.length("text").alias("n")), "doc_id")
    )
    for r in joined.collect():
        # chunk starts at every stride boundary below n
        assert r.n_chunks == max(r.n - 1, 0) // 200 + 1
        assert r.chunk_chars >= r.n  # full coverage


def test_duplicate_clusters_connected_components(spark):
    """Known graph: {1-2, 2-3} one component, {10-11} another, 20-20
    none (no pairs) — labels are component minima."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (7, 8), (8, 9), (9, 2)],
        ["doc_a", "doc_b"],
    )
    got = {r.doc: r.cluster for r in D.duplicate_clusters(pairs).collect()}
    # 1-2-3-9-8-7 all connect through 9-2; 10-11 separate
    assert got == {1: 1, 2: 1, 3: 1, 7: 1, 8: 1, 9: 1, 10: 10, 11: 10}


def test_duplicate_clusters_chain_diameter(spark):
    """A long chain exercises multi-round propagation."""
    n = 12
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["doc_a", "doc_b"]
    )
    got = {r.doc: r.cluster for r in D.duplicate_clusters(pairs).collect()}
    assert got == {i: 0 for i in range(n + 1)}


def test_duplicate_clusters_driver_path_matches_distributed(spark):
    """The r13 small-graph driver union-find fast path must be
    bit-identical to the distributed star-contraction path — same
    (doc, cluster) set, same min-label choice — on integer ids AND
    on string ids where Python's code-point ordering could diverge
    from Spark's UTF-8-byte ordering (the test includes a pair where
    they disagree: U+00E9 'é' > U+0041 'A' in both, but
    U+FF21 'Ａ' vs surrogates differ only bytewise)."""
    int_pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (10, 11), (7, 8), (8, 9), (9, 2), (42, 42)],
        ["doc_a", "doc_b"],
    )
    str_pairs = spark.createDataFrame(
        [("b", "a"), ("a", "é"), ("Ａ", "é"), ("z", "Ｚ"), ("￿", "")],
        ["doc_a", "doc_b"],
    )
    for pairs in (int_pairs, str_pairs):
        fast = {
            (r.doc, r.cluster)
            for r in D.duplicate_clusters(pairs).collect()
        }
        slow = {
            (r.doc, r.cluster)
            for r in D.duplicate_clusters(
                pairs, driver_cc_max_edges=None
            ).collect()
        }
        assert fast == slow


def test_duplicate_clusters_threshold_routes_to_distributed(spark):
    """Edge sets above the bound must take the distributed path and
    still produce the same labels (threshold 0 forces it here)."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["doc_a", "doc_b"]
    )
    got = {
        r.doc: r.cluster
        for r in D.duplicate_clusters(pairs, driver_cc_max_edges=0).collect()
    }
    assert got == {i: 0 for i in range(7)}


def test_dedup_corpus_end_to_end_is_dry(spark):
    """After the full dedup pipeline, re-running near-dup detection on
    the kept corpus finds nothing — the corpus is duplicate-free at
    the operating threshold."""
    from php_etl_spark.queries import QUERIES

    kept = QUERIES["dedup_corpus_end_to_end"](spark, SF)
    docs = _docs(spark)
    kept_docs = docs.join(kept.select("doc_id"), "doc_id")
    assert kept.count() < docs.count()  # corpus has planted duplicates
    assert D.minhash_lsh_pairs(kept_docs, threshold=0.8).count() == 0
    assert (
        D.exact_duplicates(kept_docs).filter(F.col("n_copies") > 1).count() == 0
    )


def test_cross_corpus_overlap_finds_planted_contamination(spark):
    """A train doc sharing a long span with an eval doc must appear on
    the drop list; disjoint docs must not."""
    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "totally different words nothing shared here at all"),
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta iota kappa")],
        ["doc_id", "text"],
    )
    got = {
        (r.train_doc, r.eval_doc): r.n_shared
        for r in D.cross_corpus_overlap(train, ev, n=3, min_overlap=3).collect()
    }
    assert (1, 100) in got and got[(1, 100)] >= 3
    assert all(t != 2 for t, _ in got)


def test_stratified_mix_deterministic_and_rate_shaped(spark):
    from php_etl_spark.llm.sampling import stratified_mix

    docs = Catalog(spark, SF).documents
    rates = {"en": 0.75, "de": 0.25}
    a = {r.doc_id for r in stratified_mix(docs, rates, default_rate=0.0).collect()}
    b = {r.doc_id for r in stratified_mix(docs, rates, default_rate=0.0).collect()}
    assert a == b, "hash gate must be deterministic across runs"
    by_lang = {
        r["lang"]: r["n"]
        for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()
    }
    kept = (
        stratified_mix(docs, rates, default_rate=0.0)
        .groupBy("lang")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    kept_by_lang = {r["lang"]: r["n"] for r in kept}
    assert set(kept_by_lang) <= {"en", "de"}  # default 0 drops the rest
    for lang, rate in rates.items():
        if by_lang.get(lang, 0) >= 20:
            frac = kept_by_lang.get(lang, 0) / by_lang[lang]
            assert abs(frac - rate) < 0.25, (lang, frac, rate)


def test_pack_by_budget_invariants(spark):
    from php_etl_spark.llm.sampling import pack_by_budget

    docs = Catalog(spark, SF).documents.select("doc_id", "source", "n_chars")
    packed = pack_by_budget(docs, budget=4000).collect()
    by_group: dict = {}
    for r in sorted(packed, key=lambda r: (r["source"], r["doc_id"])):
        by_group.setdefault(r["source"], []).append(r)
    for rows in by_group.values():
        bins = [r["bin"] for r in rows]
        assert bins == sorted(bins), "bin ids are monotone in pack order"
        assert bins[0] == 0
        # each bin's cost stays under budget + one doc overhang
        cost: dict = {}
        for r in rows:
            cost[r["bin"]] = cost.get(r["bin"], 0) + r["n_chars"]
        for b, c in cost.items():
            # a bin only exceeds the budget by at most its last doc
            assert c < 4000 + max(r["n_chars"] for r in rows)


def test_quantize_int8_roundtrip_error(spark):
    from php_etl_spark.llm.similarity import quantize_int8

    emb = Catalog(spark, SF).embeddings
    q = quantize_int8(emb)
    joined = emb.join(q, "vec_id").select(
        F.zip_with(
            "embedding",
            "q_embedding",
            lambda x, qv: F.abs(x.cast("double") - qv * F.col("scale")),
        ).alias("err"),
        "scale",
    )
    worst = joined.select(
        F.max(F.array_max("err")).alias("m"),
        F.max("scale").alias("s"),
    ).collect()[0]
    # quantization error is at most scale/2 per component
    assert worst["m"] <= worst["s"] / 2 + 1e-12


def test_repetition_stats_known_docs(spark):
    docs = spark.createDataFrame(
        [
            (1, "nav bar\nContent here\nnav bar\nnav bar"),
            (2, "spam spam spam spam unique"),
            (3, ""),
        ],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in T.repetition_stats(docs).collect()}
    assert got[1].n_lines == 4 and got[1].n_unique_lines == 2
    assert abs(got[2].top_word_ratio - 4 / 5) < 1e-12
    assert got[3].n_lines == 0 and got[3].top_word_ratio == 0.0


def test_lsh_bucket_cap_bounds_hot_buckets(spark):
    """A corpus of identical docs puts everything in one bucket per
    band; a cap below the bucket size drops every such bucket whole,
    so no pair survives, while an uncapped pass is quadratic. Near-dup
    recall on the normal corpus is unaffected (buckets there are
    small)."""
    same = spark.createDataFrame(
        [(i, "exactly the same text repeated again and again here") for i in range(200)],
        ["doc_id", "text"],
    )
    sigs = D.minhash_signatures(same, n=3, n_hashes=32)
    uncapped = D.lsh_candidates(sigs, 32, 8).count()
    capped = D.lsh_candidates(sigs, 32, 8, max_bucket_size=10).count()
    assert uncapped == 200 * 199 // 2
    assert capped == 0  # 200 > 10 docs in every band's bucket: dropped
    # normal corpus: cap far above real bucket sizes changes nothing
    docs = _docs(spark)
    sigs2 = D.minhash_signatures(docs, n=3, n_hashes=32)
    a = {(r.doc_a, r.doc_b) for r in D.lsh_candidates(sigs2, 32, 8).collect()}
    b = {
        (r.doc_a, r.doc_b)
        for r in D.lsh_candidates(sigs2, 32, 8, max_bucket_size=50).collect()
    }
    assert a == b


def test_audio_windows_shape_math(spark):
    payloads = M.with_binary_payload(
        spark.createDataFrame([(1, "x" * 128), (2, "y" * 10)], ["doc_id", "text"])
    )
    rows = sorted(
        (r.doc_id, r.window_idx, r.start_byte, r.end_byte)
        for r in M.audio_windows(
            payloads, sample_rate=100, bytes_per_sample=1,
            window_samples=64, hop_samples=32,
        ).collect()
    )
    # 128 bytes → windows at samples 0, 32, 64 (64-sample windows)
    assert rows == [(1, 0, 0, 64), (1, 1, 32, 96), (1, 2, 64, 128)]


def test_resize_images_contract(spark):
    payloads = M.with_binary_payload(_docs(spark).limit(10))
    out = M.resize_images(payloads, 8, 8, 3).collect()
    assert len(out) == 10
    assert all(r.height == 8 and r.width == 8 and r.channels == 3 for r in out)
    again = {r.doc_id: r.pixels_sha for r in M.resize_images(payloads, 8, 8, 3).collect()}
    assert {r.doc_id: r.pixels_sha for r in out} == again  # deterministic


def test_resize_real_decoder_is_stubbed(spark):
    import pytest

    payloads = M.with_binary_payload(_docs(spark).limit(2))
    with pytest.raises(Exception, match="NotImplementedError|PIL|PythonException"):
        M.resize_images(payloads, 8, 8, 3, fake=False).collect()


def test_incremental_near_dup_identical_recall(spark):
    """Re-ingested identical documents MUST rediscover their original:
    identical text → identical shingle set → identical signature →
    same bucket in every band, so candidacy is deterministic (no LSH
    luck involved), and exact verification scores jaccard 1.0. Also:
    every reported pair must clear the threshold (precision is exact
    by construction)."""
    from php_etl_spark.catalog import Catalog
    from php_etl_spark.llm.dedup import incremental_near_dup

    docs = Catalog(spark, "/root/testdata/sf0.001").documents.select(
        F.col("doc_id").cast("string").alias("doc_id"), "text"
    )
    sample = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(10)) == 0)
    batch = sample.select(
        F.concat(F.lit("re_"), F.col("doc_id")).alias("doc_id"), "text"
    )
    out = incremental_near_dup(docs, batch, threshold=0.8).collect()
    found = {(r["new_doc"], r["dup_of"]): r["jaccard"] for r in out}
    for r in sample.select("doc_id").collect():
        key = ("re_" + r["doc_id"], r["doc_id"])
        assert key in found, f"identical re-ingest missed: {key}"
        assert found[key] == 1.0
    assert all(j >= 0.8 for j in found.values())


def test_kmeans_codebook_converges_and_conserves(spark):
    emb = Catalog(spark, SF).embeddings
    inertia: list[float] = []
    cb = S.kmeans_codebook(emb, k=8, iters=3, inertia_out=inertia).collect()
    n = emb.count()
    assert len(cb) == 8
    assert sum(r["n_members"] for r in cb) == n
    assert all(len(r["centroid"]) == 64 for r in cb)
    assert len(inertia) == 3
    # Lloyd's is non-increasing (tiny float slack at convergence)
    for a, b in zip(inertia, inertia[1:]):
        assert b <= a * (1 + 1e-9), inertia


def test_ann_ivf_trained_recall_beats_floor(spark):
    emb = Catalog(spark, SF).embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    cents = S.codebook_as_centroids(S.kmeans_codebook(emb, k=8, iters=2))
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_topk_ivf(
            emb, queries, nprobe=4, k=5, centroids=cents
        ).collect()
    }
    assert len(approx & exact) / len(exact) >= 0.5


def test_pq_encode_shape_and_coverage(spark):
    emb = Catalog(spark, SF).embeddings
    cb = S.pq_train(emb, m=8, k=4, iters=2)
    assert cb.count() == 8 * 4
    codes = S.pq_encode(emb, cb)
    assert codes.count() == emb.count()
    rows = codes.select(F.size("codes").alias("m")).distinct().collect()
    assert [r["m"] for r in rows] == [8]
    # every code within 1..k
    bad = codes.filter(
        F.exists("codes", lambda c: (c < 1) | (c > 4))
    ).count()
    assert bad == 0


def test_pq_adc_recall_vs_brute_force(spark):
    emb = Catalog(spark, SF).embeddings
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in S.brute_force_topk(emb, queries, k=5).collect()
    }
    cb = S.pq_train(emb, m=8, k=16, iters=2)
    approx = {
        (r.query_id, r.neighbor_id)
        for r in S.ann_topk_pq_adc(emb, queries, cb, k=5, oversample=10).collect()
    }
    # 32-bit codes pick a 10% shortlist, exact rescore orders it; on
    # near-random synthetic vectors (worst case for PQ) recall@5 ≥ 0.5
    assert len(approx & exact) / len(exact) >= 0.5


def test_semantic_dedup_properties(spark):
    """SemDeDup invariants: partition of the population; every dropped
    vector has a HIGHER-priority (smaller-id) same-cell neighbor above
    the threshold; every kept-but-matched case is explained by its
    matches being lower-priority or cross-cell."""
    from php_etl_spark.llm.dedup import semantic_dedup
    from php_etl_spark.llm.similarity import cosine

    emb = Catalog(spark, SF).embeddings
    t = 0.45
    result = semantic_dedup(emb, n_cells=8, threshold=t, centroids_by="id")
    rows = result.collect()
    assert len(rows) == emb.count()  # partition: every vector labeled
    cell_of = {r["vec_id"]: r["cell"] for r in rows}
    kept = {r["vec_id"] for r in rows if r["kept"]}
    dropped = {r["vec_id"] for r in rows if not r["kept"]}
    assert kept and kept.isdisjoint(dropped)

    pairs = (
        emb.alias("a")
        .join(emb.alias("b"), F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            cosine(F.col("a.embedding"), F.col("b.embedding")).alias("cos"),
        )
        .filter(F.col("cos") >= t)
        .collect()
    )
    witnesses = {
        vb
        for r in pairs
        for va, vb in [(r["va"], r["vb"])]
        if cell_of[va] == cell_of[vb]
    }
    # dropped  <=>  has a smaller-id same-cell neighbor above threshold
    assert dropped == witnesses


def test_semantic_dedup_kmeans_centroids(spark):
    """The kmeans-codebook cell option must still partition the
    population and keep at least one representative per near-dup
    group (kept set non-empty, labels complete)."""
    from php_etl_spark.llm.dedup import semantic_dedup

    emb = Catalog(spark, SF).embeddings
    result = semantic_dedup(
        emb, n_cells=8, threshold=0.45, centroids_by="kmeans"
    ).collect()
    assert len(result) == emb.count()
    assert any(r["kept"] for r in result)
    assert {r["cell"] for r in result} <= set(range(1, 9))


class TestBoundedJaccardDefault:
    """Round-4: jaccard_pairs/containment_pairs default to a BOUNDED
    inverted index (max_doc_freq=1000); the unbounded Σ df² index is
    explicit opt-in (max_doc_freq=None). A universal stop-shingle must
    not generate candidate pairs on its own once its df exceeds the
    cutoff, while true near-dups sharing rarer shingles survive."""

    def test_default_is_bounded(self):
        import inspect

        from php_etl_spark.llm import dedup as D

        assert (
            inspect.signature(D.jaccard_pairs).parameters["max_doc_freq"].default
            == 1000
        )
        assert (
            inspect.signature(D.containment_pairs)
            .parameters["max_doc_freq"]
            .default
            == 1000
        )

    @pytest.mark.parametrize("pairs", ["jaccard_pairs", "containment_pairs"])
    def test_stop_shingle_produces_no_candidates(self, spark, pairs):
        from php_etl_spark.llm import dedup as D

        # every doc ends with the same boilerplate 3-gram; the bodies
        # share nothing. With the cutoff below the boilerplate's df,
        # no pair may be generated from boilerplate alone.
        boiler = "all rights reserved"
        rows = [
            (i, f"unique body {i} alpha{i} beta{i} gamma{i} {boiler}")
            for i in range(6)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        got = getattr(D, pairs)(
            docs, n=3, threshold=0.0, max_doc_freq=3
        ).collect()
        assert got == []

    @pytest.mark.parametrize("pairs", ["jaccard_pairs", "containment_pairs"])
    def test_bounded_index_ranks_before_collect(self, spark, pairs):
        """The df cap bounds each posting list while it is built: rows
        are ranked per shingle and cut at the cap below the collecting
        aggregate, so a boilerplate shingle never buffers its whole
        list in one task."""
        import re

        from php_etl_spark.llm import dedup as D

        rows = [(i, f"body {i} all rights reserved") for i in range(6)]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        df = getattr(D, pairs)(docs, n=3, threshold=0.0, max_doc_freq=3)
        lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
        collect = next(i for i, ln in enumerate(lines) if "collect_" in ln)
        assert any(
            re.search(r"\bWindow(GroupLimit)? \[", ln) for ln in lines[collect:]
        ), "\n".join(lines)

    def test_near_dups_survive_the_cutoff(self, spark):
        from php_etl_spark.llm import dedup as D

        boiler = "all rights reserved"
        near = "the quick brown fox jumps over the lazy dog tonight"
        rows = [(0, f"{near} {boiler}"), (1, f"{near} {boiler}")]
        rows += [
            (i, f"unique body {i} alpha{i} beta{i} gamma{i} {boiler}")
            for i in range(2, 6)
        ]
        docs = spark.createDataFrame(rows, ["doc_id", "text"])
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in D.jaccard_pairs(
                docs, n=3, threshold=0.8, max_doc_freq=3
            ).collect()
        }
        assert pairs == {(0, 1)}


def test_containment_pairs_builds_the_index_once(spark, catalog):
    """Both containment directions come from one scored frame, so the
    plan holds one shingle index: a partial and a final aggregate keyed
    on the shingle, where two unioned directions held two of each."""
    import re

    df = D.containment_pairs(
        catalog.documents, n=3, threshold=0.5, max_doc_freq=None
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    index_aggs = re.findall(r"HashAggregate\(keys=\[shingle#", plan)
    assert len(index_aggs) == 2, plan


def test_semantic_dedup_kernel_matches_sql_bitwise(spark):
    """The numpy-matmul within-cell kernel must be BIT-identical to
    the SQL dot-product fold: quantized components are exact integers,
    so every float64 product/sum in the matmul is exact (< 2^53) under
    any order, and the cosine divides the same integers by the same
    norms. Any divergence means the exactness precondition broke."""
    from php_etl_spark.llm.dedup import semantic_dedup

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {}
    for mode in ("sql", "kernel"):
        df = semantic_dedup(
            emb, n_cells=8, threshold=0.45, centroids_by="id", pairwise=mode
        )
        rows[mode] = sorted(
            (r["vec_id"], r["cell"], r["kept"]) for r in df.collect()
        )
    assert rows["sql"] == rows["kernel"]
    assert any(not kept for _, _, kept in rows["sql"])  # test has teeth


def test_lsh_hot_bucket_capped_by_default(spark):
    """lsh_candidates defaults to a bounded per-(band,bucket) pairing
    (same policy as jaccard_pairs): in a degenerate corpus where every
    signature is identical (all docs share one text), a small explicit
    cap drops each band's one bucket whole, and the default must be
    bounded (not None)."""
    import inspect

    from php_etl_spark.llm import dedup as D

    assert (
        inspect.signature(D.lsh_candidates).parameters["max_bucket_size"].default
        == 1000
    )
    assert (
        inspect.signature(D.minhash_lsh_pairs)
        .parameters["max_bucket_size"]
        .default
        == 1000
    )
    docs = spark.createDataFrame(
        [(i, "same boilerplate text repeated endlessly here") for i in range(40)],
        ["doc_id", "text"],
    )
    sigs = D.minhash_signatures(docs, n=3, n_hashes=8)
    capped = D.lsh_candidates(sigs, n_hashes=8, bands=2, max_bucket_size=5)
    # 40 identical docs, cap 5: both bands' buckets hold 40 > 5 docs,
    # so both are dropped and no pair is emitted
    assert capped.count() == 0
    unbounded = D.lsh_candidates(sigs, n_hashes=8, bands=2, max_bucket_size=None)
    assert unbounded.count() == 40 * 39 // 2


def test_hamming_bucket_cap_bounds_hot_buckets(spark):
    """A degenerate band bucket — here 40 identical all-zero
    fingerprints, the boilerplate case — holds more than the cap in
    every band, so it is dropped whole and yields no pair, while the
    small control bucket (docs 100, 101) pairs as before. Opt-out
    (None) reproduces the full pairing; the default is bounded (not
    None)."""
    import inspect

    from php_etl_spark.llm import dedup as D

    assert (
        inspect.signature(D.hamming_near_pairs)
        .parameters["max_bucket_size"]
        .default
        == 1000
    )
    fp = spark.createDataFrame(
        [(i, 0) for i in range(40)] + [(100, -1), (101, -1)],
        "doc: long, simhash: long",
    )
    capped = D.hamming_near_pairs(fp, max_distance=3, max_bucket_size=5)
    assert sorted(
        (r["doc_a"], r["doc_b"], r["hamming"]) for r in capped.collect()
    ) == [(100, 101, 0)]
    unbounded = D.hamming_near_pairs(fp, max_distance=3, max_bucket_size=None)
    assert unbounded.count() == 40 * 39 // 2 + 1


def test_perceptual_hash_near_dup_finds_exact_payload_dups(spark):
    """Identical binary payloads must collide at Hamming distance 0;
    unrelated payloads must not land within the distance-3 ball (the
    fake decoder is hash-seeded, so unrelated features are random-ish
    and far apart with overwhelming probability)."""
    from php_etl_spark.llm import multimodal as M
    from php_etl_spark.llm.dedup import hamming_near_pairs

    rows = [
        (0, "the same media payload content"),
        (1, "the same media payload content"),       # exact dup of 0
        (2, "completely different payload A xyz"),
        (3, "another unrelated payload B qrs tuv"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    feats = M.decode_features(
        M.with_binary_payload(docs), n_features=64, fake=True
    )
    fp = M.perceptual_hash64(feats)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in hamming_near_pairs(
            fp, id_col="doc_id", hash_col="phash", max_distance=3
        ).collect()
    }
    assert pairs.get((0, 1)) == 0
    assert all(k == (0, 1) for k in pairs)


class TestPcaWhiten:
    def test_whitened_covariance_is_identity(self, spark):
        """Sample covariance of the whitened top-k projection must be
        ~I (diagonal 1, off-diagonal ~0) — the defining property of
        whitening. Quantized-exact moments make the rotation
        deterministic, so tolerances are purely statistical."""
        import numpy as np

        from php_etl_spark.llm.similarity import pca_whiten

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        W = np.array(
            [r["white"] for r in pca_whiten(emb, k=4).collect()]
        )
        cov = np.cov(W, rowvar=False)
        assert np.allclose(np.diag(cov), 1.0, atol=0.05)
        off = cov - np.diag(np.diag(cov))
        assert np.abs(off).max() < 0.05

    def test_deterministic_across_runs(self, spark):
        from php_etl_spark.llm.similarity import pca_whiten

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        a = sorted(
            (r["id"], tuple(round(x, 9) for x in r["white"]))
            for r in pca_whiten(emb, k=3).collect()
        )
        b = sorted(
            (r["id"], tuple(round(x, 9) for x in r["white"]))
            for r in pca_whiten(emb, k=3).collect()
        )
        assert a == b


def test_cap_per_stratum_matches_single_window(spark):
    """The two-phase salted cap must return exactly the rows a naive
    per-stratum rank window returns — including when a stratum has
    fewer than k rows, and across salt-boundary clustering."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from php_etl_spark.llm.sampling import cap_per_stratum

    rows = [(i, f"s{i % 3}") for i in range(200)] + [(1000, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    rank = F.pmod(F.col("doc_id") * 7919, F.lit(104729))
    got = {
        (r["doc_id"], r["source"])
        for r in cap_per_stratum(
            df, "source", rank, k=10, salt_partitions=8
        ).collect()
    }
    w = W.partitionBy("source").orderBy(rank, "doc_id")
    want = {
        (r["doc_id"], r["source"])
        for r in df.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .collect()
    }
    assert got == want and (1000, "tiny") in got


def test_semantic_dedup_kernel_block_chunking_parity(spark):
    """Cells larger than the kernel's 1024-row block must still match
    the SQL path exactly — exercises the row-block Gram loop (1500
    vectors in ONE cell), which smaller fixtures never reach."""
    from pyspark.sql import functions as F

    from php_etl_spark.llm.dedup import semantic_dedup

    dim = 8
    comps = [
        (
            (F.abs(F.xxhash64(F.col("id") * F.lit(dim) + F.lit(j))) % 200)
            .cast("double")
            / F.lit(100.0)
            - F.lit(1.0)
        ).alias(f"c{j}")
        for j in range(dim)
    ]
    vecs = spark.range(1500).select(
        F.col("id").alias("vec_id"), F.array(*comps).alias("embedding")
    )
    out = {}
    for mode in ("sql", "kernel"):
        out[mode] = sorted(
            (r["vec_id"], r["cell"], r["kept"])
            for r in semantic_dedup(
                vecs, n_cells=1, threshold=0.93, centroids_by="id",
                pairwise=mode,
            ).collect()
        )
    assert out["sql"] == out["kernel"]
    kept = sum(1 for _, _, k in out["sql"] if k)
    assert 0 < kept < 1500  # both kept and dropped present


def test_dsir_weights_favor_target_like_docs(spark):
    """A raw doc written in the target corpus's vocabulary must score
    higher than one written in disjoint vocabulary — the defining
    property of the importance weight."""
    from php_etl_spark.llm.sampling import dsir_weights

    target = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 5) for i in range(20)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [(100, "alpha beta gamma delta alpha beta"),
         (101, "zog quux blarp wibble zog quux")],
        "doc_id long, text string",
    )
    w = {r.doc_id: r.dsir_weight_nano for r in dsir_weights(raw, target).collect()}
    assert w[100] > 0 > w[101], w
    # deterministic across recomputation
    w2 = {r.doc_id: r.dsir_weight_nano for r in dsir_weights(raw, target).collect()}
    assert w == w2


def test_shard_shuffle_stable_placement_reshuffled_order(spark):
    from php_etl_spark.llm.sampling import shard_shuffle

    docs = Catalog(spark, SF).documents.select("doc_id")
    e0 = shard_shuffle(docs, n_shards=8, epoch=0).collect()
    e1 = {r.doc_id: r for r in shard_shuffle(docs, n_shards=8, epoch=1).collect()}
    assert all(r.shard == e1[r.doc_id].shard for r in e0), "placement must not move"
    changed = sum(1 for r in e0 if r.shuffle_key != e1[r.doc_id].shuffle_key)
    assert changed > len(e0) * 0.9, "epoch salt must reshuffle the order"
    shards = {r.shard for r in e0}
    assert shards == set(range(8))


def test_logreg_learns_separable_data(spark):
    """GD logistic regression: loss decreases monotonically and a
    linearly separable synthetic set is classified correctly."""
    from php_etl_spark.llm.quality_model import scorer, train_logreg

    rows = [(float(i % 7), float((i * 3) % 5), 1.0 if (i % 7) >= 3 else 0.0)
            for i in range(200)]
    df = spark.createDataFrame(rows, "a double, b double, y double")
    model = train_logreg(df, ["a", "b"], "y", iterations=30, lr=1.0)
    losses = model["losses"]
    assert all(l2 <= l1 + 1e-9 for l1, l2 in zip(losses, losses[1:])), losses
    preds = df.select(
        "y", (scorer(model, ["a", "b"]) > 0.5).cast("double").alias("p")
    ).collect()
    acc = sum(1 for r in preds if r.p == r.y) / len(preds)
    assert acc >= 0.95, acc
    # a is the discriminative feature
    assert abs(model["weights"]["a"]) > abs(model["weights"]["b"])


def test_logreg_deterministic_across_runs(spark):
    from php_etl_spark.llm.quality_model import train_logreg

    rows = [(float(i % 10), 1.0 if i % 10 > 4 else 0.0) for i in range(100)]
    df = spark.createDataFrame(rows, "a double, y double")
    m1 = train_logreg(df, ["a"], "y", iterations=10)
    m2 = train_logreg(df, ["a"], "y", iterations=10)
    assert m1["weights"] == m2["weights"] and m1["losses"] == m2["losses"]


class TestBpeTrain:
    """llm/text.bpe_train vs a pure-Python BPE reference."""

    @staticmethod
    def _bpe_py(word_freqs, n_merges, min_freq=2):
        state = {tuple(w): f for w, f in word_freqs.items()}
        merges = []
        for rank in range(1, n_merges + 1):
            counts = {}
            for syms, f in state.items():
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] = counts.get((a, b), 0) + f
            if not counts:
                break
            (a, b), freq = sorted(
                counts.items(), key=lambda kv: (-kv[1], kv[0])
            )[0]
            if freq < min_freq:
                break
            merged = a + b
            merges.append((rank, a, b, merged, freq))
            new_state = {}
            for syms, f in state.items():
                out = []
                for s in syms:
                    if out and out[-1] == a and s == b:
                        out[-1] = merged
                    else:
                        out.append(s)
                key = tuple(out)
                new_state[key] = new_state.get(key, 0) + f
            state = new_state
        return merges, state

    def test_matches_python_reference(self, spark, catalog):
        from php_etl_spark.llm.text import bpe_train, tokens as toks_col

        docs = catalog.documents.limit(120)
        merges, state = bpe_train(docs, n_merges=5)

        wf = (
            docs.select(F.explode(toks_col("text")).alias("w"))
            .groupBy("w")
            .agg(F.count("*").alias("f"))
            .collect()
        )
        ref_merges, ref_state = self._bpe_py(
            {r["w"]: r["f"] for r in wf}, n_merges=5
        )
        assert [
            (m["rank"], m["left"], m["right"], m["merged"], m["freq"])
            for m in merges
        ] == ref_merges

        got = {
            r["w"]: tuple(r["syms"])
            for r in state.collect()
        }
        # the reference keys by symbol tuple with summed freq; re-derive
        # the per-word symbolization instead for an exact comparison
        for w, syms in got.items():
            out = list(w)
            for _, a, b, merged, _f in ref_merges:
                folded = []
                for s in out:
                    if folded and folded[-1] == a and s == b:
                        folded[-1] = merged
                    else:
                        folded.append(s)
                out = folded
            assert tuple(out) == syms, w

    def test_merge_loop_stops_below_min_freq(self, spark):
        df = spark.createDataFrame(
            [("aa bb aa",), ("aa cc",)], ["text"]
        )
        from php_etl_spark.llm.text import bpe_train

        merges, _ = bpe_train(df, n_merges=10, min_freq=3)
        # only (a,a) reaches freq 3 (aa appears 3x); everything else
        # stays below the cutoff, so the loop stops early
        assert [m["merged"] for m in merges] == ["aa"]


class TestIvfPq:
    """IVF-PQ composition: recall floors, probe monotonicity,
    determinism."""

    def _recall(self, spark, catalog, **kw):
        from php_etl_spark.llm.similarity import (
            ann_topk_ivfpq,
            brute_force_topk,
        )

        emb = catalog.embeddings
        q = emb.filter(F.col("vec_id") % 50 == 0)
        got: dict[int, list[int]] = {}
        for r in ann_topk_ivfpq(emb, q, k=5, **kw).collect():
            got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        ref: dict[int, list[int]] = {}
        for r in brute_force_topk(emb, q, k=5).collect():
            ref.setdefault(r["query_id"], []).append(r["neighbor_id"])
        per_q = [
            len(set(got.get(qid, [])) & set(v)) / len(v)
            for qid, v in ref.items()
        ]
        return sum(per_q) / len(per_q)

    def test_recall_floor_and_probe_monotonicity(self, spark, catalog):
        r_narrow = self._recall(spark, catalog, nprobe=1)
        r_mid = self._recall(spark, catalog, nprobe=3)
        r_full = self._recall(spark, catalog, nprobe=8, oversample=20)
        assert r_mid >= 0.3  # honest ANN floor at nprobe=3/8
        # more probes never hurt (same PQ error, strictly larger
        # candidate pool)
        assert r_full >= r_narrow
        assert r_full >= 0.5

    def test_deterministic_across_runs(self, spark, catalog):
        from php_etl_spark.llm.similarity import ann_topk_ivfpq

        emb = catalog.embeddings
        q = emb.filter(F.col("vec_id") % 100 == 0)
        a = sorted(
            map(tuple, ann_topk_ivfpq(emb, q, k=3, nprobe=2).collect())
        )
        b = sorted(
            map(tuple, ann_topk_ivfpq(emb, q, k=3, nprobe=2).collect())
        )
        assert a == b and len(a) > 0
