"""Document deduplication at scale: exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Scale design notes (the 100 TB story):

- Exact dedup is a hash-groupBy — one shuffle on a 16-byte key.
- Pairwise Jaccard is quadratic; it is only ever computed on
  *candidate pairs*. Candidates come from an inverted shingle index
  (small corpora) or MinHash-LSH band buckets (the subquadratic path:
  cost ∝ documents × bands, pairs only within buckets).
- All hashing is xxhash64 (JVM, codegen) — no Python in the row path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from php_etl_spark.llm.text import normalized_hash, word_shingles
from php_etl_spark.materialize import materialize, unmaterialize
from php_etl_spark.operators.graph import capped_item_sets, pairs_in_group


def exact_duplicates(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on the normalized-text hash: one row per distinct
    content, keeping the smallest id (deterministic winner) and the
    duplicate count."""
    return (
        df.select(F.col(id_col), normalized_hash(text_col).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def _shingle_table(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    # a small parquet file scans as ONE partition; the shingle
    # transform is CPU-bound (interpreted higher-order functions), so
    # spread rows across cores before computing it
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, id_col).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col, n)).alias("shingle"),
    )


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    candidates: DataFrame | None = None,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard, gated through a bounded candidate set.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b and
    jaccard >= threshold.

    Candidate generation (the part that can explode) is separated from
    scoring (always exact, from the full shingle sets via
    array_intersect/array_union — gating never changes a reported
    jaccard value, it can only skip pairs that share no rare shingle):

    - ``candidates`` given → score exactly those (doc_a, doc_b) pairs;
      feed it ``lsh_candidates`` output for the subquadratic 100 TB
      path (this is what ``minhash_lsh_pairs`` composes).
    - else → inverted shingle index self-join, with shingles whose
      document frequency exceeds ``max_doc_freq`` dropped from the
      INDEX ONLY. Raw pair count is Σ df(shingle)² which blows up on
      common shingles; with the cutoff c it is bounded by
      c × total_shingles — linear in corpus size. Any true pair
      sharing ≥1 rare shingle is still found (near-dups at
      threshold ≥ 0.8 share almost all their shingles, so a generous
      cutoff loses nothing in practice).
    - ``max_doc_freq=None`` (explicit opt-in; the DEFAULT is the
      bounded cutoff 1000) → unbounded exact index. Small corpora /
      oracle parity only — on a real corpus the unbounded index is the
      Σ df² blowup, so you must ask for it by name.
    """
    sets_df = materialize(_shingle_sets(df, text_col, id_col, n))
    if candidates is None:
        candidates = _shingle_index_pairs(sets_df, max_doc_freq)
    return _exact_jaccard_on_candidates(candidates, sets_df, threshold)


def _shingle_index_pairs(sets_df: DataFrame, max_doc_freq: int | None) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs sharing a shingle, from one
    grouped pass over ``_shingle_sets`` output: the posting lists come
    from ``capped_item_sets``, so a shingle held by more than
    ``max_doc_freq`` docs (a shingle's list size is its document
    frequency) is dropped whole before any pair is emitted, with
    per-shingle state bounded by the cap; ``None`` keeps every
    shingle."""
    sh = sets_df.select("doc", F.explode("sh").alias("shingle"))
    return (
        pairs_in_group(capped_item_sets(sh, "shingle", "doc", max_doc_freq))
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def _shingle_sets(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """(doc, sh: array<string>) — each document's distinct shingle set,
    spread across cores before the CPU-bound shingling."""
    par = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(par, id_col).select(
        F.col(id_col).alias("doc"), word_shingles(text_col, n).alias("sh")
    )


def _exact_jaccard_on_candidates(
    candidates: DataFrame, sets_df: DataFrame, threshold: float
) -> DataFrame:
    """Score (doc_a, doc_b) candidates exactly from full shingle sets.
    Cost ∝ candidate count, never pair-quadratic in the corpus."""
    sa = sets_df.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets_df.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signature_cols(n_hashes: int) -> list[str]:
    return [f"mh_{i}" for i in range(n_hashes)]


# Carter-Wegman hash family h_i(x) = (a_i*x + b_i) mod p over the
# Mersenne prime 2^31-1: products stay under 2^62 (no ANSI-mode
# overflow) and the mod makes each h_i non-monotone in x (an affine
# map without the mod would give 32 perfectly-correlated minima).
# Salts are a fixed deterministic sequence (LCG, seed 42).
_MERSENNE_P = (1 << 31) - 1


def _salts(n: int) -> list[tuple[int, int]]:
    state, out = 42, []
    for _ in range(n):
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        a = state % (_MERSENNE_P - 1) + 1
        state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 63)
        b = state % _MERSENNE_P
        out.append((a, b))
    return out


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
) -> DataFrame:
    """MinHash signatures: for hash family i, sig_i(doc) =
    min over shingles of xxhash64(shingle, salt_i). One explode + one
    groupBy — shuffle ∝ total shingle count, independent of pair
    count."""
    # one string hash per shingle, then n_hashes cheap long ops —
    # instead of n_hashes string hashes per shingle
    sh = _shingle_table(df, text_col, id_col, n).withColumn(
        "base", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_P))
    )
    salts = _salts(n_hashes)
    hashes = [
        F.min(
            F.pmod(F.col("base") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(salts)
    ]
    return sh.groupBy("doc").agg(*hashes)


def lsh_candidates(
    signatures: DataFrame,
    n_hashes: int = 32,
    bands: int = 8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Band the signature (rows per (doc, band) = docs × bands) and
    pair docs per band bucket: two docs are candidates iff they agree
    on EVERY row of at least one band — the classic S-curve knob
    (bands=8, rows=4 → ~(j^4) per-band match prob). Output distinct
    (doc_a, doc_b), doc_a < doc_b.

    A bucket of k docs emits k²/2 pairs, so one boilerplate-heavy hot
    bucket (empty pages, template text) could dominate the whole pass
    at crawl scale. Any (band, bucket) holding more than
    ``max_bucket_size`` distinct docs is therefore DROPPED whole, never
    truncated (``capped_item_sets``: state bounded by the cap before
    the collect), which bounds pairs by bands × Σ_{k ≤ cap} k²/2. Docs
    in a dropped bucket still pair wherever their OTHER bands collide.
    Bounded by default (cap 1000, as ``jaccard_pairs``);
    ``max_bucket_size=None`` pairs every bucket.

    Each bucket's membership is grouped once and pairs stream in-row
    (``pairs_in_group``), so the signature subtree is computed once
    with no bucket self-join."""
    buckets = capped_item_sets(
        _band_table(signatures, n_hashes, bands),
        ["band", "bucket"], "doc", max_bucket_size,
    )
    return (
        pairs_in_group(buckets)
        .select(F.col("a").alias("doc_a"), F.col("b").alias("doc_b"))
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Subquadratic near-dup pipeline: MinHash → LSH banding →
    candidate pairs → exact Jaccard verification on candidates only.
    This is the shape that survives 100 TB; the exact all-pairs join
    does not. A (band, bucket) holding more than ``max_bucket_size``
    distinct docs is dropped whole, never truncated (see
    ``lsh_candidates``); verification is always exact, so the cap can
    only skip pairs, never mis-score one."""
    # shingle ONCE: the materialized (doc, shingle-array) table feeds
    # both the signature branch and the verification branch (without
    # it, each branch re-tokenizes the corpus). materialize() picks
    # localCheckpoint locally, persist/reliable checkpoint on a
    # cluster (spark.php_etl.materialize).
    sets_df = materialize(_shingle_sets(df, text_col, id_col, n))
    sigs = _signatures_from_sets(sets_df, n_hashes)
    cands = lsh_candidates(sigs, n_hashes, bands, max_bucket_size)
    return _exact_jaccard_on_candidates(cands, sets_df, threshold)


def _signatures_from_sets(sets_df: DataFrame, n_hashes: int) -> DataFrame:
    """MinHash signatures from a (doc, sh) shingle-set table: one
    string hash per shingle, then n_hashes cheap long ops, min-folded
    by explode + groupBy (map-side combine collapses the shuffle to
    ~1 row/doc/partition — measured faster than per-row HOF folds,
    which are interpreted, not codegen'd)."""
    sh = sets_df.select("doc", F.explode("sh").alias("shingle")).withColumn(
        "base", F.pmod(F.xxhash64("shingle"), F.lit(_MERSENNE_P))
    )
    salts = _salts(n_hashes)
    return sh.groupBy("doc").agg(
        *[
            F.min(
                F.pmod(F.col("base") * F.lit(a) + F.lit(b), F.lit(_MERSENNE_P))
            ).alias(f"mh_{i}")
            for i, (a, b) in enumerate(salts)
        ]
    )


def _band_table(signatures: DataFrame, n_hashes: int, bands: int) -> DataFrame:
    """(doc, band, bucket) LSH band table: bucket = hash of the band's
    signature rows. docs × bands rows — the join key for candidate
    generation."""
    rows_per_band = n_hashes // bands
    band_cols = []
    for b in range(bands):
        cols = [
            F.col(f"mh_{i}")
            for i in range(b * rows_per_band, (b + 1) * rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(b).alias("band"), F.xxhash64(*cols).alias("bucket"))
        )
    return signatures.select(
        "doc", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def incremental_near_dup(
    corpus: DataFrame,
    batch: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    n_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Continuous-ingestion dedup: which NEW documents are near-dups
    of something ALREADY in the corpus — (new_doc, dup_of, jaccard)
    for exact Jaccard >= threshold among LSH band-bucket candidates.
    A corpus (band, bucket) holding more than ``max_bucket_size``
    distinct docs is dropped whole, never truncated
    (``capped_item_sets``, as in ``lsh_candidates``): a boilerplate
    bucket in a web-scale corpus would otherwise multiply against
    every batch. ``None`` keeps every bucket.

    The join is batch-bands × corpus-bands on (band, bucket) — never a
    corpus self-join, so per-increment cost scales with the BATCH (the
    corpus side is touched only where buckets collide). At production
    scale the corpus band table is the artifact you persist between
    runs (bucketed/partitioned by (band, bucket), appended per
    increment) so each new batch joins against it without recomputing
    corpus signatures; here both sides derive from the input frames so
    the operator is self-contained."""
    corpus_sets = materialize(_shingle_sets(corpus, text_col, id_col, n))
    batch_sets = materialize(_shingle_sets(batch, text_col, id_col, n))
    corpus_buckets = capped_item_sets(
        _band_table(
            _signatures_from_sets(corpus_sets, n_hashes), n_hashes, bands
        ),
        ["band", "bucket"], "doc", max_bucket_size,
    )
    batch_bands = _band_table(
        _signatures_from_sets(batch_sets, n_hashes), n_hashes, bands
    ).select(F.col("doc").alias("new_doc"), "band", "bucket")
    cands = (
        batch_bands.join(corpus_buckets, ["band", "bucket"])
        .select("new_doc", F.explode("ms").alias("dup_of"))
        .filter(F.col("new_doc") != F.col("dup_of"))
        .distinct()
    )
    sa = batch_sets.select(F.col("doc").alias("new_doc"), F.col("sh").alias("sh_a"))
    sb = corpus_sets.select(F.col("doc").alias("dup_of"), F.col("sh").alias("sh_b"))
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cands.join(sa, "new_doc")
        .join(sb, "dup_of")
        .select("new_doc", "dup_of", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash_table(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per document: explode tokens, hash each with
    xxhash64, let every bit vote ±1, take the sign vector as the
    fingerprint. One explode + one groupBy with 64 conditional sums —
    all JVM codegen, shuffle ∝ token count."""
    from php_etl_spark.llm.text import tokens

    par = df.sparkSession.sparkContext.defaultParallelism
    tok = df.repartition(par, id_col).select(
        F.col(id_col).alias("doc"), F.explode(tokens(text_col)).alias("t")
    ).withColumn("h", F.xxhash64("t"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(64)
    ]
    voted = tok.groupBy("doc").agg(*votes)
    packed = F.lit(0).cast("long")
    for i in range(64):
        packed = packed.bitwiseOR(
            F.when(F.col(f"v{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(
                F.lit(0).cast("long")
            )
        )
    return voted.select("doc", packed.alias("simhash"))


def hamming_near_pairs(
    fp: DataFrame,
    id_col: str = "doc",
    hash_col: str = "simhash",
    max_distance: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """GENERIC Hamming-ball search over any 64-bit fingerprint column
    (text SimHash, multimodal perceptual hash, ...): split 64 bits
    into max_distance+1 bands — any pair within the distance budget
    must agree exactly on >=1 band (pigeonhole), so candidates come
    from band-bucket membership, then exact popcount(xor)
    verification. Output (doc_a, doc_b, hamming), doc_a < doc_b;
    rows with a null id are ignored.

    A (band, bucket) holding more than ``max_bucket_size`` distinct
    (doc, fingerprint) members is dropped whole, never truncated
    (``capped_item_sets``: state bounded by the cap before the
    collect) — e.g. the all-zero band every boilerplate page shares
    would otherwise build one giant array in a single aggregation
    buffer. Docs in a dropped bucket still pair wherever their OTHER
    bands collide. ``max_bucket_size=None`` pairs every bucket.

    Each bucket's membership is grouped once and pairs stream in-row
    (``pairs_in_group``), so the fingerprint subtree (for
    ``simhash_pairs``, the 64-vote groupBy) is computed once with no
    bucket self-join."""
    n_bands = max_distance + 1
    width = 64 // n_bands
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col(hash_col), b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("bucket"),
        )
        for b in range(n_bands)
    ]
    banded = fp.filter(F.col(id_col).isNotNull()).select(
        F.struct(
            F.col(id_col).alias("doc"), F.col(hash_col).alias("simhash")
        ).alias("m"),
        F.explode(F.array(*bands)).alias("bb"),
    ).select("bb.band", "bb.bucket", "m")
    cands = (
        pairs_in_group(
            capped_item_sets(banded, ["band", "bucket"], "m", max_bucket_size)
        )
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    dist = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return cands.select("doc_a", "doc_b", dist.alias("hamming")).filter(
        F.col("hamming") <= max_distance
    )


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_distance: int = 3,
) -> DataFrame:
    """Hamming-near pairs via banded SimHash over text tokens — the
    text instantiation of ``hamming_near_pairs``."""
    return hamming_near_pairs(
        simhash_table(df, text_col, id_col),
        id_col="doc",
        hash_col="simhash",
        max_distance=max_distance,
    )


def duplicate_clusters(
    pairs: DataFrame,
    max_iter: int = 20,
    driver_cc_max_edges: int | None = 100_000,
) -> DataFrame:
    """Connected components over the duplicate-pair graph — the step
    that turns pairwise near-dup hits into keep/drop decisions (one
    representative per component). Alternating LARGE-STAR / SMALL-STAR
    contraction (Kiveris et al., "Connected Components in MapReduce
    and Beyond", SoCC\'14): each round every node hangs its larger
    (large-star) / not-larger (small-star) neighbors off the minimum
    of its neighborhood, so components contract toward their minimum
    node in O(log^2 n) rounds REGARDLESS of diameter — long chains
    (spatial DBSCAN clusters, linked entity graphs) converge in a
    handful of rounds where plain min-label propagation needs
    diameter rounds. Each star op is one aggregate + one join over
    the current edge set; materialize() truncates lineage per round.
    Edges stay canonical (src > dst), so convergence is a cheap
    set-equality probe.

    Input: (doc_a, doc_b) pairs. Output: (doc, cluster) where cluster
    is the component\'s minimum doc id (so ``doc == cluster`` marks
    the canonical keeper).

    Small-graph fast path (r13): once the distinct edge set is pinned,
    an edge count at or below ``driver_cc_max_edges`` routes to a
    driver-side union-find over the collected pairs — a BOUNDED
    collect (≤ 100k two-column rows ≈ a few MB, the same class as the
    codebook/scalar collects elsewhere) that replaces an O(log²)
    cascade of star-contraction jobs whose per-round fixed cost
    dominates exactly when the graph is tiny (Borůvka's quotient
    graphs shrink to single-digit edges while each contraction round
    still paid seconds of job overhead). The label is the component's
    minimum under SPARK's ordering (strings compare as UTF-8 bytes),
    so the output is bit-identical to the star-contraction path.
    Graphs above the bound take the distributed path unchanged;
    ``driver_cc_max_edges=None`` disables the fast path.
    """

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(
            e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).distinct()

    def _mins(sym_e: DataFrame) -> DataFrame:
        return (
            sym_e.groupBy("src")
            .agg(F.min("dst").alias("mn"))
            .select("src", F.least("src", "mn").alias("m"))
        )

    def _large_star(e: DataFrame) -> DataFrame:
        sym_e = _sym(e)
        js = sym_e.join(_mins(sym_e), "src")
        return (
            js.filter(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        sym_e = _sym(e)
        mins = _mins(sym_e)
        js = sym_e.join(mins, "src")
        return (
            js.filter(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
            .union(mins.select(F.col("src"), F.col("m").alias("dst")))
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )

    base = materialize(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    if (
        driver_cc_max_edges is not None
        and base.count() <= driver_cc_max_edges
    ):
        out = _duplicate_clusters_driver(base)
        unmaterialize(base)
        return out
    all_nodes = materialize(_sym(base).select(F.col("src").alias("node")).distinct())
    edges = base
    for _ in range(max_iter):
        new_edges = materialize(_small_star(_large_star(edges)))
        # convergence = multiset equality, probed as ONE job over the
        # two checkpointed frames (was two exceptAll jobs per round —
        # the probe is pure driver-round-trip overhead on converging
        # iterations, so halving its job count matters on long chains)
        changed = (
            edges.exceptAll(new_edges)
            .union(new_edges.exceptAll(edges))
            .limit(1)
            .count()
        )
        edges = new_edges
        if changed == 0:
            break
    final_mins = _mins(_sym(edges)).select(
        F.col("src").alias("node"), F.col("m").alias("cluster")
    )
    return (
        all_nodes.join(final_mins, "node", "left")
        .select(
            F.col("node").alias("doc"),
            F.coalesce("cluster", "node").alias("cluster"),
        )
    )


def _duplicate_clusters_driver(base: DataFrame) -> DataFrame:
    """Driver-side union-find over a BOUNDED, pinned (src, dst) edge
    frame — the small-graph fast path of :func:`duplicate_clusters`
    (caller enforces the edge bound). Output contract is identical to
    the star-contraction path: every node appearing in an edge, once,
    labeled with its component's minimum id under Spark's ordering —
    Python compares strings by code point while Spark's UTF8String
    compares unsigned bytes, so string ids are keyed by their UTF-8
    encoding for the min."""
    from pyspark.sql.types import StructField, StructType

    rows = base.collect()  # bounded: caller gates on edge count
    parent: dict = {}

    def find(x):
        root = x
        while parent.get(root, root) != root:
            root = parent[root]
        while parent.get(x, x) != x:
            parent[x], x = root, parent[x]
        return root

    nodes = set()
    for r in rows:
        a, b = r[0], r[1]
        nodes.add(a)
        nodes.add(b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb

    comps: dict = {}
    for v in nodes:
        comps.setdefault(find(v), []).append(v)

    def _k(v):
        # surrogatepass: a lone surrogate (possible in any JVM string,
        # which is unvalidated UTF-16) must key by its 3-byte UTF-8
        # encoding — the bytes UTF8String would carry — instead of
        # raising UnicodeEncodeError and failing the query (ADVICE r13)
        return v.encode("utf-8", "surrogatepass") if isinstance(v, str) else v

    out = []
    for members in comps.values():
        m = min(members, key=_k)
        out.extend((v, m) for v in members)
    out.sort(key=lambda t: _k(t[0]))
    dt = base.schema["src"].dataType
    schema = StructType(
        [StructField("doc", dt, True), StructField("cluster", dt, True)]
    )
    return base.sparkSession.createDataFrame(out, schema)


def cross_corpus_overlap(
    train: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_overlap: int = 5,
) -> DataFrame:
    """Contamination detection: n-gram overlap between a training
    corpus and an evaluation set. Output: (train_doc, eval_doc,
    n_shared) for pairs sharing >= min_overlap distinct shingles —
    the drop list for decontaminating pretraining data against
    benchmarks.

    Shape: inverted shingle index JOIN between the two corpora (never
    a self-join) — cost ∝ Σ_shingle df_train(s)·df_eval(s), and the
    eval side is benchmarks (tiny), so the join is effectively
    broadcast-size at any training-corpus scale."""
    tr = (
        _shingle_sets(train, text_col, id_col, n)
        .select(F.col("doc").alias("train_doc"), F.explode("sh").alias("shingle"))
    )
    ev = (
        _shingle_sets(eval_df, text_col, id_col, n)
        .select(F.col("doc").alias("eval_doc"), F.explode("sh").alias("shingle"))
    )
    return (
        tr.join(F.broadcast(ev), "shingle")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_overlap)
    )


def semantic_dedup(
    emb: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids_by: str = "hash",
    pairwise: str = "sql",
) -> DataFrame:
    """SemDeDup-shaped semantic deduplication (public method: Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): cluster embeddings, then drop vectors
    that have a higher-priority near-duplicate (cosine >= threshold)
    WITHIN their cluster. Priority = smaller id (deterministic winner
    at any parallelism).

    Scale shape — the reason this survives billions of vectors where
    all-pairs cosine cannot:
    - cluster assignment is a broadcast-codebook linear scan
      (similarity.ivf_assign: N x n_cells dot products, no shuffle of
      the vector side until the per-vector argmax window);
    - the quadratic pairwise step runs only WITHIN a cell, so its
      cost is sum(|cell|^2) — bounded by the cluster granularity knob
      exactly as in the paper, not by N^2;
    - integer-quantized dot products (similarity.quantize) keep the
      cosine bit-stable across engines and partitionings.

    Returns (vec_id, cell, kept): the full population labeled with
    its cell and the keep/drop decision.

    ``pairwise`` picks the within-cell engine:
    - ``"sql"`` (default): one interpreted dot-product fold per pair
      (higher-order array functions). Exact, oracle-parity, zero
      Python in the path.
    - ``"kernel"``: grouped Arrow batch per cell; numpy matmul over
      the quantized vectors in float64. BIT-IDENTICAL to the SQL
      path by construction: quantized components are integers
      |q| <= ~1.2e7, so every product and 64-dim dot stays an exact
      integer below 2^53 in float64 — matmul order cannot change it —
      and the final cosine divides the same integers by the same
      precomputed norms. ~10x faster per pair (vectorized C vs
      interpreted fold); the win when cells are large.
    """
    from php_etl_spark.llm import similarity as S

    if centroids_by == "kmeans":
        # the paper's actual recipe: k-means cells balance cluster
        # sizes, which directly bounds the Σ|cell|² pairwise cost
        centroids = S.codebook_as_centroids(
            S.kmeans_codebook(emb, k=n_cells, id_col=id_col, vec_col=vec_col)
        )
    else:
        centroids = S.ivf_centroids(
            emb, n_cells=n_cells, id_col=id_col, vec_col=vec_col, by=centroids_by
        )
    assign = S.ivf_assign(emb, centroids, nprobe=1, id_col=id_col, vec_col=vec_col)
    # pin the prepared-and-assigned table: it feeds the within-cell
    # pairwise branch AND the final keep/drop join (three consumers on
    # the SQL path), and un-pinned the whole quantize → broadcast-
    # codebook crossJoin → argmax-window subtree is physically
    # recomputed once per consumer (r13 plan read: nodes 1-28 ≡ 29-56
    # in dedup_semantic's plan). The pinned frame is (id, quantized
    # vector, norm, cell) — the bounded SemDeDup working set, never
    # the pair explosion.
    prep = materialize(
        S._prepared(emb, id_col, vec_col, "v").join(
            assign, on="v_id"
        )
    )  # (v_id, v_q, v_norm, cell)
    a = prep.select(
        F.col("v_id").alias("keep_cand"),
        F.col("v_q").alias("q_a"),
        F.col("v_norm").alias("n_a"),
        "cell",
    )
    b = prep.select(
        F.col("v_id").alias("drop_cand"),
        F.col("v_q").alias("q_b"),
        F.col("v_norm").alias("n_b"),
        "cell",
    )
    if pairwise == "kernel":
        drops = _semantic_drops_kernel(prep, threshold)
    else:
        cos = S.dot_q(F.col("q_a"), F.col("q_b")).cast("double") / (
            F.col("n_a") * F.col("n_b")
        )
        drops = (
            a.join(b, on="cell")
            .filter(F.col("keep_cand") < F.col("drop_cand"))
            .filter(cos >= F.lit(threshold))
            .select(F.col("drop_cand").alias("v_id"))
            .distinct()
        )
    return prep.join(
        drops.withColumn("__dropped", F.lit(True)), on="v_id", how="left"
    ).select(
        F.col("v_id").alias(id_col),
        "cell",
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("kept"),
    )


def _semantic_drops_kernel(prep: DataFrame, threshold: float) -> DataFrame:
    """Within-cell drop set via grouped Arrow batches: one pandas
    group per cell, numpy float64 matmul over the integer-quantized
    vectors. Exactness argument (why this equals the SQL fold bit for
    bit): quantized components are exact integers, products and
    64-dim dot sums stay integers < 2^53 — exactly representable in
    float64 under ANY summation order — and the cosine then divides
    those integers by the SAME precomputed norms the SQL path uses.
    Row blocks bound the Gram slab to block x |cell| so a hot cell
    never materializes |cell|^2 at once. Priority = smaller id, no
    cascade (a dropped vector still suppresses its successors), same
    as the SQL path."""
    import pandas as pd

    def find_drops(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        pdf = pdf.sort_values("v_id")
        ids = pdf["v_id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"v_id": ids[:0]})
        Q = np.asarray(pdf["v_q"].tolist(), dtype=np.float64)
        n = pdf["v_norm"].to_numpy(dtype=np.float64)
        dropped = np.zeros(len(ids), dtype=bool)
        block = 1024
        for s in range(0, len(ids), block):
            rows = Q[s : s + block]
            cos = (rows @ Q.T) / np.outer(n[s : s + block], n)
            hit = cos >= threshold
            # pair (i global=s+r, j) counts only when i < j
            j_idx = np.arange(len(ids))[None, :]
            i_idx = (s + np.arange(rows.shape[0]))[:, None]
            dropped |= (hit & (j_idx > i_idx)).any(axis=0)
        return pd.DataFrame({"v_id": ids[dropped]})

    return prep.select("cell", "v_id", "v_q", "v_norm").groupBy(
        "cell"
    ).applyInPandas(find_drops, schema="v_id long")


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Asymmetric near-dup: n-gram CONTAINMENT C(A in B) = |A∩B|/|A|
    (Broder's containment — catches a document embedded inside a
    larger one, which symmetric Jaccard misses because the union is
    dominated by the big doc). Output: one row per qualifying
    direction, (contained_doc, container_doc, containment).

    Candidate generation reuses the bounded inverted shingle index
    (same df-cutoff argument as ``jaccard_pairs``); each undirected
    candidate is scored once and emits up to two directed rows, so
    the scoring cost matches the Jaccard path."""
    sets_df = materialize(_shingle_sets(df, text_col, id_col, n))
    candidates = _shingle_index_pairs(sets_df, max_doc_freq)
    sa = sets_df.select(F.col("doc").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sets_df.select(F.col("doc").alias("doc_b"), F.col("sh").alias("sh_b"))
    scored = (
        candidates.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("double").alias("i"),
            F.size("sh_a").cast("double").alias("sz_a"),
            F.size("sh_b").cast("double").alias("sz_b"),
        )
    )
    # both directions come out of the one scored row: a union of two
    # selects over ``scored`` would build the index and joins twice
    directions = F.inline(
        F.array(
            F.struct(
                F.col("doc_a").alias("contained_doc"),
                F.col("doc_b").alias("container_doc"),
                (F.col("i") / F.col("sz_a")).alias("containment"),
            ),
            F.struct(
                F.col("doc_b").alias("contained_doc"),
                F.col("doc_a").alias("container_doc"),
                (F.col("i") / F.col("sz_b")).alias("containment"),
            ),
        )
    )
    return scored.select(directions).filter(F.col("containment") >= threshold)


def longest_duplicate_substrings(
    docs: DataFrame,
    k: int = 8,
    min_tokens: int = 20,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
    mode: str = "longest",
) -> DataFrame:
    """Longest exact duplicate substring per document pair — the
    suffix-array-free, distributed rendition of the ExactSubstr dedup
    in Lee et al. 2022 ("Deduplicating Training Data Makes Language
    Models Better", which builds a corpus suffix array on one big
    machine; a 100 TB corpus can't). Completes the exact-substring
    story next to the span blocklist (text_duplicate_spans) and
    winnowing fingerprints (docs_winnowing): those DETECT shared
    spans, this one MEASURES the longest shared run and locates it.

    Method — anchor chaining on the k-gram diagonal:
    1. every positional word k-gram hashes to an anchor (doc, pos, h);
    2. a df-capped inverted index self-join yields cross-doc anchor
       matches (doc_a < doc_b) — cost Σ df², bounded by ``max_df``;
    3. a common substring of L ≥ k tokens is EXACTLY a run of
       L - k + 1 consecutive anchors on one diagonal (pa - pb const),
       so per (pair, diagonal) the classic islands trick (pos minus
       row_number) groups each run, and the longest island per pair
       is the longest common substring: dup_tokens = island + k - 1.

    Exact modulo xxhash64 collisions (~2⁻⁶⁴ per anchor pair) and the
    df cap (a k-gram repeated in > max_df positions corpus-wide is
    boilerplate the blocklist removes first; the cap never binds at
    oracle scale, so the SQL oracle — which joins raw gram strings,
    no hash at all — proves the hashed pipeline end-to-end). Scale
    shape: one explode (tokens-k+1 anchors per doc), map-side-combined
    df counts, a bucket join bounded by the cap, and windows keyed by
    (pair, diagonal) — no all-pairs stage anywhere; ties break
    deterministically (smallest a_start, then b_start).

    Returns (doc_a, doc_b, a_start, b_start, dup_tokens) for pairs
    with dup_tokens ≥ ``min_tokens``; starts are 1-based token
    positions in the normalized token stream. ``mode="longest"``
    (default) reports one row per pair — the longest run with
    deterministic tie-breaks; ``mode="all"`` reports EVERY maximal
    run ≥ min_tokens (the input the removal step consumes)."""
    from pyspark.sql import Window as _W

    from php_etl_spark.llm import text as _text

    grams = (
        docs.select(F.col(id_col).alias("doc"), _text.tokens(F.col(text_col)).alias("tk"))
        .filter(F.size("tk") >= k)
        .select(
            "doc",
            F.posexplode(
                F.expr(
                    f"transform(sequence(1, size(tk) - {k - 1}),"
                    f" i -> xxhash64(concat_ws(' ', slice(tk, i, {k}))))"
                )
            ).alias("pos0", "h"),
        )
        .select("doc", (F.col("pos0") + 1).alias("pos"), "h")
    )
    # Each gram's (doc, pos) postings are grouped once and the
    # cross-doc (i < j) anchor pairs stream in-row: sorted by
    # (doc, pos), i < j on distinct docs is the doc_a < doc_b anchor
    # join. A gram with more than ``max_df`` postings is dropped whole.
    # The postings are collected before that check, without the rank
    # window of ``capped_item_sets``: its sort over every gram cost
    # this headline key 7% more work CPU at sf0.1 (4 vCPUs, two
    # interleaved pairs of min-of-5 timings).
    postings = (
        grams.groupBy("h")
        .agg(F.sort_array(F.collect_list(F.struct("doc", "pos"))).alias("ms"))
        .filter(F.size("ms") <= max_df)
    )
    anchors = (
        pairs_in_group(postings)
        .filter(F.col("a.doc") != F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.col("a.pos").alias("pa"),
            F.col("b.pos").alias("pb"),
            (F.col("a.pos") - F.col("b.pos")).alias("diag"),
        )
    )
    w = _W.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    islands = (
        anchors.withColumn("grp", F.col("pa") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pa").cast("int").alias("a_start"),
            F.min("pb").cast("int").alias("b_start"),
            (F.count("*") + F.lit(k - 1)).cast("int").alias("dup_tokens"),
        )
    )
    if mode == "all":
        return islands.filter(F.col("dup_tokens") >= min_tokens).select(
            "doc_a", "doc_b", "a_start", "b_start", "dup_tokens"
        )
    wp = _W.partitionBy("doc_a", "doc_b").orderBy(
        F.col("dup_tokens").desc(), "a_start", "b_start"
    )
    return (
        islands.withColumn("rn", F.row_number().over(wp))
        .filter((F.col("rn") == 1) & (F.col("dup_tokens") >= min_tokens))
        .select("doc_a", "doc_b", "a_start", "b_start", "dup_tokens")
    )


def exactsubstr_dedup_apply(
    docs: DataFrame,
    k: int = 8,
    min_tokens: int = 20,
    max_df: int = 1000,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """APPLY the exact-substring dedup — the removal step of Lee et
    al. 2022 (their ExactSubstr deletes every duplicated span ≥ the
    threshold from all-but-one occurrence; we keep the occurrence in
    the SMALLER doc id — the same first-wins rule the rest of this
    module uses). Consumes every maximal duplicate run from
    ``longest_duplicate_substrings(mode="all")``, keeps only the
    spans whose doc is the pair's LARGER id, merges overlapping spans
    per doc with the standard sweep (sort by start, running max of
    end, new island when a span starts past the running max), and
    rebuilds each document from the tokens outside every merged span.

    Scale shape: spans per doc are few and bounded by the df cap; the
    merge is a per-doc window; the rebuild joins each doc's merged
    span LIST back as one array column and filters the token array
    with a higher-order lambda — narrow, no token-level shuffle.

    Returns (doc_id, n_tokens_before, n_tokens_removed, kept_md5)
    where kept_md5 is md5 of the space-joined surviving tokens (the
    cross-engine value the oracle can recompute)."""
    from pyspark.sql import Window as _W

    from php_etl_spark.llm import text as _text

    spans = longest_duplicate_substrings(
        docs, k=k, min_tokens=min_tokens, max_df=max_df,
        id_col=id_col, text_col=text_col, mode="all",
    ).select(
        F.col("doc_b").alias("doc"),
        F.col("b_start").alias("s"),
        (F.col("b_start") + F.col("dup_tokens") - 1).alias("e"),
    )
    w = _W.partitionBy("doc").orderBy("s", "e")
    prev_max = F.max("e").over(w.rowsBetween(_W.unboundedPreceding, -1))
    merged = (
        spans.withColumn(
            "new_island",
            F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
        )
        .withColumn(
            "grp",
            F.sum("new_island").over(
                w.rowsBetween(_W.unboundedPreceding, 0)
            ),
        )
        .groupBy("doc", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc")
        .agg(
            F.sort_array(F.collect_list(F.struct("s", "e"))).alias("cuts")
        )
    )
    toks = docs.select(
        F.col(id_col).alias("doc"), _text.tokens(F.col(text_col)).alias("tk")
    )
    joined = toks.join(merged, "doc", "left").select(
        "doc",
        "tk",
        F.coalesce(
            "cuts", F.expr("CAST(array() AS array<struct<s:int,e:int>>)")
        ).alias("cuts"),
    )
    # sequence(1, 0) runs DESCENDING in Spark — guard empty docs with
    # an explicit empty list (same trap word_shingles documents)
    positions = F.when(
        F.size("tk") > 0, F.sequence(F.lit(1), F.size("tk"))
    ).otherwise(F.expr("CAST(array() AS array<int>)"))
    kept = F.filter(
        F.zip_with(
            F.col("tk"),
            positions,
            lambda t, p: F.struct(t.alias("t"), p.alias("p")),
        ),
        lambda tp: ~F.exists(
            F.col("cuts"),
            lambda c: (tp["p"] >= c["s"]) & (tp["p"] <= c["e"]),
        ),
    )
    return joined.select(
        F.col("doc").alias("doc_id"),
        F.size("tk").alias("n_tokens_before"),
        (F.size("tk") - F.size(kept)).alias("n_tokens_removed"),
        F.md5(
            F.concat_ws(" ", F.transform(kept, lambda tp: tp["t"]))
        ).alias("kept_md5"),
    )
