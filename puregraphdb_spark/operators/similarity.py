"""Scale-path dedup & similarity operators (SURVEY §7.3; driver brief's
LLM-pipeline families): MinHash+LSH near-dup detection, SimHash,
n-gram Jaccard, and random-hyperplane LSH for approximate nearest
neighbors over embeddings.

Everything is pure Column expressions (higher-order functions +
xxhash64) — no Python UDFs anywhere, so every stage stays in
whole-stage codegen. The 100-TB shape of each operator:

- signatures: embarrassingly parallel map over the corpus (0 shuffles).
- LSH banding: explode to (band, bucket) — flatMap, no shuffle.
- candidate pairs: ONE shuffle on (band, bucket); only intra-bucket
  pairs are generated, never the O(n²) cross join.
- verification/re-rank: map-side over candidate pairs.

Skew note: a degenerate bucket (e.g. all-empty docs) explodes the pair
join; ``max_bucket_size`` drops such buckets, the standard guardrail in
web-scale dedup pipelines.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from puregraphdb_spark.functions.vector import (
    cosine_similarity, dot, l2_norm,
)


# ---------------------------------------------------------------------------
# shingling + MinHash
# ---------------------------------------------------------------------------


def tokens(text_col: str | F.Column) -> F.Column:
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def shingles(text_col: str | F.Column, k: int = 3) -> F.Column:
    """k-token shingles as strings. Documents shorter than k tokens get
    one whole-document shingle (so they still hash somewhere)."""
    toks = tokens(text_col)
    n = F.size(toks)
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(n - k, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    return F.when(n > 0, sh).otherwise(F.array(F.lit("")))


def minhash_signature(text_col: str | F.Column, num_hashes: int = 64,
                      k: int = 3) -> F.Column:
    """num_hashes-wide MinHash signature over k-token shingles.

    Each component j is min over shingles of xxhash64(shingle, j) — the
    standard per-permutation min under a salted hash family. One array
    column; all JVM-side.
    """
    sh = shingles(text_col, k)

    # NB: closures must go through a function arg — a default-arg lambda
    # (lambda s, j=j: ...) has arity 2, which pyspark's HOF binding
    # would interpret as the (element, index) form, silently rebinding
    # j to the array index.
    def component(j: int) -> F.Column:
        return F.array_min(F.transform(sh, lambda s: F.xxhash64(s, F.lit(j))))

    return F.array(*[component(j) for j in range(num_hashes)])


def minhash_signatures(docs: DataFrame, id_col: str = "doc_id",
                       text_col: str = "text", num_hashes: int = 64,
                       k: int = 3) -> DataFrame:
    """(id, signature array<long>) per document — 0 shuffles.

    The shingle array is STAGED as its own projection column before
    the per-permutation mins (node2vec round-9 lesson): inlining
    ``minhash_signature`` makes Catalyst re-evaluate the whole
    shingle-construction tree (split → slice → join → transform) once
    PER HASH COMPONENT — 64 shinglings per document instead of one.
    A non-cheap alias referenced num_hashes times survives
    CollapseProject, so construction runs once and the 64 components
    only pay their own transform+min. Same hashes, bit-identical
    signatures; measured sf1 below (SCALECHECK round 9).
    """

    def component(j: int) -> F.Column:
        # NB: closure through a function arg — a default-arg lambda
        # would be arity-2 and rebind j to the HOF's array index.
        return F.array_min(
            F.transform(F.col("__sh"), lambda s: F.xxhash64(s, F.lit(j))))

    return (
        docs.select(F.col(id_col).alias("id"),
                    shingles(text_col, k).alias("__sh"))
        .select(
            "id",
            F.array(*[component(j) for j in range(num_hashes)])
            .alias("sig"),
        )
    )


def lsh_bands(sigs: DataFrame, bands: int = 16, rows_per_band: int = 4) -> DataFrame:
    """Explode signatures into (id, band, bucket) — bucket = hash of the
    band's signature slice. bands·rows_per_band must equal the signature
    width. flatMap only; the shuffle happens at the consumer's groupBy."""
    band_cols = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                F.concat_ws(",", *[F.element_at("sig", b * rows_per_band + r + 1)
                                   for r in range(rows_per_band)])
            ).alias("bucket"),
        )
        for b in range(bands)
    ])
    return (
        sigs.select("id", F.explode(band_cols).alias("bb"))
        .select("id", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))
    )


def allpairs_jaccard_join(shingled: DataFrame,
                          threshold_num: int = 3,
                          threshold_den: int = 5,
                          id_col: str = "doc_id",
                          set_col: str = "sh",
                          share_prefix: bool = True) -> DataFrame:
    """EXACT all-pairs set-similarity join via prefix filtering — the
    Bayardo et al. (WWW'07) / PPJoin family, Spark-first: every pair
    with Jaccard ≥ num/den, WITHOUT the O(n²) pair enumeration and
    WITHOUT MinHash's false negatives.

    Prefix lemma: order every token set by a GLOBAL total order
    (document frequency ascending, token ascending — rare tokens
    first). If J(a,b) ≥ t then |a∩b| ≥ ⌈t·max(|a|,|b|)⌉, and two
    sets whose (|s| − ⌈t·|s|⌉ + 1)-prefixes are disjoint can share
    at most ⌈t·|s|⌉ − 1 tokens — contradiction. So joining PREFIX
    tokens only is lossless, and the rare-first order makes prefix
    collisions scarce. ⌈t·n⌉ is exact integer arithmetic
    ((n·num + den − 1) div den); the final threshold test is the
    cross-multiplication i·den ≥ u·num on bigints — no float
    appears anywhere in candidate generation or selection.

    Scale: df-rank the vocabulary once (one token-grain aggregate;
    the vocab relation is |distinct tokens| — for char-3-grams a
    bounded alphabet³, broadcastable at any corpus size); per-doc
    prefix extraction is one window on the id key; candidates come
    from ONE equi-join on prefix tokens (the token grain is the
    natural skew guard: a token this frequent is by construction
    NOT in many prefixes); verification joins the two set arrays
    back and pays one array_intersect per SURVIVING candidate. The
    oracle for q176 runs the naive inverted-index all-pairs — the
    hash-match PROVES the prefix filter loses nothing.
    """
    t_num, t_den = threshold_num, threshold_den
    sh = shingled.select(
        F.col(id_col).alias("id"), F.col(set_col).alias("sh"),
        F.size(set_col).alias("n"),
    ).filter(F.col("n") > 0)
    tok = sh.select("id", "n", F.explode("sh").alias("g"))
    df_rank = (
        tok.groupBy("g").agg(F.count("*").alias("df"))
    )
    ranked = tok.join(F.broadcast(df_rank), "g")
    w = Window.partitionBy("id").orderBy("df", "g")
    # L = n − ceil(t·n) + 1, ceil in exact integers
    L = (F.col("n")
         - F.expr(f"(n * {t_num} + {t_den} - 1) div {t_den}")
         + F.lit(1))
    # The candidate self-join plans one INSTANCE of the prefix
    # relation per side, and each instance replays the derivation
    # (scan → explode → df join → rank window) — the Graph.find
    # share_edges situation. Materializing once (localCheckpoint,
    # lazy) feeds both sides from the ~(1−t)-sized materialization.
    # MEASURED at sf0.1 (r13, interleaved best-of-4): shared
    # 3.87–4.74 s vs unshared 3.88–4.26 s — a wash, because at this
    # scale every join broadcasts and the replay is cheap. The
    # sharing is kept as the DEFAULT for the scale regime it exists
    # for: when the rank window is a wide shuffle over the full
    # token stream, replaying it doubles the heaviest stage, while
    # the materialization costs one write of the small prefix
    # relation. The SET relation `sh` is deliberately NOT shared:
    # its replay is a pure map over the scan (pushdown intact, the
    # find raw-scan rule) while materializing it would spill the
    # full shingle corpus.
    prefix = (
        ranked.withColumn("pos", F.row_number().over(w))
        .filter(F.col("pos") <= L)
        .select("id", "g")
    )
    if share_prefix:
        prefix = prefix.localCheckpoint(eager=False)
    cand = (
        prefix.select(F.col("id").alias("a"), "g")
        .join(prefix.select(F.col("id").alias("b"), "g"), "g")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"),
                   F.col("n").alias("na"))
    sb = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"),
                   F.col("n").alias("nb"))
    i = F.size(F.array_intersect("sh_a", "sh_b"))
    verified = (
        cand.join(sa, "a").join(sb, "b")
        # Generate barrier (r14, same as q63): a plain alias lets
        # predicate pushdown substitute the intersect into the
        # threshold filter and fold it into the join condition —
        # evaluated once there and twice more in the i/u output
        # projections. explode(array(i)) pins ONE evaluation per
        # candidate; the filter stays above the Generate because it
        # references the generated column.
        .select("a", "b", "na", "nb",
                F.explode(F.array(i)).alias("i"))
        .select("a", "b", "i",
                (F.col("na") + F.col("nb") - F.col("i")).alias("u"))
        .filter(F.col("i") * t_den >= F.col("u") * t_num)
    )
    from puregraphdb_spark.functions.numeric import decimal_round

    return verified.select(
        "a", "b",
        decimal_round(
            F.col("i").cast("double") / F.col("u").cast("double"),
            6, grid=10).alias("jac"),
    )


def q176_allpairs_jaccard(spark, sf_dir: str) -> DataFrame:
    """ORACLED prefix-filtered all-pairs Jaccard ≥ 0.6 over the
    doc_id % 20 sample (see ``allpairs_jaccard_join``; char-3-gram
    sets, the q63 shingle grain). The DuckDB oracle computes the
    NAIVE inverted-index all-pairs join — the hash-match is a proof
    on real data that prefix filtering drops no qualifying pair."""
    from puregraphdb_spark.operators.llm import char_ngram_set
    from puregraphdb_spark.sources.registry import final_sort, load_table

    d = load_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 20 == 0)
    sh = d.select("doc_id", char_ngram_set(F.col("text")).alias("sh"))
    return final_sort(
        allpairs_jaccard_join(sh), spark, sf_dir, "documents",
        "a", "b")


def near_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                   text_col: str = "text", num_hashes: int = 64,
                   bands: int = 16, k: int = 3,
                   jaccard_threshold: float = 0.5,
                   max_bucket_size: int = 1000) -> DataFrame:
    """Near-duplicate candidate pairs (a < b) with their estimated
    Jaccard similarity (signature agreement fraction), filtered to
    ``jaccard_threshold``.

    Pipeline: signatures (map) → band buckets (flatMap) → intra-bucket
    self-join (the ONLY wide op, keyed on (band, bucket)) → distinct
    pairs → signature-agreement verification (map). Buckets larger than
    ``max_bucket_size`` are dropped (skew guardrail — a pathological
    bucket would otherwise generate |bucket|² pairs).
    """
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be divisible by bands "
            f"({bands}); otherwise trailing signature components would "
            "be silently ignored, weakening recall."
        )
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(docs, id_col, text_col, num_hashes, k)
    bb = lsh_bands(sigs, bands, rows_per_band)
    sized = bb.withColumn(
        "bsize", F.count("*").over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("bsize") <= max_bucket_size)
    left = sized.select(F.col("id").alias("a"), "band", "bucket")
    right = sized.select(F.col("id").alias("b"), "band", "bucket")
    pairs = (
        left.join(right, ["band", "bucket"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sigs.select(F.col("id").alias("a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("id").alias("b"), F.col("sig").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    ) / F.lit(num_hashes)
    return (
        pairs.join(sa, "a").join(sb, "b")
        # Generate barrier (r14, the q63 lesson): as a plain alias the
        # threshold filter folds into the signature join condition and
        # the 64-element agreement fold (an interpreted HOF) runs
        # twice per candidate pair.
        .select("a", "b",
                F.explode(F.array(est)).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= jaccard_threshold)
    )


def dedup_minhash(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", **kwargs) -> DataFrame:
    """Near-dup clusters: connected components over the near-dup pair
    graph; keeper = min id per cluster. Returns (id, keep_id); rows only
    for documents that belong to some duplicate cluster.

    Composition: near_dup_pairs → Graph.connected_components (the
    reference's own graph machinery doing LLM-pipeline work).
    """
    from puregraphdb_spark.operators.graph import Graph

    pairs = near_dup_pairs(docs, id_col, text_col, **kwargs)
    ids = (
        pairs.select(F.col("a").alias("id"))
        .unionByName(pairs.select(F.col("b").alias("id")))
        .distinct()
    )
    g = Graph(ids, pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    return g.connected_components().select(
        "id", F.col("component").alias("keep_id")
    )


def apply_dedup(docs: DataFrame, id_col: str = "doc_id",
                text_col: str = "text", **kwargs) -> DataFrame:
    """End-to-end corpus dedup: near-dup clustering, then keep ONE
    document per cluster (the min-id keeper) plus every unclustered
    document — corpus in, cleaned corpus out, original schema.

    Scale: the cluster map is one row per DUPLICATED document (≪ the
    corpus for real data); the left join on the id key broadcasts when
    the map is small and falls back to a keyed shuffle join past the
    threshold — no hint, the planner decides.
    """
    clusters = dedup_minhash(docs, id_col, text_col, **kwargs)
    return (
        docs.join(
            clusters.withColumnRenamed("id", id_col), id_col, "left"
        )
        .filter(
            F.col("keep_id").isNull() | (F.col("keep_id") == F.col(id_col))
        )
        .drop("keep_id")
    )


# ---------------------------------------------------------------------------
# SimHash + n-gram Jaccard
# ---------------------------------------------------------------------------


def simhash(text_col: str | F.Column, bits: int = 64) -> F.Column:
    """SimHash fingerprint: per-bit majority vote over token hashes,
    packed into one long. Near-duplicate docs differ in few bits
    (compare with ``hamming_distance``)."""
    toks = tokens(text_col)
    def vote(i: int) -> F.Column:
        return F.aggregate(
            toks,
            F.lit(0).cast("long"),
            lambda acc, t: acc
            + (F.shiftright(F.xxhash64(t), i).bitwiseAND(F.lit(1)) * 2 - 1),
        )

    bit_votes = [vote(i) for i in range(bits)]
    out = F.lit(0).cast("long")
    for i, v in enumerate(bit_votes):
        # bit weight via shiftleft, NOT a Python 2**i literal: 2**63
        # exceeds Long.MAX_VALUE and fails literal folding, while
        # shiftleft wraps into the sign bit correctly at i=63.
        weight = F.shiftleft(F.lit(1).cast("long"), i)
        out = out + F.when(v > 0, weight).otherwise(F.lit(0).cast("long"))
    return out


def hamming_distance(a: str | F.Column, b: str | F.Column) -> F.Column:
    ca = F.col(a) if isinstance(a, str) else a
    cb = F.col(b) if isinstance(b, str) else b
    return F.bit_count(ca.bitwiseXOR(cb))


def simhash_near_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                           text_col: str = "text", bits: int = 64,
                           max_hamming: int = 3,
                           max_bucket_size: int = 1000) -> DataFrame:
    """EXACT near-duplicate pairs (a < b) under SimHash Hamming distance
    ≤ ``max_hamming`` — Hamming-LSH with guaranteed recall.

    The ``bits``-wide fingerprint is split into ``max_hamming + 1``
    disjoint blocks; two fingerprints within ``max_hamming`` differing
    bits must agree on at least one whole block (pigeonhole), so
    joining on (block index, block value) finds EVERY true pair, and
    the exact ``bit_count(xor)`` filter removes false candidates —
    recall 1.0, precision 1.0, never an all-pairs join.

    100-TB shape: fingerprint is a pure map; block explode is a
    flatMap; ONE shuffle on (block, value); ``max_bucket_size`` drops
    degenerate buckets (e.g. all-empty docs collapsing to one value)
    exactly like ``near_dup_pairs`` does for MinHash bands.
    Returns (a, b, hamming).
    """
    nblocks = max_hamming + 1
    if bits % nblocks != 0:
        raise ValueError(
            f"bits ({bits}) must be divisible by max_hamming+1 "
            f"({nblocks}) so blocks partition the fingerprint"
        )
    width = bits // nblocks
    mask = F.lit((1 << width) - 1).cast("long")
    sh = docs.select(
        F.col(id_col).alias("id"), simhash(text_col, bits).alias("sh")
    )
    block_cols = F.array(*[
        F.struct(
            F.lit(i).alias("blk"),
            F.shiftrightunsigned("sh", i * width).bitwiseAND(mask)
            .alias("val"),
        )
        for i in range(nblocks)
    ])
    bb = sh.select("id", F.explode(block_cols).alias("b")).select(
        "id", F.col("b.blk").alias("blk"), F.col("b.val").alias("val")
    )
    sized = bb.withColumn(
        "bsize", F.count("*").over(Window.partitionBy("blk", "val"))
    ).filter(F.col("bsize") <= max_bucket_size)
    left = sized.select(F.col("id").alias("a"), "blk", "val")
    right = sized.select(F.col("id").alias("b"), "blk", "val")
    pairs = (
        left.join(right, ["blk", "val"])
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
        .distinct()
    )
    sa = sh.select(F.col("id").alias("a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("id").alias("b"), F.col("sh").alias("sh_b"))
    return (
        pairs.join(sa, "a").join(sb, "b")
        .select(
            "a", "b",
            hamming_distance("sh_a", "sh_b").cast("long").alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def ngram_jaccard(a_text: F.Column, b_text: F.Column, k: int = 3) -> F.Column:
    """Exact k-shingle Jaccard similarity between two text columns —
    the verification metric for MinHash candidates."""
    sa = F.array_distinct(shingles(a_text, k))
    sb = F.array_distinct(shingles(b_text, k))
    inter = F.size(F.array_intersect(sa, sb))
    return inter / (F.size(sa) + F.size(sb) - inter)


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse k-means quantizer + cluster-probed search
# ---------------------------------------------------------------------------


def _centroid_relation(spark, centroids: list[list[float]]) -> DataFrame:
    """Centroid model state as a 1-ROW broadcastable relation:
    ``cents: array<struct<idx:int, vec:array<double>, nrm:double>>``.

    This is the k-scaling fix (VERDICT r4): folding k centroids into
    the plan as literals (a per-centroid ``F.when`` chain or k struct
    literals) grows the expression tree and generated code O(k·dim) —
    fine at k≤64, fatal at realistic IVF k (thousands). Here the k×dim
    floats live as DATA inside a broadcast 1-row relation; the plan
    holds one column reference, so plan/codegen size is flat in k
    (pinned by tests/test_similarity_text.py::test_ivf_plan_size_flat_in_k).
    """
    rows = [
        [(i, c, math.sqrt(sum(x * x for x in c)) or 1.0)
         for i, c in enumerate(centroids)]
    ]
    return spark.createDataFrame(
        [(rows[0],)],
        "cents array<struct<idx:int,vec:array<double>,nrm:double>>",
    )


def _centroid_scores(emb_col: str | F.Column,
                     cents_col: F.Column) -> F.Column:
    """Per-centroid cosine numerators as array<struct<s, idx>> — one
    JVM higher-order pass over the centroid array. The query-vector
    norm is a common positive factor across centroids, so for
    argmax/top-nprobe ranking dot/|c| (dropping |emb|) orders
    identically and saves one sqrt per row."""
    c = F.col(emb_col) if isinstance(emb_col, str) else emb_col
    emb_d = c.cast("array<double>")
    return F.transform(
        cents_col,
        lambda ct: F.struct(
            (
                F.aggregate(
                    F.zip_with(emb_d, ct["vec"], lambda x, y: x * y),
                    F.lit(0.0), lambda a, x: a + x,
                ) / ct["nrm"]
            ).alias("s"),
            ct["idx"].alias("idx"),
        ),
    )


def _with_nearest_centroid(df: DataFrame, centroids: list[list[float]],
                           emb_col: str = "embedding",
                           out_col: str = "cluster") -> DataFrame:
    """Attach argmax-cosine centroid index — broadcast the 1-row
    centroid relation (BroadcastNestedLoopJoin against ONE row: a
    map-side column append, no row explosion, no shuffle), then a
    single transform + array_max. Ties keep the smallest idx (the
    struct max orders by (s, -idx))."""
    spark = df.sparkSession
    joined = df.crossJoin(F.broadcast(_centroid_relation(spark, centroids)))
    scored = F.transform(
        _centroid_scores(emb_col, F.col("cents")),
        lambda t: F.struct(t["s"].alias("s"), (-t["idx"]).alias("nidx")),
    )
    return joined.withColumn(
        out_col, (-F.array_max(scored)["nidx"]).cast("int")
    ).drop("cents")


def kmeans_centroids(corpus: DataFrame, emb_col: str = "embedding",
                     id_col: str = "vec_id", k: int = 16,
                     iters: int = 3, dim: int = 64) -> list[list[float]]:
    """Deterministic coarse quantizer: k seeds picked by hash order,
    refined with ``iters`` Lloyd steps. Each step is one pass over the
    corpus (assign = map with centroid literals; update = posexplode +
    groupBy(cluster, dim) avg). Centroids are MODEL STATE (k×dim
    floats) — collecting them to the driver is parameter traffic, not
    a data collect.
    """
    # One cached projection feeds the seed scan AND every Lloyd step:
    # without it each iteration re-derives the corpus lineage from
    # scratch (at 100 TB that is a full re-scan per step; VERDICT r6).
    proj = corpus.select(
        F.col(id_col), F.col(emb_col).cast("array<double>").alias(emb_col)
    ).persist()
    try:
        seeds = (
            proj.orderBy(F.xxhash64(F.col(id_col).cast("string")))
            .limit(k)
            .collect()
        )
        cents = [list(r[1]) for r in seeds]
        for _ in range(iters):
            assigned = _with_nearest_centroid(proj, cents, emb_col).select(
                "cluster",
                F.posexplode(emb_col).alias("pos", "val"),
            )
            means = (
                assigned.groupBy("cluster", "pos")
                .agg(F.avg("val").alias("m"))
                .collect()
            )
            new = [list(c) for c in cents]  # empty clusters keep their seed
            by_cluster: dict[int, dict[int, float]] = {}
            for r in means:
                by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
            for ci, dims in by_cluster.items():
                new[ci] = [dims.get(p, 0.0) for p in range(dim)]
            cents = new
    finally:
        proj.unpersist()
    return cents


def ivf_assign(corpus: DataFrame, centroids: list[list[float]],
               emb_col: str = "embedding") -> DataFrame:
    """Attach the inverted-file cluster id (pure map via the broadcast
    centroid relation; at scale this is the write-time partition key of
    the vector table — see write_ivf_index)."""
    return _with_nearest_centroid(corpus, centroids, emb_col)


def ivf_cosine_topk(queries: DataFrame, corpus: DataFrame,
                    centroids: list[list[float]], k: int = 10,
                    nprobe: int = 2, id_col: str = "vec_id",
                    emb_col: str = "embedding") -> DataFrame:
    """IVF search: probe each query's ``nprobe`` nearest clusters,
    exact-cosine re-rank inside them. ONE shuffle keyed on cluster id;
    recall is tuned by nprobe (nprobe = k_clusters → exhaustive).
    Returns (src, vec_id, cos_sim, rn ≤ k).

    A ``corpus`` that already carries a ``cluster`` column (a persisted
    index read back via read_ivf_index) is served as-is — no re-assign
    pass; with the index written cluster-partitioned, the probe join's
    broadcast side drives dynamic partition pruning on the vector
    files.
    """
    spark = queries.sparkSession
    # nprobe nearest clusters per query: sort the per-centroid score
    # array desc, slice — one HOF pass, centroids stay a broadcast
    # relation (plan size flat in k).
    q = (
        queries.crossJoin(F.broadcast(_centroid_relation(spark, centroids)))
        .select(
            F.col(id_col).alias("src"),
            F.col(emb_col).alias("q_emb"),
            F.explode(
                F.slice(
                    F.sort_array(
                        _centroid_scores(emb_col, F.col("cents")), asc=False
                    ),
                    1, nprobe,
                )
            ).alias("probe"),
        )
        .select("src", "q_emb", F.col("probe.idx").alias("cluster"))
    )
    if "cluster" in corpus.columns:
        c = corpus.select(F.col(id_col), F.col(emb_col),
                          F.col("cluster").cast("int").alias("cluster"))
    else:
        c = ivf_assign(corpus, centroids, emb_col).select(
            F.col(id_col), F.col(emb_col), "cluster"
        )
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), id_col)
    return (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col(id_col) != F.col("src"))
        .select(
            "src", id_col,
            cosine_similarity("q_emb", emb_col).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def write_ivf_index(corpus: DataFrame, centroids: list[list[float]],
                    path: str, id_col: str = "vec_id",
                    emb_col: str = "embedding") -> None:
    """Persist the inverted file: the vector table partitioned by
    cluster id (``{path}/vectors/cluster=N/``) plus the centroid table
    (``{path}/centroids``).

    The cluster-directory layout is the point: a probe of nprobe
    clusters reads ONLY those directories (static pruning when the
    clusters are literals, dynamic partition pruning from the
    broadcast probe side otherwise) — at 1B vectors a 2-of-256 probe
    touches <1% of the files.
    """
    import os

    from puregraphdb_spark.sources.registry import write_partitioned

    assigned = ivf_assign(corpus, centroids, emb_col)
    write_partitioned(assigned, os.path.join(path, "vectors"),
                      partition_by=["cluster"])
    cdf = corpus.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, cvec array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids")
    )


def read_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Read a persisted IVF index back: (cluster-carrying vector
    DataFrame, centroid model state). The centroid read is k×dim
    parameter traffic, mirroring kmeans_centroids' contract."""
    import os

    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    cents = spark.read.parquet(os.path.join(path, "centroids")).orderBy(
        "cluster"
    ).collect()
    return vectors, [list(r["cvec"]) for r in cents]


def append_to_ivf_index(new_vectors: DataFrame, path: str,
                        id_col: str = "vec_id",
                        emb_col: str = "embedding") -> int:
    """Append vectors to a persisted IVF index: assign each to its
    nearest EXISTING centroid and append into that cluster's partition
    directory. Cheap (pure map + partitioned append, no shuffle, no
    clustering) — the write-side half of index maintenance. Appends
    make centroids drift from their member means; ``refresh_ivf_index``
    is the read-repair. Returns the number of vectors appended.
    """
    import os

    spark = new_vectors.sparkSession
    vectors, cents = read_ivf_index(spark, path)
    # match the stored embedding dtype exactly — a float/double mix in
    # one partition directory breaks schema merge on read
    stored_type = vectors.schema[emb_col].dataType
    assigned = ivf_assign(
        new_vectors.select(F.col(id_col),
                           F.col(emb_col).cast(stored_type).alias(emb_col)),
        cents, emb_col)
    n = assigned.count()
    assigned.write.mode("append").partitionBy("cluster").parquet(
        os.path.join(path, "vectors"))
    return n


def ivf_drift_report(spark, path: str,
                     emb_col: str = "embedding") -> list[dict]:
    """Per-cluster drift of a persisted IVF index: how far each stored
    centroid sits from its CURRENT member mean (1 − cosine). One
    distributed pass (posexplode + per-(cluster, dim) avg — map-side
    combine, one shuffle); the report itself is k rows of model state
    (k×dim parameter traffic, kmeans_centroids' contract), returned as
    driver-side dicts with the recomputed means attached so a refresh
    can reuse them without a second corpus scan.
    """
    vectors, cents = read_ivf_index(spark, path)
    dim = len(cents[0])
    stats = (
        vectors.select("cluster", F.posexplode(emb_col).alias("pos", "val"))
        .groupBy("cluster", "pos")
        .agg(F.avg("val").alias("m"), F.count("*").alias("n"))
        .collect()
    )
    by_cluster: dict[int, dict[int, float]] = {}
    counts: dict[int, int] = {}
    for r in stats:
        by_cluster.setdefault(r["cluster"], {})[r["pos"]] = r["m"]
        counts[r["cluster"]] = r["n"]
    report = []
    for ci, cent in enumerate(cents):
        dims = by_cluster.get(ci)
        if not dims:
            report.append({"cluster": ci, "n_vecs": 0, "drift": 0.0,
                           "mean": list(cent)})
            continue
        mean = [dims.get(p, 0.0) for p in range(dim)]
        num = sum(a * b for a, b in zip(cent, mean))
        na = math.sqrt(sum(a * a for a in cent))
        nb = math.sqrt(sum(b * b for b in mean))
        cos = num / (na * nb) if na > 0 and nb > 0 else 1.0
        report.append({"cluster": ci, "n_vecs": counts[ci],
                       "drift": 1.0 - cos, "mean": mean})
    return report


def refresh_ivf_index(spark, path: str, drift_threshold: float = 0.02,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding") -> dict:
    """Incremental re-clustering of a persisted IVF index: update only
    the centroids whose member mean drifted past ``drift_threshold``
    (1 − cosine) and re-assign ONLY the members of those clusters
    against the updated centroid set. Stable clusters keep their files
    untouched — at 1B vectors a refresh after localized appends
    rewrites a handful of partition directories, not the index.

    Write path: the union of (unchanged members of destination
    clusters + re-assigned vectors) is written with DYNAMIC partition
    overwrite, so exactly the affected ``cluster=N`` directories are
    replaced; a drifted cluster left empty is deleted through the
    Hadoop FS API (works on file:/ and object stores). The swap is
    per-partition-atomic on rename-based filesystems; on S3-class
    stores layer the generation-manifest committer
    (operators/rollup.py) underneath — same seam as rollup compaction.

    Returns {"refreshed": [cluster ids], "n_reassigned": int,
    "n_moved": int, "max_drift": float}.
    """
    import os

    report = ivf_drift_report(spark, path, emb_col)
    max_drift = max((r["drift"] for r in report), default=0.0)
    drifted = [r["cluster"] for r in report
               if r["n_vecs"] > 0 and r["drift"] > drift_threshold]
    if not drifted:
        return {"refreshed": [], "n_reassigned": 0, "n_moved": 0,
                "max_drift": max_drift}

    vectors, cents = read_ivf_index(spark, path)
    new_cents = [r["mean"] if r["cluster"] in set(drifted)
                 else list(cents[r["cluster"]]) for r in report]
    members = vectors.filter(F.col("cluster").isin(drifted)).select(
        F.col(id_col), F.col(emb_col))
    moved = ivf_assign(members, new_cents, emb_col).persist()
    dests = [r["cluster"]
             for r in moved.select("cluster").distinct().collect()]
    n_reassigned = moved.count()
    n_moved = moved.filter(~F.col("cluster").isin(drifted)).count()
    affected = sorted(set(drifted) | set(dests))
    stay = vectors.filter(
        F.col("cluster").isin([c for c in affected if c not in set(drifted)])
    ).select(F.col(id_col), F.col(emb_col), F.col("cluster").cast("int"))
    new_content = stay.unionByName(
        moved.select(F.col(id_col), F.col(emb_col),
                     F.col("cluster").cast("int")))

    vec_dir = os.path.join(path, "vectors")
    saved = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        new_content.write.mode("overwrite").partitionBy("cluster").parquet(
            vec_dir)
    finally:
        if saved is None:
            spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", saved)
        moved.unpersist()
    # a drifted cluster that lost every member writes no partition →
    # its old directory would linger; drop it explicitly
    emptied = sorted(set(drifted) - set(dests))
    if emptied:
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        for ci in emptied:
            p = jvm.org.apache.hadoop.fs.Path(
                os.path.join(vec_dir, f"cluster={ci}"))
            fs = p.getFileSystem(conf)
            if fs.exists(p):
                fs.delete(p, True)

    cdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(new_cents)],
        "cluster int, cvec array<double>",
    )
    cdf.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids"))
    return {"refreshed": drifted, "n_reassigned": n_reassigned,
            "n_moved": n_moved, "max_drift": max_drift}


# ---------------------------------------------------------------------------
# int8 scalar-quantized IVF (VERDICT r13 item 4: the memory story)
# ---------------------------------------------------------------------------
#
# q76/q173 produce the calibration tables; this family CONSUMES them:
# an IVF index whose stored vectors are per-dimension affine int8
# codes (1 byte/dim instead of 8 — the 100-TB memory story), searched
# by dequantizing inside the probed clusters only. Recall vs the
# float index at equal nprobe is graded by ann_recall_report
# (the ann_recall_eval entry carries the ivf_sq8 row).


def sq8_calibrate(corpus: DataFrame, dim: int = 64,
                  emb_col: str = "embedding") -> list[tuple[float, float]]:
    """Per-dimension (vmin, scale) for affine int8 quantization —
    q173's calibration recomputed RAW (no decimal snap: these numbers
    parameterize arithmetic, not an oracle row). One posexplode agg
    with map-side combine → ``dim`` rows of model state collected
    driver-side (k×dim parameter traffic, the kmeans contract).

    scale = (vmax − vmin) / 255, floored at 1e-30 so a constant
    dimension quantizes to code 0 everywhere instead of 0/0."""
    rows = (
        corpus.select(F.posexplode(F.col(emb_col).cast("array<double>"))
                      .alias("d", "x"))
        .filter(F.col("d") < dim)
        .groupBy("d")
        .agg(F.min("x").alias("vmin"), F.max("x").alias("vmax"))
        .orderBy("d")
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            f"calibration found {len(rows)} dims, expected {dim}")
    return [(r["vmin"], max((r["vmax"] - r["vmin"]) / 255.0, 1e-30))
            for r in rows]


def _calib_arrays(calib: list[tuple[float, float]]):
    vmin = F.array(*[F.lit(float(v)) for v, _ in calib])
    scale = F.array(*[F.lit(float(s)) for _, s in calib])
    return vmin, scale


def sq8_quantize(corpus: DataFrame, calib: list[tuple[float, float]],
                 emb_col: str = "embedding",
                 code_col: str = "code") -> DataFrame:
    """Quantize ``emb_col`` to per-dim affine int8 codes in
    [-128, 127]: code_i = round((x_i − vmin_i)/scale_i) − 128,
    clamped. Pure JVM ``transform`` with the calibration folded in as
    literal arrays — a map-only pass, no shuffle; the embedding
    column is REPLACED by the 1-byte-per-dim code column (array of
    tinyint: the parquet/in-memory footprint the calibration was
    for)."""
    vmin, scale = _calib_arrays(calib)
    code = F.transform(
        F.col(emb_col).cast("array<double>"),
        lambda x, i: F.greatest(
            F.lit(-128),
            F.least(
                F.lit(127),
                F.round((x - F.element_at(vmin, i + 1))
                        / F.element_at(scale, i + 1)).cast("int")
                - F.lit(128),
            ),
        ).cast("tinyint"),
    )
    return corpus.withColumn(code_col, code).drop(emb_col)


def sq8_dequantize(code_col, calib: list[tuple[float, float]]) -> F.Column:
    """x̂_i = vmin_i + (code_i + 128)·scale_i — the reconstruction the
    probe scores against (error ≤ scale/2 per dim by construction)."""
    vmin, scale = _calib_arrays(calib)
    c = F.col(code_col) if isinstance(code_col, str) else code_col
    return F.transform(
        c,
        lambda q, i: F.element_at(vmin, i + 1)
        + (q.cast("double") + F.lit(128.0))
        * F.element_at(scale, i + 1),
    )


def ivf_sq8_topk(queries: DataFrame, corpus_codes: DataFrame,
                 centroids: list[list[float]],
                 calib: list[tuple[float, float]], k: int = 10,
                 nprobe: int = 2, id_col: str = "vec_id",
                 code_col: str = "code",
                 emb_col: str = "embedding") -> DataFrame:
    """IVF search over the int8-quantized corpus: probe each query's
    ``nprobe`` nearest clusters (float centroids — k×dim of model
    state stays unquantized), dequantize ONLY the vectors inside the
    probed clusters, exact-cosine re-rank on the reconstructions.
    Same plan shape as ``ivf_cosine_topk`` — one broadcast probe join
    keyed on cluster — so at scale the cluster-partitioned layout
    prunes identically; the stored bytes are 8× smaller.

    ``corpus_codes`` must carry (id, code[, cluster]); without a
    cluster column the codes are assigned by dequantized-vector
    nearest centroid (write-time does this once).
    """
    spark = queries.sparkSession
    q = (
        queries.crossJoin(
            F.broadcast(_centroid_relation(spark, centroids)))
        .select(
            F.col(id_col).alias("src"),
            F.col(emb_col).alias("q_emb"),
            F.explode(
                F.slice(
                    F.sort_array(
                        _centroid_scores(emb_col, F.col("cents")),
                        asc=False),
                    1, nprobe)
            ).alias("probe"),
        )
        .select("src", "q_emb", F.col("probe.idx").alias("cluster"))
    )
    if "cluster" in corpus_codes.columns:
        c = corpus_codes.select(
            F.col(id_col), F.col(code_col),
            F.col("cluster").cast("int").alias("cluster"))
    else:
        deq = corpus_codes.withColumn(
            "__x", sq8_dequantize(code_col, calib))
        c = _with_nearest_centroid(deq, centroids, "__x").select(
            F.col(id_col), F.col(code_col), "cluster")
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), id_col)
    return (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col(id_col) != F.col("src"))
        .select(
            "src", id_col,
            cosine_similarity(
                "q_emb", sq8_dequantize(code_col, calib))
            .alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def write_sq8_ivf_index(corpus: DataFrame,
                        centroids: list[list[float]],
                        calib: list[tuple[float, float]], path: str,
                        id_col: str = "vec_id",
                        emb_col: str = "embedding") -> None:
    """Persist the quantized inverted file: cluster-partitioned int8
    codes (``{path}/vectors/cluster=N/``) + float centroids + the
    calibration table. Assignment happens on the FLOAT vectors before
    quantization (assign-then-quantize: the stored code's cluster is
    exact, only the re-rank pays quantization error)."""
    import os

    assigned = ivf_assign(corpus, centroids, emb_col)
    codes = sq8_quantize(assigned, calib, emb_col=emb_col)
    from puregraphdb_spark.sources.registry import write_partitioned

    write_partitioned(codes, os.path.join(path, "vectors"),
                      partition_by=["cluster"])
    spark = corpus.sparkSession
    spark.createDataFrame(
        [(i, c) for i, c in enumerate(centroids)],
        "cluster int, cvec array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "centroids"))
    spark.createDataFrame(
        [(i, v, s) for i, (v, s) in enumerate(calib)],
        "dim int, vmin double, scale double",
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "calib"))


def read_sq8_ivf_index(spark, path: str):
    """→ (cluster-carrying code DataFrame, centroids, calib)."""
    import os

    vectors = spark.read.parquet(os.path.join(path, "vectors"))
    cents = spark.read.parquet(
        os.path.join(path, "centroids")).orderBy("cluster").collect()
    cal = spark.read.parquet(
        os.path.join(path, "calib")).orderBy("dim").collect()
    return (vectors, [list(r["cvec"]) for r in cents],
            [(r["vmin"], r["scale"]) for r in cal])


# ---------------------------------------------------------------------------
# IVF-PQ: product quantization (the SQ8 family's high-compression
# sibling — Jégou, Douze & Schmid, TPAMI 2011)
# ---------------------------------------------------------------------------
#
# PQ splits each vector into M contiguous subspaces and stores ONE
# byte per subspace (the id of the nearest per-subspace codebook
# entry): dim=64 → 8 bytes/vector vs SQ8's 64 and float64's 512.
# Search uses asymmetric distance computation (ADC): the query stays
# float; per query a lookup table of subspace dot products against
# every codebook entry is built ONCE (M×k dots), and each candidate's
# score is M table lookups — no per-candidate vector arithmetic.


def _subspace_bounds(dim: int, m: int) -> list[tuple[int, int]]:
    """[(lo, width)] per subspace; dim must divide evenly (the
    codebook shapes would silently ragged otherwise)."""
    if dim % m != 0:
        raise ValueError(f"dim={dim} not divisible by m={m} subspaces")
    w = dim // m
    return [(j * w, w) for j in range(m)]


def pq_train(corpus: DataFrame, dim: int = 64, m: int = 8,
             k_codes: int = 16, iters: int = 2,
             emb_col: str = "embedding", id_col: str = "vec_id",
             train_sample: int = 65536) -> list[list[list[float]]]:
    """Train M per-subspace codebooks (each k_codes × dim/M floats) —
    model state, returned driver-side like kmeans_centroids.

    Training runs on a DETERMINISTIC hash-ordered sample of
    ``train_sample`` vectors (the standard PQ protocol — codebooks
    need a representative sample, not the corpus; at 100 TB the
    sample bound is what keeps fitting O(1) in corpus size), then
    reuses the house k-means per subspace slice."""
    sample = (
        corpus.select(F.col(id_col),
                      F.col(emb_col).cast("array<double>")
                      .alias(emb_col))
        .orderBy(F.xxhash64(F.col(id_col).cast("string")))
        .limit(train_sample)
        .persist()
    )
    try:
        books = []
        for lo, w in _subspace_bounds(dim, m):
            sub = sample.select(
                F.col(id_col),
                F.slice(F.col(emb_col), lo + 1, w).alias(emb_col))
            books.append(
                kmeans_centroids(sub, k=k_codes, iters=iters, dim=w,
                                 emb_col=emb_col, id_col=id_col))
    finally:
        sample.unpersist()
    return books


def _books_relation(spark, books: list[list[list[float]]]) -> DataFrame:
    """All M codebooks as a 1-row broadcastable relation (the
    _centroid_relation k-scaling discipline: codebooks are DATA, not
    plan literals): ``books: array<struct<sub:int,
    codes:array<struct<idx:int, vec:array<double>, nsq:double>>>>``
    with each entry's squared norm precomputed for reconstruction-
    norm lookups."""
    rows = [[
        (j, [(i, c, sum(x * x for x in c))
             for i, c in enumerate(book)])
        for j, book in enumerate(books)
    ]]
    return spark.createDataFrame(
        [(rows[0],)],
        "books array<struct<sub:int,codes:array<struct<"
        "idx:int,vec:array<double>,nsq:double>>>>",
    )


def pq_quantize(corpus: DataFrame, books: list[list[list[float]]],
                dim: int | None = None, emb_col: str = "embedding",
                code_col: str = "pq_code") -> DataFrame:
    """Encode each vector as M bytes: per subspace the L2-nearest
    codebook id (argmin ‖x_j − c‖² = argmax (x_j·c − ‖c‖²/2), one
    JVM transform per row with the codebooks broadcast as data). The
    reconstruction norm ‖x̂‖ = sqrt(Σ_j nsq[code_j]) is stored
    alongside (one double) so ADC cosine needs no corpus-side vector
    at query time. The embedding column is replaced."""
    m = len(books)
    w = len(books[0][0])
    dim = dim if dim is not None else m * w
    bounds = _subspace_bounds(dim, m)
    spark = corpus.sparkSession
    joined = corpus.crossJoin(
        F.broadcast(_books_relation(spark, books)))
    emb_d = F.col(emb_col).cast("array<double>")

    def best_code(book):
        lo = (book["sub"] * F.lit(w)) + 1
        sub = F.slice(emb_d, lo, w)
        scored = F.transform(
            book["codes"],
            lambda ct: F.struct(
                (F.aggregate(F.zip_with(sub, ct["vec"],
                                        lambda x, y: x * y),
                             F.lit(0.0), lambda a, x: a + x)
                 - ct["nsq"] / F.lit(2.0)).alias("s"),
                (-ct["idx"]).alias("nidx"),
                ct["nsq"].alias("nsq"),
            ),
        )
        return F.array_max(scored)

    picked = F.transform(F.col("books"), best_code)
    out = (
        joined
        .withColumn("__pick", picked)
        .withColumn(
            code_col,
            F.transform(F.col("__pick"),
                        lambda p: (-p["nidx"]).cast("tinyint")))
        .withColumn(
            "pq_nrm",
            F.sqrt(F.aggregate(
                F.transform(F.col("__pick"), lambda p: p["nsq"]),
                F.lit(0.0), lambda a, x: a + x)))
        .drop("books", "__pick", emb_col)
    )
    _ = bounds  # bounds validated m·w == dim above
    return out


def pq_reconstruct(code_col, books: list[list[list[float]]]) -> F.Column:
    """x̂ = concat of each subspace's codebook entry (tests + the
    assign path when codes lack a cluster column)."""
    c = F.col(code_col) if isinstance(code_col, str) else code_col
    spark_books = [
        F.array(*[
            F.array(*[F.lit(float(x)) for x in entry])
            for entry in book])
        for book in books
    ]
    parts = [
        F.element_at(spark_books[j],
                     F.element_at(c, j + 1).cast("int") + 1)
        for j in range(len(books))
    ]
    return F.concat(*parts)


def ivf_pq_topk(queries: DataFrame, corpus_codes: DataFrame,
                centroids: list[list[float]],
                books: list[list[list[float]]], k: int = 10,
                nprobe: int = 2, id_col: str = "vec_id",
                code_col: str = "pq_code",
                emb_col: str = "embedding") -> DataFrame:
    """IVF-PQ search: probe nprobe coarse clusters, score candidates
    by ADC cosine — cos(q, x̂) = (Σ_j LUT_j[code_j]) / (|q|·‖x̂‖),
    where LUT_j[c] = q_j·c_{j,c} is built per query as one JVM
    transform over the broadcast codebooks (M×k dots per QUERY, zero
    per-candidate vector math: each candidate costs M array lookups
    + one division). Same one-broadcast-probe-join plan shape as the
    float and SQ8 indexes; stored bytes are dim/M smaller than SQ8.
    """
    spark = queries.sparkSession
    m = len(books)
    w = len(books[0][0])
    q_emb = F.col(emb_col).cast("array<double>")

    def lut(book):
        lo = (book["sub"] * F.lit(w)) + 1
        sub = F.slice(q_emb, lo, w)
        return F.transform(
            book["codes"],
            lambda ct: F.aggregate(
                F.zip_with(sub, ct["vec"], lambda x, y: x * y),
                F.lit(0.0), lambda a, x: a + x),
        )

    q = (
        queries.crossJoin(
            F.broadcast(_centroid_relation(spark, centroids)))
        .crossJoin(F.broadcast(_books_relation(spark, books)))
        .select(
            F.col(id_col).alias("src"),
            F.transform(F.col("books"), lut).alias("__lut"),
            l2_norm(q_emb).alias("__qn"),
            F.explode(
                F.slice(
                    F.sort_array(
                        _centroid_scores(emb_col, F.col("cents")),
                        asc=False),
                    1, nprobe)
            ).alias("probe"),
        )
        .select("src", "__lut", "__qn",
                F.col("probe.idx").alias("cluster"))
    )
    if "cluster" not in corpus_codes.columns:
        recon = corpus_codes.withColumn(
            "__x", pq_reconstruct(code_col, books))
        corpus_codes = _with_nearest_centroid(
            recon, centroids, "__x").drop("__x")
    c = corpus_codes.select(
        F.col(id_col), F.col(code_col), F.col("pq_nrm"),
        F.col("cluster").cast("int").alias("cluster"))
    adc_dot = F.aggregate(
        F.zip_with(
            F.col(code_col), F.col("__lut"),
            lambda cj, lutj: F.element_at(lutj, cj.cast("int") + 1)),
        F.lit(0.0), lambda a, x: a + x)
    w_rank = Window.partitionBy("src").orderBy(F.desc("cos_sim"),
                                               id_col)
    return (
        c.join(F.broadcast(q), "cluster")
        .filter(F.col(id_col) != F.col("src"))
        .select(
            "src", id_col,
            (adc_dot
             / (F.col("__qn")
                * F.greatest(F.col("pq_nrm"), F.lit(1e-30))))
            .alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= k)
    )


# ---------------------------------------------------------------------------
# random-hyperplane LSH for embeddings (cosine ANN)
# ---------------------------------------------------------------------------


def _hyperplanes(dim: int, num_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python —
    driver-side constants folded into the plan; no data movement)."""
    import random

    rnd = random.Random(seed)
    planes = []
    for _ in range(num_planes):
        v = [rnd.gauss(0.0, 1.0) for _ in range(dim)]
        norm = math.sqrt(sum(x * x for x in v)) or 1.0
        planes.append([x / norm for x in v])
    return planes


def hyperplane_bucket(emb_col: str | F.Column, dim: int,
                      num_planes: int = 12, seed: int = 42) -> F.Column:
    """LSH bucket id: sign bits of the embedding against num_planes
    random hyperplanes, packed into a long. Cosine-similar vectors land
    in the same bucket with probability (1 - θ/π)^planes."""
    out = F.lit(0).cast("long")
    for i, plane in enumerate(_hyperplanes(dim, num_planes, seed)):
        lit_plane = F.array(*[F.lit(x) for x in plane])
        out = out + F.when(
            dot(emb_col, lit_plane) >= 0, F.lit(2 ** i).cast("long")
        ).otherwise(0)
    return out


def embedding_near_dup_pairs(corpus: DataFrame, threshold: float = 0.95,
                             dim: int = 64, num_planes: int = 10,
                             seed: int = 42, id_col: str = "vec_id",
                             emb_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cos ≥ threshold).

    Candidates come from hyperplane-LSH buckets (high-cosine pairs
    collide with probability (1-θ/π)^planes ≈ 1 for near-dups), exact
    cosine verifies. ONE shuffle on the bucket key — never the O(n²)
    pair join. Compose with Graph.connected_components for clustering
    (see dedup_minhash for the same pattern on text).
    """
    b = corpus.select(
        F.col(id_col), F.col(emb_col),
        hyperplane_bucket(emb_col, dim, num_planes, seed).alias("bucket"),
    )
    left = b.select(
        F.col(id_col).alias("a"), F.col(emb_col).alias("emb_a"), "bucket"
    )
    right = b.select(
        F.col(id_col).alias("b"), F.col(emb_col).alias("emb_b"), "bucket"
    )
    return (
        left.join(right, "bucket")
        .filter(F.col("a") < F.col("b"))
        # Generate barrier (r14, the q63 lesson): as a plain alias the
        # ≥ threshold filter folds into the bucket join condition and
        # the 64-dim HOF dot product runs twice per candidate pair.
        .select(
            "a", "b",
            F.explode(F.array(
                F.round(cosine_similarity("emb_a", "emb_b"), 4)
            )).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= threshold)
        .distinct()
    )


def ann_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                    dim: int = 64, num_planes: int = 8, seed: int = 42,
                    id_col: str = "vec_id", emb_col: str = "embedding") -> DataFrame:
    """Approximate top-k cosine neighbors per query vector.

    Both sides are bucketed by hyperplane signature; candidates are the
    intra-bucket pairs (ONE shuffle keyed on bucket — never the O(n·m)
    cross join), exact cosine re-ranks within candidates. Recall is
    tuned by num_planes (fewer planes → bigger buckets → higher recall,
    more compute). Returns (src, vec_id, cos_sim, rn) with rn ≤ k.
    """
    bucket = lambda df: df.withColumn(  # noqa: E731
        "bucket", hyperplane_bucket(emb_col, dim, num_planes, seed)
    )
    q = bucket(queries).select(
        F.col(id_col).alias("src"), F.col(emb_col).alias("q_emb"), "bucket"
    )
    c = bucket(corpus).select(F.col(id_col), F.col(emb_col), "bucket")
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), id_col)
    return (
        c.join(q, "bucket")
        .filter(F.col(id_col) != F.col("src"))
        .select(
            "src", id_col,
            cosine_similarity("q_emb", emb_col).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def blocked_fuzzy_pairs(df: DataFrame, id_col: str, text_col: str,
                        block_cols: list[str],
                        max_distance: int = 2) -> DataFrame:
    """Blocked fuzzy-match self-join: candidate pairs share ALL
    ``block_cols`` values (the blocking key), survive a length
    pre-filter, and verify with edit distance <= ``max_distance`` —
    the entity-normalization / name-dedup member of the dedup family
    (MinHash covers long documents; this covers SHORT strings where
    shingling degenerates).

    Returns (a_id, b_id, *block_cols, distance), a_id < b_id.

    Scale: the O(n²)-per-block expansion is bounded by the blocking
    key's fan-out (pick block_cols so blocks stay ~10²-10³ rows; the
    q97 skew profile on the block key is the pre-flight check — same
    guardrail thinking as near_dup_pairs' max_bucket_size). The
    length pre-filter |len(a)-len(b)| <= d is a codegen-cheap
    necessary condition that prunes INSIDE the pair generation, and
    the THRESHOLDED levenshtein (3-arg form) lets the JVM early-exit
    its DP at distance > d — both standard blocked-match
    optimizations.

    r12 lineage-dedup: ONE scan + ONE shuffle — each block folds to a
    sorted (id, text) array via collect_list and the a<b candidate
    pairs explode from that array map-side (the q106 combinations
    idiom). The old self-join on block_cols executed the input
    lineage twice and shuffled both sides. The per-block pair array
    is materialized before the explode, so the block-size guardrail
    above is also the memory bound (~10³ rows → ≤ ~5·10⁵ structs of
    two short strings after the length pre-filter, per block row).
    """
    if not block_cols:
        raise ValueError("need at least one blocking column")
    grouped = df.groupBy(*block_cols).agg(
        F.sort_array(F.collect_list(F.struct(
            F.col(id_col).alias("i"), F.col(text_col).alias("t")
        ))).alias("__rows")
    )
    pair_arr = F.flatten(F.transform(
        "__rows",
        lambda x: F.transform(
            F.filter(
                "__rows",
                lambda y: (y["i"] > x["i"])
                & (F.abs(F.length(y["t"]) - F.length(x["t"]))
                   <= max_distance),
            ),
            lambda y: F.struct(
                x["i"].alias("a_id"), x["t"].alias("a_txt"),
                y["i"].alias("b_id"), y["t"].alias("b_txt"),
            ),
        ),
    ))
    return (
        grouped.select(*block_cols, F.explode(pair_arr).alias("__p"))
        # NO Generate barrier here, deliberately (r14): the ≥0 cut is
        # highly selective (thresholded levenshtein returns −1 for
        # most candidates), so the pushed-down filter evaluates the
        # early-exit DP once per candidate and discards inline; only
        # the few survivors pay the second evaluation in the output
        # projection. The barrier variant was MEASURED SLOWER in the
        # interleaved bench (q114 0.163 → 0.219 s): it traded the few
        # survivor re-evaluations for materializing every candidate
        # row through a second Generate (the q82 lesson).
        .withColumn(
            "distance",
            F.levenshtein(F.col("__p.a_txt"), F.col("__p.b_txt"),
                          max_distance).cast("long"),
        )
        .filter(F.col("distance") >= 0)
        .select(F.col("__p.a_id").alias("a_id"),
                F.col("__p.b_id").alias("b_id"),
                *block_cols, "distance")
    )


# -- SemDeDup-class semantic dedup (r12) --------------------------------------


def semantic_prune(scored: DataFrame, id_col: str = "vec_id",
                   threshold: float = 0.85) -> DataFrame:
    """Intra-cluster semantic prune — the shared core of
    ``semantic_dedup`` (IVF clusters) and ``hash_semantic_dedup``
    (oracle-verifiable hash clusters). SemDeDup (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication"): inside each embedding cluster, near-duplicate
    pairs (cosine ≥ ``threshold``) keep ONE representative — the
    member LEAST similar to the cluster centroid (the most "extreme"
    point, the paper's keep-low choice), which anchors the
    deterministic keep order used here: a vector is dropped iff some
    EARLIER vector in the (centroid_sim asc, id asc) cluster order is
    within ``threshold`` of it. Single pass, greedy-by-order — the
    order-minimal member of every near-dup group survives; a chain
    u1~u2~u3 with u1 !~ u3 drops BOTH u2 and u3 (each has an earlier
    above-threshold neighbor), the standard single-pass approximation
    of the paper's per-group argmin.

    ``scored`` carries (id, cluster, emb array<double>, nrm, csim).
    Returns one row per vector: (id, cluster, centroid_sim,
    n_earlier_dups, kept 0/1).

    Scale: ONE shuffle — each cluster's rows group through a single
    ``applyInPandas`` seam (r14, guide §4.2: the O(b²) pairwise dots
    are exactly the "hand whole batches to vectorized native code"
    case — the previous all-JVM formulation ran the dot as an
    interpreted zip_with/aggregate lambda PER PAIR and was measured
    1.148 → 0.856 s best-of-5 noop at sf0.1 against this seam, with
    bit-identical output). The numpy kernel reproduces the JVM fold's
    floating-point sequence exactly — it accumulates one dimension at
    a time over the whole pair block (``acc += outer(E[:,d], E[:,d])``
    is the same ((0+p₀)+p₁)+… left fold per pair, and IEEE-754 ops are
    deterministic), so the ≥ threshold cut is the oracle's to the bit.
    Per-cluster memory is the bound, as before: b vectors × dim
    doubles per task plus an 8 MiB-blocked (rows, b) cosine tile, so
    size k (IVF) / n_clusters (hash) to keep clusters ~10³-10⁴ rows;
    past that, feed LSH/IVF-bucketed CANDIDATE pairs to this
    arithmetic instead (embedding_near_dup_pairs posture). k also sets
    the prune's PARALLELISM (one task per cluster) — at web scale
    SemDeDup runs k ≈ 10⁴-10⁵ so both bounds are satisfied together.
    NULL embedding ELEMENTS are rejected by numpy (loud error) rather
    than silently skipped the way the old null-propagating lambda did;
    no fixture and no declared caller produces them (q173 profiles
    them upstream).

    Id/cluster contract (ADVICE r14): the Arrow seam emits ``vid`` and
    ``cluster`` as int64, so both inputs MUST be integral (and
    non-NULL) — a string or decimal id that the old all-JVM expression
    tolerated must be mapped/cast upstream. Validated up front with a
    clear error instead of the opaque executor-side ValueError the
    numpy coercion would raise.
    """
    import pandas as pd

    integral = {"tinyint", "smallint", "int", "bigint"}
    dtypes = dict(scored.dtypes)
    for c, name in (("__vid", id_col), ("cluster", "cluster")):
        got = dtypes.get(c, "missing")
        if got not in integral:
            raise TypeError(
                f"semantic_prune needs integral id/cluster columns; "
                f"got {name}: {got} — cast or re-key the id "
                f"upstream (the prune's Arrow seam emits int64)")

    th = float(threshold)

    def _prune_cluster(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np

        # the JVM array_sort(struct(csim, vid, …)) keep order
        pdf = pdf.sort_values(["csim", "__vid"], kind="mergesort")
        E = np.stack(pdf["emb"].to_numpy())          # (b, dim) float64
        nrm = pdf["nrm"].to_numpy(dtype=np.float64)
        b = E.shape[0]
        nd = np.zeros(b, dtype=np.int64)
        idx = np.arange(b)
        blk = max(1, (8 << 20) // max(8 * b, 1))     # ≤ 8 MiB tiles
        for s in range(0, b, blk):
            e = min(s + blk, b)
            acc = np.zeros((e - s, b), dtype=np.float64)
            for d in range(E.shape[1]):              # sequential fold
                acc += np.multiply.outer(E[s:e, d], E[:, d])
            cos = acc / np.multiply.outer(nrm[s:e], nrm)
            earlier = idx[None, :] < idx[s:e, None]
            nd[s:e] = ((cos >= th) & earlier).sum(axis=1)
        return pd.DataFrame({
            "vid": pdf["__vid"].to_numpy(dtype=np.int64),
            "cluster": pdf["cluster"].to_numpy(dtype=np.int64),
            "csim": pdf["csim"].to_numpy(dtype=np.float64),
            "nd": nd,
        })

    pruned = (
        scored.select("cluster", "__vid", "csim", "emb", "nrm")
        .groupBy("cluster")
        .applyInPandas(_prune_cluster,
                       "vid long, cluster long, csim double, nd long")
    )
    from puregraphdb_spark.functions.numeric import decimal_round

    return pruned.select(
        F.col("vid").alias(id_col),
        F.col("cluster"),
        decimal_round(F.col("csim"), 6, grid=10).alias("centroid_sim"),
        F.col("nd").alias("n_earlier_dups"),
        (F.col("nd") == 0).cast("long").alias("kept"),
    )


def _score_against_centroids(assigned: DataFrame, cent: DataFrame,
                             id_col: str, emb_col: str) -> DataFrame:
    """(id, cluster, emb, nrm, csim) relation: one broadcast join of
    the cluster-carrying vectors against a tiny (cluster, cvec)
    centroid relation."""
    from puregraphdb_spark.functions.vector import l2_norm

    return (
        assigned.select(
            F.col(id_col).alias("__vid"), "cluster",
            F.col(emb_col).cast("array<double>").alias("emb"))
        .join(F.broadcast(cent), "cluster")
        .select(
            "__vid", "cluster", "emb", l2_norm("emb").alias("nrm"),
            cosine_similarity(F.col("emb"), F.col("cvec")).alias("csim"))
    )


def semantic_dedup(corpus: DataFrame, id_col: str = "vec_id",
                   emb_col: str = "embedding",
                   threshold: float = 0.85, k: int = 16,
                   iters: int = 3, dim: int = 64) -> DataFrame:
    """SemDeDup over IVF clusters: deterministic seeded k-means
    (``kmeans_centroids`` — hash-ordered seeds, Lloyd refinement),
    nearest-centroid assignment, then the intra-cluster prune
    (``semantic_prune``). centroid_sim scores against the k-means
    centroid the vector was ASSIGNED to (the paper's choice), so the
    kept representative is the cluster's most extreme member.

    Rows-only entry: the k-means centroids are deterministic given
    the seed order but float-iterative, so there is no clean
    cross-engine hash oracle — ``hash_semantic_dedup`` (q151) oracles
    the IDENTICAL prune arithmetic under hash-assigned clusters, and
    the property tests pin determinism + threshold monotonicity here.
    """
    cents = kmeans_centroids(corpus, emb_col, id_col, k=k, iters=iters,
                             dim=dim)
    assigned = ivf_assign(corpus, cents, emb_col)
    cent = corpus.sparkSession.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cluster int, cvec array<double>",
    )
    return semantic_prune(
        _score_against_centroids(assigned, cent, id_col, emb_col),
        id_col, threshold)


def hash_semantic_dedup(corpus: DataFrame, id_col: str = "vec_id",
                        emb_col: str = "embedding",
                        threshold: float = 0.3,
                        n_clusters: int = 16) -> DataFrame:
    """The oracle-verifiable SemDeDup twin (q151): clusters are the
    deterministic hash partition ``id % n_clusters`` (the q73
    discipline — swap the float-iterative k-means for integer
    arithmetic so every downstream number is engine-exact), centroids
    are per-(cluster, dim) means decimal-snapped at 6 dp (the
    q96/q150 centroid discipline, then cast to double so both engines
    run the same sequential-order cosine), and the prune arithmetic
    is ``semantic_prune`` verbatim. Hash clusters are NOT semantic —
    the point is that the entire keep/drop pipeline (centroid build,
    centroid_sim ordering, pairwise threshold cut) hash-matches
    DuckDB, which oracles the same code path ``semantic_dedup`` runs
    over real IVF clusters.
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    assigned = corpus.select(
        F.col(id_col), F.col(emb_col),
        (F.col(id_col) % n_clusters).cast("int").alias("cluster"))
    ex = assigned.select(
        "cluster",
        F.posexplode(F.col(emb_col).cast("array<double>"))
        .alias("dim", "v"))
    comp = ex.groupBy("cluster", "dim").agg(
        decimal_round(F.avg("v"), 6, grid=8).alias("c"))
    cent = comp.groupBy("cluster").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("dim", "c"))),
            lambda x: x["c"],
        ).alias("cvec"))
    return semantic_prune(
        _score_against_centroids(assigned, cent, id_col, emb_col),
        id_col, threshold)


def apply_semantic_dedup(corpus: DataFrame, id_col: str = "vec_id",
                         emb_col: str = "embedding",
                         threshold: float = 0.85, k: int = 16,
                         iters: int = 3, dim: int = 64) -> DataFrame:
    """End-to-end semantic dedup: corpus in, pruned corpus out,
    original schema — the apply side of ``semantic_dedup`` (the
    report tells a curator WHAT would drop; this drops it), the
    ``apply_dedup``/``apply_substring_dedup`` pattern.

    Scale: the kept-flag relation is (id, kept) — two columns per
    vector; the id-key join broadcasts when small and falls back to a
    keyed shuffle join past the threshold (no hint, the planner
    decides). The corpus columns never enter the prune arithmetic.
    """
    kept = semantic_dedup(
        corpus, id_col=id_col, emb_col=emb_col, threshold=threshold,
        k=k, iters=iters, dim=dim,
    ).filter(F.col("kept") == 1).select(F.col(id_col).alias("__keep"))
    return (
        corpus.join(kept, corpus[id_col] == F.col("__keep"), "left_semi")
    )


def entity_resolution(df: DataFrame, id_col: str, text_col: str,
                      block_cols: list[str], max_distance: int = 2,
                      max_iter: int = 50) -> DataFrame:
    """End-to-end entity resolution: blocked fuzzy matching
    (``blocked_fuzzy_pairs``) → match-edge connected components
    (transitive closure over the match relation, the standard ER
    clustering step) → min-id survivorship. One row per INPUT record:
    (id, entity_id, is_survivor, cluster_size) — records that matched
    nothing form singleton entities of themselves.

    Rows-only by nature (the component fixpoint is iterative); the
    pieces carry their own oracles/property tests: q114 oracles the
    blocked scorer's accepted set, the CC fixpoint is pinned by the
    graph suite, and survivorship is deterministic min-id.

    Scale: inherits the blocking guardrail (pick ``block_cols`` so
    blocks stay ~10²-10³ rows; q97's skew profile is the pre-flight
    check); the CC iterations run over MATCH EDGES only — a small
    fraction of the corpus in a curated pipeline — never the full
    record set; the final labeling is one left join of the record
    relation against the (duplicated-records-only) component map.
    """
    from puregraphdb_spark.operators.graph import Graph

    pairs = blocked_fuzzy_pairs(df, id_col, text_col, block_cols,
                                max_distance=max_distance)
    edges = pairs.select(F.col("a_id").alias("src"),
                         F.col("b_id").alias("dst"))
    verts = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    comp = Graph(verts, edges).connected_components(max_iter=max_iter)
    labeled = (
        df.select(F.col(id_col))
        .join(comp.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce("component", F.col(id_col)).alias("entity_id"),
        )
    )
    sizes = labeled.groupBy("entity_id").agg(
        F.count("*").cast("long").alias("cluster_size"),
        F.min(id_col).alias("__survivor"),
    )
    return (
        labeled.join(sizes, "entity_id")
        .select(
            id_col, "entity_id",
            (F.col(id_col) == F.col("__survivor")).cast("long")
            .alias("is_survivor"),
            "cluster_size",
        )
    )


def exact_cosine_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                      id_col: str = "vec_id",
                      emb_col: str = "embedding") -> DataFrame:
    """Brute-force exact cosine top-k per query — the recall baseline
    for the bucketed ANN paths (and the q29/q30 shape as a reusable
    library call). The query side MUST be a small (sampled) relation:
    it broadcasts against ONE corpus scan, so cost is |Q|·|corpus| —
    the standard eval protocol, never run with Q = corpus.

    Ties break identically to ``ann_cosine_topk``/``ivf_cosine_topk``
    (cos desc, id asc), so set-level comparisons are well-defined.
    """
    q = queries.select(F.col(id_col).alias("src"),
                       F.col(emb_col).alias("q_emb"))
    w = Window.partitionBy("src").orderBy(F.desc("cos_sim"), id_col)
    return (
        corpus.crossJoin(F.broadcast(q))
        .filter(F.col(id_col) != F.col("src"))
        .select(
            "src", id_col,
            cosine_similarity("q_emb", emb_col).alias("cos_sim"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def ann_recall_report(queries: DataFrame, corpus: DataFrame,
                      ann_results: DataFrame, k: int = 10,
                      method: str = "ann", id_col: str = "vec_id",
                      emb_col: str = "embedding") -> DataFrame:
    """Recall@k of an ANN result set against the exact brute-force
    top-k on the same sampled query set — the measurement that turns
    "we have an IVF/LSH path" into "we know what it trades away",
    and the gate for tuning num_planes/nprobe before a production
    corpus swap. One row per report:

    (method, n_queries, k, micro_recall, min_recall, max_recall,
     n_perfect)

    micro_recall is Σ hits / Σ exact-neighbors (length-weighted, the
    associativity-free aggregate this repo uses for every ratio);
    min/max are the per-query extremes; n_perfect counts queries with
    full recall. Deterministic end-to-end: both sides break cosine
    ties (cos desc, id asc), hyperplanes/centroids are seeded, and
    every emitted number except the snapped ratios is a bigint.

    Scale: the exact baseline is |Q|·|corpus| with Q broadcast — the
    eval protocol runs on a hash-sampled Q (hundreds), so this is one
    corpus scan; the set intersection joins on (src, id) — ANN and
    exact relations are both ≤ |Q|·k rows, trivially co-partitioned.
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    exact = exact_cosine_topk(queries, corpus, k=k, id_col=id_col,
                              emb_col=emb_col)
    hits = (
        exact.select("src", id_col)
        .join(ann_results.select("src", id_col), ["src", id_col])
        .groupBy("src")
        .agg(F.count("*").cast("long").alias("n_hit"))
    )
    per_q = (
        exact.groupBy("src")
        .agg(F.count("*").cast("long").alias("n_exact"))
        .join(hits, "src", "left")
        .na.fill(0, ["n_hit"])
        .withColumn(
            "recall",
            F.col("n_hit").cast("double")
            / F.col("n_exact").cast("double"))
    )
    return per_q.agg(
        F.lit(method).alias("method"),
        F.count("*").cast("long").alias("n_queries"),
        F.lit(k).cast("long").alias("k"),
        decimal_round(
            F.sum("n_hit").cast("double")
            / F.sum("n_exact").cast("double"), 6, grid=10,
        ).alias("micro_recall"),
        decimal_round(F.min("recall"), 6, grid=10).alias("min_recall"),
        decimal_round(F.max("recall"), 6, grid=10).alias("max_recall"),
        F.sum(F.when(F.col("n_hit") == F.col("n_exact"), 1)
              .otherwise(0)).cast("long").alias("n_perfect"),
    )


def apply_entity_resolution(df: DataFrame, id_col: str, text_col: str,
                            block_cols: list[str],
                            max_distance: int = 2,
                            max_iter: int = 50) -> DataFrame:
    """Apply side of ``entity_resolution`` — records in, RESOLVED
    records out (the ``apply_dedup`` pattern): one surviving record
    per entity, carrying the original schema plus ``entity_id`` and
    ``cluster_size`` so downstream joins can fan back out to the
    absorbed duplicates. Survivor choice is the deterministic min-id
    rule the report side declares.

    Scale: the label relation is four scalar columns per record; the
    id-key join co-partitions with the record relation (broadcast
    when small — the planner decides, no hint).
    """
    labels = entity_resolution(df, id_col, text_col, block_cols,
                               max_distance=max_distance,
                               max_iter=max_iter)
    return (
        df.join(labels.select(id_col, "entity_id", "is_survivor",
                              "cluster_size"), id_col)
        .filter(F.col("is_survivor") == 1)
        .drop("is_survivor")
    )


def vector_hygiene_report(corpus: DataFrame, dim: int,
                          emb_col: str = "embedding",
                          label_col: str = "label") -> DataFrame:
    """Vector-index pre-flight: per label, how many vectors would
    corrupt an IVF/LSH build — wrong dimensionality (zip_with against
    the hyperplane/centroid tables silently truncates to the shorter
    side), non-finite elements (one NaN poisons every cosine it
    touches), and zero vectors (cosine undefined; they land in
    arbitrary buckets). Norm² extremes over the HEALTHY vectors close
    the report — the quantization-range input for q76-style int8
    scaling. Run this BEFORE kmeans_centroids/write_ivf_index; it is
    the vector-column sibling of q117's table profile.

    Determinism: per-vector norm² is the sequential double fold both
    engines share (functions.vector discipline); min/max over rows
    are order-independent; every count is exact. NaN never reaches a
    min/max (Spark orders NaN greatest, DuckDB differs — the healthy
    filter excludes non-finite vectors from the norm stats entirely,
    which is also the semantically right report).

    NULL vectors are their own defect class (``n_null``): size(NULL),
    exists(NULL) and dot(NULL) all yield NULL, so without the
    explicit flag a NULL embedding would increment ``n_vecs`` yet
    land in NO bucket and the pre-flight would report clean while an
    IVF/LSH build over the column still breaks (ADVICE r12). Every
    flag below is guarded by ``~is_null`` so the classes stay a
    partition of the defect space.

    Scale: one map-side projection per vector + ONE shuffle to the
    label grain with map-side combine. Vectors never cross engines,
    never explode per-element.
    """
    from puregraphdb_spark.functions.numeric import decimal_round
    from puregraphdb_spark.functions.vector import dot

    e = F.col(emb_col).cast("array<double>")
    is_null = F.col(emb_col).isNull()
    bad_dim = ~is_null & (F.size(emb_col) != dim)
    nonfinite = ~is_null & F.exists(
        e, lambda x: F.isnan(x) | (F.abs(x) == F.lit(float("inf"))))
    n2 = dot(emb_col, emb_col)
    healthy = ~is_null & ~bad_dim & ~nonfinite
    zero = healthy & (n2 == 0.0)
    per = corpus.select(
        F.col(label_col).alias("label"),
        is_null.alias("f_null"),
        bad_dim.alias("f_dim"), nonfinite.alias("f_fin"),
        zero.alias("f_zero"),
        F.when(healthy & (n2 > 0.0), n2).alias("h_n2"),
    )
    cnt = lambda c: F.sum(F.col(c).cast("int")).cast("long")  # noqa: E731
    return (
        per.groupBy("label")
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            cnt("f_null").alias("n_null"),
            cnt("f_dim").alias("n_bad_dim"),
            cnt("f_fin").alias("n_nonfinite"),
            cnt("f_zero").alias("n_zero"),
            F.min("h_n2").alias("min_raw"),
            F.max("h_n2").alias("max_raw"),
        )
        .select(
            "label", "n_vecs", "n_null", "n_bad_dim", "n_nonfinite",
            "n_zero",
            decimal_round(F.col("min_raw"), 6, grid=8)
            .alias("min_norm2"),
            decimal_round(F.col("max_raw"), 6, grid=8)
            .alias("max_norm2"),
        )
    )


def q169_vector_hygiene(spark, sf_dir: str) -> DataFrame:
    """ORACLED vector hygiene report at dim=64 (see
    ``vector_hygiene_report``) with the four defect classes planted
    deterministically (the fixture vectors are uniformly healthy):
    %17 vectors zeroed, %23 truncated to 32 dims, %29 given a NaN
    first element, %31 nulled outright — each rule exercised for
    real, and each vector carries at most one plant (first matching
    rule wins) so the counts partition cleanly."""
    from puregraphdb_spark.sources.registry import final_sort, load_table

    i = F.col("vec_id")
    e = load_table(spark, sf_dir, "embeddings").select(
        "label",
        F.when(i % 17 == 0,
               F.transform(F.col("embedding"),
                           lambda x: F.lit(0.0)))
        .when(i % 23 == 0, F.slice(F.col("embedding"), 1, 32)
              .cast("array<double>"))
        .when(i % 29 == 0,
              F.transform(
                  F.col("embedding").cast("array<double>"),
                  lambda x, j: F.when(j == 0,
                                      F.lit(float("nan")))
                  .otherwise(x)))
        .when(i % 31 == 0, F.lit(None).cast("array<double>"))
        .otherwise(F.col("embedding").cast("array<double>"))
        .alias("embedding"),
    )
    return final_sort(vector_hygiene_report(e, dim=64), spark, sf_dir,
                      "embeddings", "label")
