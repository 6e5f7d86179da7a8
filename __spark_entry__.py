"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``puregraphdb_spark``; this module only maps
SURVEY.md §2 query names to their callables and oracle SQL
(SURVEY.md Appendix A, with explicit casts where DuckDB's default
result type would differ from Spark's: ``sum(int)`` → HUGEINT is cast
to BIGINT, and cosine inputs are cast to DOUBLE[] so both engines run
the identical sequential double summation).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from puregraphdb_spark.operators import (
    community, events, extras, graph, incremental, llm, multimodal,
    pii, pipeline, profile, relational, similarity, sketch, skew, text,
)
from puregraphdb_spark.sources.registry import load_table
from puregraphdb_spark.sql_fragments import (
    ASSET_MANIFEST_CTE_DUCKDB,
    LANGID_PRED_CTE_DUCKDB,
    LM_SCORED_CTES_DUCKDB,
    TEXT_PROFILE_CTES_DUCKDB,
)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1-style pricing summary) on sf0.001."""
    return relational.q02_agg_pricing_summary(spark, "/root/testdata/sf0.001")


# -- rows-only iterative graph algorithms (no clean SQL oracle) --------------


def _order_graph(spark: SparkSession, sf_dir: str) -> graph.Graph:
    """Customer→supplier order graph (SURVEY §2.3) as a Graph value.

    Vertex ids share one id space (the oracle's q23 does the same union).
    """
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    e = graph.order_graph_edges(o, l).distinct()
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return graph.Graph(v, e)


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the order graph (rows-only: iterative, not SQL)."""
    g = _order_graph(spark, sf_dir)
    return (
        g.pagerank(max_iter=5)
        .select("id", F.round("pagerank", 6).alias("pagerank"))
        .orderBy("id")
    )


def graph_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the order graph (rows-only)."""
    g = _order_graph(spark, sf_dir)
    return g.connected_components(max_iter=20).orderBy("id")


def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the order graph (rows-only)."""
    g = _order_graph(spark, sf_dir)
    return g.label_propagation(max_iter=3).orderBy("id")


def graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strongly-connected components over the order graph (rows-only:
    iterative forward-backward peeling, not SQL). The shared id space
    (q23's union semantics) creates real directed cycles — customer k
    → supplier j and customer j → supplier k are mutually reachable —
    so the decomposition is non-trivial (~7% of vertices merge at
    sf0.01)."""
    g = _order_graph(spark, sf_dir)
    return g.strongly_connected_components().orderBy("component", "id")


def graph_ppr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank (random walk with restart) from the
    smallest sampled source vertex (rows-only: iterative)."""
    g = _order_graph(spark, sf_dir)
    return (
        g.personalized_pagerank(source=0, max_iter=5)
        .select("id", F.round("pagerank", 6).alias("ppr"))
        .filter(F.col("ppr") > 0)
        .orderBy("id")
    )


def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unweighted BFS distances to landmark vertices 0 and 1
    (rows-only: iterative pregel loop)."""
    g = _order_graph(spark, sf_dir)
    return g.shortest_paths([0, 1]).orderBy("id", "landmark")


def _weighted_order_graph(spark: SparkSession, sf_dir: str) -> graph.Graph:
    """Order graph with edge multiplicity as weight: w(c→s) = number of
    distinct orders in which customer c bought from supplier s — the
    natural edge strength of the bipartite projection."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    e = (
        graph.order_graph_edges(o, l)
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("weight"))
    )
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return graph.Graph(v, e)


def graph_wpagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-weighted PageRank over the order graph — rank flows
    proportionally to order multiplicity (rows-only: iterative).
    Uniform weights reproduce the unweighted entry bit-for-bit
    (tests/test_graph_properties.py)."""
    g = _weighted_order_graph(spark, sf_dir)
    return (
        g.pagerank(max_iter=5, weight_col="weight")
        .select("id", F.round("pagerank", 6).alias("wpagerank"))
        .orderBy("id")
    )


def graph_sssp_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford relaxation)
    to landmarks 0 and 1, cost = 1/multiplicity (stronger commercial
    ties are closer) — rows-only: iterative."""
    g = _weighted_order_graph(spark, sf_dir)
    g = graph.Graph(
        g.vertices,
        g.edges.withColumn("cost", F.lit(1.0) / F.col("weight")),
    )
    return (
        g.shortest_paths([0, 1], weight_col="cost")
        .select("id", "landmark", F.round("dist", 6).alias("dist"))
        .orderBy("id", "landmark")
    )


def graph_harmonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Landmark-approximated harmonic centrality (Eppstein–Wang
    estimator) from landmarks 0 and 1 over the order graph — rows-only:
    iterative BFS underneath. Property-tested against closed forms on
    path/star graphs (tests/test_graph_extended.py)."""
    g = _order_graph(spark, sf_dir)
    return (
        graph.harmonic_centrality(g, [0, 1])
        .select(
            "id", F.round("harmonic", 6).alias("harmonic"), "n_reached"
        )
        .orderBy("id")
    )


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities over the customer->supplier order graph
    (rows-only: L2-normalized power iteration, not SQL). In this
    bipartite direction customers are pure hubs and suppliers pure
    authorities; property tests pin the closed forms
    (tests/test_graph_properties.py)."""
    g = _order_graph(spark, sf_dir)
    return (
        g.hits(max_iter=8)
        .select("id", F.round("hub", 6).alias("hub"),
                F.round("authority", 6).alias("authority"))
        .orderBy("id")
    )


def graph_anf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperANF approximate neighborhood function of the SYMMETRIZED
    order graph (Boldi–Rosa–Vigna, WWW'11): one row per hop t with the
    estimated number of vertex pairs within distance t and its
    fraction of the final (closure) value — the 0.9-effective diameter
    is the smallest t with frac_of_final >= 0.9. Rows-only: HLL
    sketches are engine-specific by design (same allowance as
    approx_distinct_parts); property-tested against exact BFS closures
    on path/star/clique-chain graphs (tests/test_graph_extended.py).

    edge_batch gating (round 14 — the betweenness source_batch
    precedent): the per-superstep message volume is O(|E|·m); at
    sf10 the unbatched plan exhausted a single node's disk twice
    (measured: 53+ GB of live shuffle at superstep ~4 of a 60M-edge
    graph, m=64). Past the measured 512 MiB lineitem line the entry
    runs edge_batch=8 — the register state is batched ≡ unbatched
    bit-identical (monotone max merge, start-of-superstep reads;
    the N(t) readout may differ in the last float bits of an
    unordered sum — pinned to 1e-12 relative in
    tests/test_round14_operators.py) — and a cluster deployment
    leaves the knob off."""
    from puregraphdb_spark.sources.registry import table_bytes

    g = _order_graph(spark, sf_dir)
    sym = graph.Graph(
        g.vertices,
        g.edges.unionByName(
            g.edges.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
        ).distinct(),
    )
    batch = (8 if table_bytes(spark, sf_dir, "lineitem") > (512 << 20)
             else None)
    nf = sym.anf(m=64, max_iter=16, edge_batch=batch)
    final = nf[-1][1]
    return spark.createDataFrame(
        [(t, n, round(n / final, 6)) for t, n in nf],
        "t int, est_pairs double, frac_of_final double",
    )


def graph_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded uniform random walks over the symmetrized order graph
    (DeepWalk/node2vec p=q=1 corpus — the graph-embedding training-data
    generator). Rows-only: the walk corpus is seeded-hash-driven and
    engine-specific by design; determinism, edge-validity, sink-stop
    and cap semantics are property-tested
    (tests/test_graph_extended.py).

    Entry shape (VERDICT r7 item 1): the API returns the walk as
    ``path array<bigint>`` — the natural corpus shape — but the
    driver's pandas canonicalizer cannot sort/hash list cells, so the
    ENTRY flattens it to a space-joined string column. The API
    (`Graph.random_walks`) is unchanged."""
    g = _order_graph(spark, sf_dir)
    sym = graph.Graph(
        g.vertices,
        g.edges.unionByName(
            g.edges.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
        ).distinct(),
    )
    return (
        sym.random_walks(walk_length=6, walks_per_node=2)
        .select(
            "start_id", "walk_no",
            F.array_join(F.col("path").cast("array<string>"), " ")
            .alias("path"),
            "walk_len",
        )
        .orderBy("start_id", "walk_no")
    )


def graph_node2vec_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Biased (p,q) node2vec walks over the symmetrized order graph
    (Grover & Leskovec, KDD'16) — the second-order walk corpus for
    structural-role embeddings. p=0.25/q=4.0 biases the walks inward
    (BFS-like, structural equivalence). Rows-only: the corpus is
    seeded-hash-driven and engine-specific by design; the p=q=1
    reduction is property-pinned bit-identical to `random_walks`,
    and bias direction is tested on closed-form graphs
    (tests/test_graph_extended.py). Entry shape: path flattened to a
    space-joined string, same as graph_random_walks (VERDICT r7
    item 1 — the driver canonicalizer cannot hash array cells)."""
    g = _order_graph(spark, sf_dir)
    sym = graph.Graph(
        g.vertices,
        g.edges.unionByName(
            g.edges.select(F.col("dst").alias("src"),
                           F.col("src").alias("dst"))
        ).distinct(),
    )
    # API-default max_degree (10k): after the round-9 staged-
    # projection fix (each set-algebra tree evaluates once per row,
    # not 3-4x compounding per step), the uncapped sf1 corpus runs in
    # 40 s — hub width no longer multiplies the cost, so the entry
    # keeps full-width hubs; SCALECHECK round 9 has the 25min->40s
    # measurement chain.
    return (
        sym.node2vec_walks(walk_length=6, walks_per_node=2,
                           p=0.25, q=4.0)
        .select(
            "start_id", "walk_no",
            F.array_join(F.col("path").cast("array<string>"), " ")
            .alias("path"),
            "walk_len",
        )
        .orderBy("start_id", "walk_no")
    )


def graph_ktruss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4-truss of the part co-occurrence graph (every surviving edge in
    >= 2 within-subgraph triangles) — the cohesive-subgraph refinement
    of k-core over the same graph q24 counts triangles on. Rows-only:
    iterated peeling to fixpoint; property-tested on cliques, bridged
    cliques, and a cascade case (tests/test_graph_extended.py). The
    bipartite ORDER graph has no triangles by construction, so the
    co-occurrence graph is the meaningful target.

    Vertex sample (q85's posture): parts on the id % 4 grid, applied
    BEFORE the pair expansion so the quadratic per-order fan-out and
    the edge set shrink ~16x together. The full graph's peeling is
    compute-bound by design — at sf1 the unsampled co-occurrence
    graph is ~9M edges at mean degree ~90 (~400M wedges per peeling
    round, with cascading rounds); the sampled subgraph keeps the
    entry interactive at every sf while `Graph.ktruss` itself stays
    exact for callers who budget the full run."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_partkey") % 4 == 0)
    e = graph.part_cooccurrence_edges(l).select(
        F.col("u").alias("src"), F.col("v").alias("dst"))
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return graph.Graph(v, e).ktruss(4).orderBy("u", "v")


def graph_betweenness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brandes-sampled betweenness centrality over the undirected order
    graph (rows-only: two-phase iterative BFS + dependency
    accumulation, not SQL). Sources are a FIXED-SIZE deterministic
    sample (first 32 of the id % 200 grid, falling back to the 32
    smallest ids on tiny graphs): Brandes–Pich sampling is a k-source
    estimator whose work is O(k·|E|) — a fractional sample would grow
    the source set with |V| and turn the estimator quadratic (the
    unbounded %-sample spilled ~70 GB at sf1 before this cap). The
    n/k scale keeps it the standard unbiased estimator of full
    betweenness; the source-id collect is 32 longs of parameter
    traffic, not data movement. Closed-form-verified on
    path/star/cycle/diamond graphs (tests/test_graph_properties.py).

    Past a measured 512 MiB of lineitem (the O(1) footer-byte gate),
    the 32 sources run in sequential batches of 8 (r13 sf10 finding:
    unbatched k=32 over the ~60M-edge graph spilled past the 80 GB
    single-node temp budget mid-BFS; batching caps peak spill at the
    batch's share while the summed result is unchanged — see
    ``Graph.betweenness_centrality``). Under the gate (sf1's 114 MiB
    included, matching the r12 evidence) the single-pass plan runs
    untouched."""
    from puregraphdb_spark.sources.registry import table_bytes

    g = _order_graph(spark, sf_dir)
    und = graph.Graph(
        g.vertices,
        g.edges.unionByName(
            g.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        ),
    )
    srcs = sorted(
        r["id"]
        for r in g.vertices.filter(F.col("id") % 200 == 0)
        .orderBy("id").limit(32).collect()
    )
    if not srcs:  # tiny fixture: the % grid can miss every id
        srcs = [
            r["id"]
            for r in g.vertices.orderBy("id").limit(32).collect()
        ]
    n = und.vertices.count()
    batch = (8 if table_bytes(spark, sf_dir, "lineitem") > (512 << 20)
             else None)
    bc = und.betweenness_centrality(srcs, scale=n / len(srcs),
                                    source_batch=batch)
    return (
        bc.filter(F.col("betweenness") > 0)
        .select("id", F.round("betweenness", 6).alias("betweenness"))
        .orderBy("id")
    )


def graph_betweenness_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ε-bounded sampled betweenness over the undirected order graph
    (rows-only). Unlike graph_betweenness's hand-fixed 32 sources,
    the sample size here is DERIVED from the accuracy target:
    k = ceil(ln(2n/δ)/(2ε²)) sources give every vertex's normalized
    betweenness to ±ε with probability ≥ 1−δ (Hoeffding + union
    bound; the Riondato–Kornaropoulos-style contract over the
    existing Brandes BFS machinery — VERDICT r6 item 5). With
    ε=0.5, δ=0.5 that is k≈18 at sf0.01 and only k≈25 at sf1: the
    source count grows LOGARITHMICALLY with the graph, which is what
    makes dense-graph betweenness affordable. Property-tested against
    exact Brandes (equivalence when k ≥ n; empirical ε-bound on a
    forced subsample) in tests/test_graph_properties.py."""
    g = _order_graph(spark, sf_dir)
    und = graph.Graph(
        g.vertices,
        g.edges.unionByName(
            g.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        ),
    )
    bc = und.betweenness_sampled(eps=0.5, delta=0.5)
    return (
        bc.filter(F.col("betweenness") > 0)
        .select("id", F.round("betweenness", 6).alias("betweenness"))
        .orderBy("id")
    )


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-core of the order graph (rows-only: iterative peeling).
    Returns surviving vertices with their in-core degree; k=5 peels a
    real fringe yet stays non-empty at every fixture scale (sf0.001's
    10-supplier graph caps customer degree at 10)."""
    g = _order_graph(spark, sf_dir)
    return g.k_core(5).orderBy("id")


def _planted_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with a deterministic punctuation plant (q146/q152
    discipline): the fixture text is pure space-separated words, so
    without a plant the BPE tokenizer's punctuation splitting and the
    quality score's punct/alpha ratios would be dead paths in the
    cross-engine check. %13 docs get a punctuated suffix — exercised
    for real in BOTH engines."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.withColumn(
        "text",
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.col("text"), F.lit(" zq9! wv, 7a.")))
        .otherwise(F.col("text")))


def text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED (since r13) per-doc language-ID / token counts /
    quality / fingerprint. The portable profile: min-md5 fingerprint
    (the q84 twin pattern at window 8) and decimal-snapped quality —
    every column engine-independent. The xxhash64 fast path stays
    available as ``profile_documents(portable=False)``."""
    from puregraphdb_spark.sources.registry import final_sort

    return final_sort(
        text.profile_documents(_planted_documents(spark, sf_dir)),
        spark, sf_dir, "documents", "doc_id")


def text_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED (since r13) per-source corpus curation report over the
    portable profile (see ``text_profile``)."""
    from puregraphdb_spark.sources.registry import final_sort

    return final_sort(
        text.corpus_quality_report(_planted_documents(spark, sf_dir)),
        spark, sf_dir, "documents", "source")


def graph_coreness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full core decomposition of the order graph: every vertex's core
    NUMBER (rows-only), by H-index propagation (results pinned equal
    to networkx's core_number and to k_core(k) in
    tests/test_graph_extended.py)."""
    g = _order_graph(spark, sf_dir)
    return g.coreness().orderBy("id")


def heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 heavy-hitter tokens with Misra-Gries count bounds
    (rows-only: the estimates depend on the partition layout by
    design — the bound guarantees, exactness in the no-decrement
    regime, and presence of every true heavy hitter are pinned in
    tests/test_sketch.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return sketch.heavy_hitter_tokens(docs, k=20, capacity=64)


def dedup_minhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicate candidate pairs over documents
    (rows-only; the synthetic corpus has no true near-dups, so the
    result is the LSH false-candidate set at a low threshold)."""
    docs = load_table(spark, sf_dir, "documents")
    return similarity.near_dup_pairs(docs, jaccard_threshold=0.0).orderBy("a", "b")


def knn_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH approximate cosine top-k for vec_id < 20
    (rows-only; the approximate counterpart of oracled q29/q30)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ann_cosine_topk(q, emb, k=10, dim=64, num_planes=6).orderBy(
        "src", "rn"
    )


def dedup_embedding_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane LSH (rows-only).
    Threshold lowered for the synthetic corpus (random embeddings have
    no true near-dups; this returns the verified high-cosine tail)."""
    emb = load_table(spark, sf_dir, "embeddings")
    # max pairwise cosine in the fixture is ~0.51; 0.35 returns the
    # verified >99.9th-percentile tail through the LSH path.
    return similarity.embedding_near_dup_pairs(emb, threshold=0.35).orderBy("a", "b")


def knn_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate cosine top-k for vec_id < 20 (rows-only; the
    inverted-file counterpart of knn_ann_lsh — coarse k-means quantizer
    fitted on the corpus, nprobe nearest clusters searched)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=2, dim=64)
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_cosine_topk(q, emb, cents, k=10, nprobe=2).orderBy(
        "src", "rn"
    )


def knn_ann_ivf_sq8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantized IVF top-k for vec_id < 20 (rows-only;
    round 14 — VERDICT r13 item 4: the index CONSUMES the per-dim
    calibration q173/q76 produce, storing array<tinyint> codes
    (1 byte/dim, the 100-TB memory story) and probing with
    dequantized cosine. Recall vs the float index at equal nprobe is
    graded in ann_recall_report's entry; measured at sf0.01 the sq8
    row EQUALS float IVF (0.45/0.45 micro, same min/max)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=2, dim=64)
    calib = similarity.sq8_calibrate(emb, dim=64)
    codes = similarity.sq8_quantize(
        emb.select("vec_id", "embedding"), calib)
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_sq8_topk(
        q, codes, cents, calib, k=10, nprobe=2).orderBy("src", "rn")


def knn_ann_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ approximate cosine top-k for vec_id < 20 (rows-only;
    round 14 — the SQ8 family's high-compression sibling, Jégou et
    al. TPAMI'11: 8 bytes/vector (m=8 subspaces × 1 byte) vs SQ8's
    64 and float64's 512. Search is asymmetric distance computation:
    per-query LUT of subspace dots built once, each candidate scored
    by M lookups. Recall vs the float index at equal nprobe is in
    ann_recall_report's entry — PQ trades recall for the 64× byte
    reduction (the honest artifact, reported not hidden)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_centroids(emb, k=8, iters=2, dim=64)
    books = similarity.pq_train(emb, dim=64, m=8, k_codes=16, iters=2)
    codes = similarity.pq_quantize(
        emb.select("vec_id", "embedding"), books)
    q = emb.filter(F.col("vec_id") < 20)
    return similarity.ivf_pq_topk(
        q, codes, cents, books, k=10, nprobe=2).orderBy("src", "rn")


def bpe_merge_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained BPE merge table over documents (rows-only; round 14 —
    VERDICT r13 item 8 chose train/apply over a decline: the merge
    loop is real Sennrich-style BPE on the distributed word-count
    dictionary, deterministic by exact-bigint counts with
    lexicographic tie-break, but iterative model fitting with no SQL
    oracle by design; property tests pin closed-form corpora, the
    apply round-trip, and partitioning-invariance)."""
    from puregraphdb_spark.operators import bpe

    docs = load_table(spark, sf_dir, "documents")
    return bpe.bpe_train(docs, num_merges=30).orderBy("rank")


def ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of BOTH bucketed ANN paths (hyperplane LSH and IVF)
    against the exact brute-force top-10 on the vec_id < 20 query
    sample — the tuning gate for num_planes/nprobe (rows-only: the
    ANN sides ride seeded hyperplanes / float-iterative k-means, so
    no cross-engine hash oracle exists by design; the recall
    arithmetic itself is property-tested, incl. recall == 1 when the
    ANN path is made exhaustive)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    lsh = similarity.ann_cosine_topk(q, emb, k=10, dim=64, num_planes=6)
    cents = similarity.kmeans_centroids(emb, k=8, iters=2, dim=64)
    ivf = similarity.ivf_cosine_topk(q, emb, cents, k=10, nprobe=2)
    calib = similarity.sq8_calibrate(emb, dim=64)
    codes = similarity.sq8_quantize(
        emb.select("vec_id", "embedding"), calib)
    sq8 = similarity.ivf_sq8_topk(q, codes, cents, calib, k=10,
                                  nprobe=2)
    rep_lsh = similarity.ann_recall_report(q, emb, lsh, k=10,
                                           method="lsh_planes6")
    rep_ivf = similarity.ann_recall_report(q, emb, ivf, k=10,
                                           method="ivf_nprobe2")
    rep_sq8 = similarity.ann_recall_report(q, emb, sq8, k=10,
                                           method="ivf_sq8_nprobe2")
    books = similarity.pq_train(emb, dim=64, m=8, k_codes=16, iters=2)
    pq_codes = similarity.pq_quantize(
        emb.select("vec_id", "embedding"), books)
    pq = similarity.ivf_pq_topk(q, pq_codes, cents, books, k=10,
                                nprobe=2)
    rep_pq = similarity.ann_recall_report(q, emb, pq, k=10,
                                          method="ivf_pq_nprobe2")
    return (rep_lsh.unionByName(rep_ivf).unionByName(rep_sq8)
            .unionByName(rep_pq).orderBy("method"))


def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over IVF (seeded k-means) clusters (rows-only: the
    k-means centroids are deterministic given the hash-ordered seeds
    but float-iterative, so no clean cross-engine hash oracle exists;
    q151 oracles the IDENTICAL prune arithmetic under hash clusters).
    Threshold lowered for the synthetic corpus (random embeddings,
    max pairwise cosine ~0.51 — 0.35 exercises real drops)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semantic_dedup(
        emb, threshold=0.35, k=8, iters=2, dim=64
    ).orderBy("vec_id")


def q151_hash_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup's oracle-verifiable twin: hash-assigned clusters
    (vec_id % 16, the q73 discipline), decimal-snapped centroids, and
    the same intra-cluster greedy prune ``semantic_dedup`` runs —
    every keep/drop decision hash-checked against DuckDB."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.hash_semantic_dedup(
        emb, threshold=0.3, n_clusters=16
    ).orderBy("vec_id")


def entity_resolution_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over part names: (brand, size)
    blocking, edit-distance <= 4 scoring, connected-component
    clustering, min-id survivorship (rows-only: the component fixpoint
    is iterative; the blocked scorer's accepted set is oracled by
    q114 and survivorship is deterministic min-id)."""
    p = load_table(spark, sf_dir, "part")
    return similarity.entity_resolution(
        p.select(F.col("p_partkey"), F.col("p_name"), F.col("p_brand"),
                 F.col("p_size")),
        id_col="p_partkey", text_col="p_name",
        block_cols=["p_brand", "p_size"], max_distance=4,
    ).orderBy("p_partkey")


def graph_temporal_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-respecting reachability over the timestamped supply graph
    (cust->supp and supp->cust edges at the order date, epoch days):
    earliest-arrival journeys from sampled source customers within 4
    hops (rows-only: iterative label-correcting fixpoint; chain
    semantics property-tested — a static BFS overstates this reach)."""
    edges, sources = _supply_temporal_edges(spark, sf_dir)
    return graph.temporal_reach(edges, sources, k=4).orderBy("id")


def _supply_temporal_edges(spark: SparkSession, sf_dir: str):
    """(edges, sources) of the timestamped supply graph — shared by
    graph_temporal_reach (k=4, rows-only) and q158 (k=2, oracled)."""
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    base = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .select(
            F.col("o_custkey").alias("cust"),
            F.col("l_suppkey").alias("supp"),
            F.datediff(F.col("o_orderdate").cast("date"),
                       F.lit("1970-01-01").cast("date"))
            .cast("double").alias("ts"),
        )
        .distinct()
    )
    edges = base.select(
        F.col("cust").alias("src"), (F.col("supp") + F.lit(1_000_000))
        .alias("dst"), "ts",
    ).unionByName(base.select(
        (F.col("supp") + F.lit(1_000_000)).alias("src"),
        F.col("cust").alias("dst"), "ts",
    ))
    sources = (
        o.select(F.col("o_custkey").alias("id"))
        .filter(F.col("id") % 200 == 0).distinct()
    )
    return edges, sources


def q158_temporal_reach2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORACLED bounded temporal reach (k=2): the same earliest-arrival
    arithmetic ``graph_temporal_reach`` iterates, validated exactly —
    at bounded k the label-correcting rounds unroll to two min-joins
    (h1 = min edge ts from sources; h2 = min continuation ts >= h1
    arrival; arrival = per-vertex min over both), which DuckDB can run
    verbatim. The q86/reach2 discipline applied to temporal journeys:
    the iterative operator stays rows-only, its arithmetic is
    hash-checked here. ts values are exact integer days in doubles,
    so min/compare are engine-exact with no snap."""
    edges, sources = _supply_temporal_edges(spark, sf_dir)
    return (
        graph.temporal_reach(edges, sources, k=2)
        .select("id", F.col("arrival").alias("arrival_day"))
        .orderBy("id")
    )


def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-granularity continuous aggregate over events: one source
    scan feeds the finest level, coarser levels re-aggregate partials.
    Fully oracled — window starts are epoch-aligned (= time_bucket) at
    every granularity, and the decimal snap absorbs the summation-order
    difference between hierarchical re-aggregation and DuckDB's direct
    per-bucket sums."""
    from puregraphdb_spark.functions.numeric import decimal_round
    from puregraphdb_spark.operators.rollup import time_rollup
    from puregraphdb_spark.sources.registry import final_sort

    ev = load_table(spark, sf_dir, "events")
    rolled = time_rollup(
        ev, "ts", ["15 minutes", "1 hour", "1 day"], ["event_type"],
        {"n": ("count", None), "sum_val": ("sum", "value")},
    )
    return final_sort(
        rolled.withColumn(
            "sum_val", decimal_round(F.col("sum_val"), 2, grid=4)
        ),
        spark, sf_dir, "events", "granularity", "bucket", "event_type",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2 (+ rows-only
    iterative graph algorithms per the contract's non-SQL allowance).

    ORDERING IS DELIBERATE (VERDICT r7 item 2, r9 item 3): the
    driver's CORRECTNESS file records only the FIRST 50 entries, so
    each round rotates the stalest driver records to the front. The
    ``_FRONT_WINDOW`` list below IS the rotation — the literal dict
    keeps a stable canonical order and the return reorders it.

    Round-14 window (per VERDICT r13 item 1): new round-14 entries
    lead, then the 16 r9-stale records (q09-q24 — every entry whose
    newest driver record is r9), then the oldest-r10 cohort topped
    to exactly 50. Everything after slot 50 retains a driver-green
    row from r10-r13. Round-15 rotation: the r10 remainder
    (q54-q98 + hypertable_rollup + sliding_window_counts + any
    displaced this round).
    """
    table = {
        # -- 14 entries needing a (re-)record: the r7 err fix first --
        "graph_random_walks": graph_random_walks,
        "q124_time_to_convert": events.q124_time_to_convert,
        "q125_sorted_neighborhood": pipeline.q125_sorted_neighborhood,
        "q126_token_diversity": pipeline.q126_token_diversity,
        "q127_asof_forward": extras.q127_asof_forward,
        "q128_gini_concentration": extras.q128_gini_concentration,
        "q129_hhi_segments": extras.q129_hhi_segments,
        "q130_bounce_rate": events.q130_bounce_rate,
        "q131_dup_cluster_histogram": pipeline.q131_dup_cluster_histogram,
        "q132_funnel_latency": events.q132_funnel_latency,
        "q133_chi_square": extras.q133_chi_square,
        "heavy_hitter_tokens": heavy_hitter_tokens,
        "graph_coreness": graph_coreness,
        "approx_quantiles_prices": extras.approx_quantiles_prices,
        # -- NEW round-8/9 entries (never recorded, by construction) --
        "node2vec_walks": graph_node2vec_walks,
        "q134_cross_source_shingles": llm.q134_cross_source_shingles,
        "q135_anomaly_mad_ts": events.q135_anomaly_mad_ts,
        "q136_winsorized_stats": extras.q136_winsorized_stats,
        "q137_source_mix_budget": pipeline.q137_source_mix_budget,
        "q138_seasonal_dow": events.q138_seasonal_dow,
        "q139_class_balance_plan": pipeline.q139_class_balance_plan,
        "q140_burst_detection": events.q140_burst_detection,
        "q141_split_contamination": pipeline.q141_split_contamination,
        "q142_vocab_growth": pipeline.q142_vocab_growth,
        "q143_seasonal_burst": events.q143_seasonal_burst,
        "q144_dedup_impact": pipeline.q144_dedup_impact,
        "q145_substring_dedup": pipeline.q145_substring_dedup,
        "q146_pii_scan": pii.q146_pii_scan,
        "q147_token_length_profile": pipeline.q147_token_length_profile,
        "q148_benchmark_attribution": llm.q148_benchmark_attribution,
        "q149_doc_stitching": pipeline.q149_doc_stitching,
        "q150_embedding_drift": pipeline.q150_embedding_drift,
        # -- NEW round-12 entries --
        "q151_hash_semantic_dedup": q151_hash_semantic_dedup,
        "semantic_dedup": semantic_dedup,
        "q152_tokenizer_fertility": pipeline.q152_tokenizer_fertility,
        "q153_provenance_dedup": pipeline.q153_provenance_dedup,
        "q154_bm25_topk": llm.q154_bm25_topk,
        "q155_profile_drift": profile.q155_profile_drift,
        "entity_resolution": entity_resolution_parts,
        "graph_temporal_reach": graph_temporal_reach,
        "q158_temporal_reach2": q158_temporal_reach2,
        "q156_dedup_keepers": pipeline.q156_dedup_keepers,
        "q157_shingle_compressibility":
            pipeline.q157_shingle_compressibility,
        # -- round-12 continuation entries --
        "q159_cusum_changepoint": events.q159_cusum_changepoint,
        "q160_lm_transition_score": pipeline.q160_lm_transition_score,
        "q161_k_anonymity": profile.q161_k_anonymity,
        "q162_gopher_rules": pipeline.q162_gopher_rules,
        "ann_recall_report": ann_recall_eval,
        "q163_selection_curve": pipeline.q163_selection_curve,
        "q164_incremental_agg": incremental.q164_incremental_agg,
        "q165_join_cardinality": skew.q165_join_cardinality,
        "q166_arrival_regularity": events.q166_arrival_regularity,
        "q167_scd1_upsert": incremental.q167_scd1_upsert,
        "q168_asset_profile": multimodal.q168_asset_profile,
        "q169_vector_hygiene": similarity.q169_vector_hygiene,
        # -- round-13 entries --
        "q170_payload_dedup": multimodal.q170_payload_dedup,
        "image_near_dup": multimodal.image_near_dup,
        "q171_resource_allocation": graph.q171_resource_allocation,
        "q172_dedup_threshold_curve": llm.q172_dedup_threshold_curve,
        "q173_embedding_dim_profile": pipeline.q173_embedding_dim_profile,
        "q174_m4_downsample": events.q174_m4_downsample,
        "q175_l_diversity": profile.q175_l_diversity,
        "q176_allpairs_jaccard": similarity.q176_allpairs_jaccard,
        "q177_negative_sampling": graph.q177_negative_sampling,
        "q178_bitemporal_asof": incremental.q178_bitemporal_asof,
        "q179_source_overlap": pipeline.q179_source_overlap,
        "q180_clamped_balance": events.q180_clamped_balance,
        # -- round-14 entries --
        "q181_capped_balance": events.q181_capped_balance,
        "q182_langid_kappa": pipeline.q182_langid_kappa,
        "q183_mann_whitney": extras.q183_mann_whitney,
        "q184_benford": profile.q184_benford,
        "q185_spearman": extras.q185_spearman,
        "q186_ks_statistic": extras.q186_ks_statistic,
        # -- oldest re-records (q01+ last driver-recorded r05) fill
        #    the remainder of the 50-window --
        "q01_filter_project": relational.q01_filter_project,
        "q02_agg_pricing_summary": relational.q02_agg_pricing_summary,
        "q03_distinct_count": relational.q03_distinct_count,
        "q04_rollup": relational.q04_rollup,
        "q05_join_topk_revenue": relational.q05_join_topk_revenue,
        "q06_join_5way": relational.q06_join_5way,
        "q07_anti_join": relational.q07_anti_join,
        "q08_semi_join": relational.q08_semi_join,
        "q09_left_outer": relational.q09_left_outer,
        "q10_range_join": relational.q10_range_join,
        "q11_window_rank": relational.q11_window_rank,
        "q12_window_running": relational.q12_window_running,
        "q13_window_lag_delta": relational.q13_window_lag_delta,
        "q14_setops": relational.q14_setops,
        "q15_union_except": relational.q15_union_except,
        "q16_topk_parts": relational.q16_topk_parts,
        "q17_percentile": relational.q17_percentile,
        "q18_string_date_funcs": relational.q18_string_date_funcs,
        "q19_case_math": relational.q19_case_math,
        "q20_tumbling_window": events.q20_tumbling_window,
        "q21_session_window": events.q21_session_window,
        "q22_json_extract": events.q22_json_extract,
        "q23_graph_degree": graph.q23_graph_degree,
        "q24_graph_triangles": graph.q24_graph_triangles,
        "q25_graph_2hop": graph.q25_graph_2hop,
        "q26_dedup_keys": llm.q26_dedup_keys,
        "q27_text_tokens": llm.q27_text_tokens,
        "q28_text_stats": llm.q28_text_stats,
        "q29_knn_cosine": llm.q29_knn_cosine,
        "q30_knn_label": llm.q30_knn_label,
        "q31_asof_join": extras.q31_asof_join,
        "q32_full_outer": extras.q32_full_outer,
        "q33_cube": extras.q33_cube,
        "q34_window_analytics": extras.q34_window_analytics,
        "q35_string_date": extras.q35_string_date,
        "q36_pivot": extras.q36_pivot,
        "q37_regex": extras.q37_regex,
        "q38_levenshtein": extras.q38_levenshtein,
        "q39_array_agg": extras.q39_array_agg,
        "q40_grouping_sets": extras.q40_grouping_sets,
        "q41_correlated_avg": extras.q41_correlated_avg,
        "q42_not_exists": extras.q42_not_exists,
        "q43_scalar_subquery": extras.q43_scalar_subquery,
        "q44_interval_join": extras.q44_interval_join,
        "q45_conditional_distinct": extras.q45_conditional_distinct,
        "q46_range_frame": extras.q46_range_frame,
        "q47_unpivot": extras.q47_unpivot,
        "q48_trailing_feature": extras.q48_trailing_feature,
        "q49_array_ops": extras.q49_array_ops,
        "q50_gap_fill": extras.q50_gap_fill,
        "q51_stat_agg": extras.q51_stat_agg,
        "q52_histogram": extras.q52_histogram,
        "q53_array_hof": extras.q53_array_hof,
        "q54_dedup_latest": extras.q54_dedup_latest,
        "q55_percent_rank": extras.q55_percent_rank,
        "q56_weighted_avg": extras.q56_weighted_avg,
        "q57_mode": extras.q57_mode,
        "q58_bigrams": extras.q58_bigrams,
        "q59_loo_avg": extras.q59_loo_avg,
        "q60_having_scalar": extras.q60_having_scalar,
        "q61_rank_ties": extras.q61_rank_ties,
        "q62_json_typed": extras.q62_json_typed,
        "q63_ngram_jaccard": llm.q63_ngram_jaccard,
        "q64_regex_tokens": llm.q64_regex_tokens,
        "q65_motif_wedge": graph.q65_motif_wedge,
        "q66_contamination": llm.q66_contamination,
        "q67_simhash_hamming": pipeline.q67_simhash_hamming,
        "q68_doc_chunks": pipeline.q68_doc_chunks,
        "q69_hash_split": pipeline.q69_hash_split,
        "q70_tfidf": pipeline.q70_tfidf,
        "q71_quality_filter": pipeline.q71_quality_filter,
        "q72_langid_confusion": pipeline.q72_langid_confusion,
        "q73_stratified_sample": pipeline.q73_stratified_sample,
        "q74_minhash_vocab": pipeline.q74_minhash_vocab,
        "q75_pmi_bigrams": pipeline.q75_pmi_bigrams,
        "q76_embed_quantize": pipeline.q76_embed_quantize,
        "q77_content_hash_dedup": pipeline.q77_content_hash_dedup,
        "q78_zscore_outliers": pipeline.q78_zscore_outliers,
        "q79_vocab_coverage": pipeline.q79_vocab_coverage,
        "q80_doc_embedding_join": pipeline.q80_doc_embedding_join,
        "q81_repetition_filter": pipeline.q81_repetition_filter,
        "q82_cosine_pairs": pipeline.q82_cosine_pairs,
        "q83_graph_strength": graph.q83_graph_strength,
        "q84_winnow_fingerprint": pipeline.q84_winnow_fingerprint,
        "q85_clustering_coeff": graph.q85_clustering_coeff,
        "q86_reach2": graph.q86_reach2,
        "q87_funnel": events.q87_funnel,
        "q88_retention": events.q88_retention,
        "q89_skyline": pipeline.q89_skyline,
        "q90_regression": pipeline.q90_regression,
        "q91_motif_weighted": graph.q91_motif_weighted,
        "q92_sequence_pack": pipeline.q92_sequence_pack,
        "q93_minhash_bands": pipeline.q93_minhash_bands,
        "q94_bounded_funnel": events.q94_bounded_funnel,
        "q95_degree_assortativity": graph.q95_degree_assortativity,
        "q96_embedding_centroids": pipeline.q96_embedding_centroids,
        "q97_skew_profile": skew.q97_skew_profile,
        "q98_funnel_windows": events.q98_funnel_windows,
        "hypertable_rollup": hypertable_rollup,
        "sliding_window_counts": extras.sliding_window_counts,
        # -- driver-green r7 re-records: the 24 rows-only entries and
        #    oracled q99-q123 rotated here from the front (all have a
        #    green CORRECTNESS_r07 row; random_walks alone leads the
        #    window above for its err re-record) --
        "graph_pagerank": graph_pagerank,
        "graph_connected_components": graph_connected_components,
        "graph_label_propagation": graph_label_propagation,
        "graph_scc": graph_scc,
        "graph_kcore": graph_kcore,
        "graph_ppr": graph_ppr,
        "graph_shortest_paths": graph_shortest_paths,
        "graph_wpagerank": graph_wpagerank,
        "graph_sssp_weighted": graph_sssp_weighted,
        "graph_harmonic": graph_harmonic,
        "graph_betweenness": graph_betweenness,
        "graph_betweenness_approx": graph_betweenness_approx,
        "graph_louvain": community.graph_louvain,
        "graph_louvain_weighted": community.graph_louvain_weighted,
        "graph_hits": graph_hits,
        "graph_anf": graph_anf,
        "graph_ktruss": graph_ktruss,
        "text_profile": text_profile,
        "text_quality_report": text_quality_report,
        "dedup_minhash_near": dedup_minhash_near,
        "dedup_embedding_near": dedup_embedding_near,
        "knn_ann_lsh": knn_ann_lsh,
        "knn_ann_ivf": knn_ann_ivf,
        "knn_ann_ivf_sq8": knn_ann_ivf_sq8,
        "bpe_merge_rules": bpe_merge_rules,
        "knn_ann_ivf_pq": knn_ann_ivf_pq,
        "approx_distinct_parts": extras.approx_distinct_parts,
        "q99_modularity": community.q99_modularity,
        "q100_link_prediction": graph.q100_link_prediction,
        "q101_attribution": events.q101_attribution,
        "q102_boilerplate_shingles": llm.q102_boilerplate_shingles,
        "q103_graph_growth": graph.q103_graph_growth,
        "q104_markov_transitions": events.q104_markov_transitions,
        "q105_rfm_segments": extras.q105_rfm_segments,
        "q106_cooccur_lift": extras.q106_cooccur_lift,
        "q107_session_paths": events.q107_session_paths,
        "q108_reorder_intervals": extras.q108_reorder_intervals,
        "q109_cohort_ltv": extras.q109_cohort_ltv,
        "q110_mad_outliers": pipeline.q110_mad_outliers,
        "q111_degree_histogram": graph.q111_degree_histogram,
        "q112_weighted_sample": pipeline.q112_weighted_sample,
        "q113_snapshot_diff": extras.q113_snapshot_diff,
        "q114_fuzzy_name_pairs": pipeline.q114_fuzzy_name_pairs,
        "q115_rolling_actives": events.q115_rolling_actives,
        "q116_ab_split_conversion": events.q116_ab_split_conversion,
        "q117_table_profile": profile.q117_table_profile,
        "q118_fk_integrity": profile.q118_fk_integrity,
        "q119_decile_gains": extras.q119_decile_gains,
        "q120_scd2_intervals": events.q120_scd2_intervals,
        "q121_autocorr": extras.q121_autocorr,
        "q122_weighted_median": extras.q122_weighted_median,
        "q123_interval_union": events.q123_interval_union,
    }
    missing = [k for k in _FRONT_WINDOW if k not in table]
    if missing:  # a typo here must fail loudly, not shrink the window
        raise KeyError(f"_FRONT_WINDOW names unknown entries: {missing}")
    if len(_FRONT_WINDOW) != 50:  # driver records exactly 50 entries
        raise ValueError(
            f"_FRONT_WINDOW must be exactly 50 entries, got "
            f"{len(_FRONT_WINDOW)} — rotation slots wasted/overflowed"
        )
    ordered = {k: table[k] for k in _FRONT_WINDOW}
    ordered.update((k, v) for k, v in table.items() if k not in ordered)
    return ordered


#: Round-13 driver window (first 50 entries the driver records).
#: Per VERDICT r12 item 1: the five round-12-continuation entries
#: that landed after the r12 driver pass (q165-q169 — never recorded,
#: by construction), then the last two r7-stale entries
#: (text_profile / text_quality_report, displaced from the r12
#: window by late-landing q163/q164), then the oldest-r9 cohort
#: topped to exactly 50. NEW round-13 entries are inserted right
#: after the seven leaders and displace the TAIL r9 fill (q2x), which
#: already holds r9-green records — a never-recorded entry outranks
#: a re-record on evidence value. After this round no entry's newest
#: driver record predates r9.
_FRONT_WINDOW = [
    # NEW round-14 entries (never recorded, by construction) lead;
    # each new entry landing this round displaces one tail-fill slot
    # (which keeps its r10-green record).
    "q181_capped_balance", "q182_langid_kappa", "q183_mann_whitney",
    "q184_benford", "q185_spearman", "q186_ks_statistic",
    "knn_ann_ivf_sq8",
    "bpe_merge_rules", "knn_ann_ivf_pq", "ann_recall_report",
    # r9-stale cohort (VERDICT r13 item 1): the 16 entries whose
    # newest driver record is r9
    "q09_left_outer", "q10_range_join", "q11_window_rank",
    "q12_window_running", "q13_window_lag_delta", "q14_setops",
    "q15_union_except", "q16_topk_parts", "q17_percentile",
    "q18_string_date_funcs", "q19_case_math", "q20_tumbling_window",
    "q21_session_window", "q22_json_extract", "q23_graph_degree",
    "q24_graph_triangles",
    # oldest-r10 fill, topped to exactly 50 (tail = displacement
    # zone; r10 entries that do not fit roll to round 15 with their
    # r10-green records intact)
    "graph_random_walks", "q124_time_to_convert",
    "q137_source_mix_budget", "q145_substring_dedup",
    "q25_graph_2hop", "q26_dedup_keys", "q27_text_tokens",
    "q28_text_stats", "q29_knn_cosine", "q30_knn_label",
    "q31_asof_join", "q32_full_outer", "q33_cube",
    "q34_window_analytics", "q35_string_date", "q36_pivot",
    "q37_regex", "q38_levenshtein", "q39_array_agg",
    "q40_grouping_sets", "q41_correlated_avg", "q42_not_exists",
    "q43_scalar_subquery", "q44_interval_join",
]


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (SURVEY.md Appendix A).

    Rows-only entries (graph_*) are deliberately absent.
    """
    return {
        "q01_filter_project": """
            select l_orderkey, l_linenumber,
                   cast(round(cast(l_extendedprice*(1-l_discount)
                         as decimal(28,4)), 2) as double) as net_price
            from lineitem
            where l_shipdate >= timestamp '1996-01-01' and l_discount > 0.05
              and l_returnflag = 'R'
        """,
        "q02_agg_pricing_summary": """
            select l_returnflag, l_linestatus, count(*) as n,
                   round(sum(l_quantity),2) as sum_qty,
                   cast(round(sum(cast(l_extendedprice*(1-l_discount)
                         as decimal(28,4))), 2) as double) as sum_disc_price,
                   round(avg(l_quantity),4) as avg_qty
            from lineitem where l_shipdate <= timestamp '1998-09-01'
            group by l_returnflag, l_linestatus
            order by l_returnflag, l_linestatus
        """,
        "q03_distinct_count": """
            select l_returnflag, count(distinct l_partkey) as n_parts,
                   count(distinct l_suppkey) as n_supp
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "q04_rollup": """
            select coalesce(l_returnflag,'ALL') as rf,
                   coalesce(l_linestatus,'ALL') as ls,
                   round(sum(l_quantity),2) as sum_qty
            from lineitem group by rollup (l_returnflag, l_linestatus)
            order by rf, ls
        """,
        "q05_join_topk_revenue": """
            select o.o_orderkey,
                   cast(round(sum(cast(l.l_extendedprice*(1-l.l_discount)
                         as decimal(28,4))), 2) as double) as revenue,
                   o.o_orderdate
            from customer c join orders o on c.c_custkey=o.o_custkey
            join lineitem l on l.l_orderkey=o.o_orderkey
            where c.c_mktsegment='BUILDING'
              and o.o_orderdate < timestamp '1998-01-01'
            group by o.o_orderkey, o.o_orderdate
            order by revenue desc, o_orderkey limit 10
        """,
        "q06_join_5way": """
            select n.n_name as nation,
                   cast(round(sum(cast(l.l_extendedprice*(1-l.l_discount)
                         as decimal(28,4))), 2) as double) as revenue
            from region r join nation n on n.n_regionkey=r.r_regionkey
            join customer c on c.c_nationkey=n.n_nationkey
            join orders o on o.o_custkey=c.c_custkey
            join lineitem l on l.l_orderkey=o.o_orderkey
            join supplier s on s.s_suppkey=l.l_suppkey
              and s.s_nationkey=c.c_nationkey
            where r.r_name='ASIA' group by n.n_name order by revenue desc, nation
        """,
        "q07_anti_join": """
            select c.c_custkey, c.c_name from customer c
            where not exists (select 1 from orders o where o.o_custkey=c.c_custkey)
            order by c.c_custkey
        """,
        "q08_semi_join": """
            select count(*) as n_cust from customer c
            where exists (select 1 from orders o
                          where o.o_custkey=c.c_custkey and o.o_orderstatus='F')
        """,
        "q09_left_outer": """
            select c.c_custkey, count(o.o_orderkey) as n_orders,
                   round(coalesce(sum(o.o_totalprice),0),2) as total
            from customer c left join orders o on o.o_custkey=c.c_custkey
            group by c.c_custkey order by c.c_custkey
        """,
        "q10_range_join": """
            select count(*) as n, round(avg(l.l_extendedprice),2) as avg_price
            from orders o join lineitem l on l.l_orderkey=o.o_orderkey
             and l.l_shipdate between o.o_orderdate
                 and o.o_orderdate + interval '90 days'
        """,
        "q11_window_rank": """
            select * from (
              select o_custkey, o_orderkey, o_totalprice,
                     row_number() over (partition by o_custkey
                       order by o_totalprice desc, o_orderkey) as rn
              from orders) t where rn <= 3 order by o_custkey, rn
        """,
        "q12_window_running": """
            select o_custkey, o_orderkey,
                   round(sum(o_totalprice) over (partition by o_custkey
                     order by o_orderdate, o_orderkey
                     rows between unbounded preceding and current row),2)
                     as running_total
            from orders order by o_custkey, o_orderkey
        """,
        "q13_window_lag_delta": """
            select o_custkey, o_orderkey,
                   round(o_totalprice - lag(o_totalprice,1,0.0) over
                     (partition by o_custkey order by o_orderdate, o_orderkey),2)
                     as delta
            from orders order by o_custkey, o_orderkey
        """,
        "q14_setops": """
            select n_nationkey from nation
            where n_nationkey in (select c_nationkey from customer)
            intersect
            select n_nationkey from nation
            where n_nationkey in (select s_nationkey from supplier)
            order by n_nationkey
        """,
        "q15_union_except": """
            select c_nationkey as k from customer
            union select s_nationkey from supplier
            except select n_nationkey from nation where n_regionkey = 0
            order by k
        """,
        "q16_topk_parts": """
            select p.p_brand, p.p_type, round(sum(l.l_quantity),2) as qty
            from part p join lineitem l on l.l_partkey=p.p_partkey
            group by p.p_brand, p.p_type
            order by qty desc, p_brand, p_type limit 15
        """,
        "q17_percentile": """
            select l_returnflag,
                   cast(round(cast(median(l_extendedprice)
                         as decimal(28,6)), 2) as double) as med_price,
                   cast(round(cast(percentile_cont(0.9)
                           within group (order by l_extendedprice)
                         as decimal(28,6)), 2) as double) as p90
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "q18_string_date_funcs": """
            select upper(substr(c_name,1,8)) as cpfx, length(c_name) as nlen,
                   year(o_orderdate) as yr, month(o_orderdate) as mon,
                   concat(c_mktsegment,'-',o_orderpriority) as tag
            from customer c join orders o on o.o_custkey=c.c_custkey
            where o.o_orderkey % 1000 = 7 order by o.o_orderkey
        """,
        "q19_case_math": """
            select l_linestatus,
                   round(sum(case when l_discount>0.05 then l_extendedprice
                             else 0 end),2) as hi_disc,
                   round(sum(sqrt(l_quantity)),2) as sq,
                   round(sum(abs(l_tax-0.04)),4) as tax_dev
            from lineitem group by l_linestatus order by l_linestatus
        """,
        "q20_tumbling_window": """
            select time_bucket(interval '1 hour', ts) as win, event_type,
                   count(*) as n,
                   cast(round(sum(cast(value as decimal(28,3))), 2) as double) as sum_val
            from events group by win, event_type order by win, event_type
        """,
        "q21_session_window": """
            with marked as (
              select user_id, ts,
                 case when ts - lag(ts) over (partition by user_id order by ts)
                        > interval '30 minutes'
                      or lag(ts) over (partition by user_id order by ts) is null
                      then 1 else 0 end as new_s
              from events),
            sess as (select user_id, ts,
                     cast(sum(new_s) over (partition by user_id order by ts
                       rows between unbounded preceding and current row)
                       as bigint) as sid
                     from marked)
            select user_id, sid, count(*) as n_events from sess
            group by user_id, sid order by user_id, sid
        """,
        "q22_json_extract": """
            select event_type,
                   cast(round(cast(avg(cast(json_extract_string(props,'$.k')
                           as double)) as decimal(28,8)), 4) as double) as avg_k
            from events group by event_type order by event_type
        """,
        "q23_graph_degree": """
            select v, cast(sum(outd) as bigint) as out_degree,
                   cast(sum(ind) as bigint) as in_degree from (
              select o.o_custkey as v, count(distinct l.l_suppkey) as outd,
                     0 as ind
              from orders o join lineitem l on l.l_orderkey=o.o_orderkey
              group by 1
              union all
              select l.l_suppkey as v, 0, count(distinct o.o_custkey)
              from orders o join lineitem l on l.l_orderkey=o.o_orderkey
              group by 1
            ) t group by v order by v
        """,
        "q24_graph_triangles": """
            with e as (select distinct a.l_partkey as u, b.l_partkey as v
                       from lineitem a join lineitem b
                         on a.l_orderkey=b.l_orderkey
                       where a.l_partkey < b.l_partkey)
            select count(*) as n_triangles
            from e e1 join e e2 on e2.u=e1.v
            join e e3 on e3.u=e1.u and e3.v=e2.v
        """,
        "q25_graph_2hop": """
            with e as (select distinct o_custkey as c, l_suppkey as s
                       from orders o join lineitem l
                         on l.l_orderkey=o.o_orderkey)
            select a.c as src, count(distinct b.c) as n_2hop
            from e a join e b on a.s=b.s and a.c<>b.c
            where a.c % 50 = 0 group by a.c order by a.c
        """,
        "q26_dedup_keys": """
            select lang, n_chars, min(doc_id) as keep_id, count(*) as n_dupes
            from documents group by lang, n_chars having count(*)>1
            order by lang, n_chars
        """,
        "q27_text_tokens": """
            select tok, count(*) as tf from (
              select unnest(string_split(lower(text),' ')) as tok
              from documents) t
            where tok <> '' group by tok order by tf desc, tok limit 20
        """,
        "q28_text_stats": """
            select lang, count(*) as n_docs,
                   cast(round(cast(avg(n_chars) as decimal(28,6)), 2) as double)
                     as avg_chars,
                   cast(round(cast(avg(len(string_split(text,' ')))
                         as decimal(28,6)), 2) as double) as avg_tokens
            from documents group by lang order by lang
        """,
        "q29_knn_cosine": """
            select b.vec_id,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]),4)
                     as cos_sim
            from embeddings a join embeddings b on b.vec_id <> a.vec_id
            where a.vec_id = 0 order by cos_sim desc, b.vec_id limit 10
        """,
        "q30_knn_label": """
            with sims as (
              select a.vec_id as src, a.label as src_label, b.label as nbr_label,
                     list_cosine_similarity(a.embedding::DOUBLE[],
                                            b.embedding::DOUBLE[]) as cs,
                     row_number() over (partition by a.vec_id
                       order by list_cosine_similarity(a.embedding::DOUBLE[],
                                                       b.embedding::DOUBLE[])
                         desc, b.vec_id) as rn
              from embeddings a join embeddings b on b.vec_id <> a.vec_id
              where a.vec_id < 20)
            select src, src_label, nbr_label, count(*) as votes
            from sims where rn <= 5 group by src, src_label, nbr_label
            order by src, votes desc, nbr_label
        """,
        "q31_asof_join": """
            select p.event_id, p.user_id, p.ts, c.ts as click_ts,
                   round(c.value,2) as click_val
            from (select event_id, user_id, ts from events
                  where event_type='purchase') p
            asof join (select user_id, ts, value from events
                       where event_type='click') c
              on p.user_id = c.user_id and p.ts >= c.ts
            order by p.event_id
        """,
        "q32_full_outer": """
            select coalesce(c.nk, s.nk) as nationkey,
                   coalesce(n_cust, 0) as n_cust,
                   coalesce(n_supp, 0) as n_supp
            from (select c_nationkey as nk, count(*) as n_cust
                  from customer where c_acctbal > 9500 group by 1) c
            full outer join
                 (select s_nationkey as nk, count(*) as n_supp
                  from supplier where s_acctbal > 9000 group by 1) s
              on c.nk = s.nk
            order by nationkey
        """,
        "q33_cube": """
            select coalesce(l_returnflag,'ALL') as rf,
                   coalesce(l_linestatus,'ALL') as ls,
                   count(*) as n, round(sum(l_extendedprice),2) as sum_price
            from lineitem group by cube (l_returnflag, l_linestatus)
            order by rf, ls
        """,
        "q34_window_analytics": """
            select o_custkey, o_orderkey,
                   dense_rank() over wo as dr,
                   ntile(4) over wo as quartile,
                   round(first_value(o_totalprice) over wo, 2) as top_price,
                   cast(round(cast(o_totalprice
                           - avg(o_totalprice) over (partition by o_custkey)
                         as decimal(28,6)), 2) as double) as dev
            from orders where o_orderkey % 10 = 0
            window wo as (partition by o_custkey
                          order by o_totalprice desc, o_orderkey)
            order by o_custkey, o_orderkey
        """,
        "q35_string_date": """
            select o_orderkey,
                   lpad(cast(o_orderkey as varchar), 12, '0') as padded,
                   reverse(substr(c_name, 1, 6)) as rev6,
                   split_part(c_name, '#', 2) as cust_num,
                   date_trunc('month', o_orderdate) as order_month
            from orders o join customer c on o.o_custkey = c.c_custkey
            where o.o_orderkey % 500 = 3 order by o_orderkey
        """,
        "q36_pivot": """
            select l_returnflag,
                   round(sum(case when l_linestatus='F' then l_quantity end),2)
                     as qty_f,
                   round(sum(case when l_linestatus='O' then l_quantity end),2)
                     as qty_o
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "q37_regex": """
            select c_mktsegment,
                   count(case when regexp_matches(c_name, '[0-9]{9}$')
                         then 1 end) as n_match,
                   max(cast(regexp_extract(c_name, '([0-9]+)', 1) as bigint))
                     as max_id,
                   min(regexp_replace(c_name, '[0-9]+', '#')) as min_masked
            from customer group by c_mktsegment order by c_mktsegment
        """,
        "q38_levenshtein": """
            select p_type,
                   cast(min(levenshtein(p_name, 'red widget')) as bigint)
                     as min_dist,
                   round(avg(levenshtein(substr(p_name,1,5), 'small')),4)
                     as avg_prefix_dist,
                   count(*) as n
            from part group by p_type order by p_type
        """,
        "q39_array_agg": """
            select n_name as nation,
                   string_agg(s_name, ',' order by s_name) as suppliers,
                   count(*) as n_supp
            from supplier join nation on s_nationkey=n_nationkey
            group by n_name order by nation
        """,
        "q40_grouping_sets": """
            select coalesce(l_returnflag,'ALL') as rf,
                   coalesce(l_linestatus,'ALL') as ls,
                   cast(grouping(l_returnflag, l_linestatus) as bigint) as gid,
                   count(*) as n, round(sum(l_quantity),2) as sum_qty
            from lineitem group by grouping sets ((l_returnflag),(l_linestatus))
            order by rf, ls
        """,
        "q41_correlated_avg": """
            select p_brand,
                   cast(round(cast(cast(sum(cast(l_extendedprice
                           as decimal(28,2))) as double)/7.0
                         as decimal(28,6)), 2) as double) as avg_yearly,
                   count(*) as n
            from lineitem l join part p on p.p_partkey = l.l_partkey
            where l.l_quantity < (select 0.5 * avg(l2.l_quantity)
                                  from lineitem l2
                                  where l2.l_partkey = l.l_partkey)
            group by p_brand order by p_brand
        """,
        "q42_not_exists": """
            select c_mktsegment, count(*) as n_cust
            from customer c
            where c.c_acctbal > 1000 and not exists (
              select 1 from orders o
              where o.o_custkey = c.c_custkey and o.o_totalprice > 400000)
            group by c_mktsegment order by c_mktsegment
        """,
        "q43_scalar_subquery": """
            select o_orderpriority, count(*) as n,
                   cast(round(cast(cast(sum(cast(o_totalprice
                           as decimal(28,2))) as double)/count(*)
                         as decimal(28,6)), 2) as double) as avg_price
            from orders
            where o_totalprice > (
              select cast(sum(cast(o_totalprice as decimal(28,2)))
                     as double)/count(*) from orders)
            group by o_orderpriority order by o_orderpriority
        """,
        "q44_interval_join": """
            select o_orderpriority, count(*) as n_lines
            from orders o join lineitem l on l.l_orderkey = o.o_orderkey
            where l.l_shipdate <= o.o_orderdate + interval 60 day
            group by o_orderpriority order by o_orderpriority
        """,
        "q45_conditional_distinct": """
            select l_returnflag,
                   count(distinct case when l_quantity > 25
                         then l_partkey end) as big_parts,
                   count(distinct l_suppkey) as n_supp,
                   count(*) as n
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "q46_range_frame": """
            select o_custkey, o_orderkey,
                   cast(round(cast(sum(o_totalprice) over (
                     partition by o_custkey order by o_totalprice
                     range between 50000 preceding and current row)
                     as decimal(28,2)),2) as double) as nearby_sum
            from orders where o_custkey % 100 = 0
            order by o_custkey, o_orderkey
        """,
        "q47_unpivot": """
            select p_brand, metric,
                   cast(round(cast(val as decimal(28,6)),4) as double) as val
            from (
              select p_brand, avg(p_retailprice) as avg_price,
                     cast(min(p_size) as double) as min_size,
                     cast(max(p_size) as double) as max_size
              from part group by p_brand
            ) unpivot (val for metric in (avg_price, min_size, max_size))
            order by p_brand, metric
        """,
        "q48_trailing_feature": """
            select event_id, user_id,
                   cast(round(cast(avg(value) over (
                     partition by user_id order by ts, event_id
                     rows between 3 preceding and 1 preceding)
                     as decimal(28,6)),4) as double) as past_avg
            from events where user_id % 200 = 7
            order by user_id, event_id
        """,
        "q49_array_ops": """
            with per_nation as (
              select n_name,
                     list_sort(list(distinct s_suppkey % 10)) as buckets
              from supplier join nation on s_nationkey = n_nationkey
              group by n_name
            )
            select a.n_name as na, b.n_name as nb,
                   cast(len(list_intersect(a.buckets, b.buckets)) as bigint)
                     as n_common
            from per_nation a join per_nation b on a.n_name < b.n_name
            order by na, nb limit 20
        """,
        "q50_gap_fill": """
            with daily as (
              select date_trunc('day', ts) as d, count(*) as cnt
              from events where event_type = 'purchase' group by 1
            ), bounds as (select min(d) as lo, max(d) as hi from daily)
            select gs.d, cast(coalesce(daily.cnt, 0) as bigint) as n
            from (select unnest(generate_series(lo, hi,
                         interval 1 day)) as d from bounds) gs
            left join daily on gs.d = daily.d
            order by gs.d
        """,
        "q51_stat_agg": """
            select l_returnflag,
                   cast(round(cast(corr(l_quantity, l_extendedprice)
                         as decimal(28,8)),6) as double) as qty_price_corr,
                   cast(round(cast(stddev_samp(l_quantity)
                         as decimal(28,8)),6) as double) as qty_sd,
                   cast(round(cast(covar_samp(l_quantity, l_discount)
                         as decimal(28,8)),6) as double) as qty_disc_cov
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "q52_histogram": """
            with b as (select min(o_totalprice) as lo,
                              max(o_totalprice) as hi from orders)
            select least(cast(floor((o_totalprice - lo)
                         / ((hi - lo) / 10.0)) as bigint), 9) as bucket,
                   count(*) as n,
                   cast(round(cast(min(o_totalprice) as decimal(28,2)),2)
                     as double) as bucket_min
            from orders, b
            group by 1 order by 1
        """,
        "q53_array_hof": """
            select label,
                   count(*) as n,
                   cast(round(cast(avg(list_max(embedding))
                         as decimal(28,8)),6) as double) as avg_max_comp,
                   cast(round(avg(len(list_filter(embedding, x -> x > 0))),4)
                     as double) as avg_n_pos
            from embeddings group by label order by label
        """,
        "q54_dedup_latest": """
            select user_id, event_id, cast(ts as timestamp) as ts, event_type
            from (
              select user_id, event_id, ts, event_type,
                     row_number() over (partition by user_id
                       order by cast(ts as timestamp) desc, event_id desc)
                       as rn
              from events) t
            where rn = 1 order by user_id
        """,
        "q55_percent_rank": """
            select p_partkey, p_brand,
                   cast(round(cast(percent_rank() over w as decimal(28,8)),6)
                     as double) as pr,
                   cast(round(cast(cume_dist() over w as decimal(28,8)),6)
                     as double) as cd
            from part where p_partkey % 20 = 0
            window w as (partition by p_brand
                         order by p_retailprice, p_partkey)
            order by p_partkey
        """,
        "q56_weighted_avg": """
            select l_returnflag,
                   cast(round(cast(
                     cast(sum(cast(l_discount*l_quantity as decimal(28,6)))
                          as double)
                     / cast(sum(cast(l_quantity as decimal(28,2)))
                            as double)
                     as decimal(28,8)),6) as double) as wavg_disc,
                   count(*) as n
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "q57_mode": """
            with counts as (
              select o_orderstatus, o_orderpriority, count(*) as n
              from orders group by 1, 2)
            select o_orderstatus, o_orderpriority as top_priority, n from (
              select o_orderstatus, o_orderpriority, n,
                     row_number() over (partition by o_orderstatus
                       order by n desc, o_orderpriority) as rn
              from counts) t
            where rn = 1 order by o_orderstatus
        """,
        "q58_bigrams": """
            with t as (
              select doc_id,
                     unnest(string_split(lower(text), ' ')) as tok,
                     generate_subscripts(string_split(lower(text), ' '), 1)
                       as pos
              from documents)
            select a.tok || ' ' || b.tok as bigram, count(*) as tf
            from t a join t b on a.doc_id = b.doc_id and b.pos = a.pos + 1
            where a.tok <> '' and b.tok <> ''
            group by bigram order by tf desc, bigram limit 15
        """,
        "q59_loo_avg": """
            select o_orderkey, o_custkey,
                   cast(round(cast(
                     case when (count(*) over w) > 1 then
                       ((sum(o_totalprice) over w) - o_totalprice)
                       / ((count(*) over w) - 1) end
                     as decimal(28,6)),4) as double) as loo_avg
            from orders where o_custkey % 100 = 0
            window w as (partition by o_custkey)
            order by o_orderkey
        """,
        "q60_having_scalar": """
            with pb as (
              select p.p_brand,
                     sum(cast(l.l_extendedprice*(1-l.l_discount)
                         as decimal(28,4))) as brand_rev_d,
                     count(*) as n
              from lineitem l join part p on p.p_partkey = l.l_partkey
              group by p.p_brand)
            select p_brand,
                   cast(round(brand_rev_d, 2) as double) as brand_rev, n
            from pb
            where brand_rev_d * (select count(*) from pb)
                > (select sum(brand_rev_d) from pb)
            order by p_brand
        """,
        "q61_rank_ties": """
            select o_orderpriority, o_orderkey, o_orderdate,
                   cast(rk as bigint) as rk
            from (
              select o_orderpriority, o_orderkey, o_orderdate,
                     rank() over (partition by o_orderpriority
                                  order by o_orderdate desc) as rk
              from orders where o_orderkey % 200 = 0) t
            where rk <= 3
            order by o_orderpriority, rk, o_orderkey
        """,
        "q62_json_typed": """
            select event_type,
                   cast(sum(cast(json_extract_string(props,'$.k') as int))
                     as bigint) as sum_k,
                   count(case when cast(json_extract_string(props,'$.k')
                         as int) > 50 then 1 end) as n_high
            from events group by event_type order by event_type
        """,
        "q63_ngram_jaccard": """
            -- inverted-index formulation (round 6): |A∩B| via a
            -- shingle equi-join + count instead of 25M per-pair
            -- list_intersect calls — identical output (verified equal
            -- at sf0.01/sf0.1), but it finishes at sf1 where the
            -- pairwise form blew a 10-minute budget (SCALECHECK).
            -- Zero-intersection pairs drop out of the join; they can
            -- never reach the 0.6 threshold.
            with sh as (
              select doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(length(text)-2, 0)),
                       i -> substring(lower(text), i, 3))) as sh
              from documents),
            sz as (select doc_id, len(sh) as n from sh),
            ex as (select doc_id, unnest(sh) as g from sh),
            exa as (select doc_id as src, g from ex where doc_id % 100 = 0),
            inter as (select a.src, b.doc_id as dst, count(*) as i
                      from exa a join ex b
                        on b.g = a.g and b.doc_id <> a.src
                      group by 1, 2),
            j as (select i.src, i.dst,
                         cast(i.i as double)
                         / cast(sa.n + sb.n - i.i as double) as jac_raw
                  from inter i
                  join sz sa on sa.doc_id = i.src
                  join sz sb on sb.doc_id = i.dst
                  where least(sa.n, sb.n) * 5 >= greatest(sa.n, sb.n) * 3)
            select src, dst,
                   cast(round(cast(jac_raw as decimal(28,10)), 6)
                     as double) as jac
            from j where jac_raw >= 0.6
            order by src, dst
        """,
        "q64_regex_tokens": """
            select lang, count(*) as n_docs,
                   cast(sum(len(toks)) as bigint) as tot_tokens,
                   cast(round(cast(avg(len(toks)) as decimal(28,8)),4)
                     as double) as avg_tokens,
                   cast(round(cast(avg(cast(len(list_distinct(toks))
                           as double) / cast(len(toks) as double))
                         as decimal(28,10)),6) as double) as avg_uniq_ratio
            from (select lang,
                         regexp_extract_all(lower(text),
                           '[a-z]+|[0-9]+|[^a-z0-9\\s]') as toks
                  from documents)
            group by lang order by lang
        """,
        "q65_motif_wedge": """
            with e as (select distinct a.l_partkey as u, b.l_partkey as v
                       from lineitem a join lineitem b
                         on a.l_orderkey = b.l_orderkey
                       where a.l_partkey < b.l_partkey)
            select count(*) as n_open_wedges,
                   count(distinct e1.u) as n_sources
            from e e1 join e e2 on e2.u = e1.v
            where e1.u % 100 = 0
              and not exists (select 1 from e e3
                              where e3.u = e1.u and e3.v = e2.v)
        """,
        "q66_contamination": """
            with ct as (select doc_id, string_split(lower(text), ' ') as ts
                        from documents),
            cg as (select doc_id as corpus_id,
                          list_distinct(list_transform(
                            generate_series(1, greatest(len(ts) - 4, 0)),
                            i -> array_to_string(list_slice(ts, i, i + 4),
                                                 ' '))) as ng
                   from ct),
            bt as (select doc_id,
                          string_split(lower(substring(text, 10, 200)), ' ')
                            as ts
                   from documents where doc_id % 97 = 0),
            bg as (select distinct bench_id, gram from (
                     select doc_id as bench_id,
                            unnest(list_transform(
                              generate_series(1, greatest(len(ts) - 4, 0)),
                              i -> array_to_string(list_slice(ts, i, i + 4),
                                                   ' '))) as gram
                     from bt)),
            cx as (select corpus_id, cast(len(ng) as bigint) as n_ngrams,
                          unnest(ng) as gram
                   from cg)
            select corpus_id, n_ngrams,
                   count(distinct cx.gram) as n_matched,
                   count(distinct bg.bench_id) as n_bench_docs,
                   cast(round(cast(cast(count(distinct cx.gram) as double)
                           / n_ngrams as decimal(28,10)), 6) as double)
                     as contam_ratio
            from cx join bg on cx.gram = bg.gram
            group by corpus_id, n_ngrams
            order by corpus_id
        """,
        "q67_simhash_hamming": """
            with q as (select vec_id as src, embedding as q_emb
                       from embeddings where vec_id < 10),
            c as (select vec_id as dst, embedding from embeddings)
            select src, dst, ham, rn from (
              select src, dst, ham,
                     row_number() over (partition by src
                                        order by ham, dst) as rn
              from (
                select src, dst,
                       cast(len(list_filter(
                         generate_series(1, len(embedding)),
                         i -> (q_emb[i] >= 0) <> (embedding[i] >= 0)))
                         as bigint) as ham
                from c join q on dst <> src))
            where rn <= 5 order by src, rn
        """,
        "q68_doc_chunks": """
            with ct as (select doc_id, string_split(lower(text), ' ') as ts
                        from documents)
            select doc_id,
                   cast(floor((start - 1) / 24) as bigint) as chunk_id,
                   start as start_pos,
                   cast(len(list_slice(ts, start, start + 31)) as bigint)
                     as n_tokens,
                   md5(array_to_string(list_slice(ts, start, start + 31),
                                       ' ')) as chunk_hash
            from (select doc_id, ts,
                         unnest(generate_series(1, len(ts), 24)) as start
                  from ct)
            order by doc_id, chunk_id
        """,
        "q69_hash_split": """
            select split, count(*) as n_docs,
                   count(distinct lang) as n_langs,
                   min(doc_id) as min_id, max(doc_id) as max_id,
                   cast(sum(n_chars) as bigint) as tot_chars
            from (select doc_id, lang, n_chars,
                    case when (doc_id * 2654435761) % 4294967296 % 100 < 80
                           then 'train'
                         when (doc_id * 2654435761) % 4294967296 % 100 < 90
                           then 'val'
                         else 'test' end as split
                  from documents)
            group by split order by split
        """,
        "q70_tfidf": """
            with tk as (
              select doc_id,
                     unnest(string_split(lower(text), ' ')) as tok
              from documents),
            tkf as (select * from tk where tok <> ''),
            tf as (select doc_id, tok, count(*) as tf from tkf
                   where doc_id % 10 = 0 group by doc_id, tok),
            df as (select tok, count(distinct doc_id) as df from tkf
                   group by tok),
            n as (select count(*) as n_docs from documents)
            select doc_id, tok, tf, df, rn,
                   cast(round(cast(tf * n_docs / df as decimal(28,8)), 4)
                     as double) as tfidf
            from (
              select f.doc_id, f.tok, f.tf, d.df, n.n_docs,
                     row_number() over (partition by f.doc_id
                       order by f.tf * n.n_docs / d.df desc, f.tok) as rn
              from tf f join df d using (tok) cross join n)
            where rn <= 3 order by doc_id, rn
        """,
        "q71_quality_filter": """
            with pd as (
              select lang,
                     cast(len(ts) as bigint) as n_tok,
                     cast(list_sum(list_transform(ts, t -> length(t)))
                       as bigint) as tok_chars,
                     cast(len(list_distinct(ts)) as bigint) as n_uniq
              from (select lang,
                           list_filter(string_split(lower(text), ' '),
                                       t -> t <> '') as ts
                    from documents)),
            pm as (select lang, n_tok,
                          cast(tok_chars as double) / cast(n_tok as double)
                            as mean_len,
                          cast(n_uniq as double) / cast(n_tok as double)
                            as uniq_ratio
                   from pd)
            select lang, count(*) as n_docs,
                   cast(sum(case when n_tok >= 5
                                  and mean_len between 2.0 and 12.0
                                  and uniq_ratio >= 0.3
                             then 1 else 0 end) as bigint) as n_pass,
                   cast(round(cast(avg(mean_len) as decimal(28,8)), 4)
                     as double) as avg_mean_len,
                   cast(round(cast(avg(uniq_ratio) as decimal(28,10)), 6)
                     as double) as avg_uniq_ratio
            from pm group by lang order by lang
        """,
        "q72_langid_confusion": """
            with sc as (
              select lang,
                 len(list_intersect(ts,
                   ['the','and','of','to','is','in','that','with'])) as s_en,
                 len(list_intersect(ts,
                   ['der','die','das','und','ist','nicht','mit','ein']))
                   as s_de,
                 len(list_intersect(ts,
                   ['el','la','de','que','y','los','es','una'])) as s_es,
                 len(list_intersect(ts,
                   ['le','la','et','les','des','est','une','dans'])) as s_fr,
                 len(list_intersect(ts,
                   ['的','是','了','在','和','有',
                    '我','不'])) as s_zh
              from (select lang,
                       list_distinct(list_filter(
                         string_split_regex(lower(text), '\\s+'),
                         t -> t <> '')) as ts
                    from documents))
            select lang, pred_lang, count(*) as n_docs from (
              select lang,
                 case when greatest(s_en,s_de,s_es,s_fr,s_zh) = 0 then 'und'
                      when s_en = greatest(s_en,s_de,s_es,s_fr,s_zh)
                        then 'en'
                      when s_de = greatest(s_de,s_es,s_fr,s_zh) then 'de'
                      when s_es = greatest(s_es,s_fr,s_zh) then 'es'
                      when s_fr = greatest(s_fr,s_zh) then 'fr'
                      else 'zh' end as pred_lang
              from sc)
            group by lang, pred_lang order by lang, pred_lang
        """,
        "q73_stratified_sample": """
            select lang, count(*) as n_total,
                   cast(sum(keep) as bigint) as n_sampled,
                   cast(sum(keep * doc_id) as bigint) as sample_checksum,
                   cast(round(cast(cast(sum(keep) as double)
                           / cast(count(*) as double)
                         as decimal(28,10)), 6) as double) as actual_rate
            from (select lang, doc_id,
                    case when (doc_id * 2654435761) % 4294967296 % 1000 <
                           case lang when 'en' then 50 when 'de' then 100
                                     when 'es' then 200 when 'fr' then 500
                                     else 1000 end
                         then 1 else 0 end as keep
                  from documents)
            group by lang order by lang
        """,
        "q74_minhash_vocab": """
            with tk as (select doc_id,
                               unnest(string_split(lower(text), ' ')) as tok
                        from documents),
            tkf as (select * from tk where tok <> ''),
            vocab as (select tok,
                             row_number() over (order by tok) as tid
                      from (select distinct tok from tkf)),
            j as (select doc_id, tid from tkf join vocab using (tok)
                  where doc_id % 20 = 0)
            select doc_id,
                   min((tid *  823731426 +  433494437) % 2147483647) as minh0,
                   min((tid * 1500450271 +     700001) % 2147483647) as minh1,
                   min((tid *  713002666 +    1046527) % 2147483647) as minh2,
                   min((tid * 1119516366 +   16769023) % 2147483647) as minh3,
                   min((tid * 1251695901 + 1073676287) % 2147483647) as minh4,
                   min((tid * 1278945319 +  479001599) % 2147483647) as minh5,
                   min((tid * 2038074743 +   87178291) % 2147483647) as minh6,
                   min((tid * 1912602701 + 2147483629) % 2147483647) as minh7
            from j group by doc_id order by doc_id
        """,
        "q75_pmi_bigrams": """
            with tk as (select doc_id, string_split(lower(text), ' ') as ts
                        from documents),
            bgp as (select p.a as a, p.b as b from (
                      select unnest(list_transform(
                        generate_series(1, greatest(len(ts) - 1, 0)),
                        i -> struct_pack(a := ts[i], b := ts[i + 1]))) as p
                      from tk)
                    where p.a <> '' and p.b <> ''),
            bg as (select a as tok_a, b as tok_b, count(*) as cab
                   from bgp group by a, b),
            uni as (select tok, count(*) as c from (
                      select unnest(string_split(lower(text), ' ')) as tok
                      from documents) where tok <> '' group by tok),
            t as (select cast(sum(cab) as bigint) as t_big from bg)
            select bigram, n,
                   cast(round(cast(ratio_raw as decimal(28,8)), 4)
                     as double) as pmi_ratio
            from (
              select bg.tok_a || ' ' || bg.tok_b as bigram,
                     bg.cab as n,
                     (cast(bg.cab as double) * cast(t.t_big as double))
                     / (cast(ua.c as double) * cast(ub.c as double))
                       as ratio_raw
              from bg
              join uni ua on ua.tok = bg.tok_a
              join uni ub on ub.tok = bg.tok_b
              cross join t
              where bg.cab >= 5)
            order by ratio_raw desc, bigram limit 15
        """,
        "q76_embed_quantize": """
            with v as (
              select label,
                     embedding::DOUBLE[] as e,
                     cast(127.0 as double)
                     / greatest(list_max(list_transform(embedding::DOUBLE[],
                                 x -> abs(x))), 1e-30) as scale
              from embeddings)
            select label, count(*) as n,
                   cast(round(cast(avg(list_max(list_transform(e,
                           x -> abs(x - round(x * scale) / scale))))
                         as decimal(28,10)), 6) as double) as avg_max_err,
                   cast(round(cast(avg(scale) as decimal(28,8)), 4)
                     as double) as avg_scale
            from v group by label order by label
        """,
        "q77_content_hash_dedup": """
            with h as (
              select doc_id,
                     md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                       as content_hash
              from documents)
            select doc_id, content_hash,
                   count(*) over w as n_same,
                   min(doc_id) over w as keeper,
                   cast(doc_id <> min(doc_id) over w as bigint) as is_dup
            from h window w as (partition by content_hash)
            order by doc_id
        """,
        "q78_zscore_outliers": """
            with f as (select * from events where user_id % 100 = 7),
            st as (select event_id, user_id, event_type, value,
                     cast(sum(cast(value as decimal(28,6))) over w
                       as double) as s,
                     cast(sum(cast(value * value as decimal(28,8))) over w
                       as double) as ss,
                     count(*) over w as n
                   from f
                   window w as (partition by user_id, event_type))
            select event_id, user_id, event_type,
                   cast(round(cast((value - s / n)
                           / sqrt((ss - s * s / n) / (n - 1))
                         as decimal(28,8)), 4) as double) as z
            from st
            where n > 1 and (ss - s * s / n) / (n - 1) > 0
              and abs((value - s / n)
                      / sqrt((ss - s * s / n) / (n - 1))) >= 2.0
            order by event_id
        """,
        "q79_vocab_coverage": """
            with tf as (select tok, count(*) as tf from (
                          select unnest(string_split(lower(text), ' '))
                            as tok
                          from documents) where tok <> '' group by tok),
            r as (select tf, tok,
                         row_number() over (order by tf desc, tok) as rank
                  from tf),
            c as (select rank,
                         cast(sum(tf) over (order by rank
                           rows between unbounded preceding and current row)
                           as bigint) as cum
                  from r),
            t as (select cast(sum(tf) as bigint) as total from tf)
            select pct, min(rank) as k_terms,
                   arg_min(cum, rank) as cum_tokens,
                   min(total) as total_tokens
            from c cross join t
            cross join (values (25), (50), (75), (90)) p(pct)
            where cum * 100 >= pct * total
            group by pct order by pct
        """,
        "q80_doc_embedding_join": """
            select doc_id, lang, label, n_chars,
                   cast(len(list_filter(string_split(lower(text), ' '),
                     t -> t <> '')) as bigint) as n_tokens,
                   cast(round(cast(sqrt(list_inner_product(
                       embedding::DOUBLE[], embedding::DOUBLE[]))
                     as decimal(28,8)), 6) as double) as l2_norm
            from documents d join embeddings e on d.doc_id = e.vec_id
            order by doc_id
        """,
        "q81_repetition_filter": """
            with pd as (
              select lang,
                     cast(len(bigr) as bigint) as total,
                     cast(list_max(list_transform(list_distinct(bigr),
                       b -> len(list_filter(bigr, x -> x = b))))
                       as bigint) as top
              from (select lang,
                      case when len(ts) >= 2
                           then list_transform(
                                  generate_series(1, len(ts) - 1),
                                  i -> ts[i] || ' ' || ts[i + 1])
                           else cast([] as varchar[]) end as bigr
                    from (select lang,
                            list_filter(string_split(lower(text), ' '),
                                        t -> t <> '') as ts
                          from documents)))
            select lang, count(*) as n_docs,
                   cast(sum(case when total > 0 and
                       cast(top as double) / cast(total as double) > 0.05
                       then 1 else 0 end) as bigint) as n_flagged,
                   cast(round(cast(avg(case when total > 0 then
                       cast(top as double) / cast(total as double) end)
                     as decimal(28,10)), 6) as double) as avg_top_frac
            from pd group by lang order by lang
        """,
        "q82_cosine_pairs": """
            select a.vec_id as a, b.vec_id as b,
                   round(list_cosine_similarity(a.embedding::DOUBLE[],
                                                b.embedding::DOUBLE[]), 4)
                     as cos_sim
            from embeddings a join embeddings b on a.vec_id < b.vec_id
            where a.vec_id % 25 = 0
              and list_cosine_similarity(a.embedding::DOUBLE[],
                                         b.embedding::DOUBLE[]) >= 0.3
            order by a, b
        """,
        "q83_graph_strength": """
            with e as (select o_custkey as src, l_suppkey as dst,
                              count(*) as w
                       from orders o join lineitem l
                         on l.l_orderkey = o.o_orderkey
                       group by 1, 2)
            select v, cast(sum(outs) as bigint) as out_strength,
                   cast(sum(ins) as bigint) as in_strength,
                   cast(sum(outd) as bigint) as out_degree,
                   cast(sum(ind) as bigint) as in_degree
            from (
              select src as v, w as outs, 0 as ins, 1 as outd, 0 as ind
              from e
              union all
              select dst, 0, w, 0, 1 from e
            ) t group by v order by v
        """,
        "q84_winnow_fingerprint": """
            select doc_id,
                   cast(len(wg) as bigint) as n_windows,
                   list_min(wg) as fingerprint
            from (select doc_id,
                    case when len(ts) >= 4
                         then list_transform(
                                generate_series(1, len(ts) - 3),
                                i -> md5(array_to_string(
                                       list_slice(ts, i, i + 3), ' ')))
                         else cast([] as varchar[]) end as wg
                  from (select doc_id,
                          list_filter(string_split(lower(text), ' '),
                                      t -> t <> '') as ts
                        from documents))
            order by doc_id
        """,
        "q85_clustering_coeff": """
            with e as (select distinct a.l_partkey as u, b.l_partkey as v
                       from lineitem a join lineitem b
                         on a.l_orderkey = b.l_orderkey
                       where a.l_partkey < b.l_partkey),
            und as (select u, v from e
                    union all
                    select v as u, u as v from e),
            ctr as (select u, v from und where u % 100 = 0),
            dg as (select u as w, count(*) as deg from ctr group by u),
            tri as (select a.w, count(*) as n_tri
                    from (select u as w, v as n1 from ctr) a
                    join (select u as w, v as n2 from ctr) b
                      on b.w = a.w and a.n1 < b.n2
                    join e on e.u = a.n1 and e.v = b.n2
                    group by a.w)
            select dg.w as w, cast(deg as bigint) as deg,
                   cast(coalesce(n_tri, 0) as bigint) as n_tri,
                   cast(round(cast(
                       cast(2.0 as double)
                       * cast(coalesce(n_tri, 0) as double)
                       / (cast(deg as double) * cast(deg - 1 as double))
                     as decimal(28,10)), 6) as double) as cc
            from dg left join tri on tri.w = dg.w
            where deg >= 2 order by w
        """,
        "q86_reach2": """
            with e as (select distinct a.l_partkey as u, b.l_partkey as v
                       from lineitem a join lineitem b
                         on a.l_orderkey = b.l_orderkey
                       where a.l_partkey < b.l_partkey),
            r as (select u as s, v as d from e where u % 100 = 0
                  union
                  select a.u as s, b.v as d
                  from e a join e b on b.u = a.v
                  where a.u % 100 = 0)
            select s, count(*) as n_reach from r group by s order by s
        """,
        "q87_funnel": """
            with v as (select user_id, min(ts) as t1 from events
                       where event_type = 'view' group by user_id),
            c as (select e.user_id, min(e.ts) as t2
                  from events e join v on v.user_id = e.user_id
                  where e.event_type = 'click' and e.ts > v.t1
                  group by e.user_id),
            p as (select e.user_id, min(e.ts) as t3
                  from events e join c on c.user_id = e.user_id
                  where e.event_type = 'purchase' and e.ts > c.t2
                  group by e.user_id)
            select stage_index, stage, n_users from (
              select cast(0 as bigint) as stage_index, 'view' as stage,
                     count(*) as n_users from v
              union all
              select cast(1 as bigint), 'click', count(*) from c
              union all
              select cast(2 as bigint), 'purchase', count(*) from p)
            order by stage_index
        """,
        "q94_bounded_funnel": """
            with v as (select user_id, min(ts) as t1 from events
                       where event_type = 'view' group by user_id),
            c as (select e.user_id, min(e.ts) as t2
                  from events e join v on v.user_id = e.user_id
                  where e.event_type = 'click' and e.ts > v.t1
                  group by e.user_id),
            p as (select e.user_id, min(e.ts) as t3
                  from events e join c on c.user_id = e.user_id
                  where e.event_type = 'purchase' and e.ts > c.t2
                  group by e.user_id),
            cb as (select e.user_id, min(e.ts) as t2
                   from events e join v on v.user_id = e.user_id
                   where e.event_type = 'click' and e.ts > v.t1
                     and e.ts <= v.t1 + interval 2 days
                   group by e.user_id),
            pb as (select e.user_id, min(e.ts) as t3
                   from events e join cb on cb.user_id = e.user_id
                   where e.event_type = 'purchase' and e.ts > cb.t2
                     and e.ts <= cb.t2 + interval 2 days
                   group by e.user_id),
            t as (
              select cast(0 as bigint) as stage_index, 'view' as stage,
                     (select count(*) from v) as n_bounded,
                     (select count(*) from v) as n_users
              union all
              select 1, 'click', (select count(*) from cb),
                     (select count(*) from c)
              union all
              select 2, 'purchase', (select count(*) from pb),
                     (select count(*) from p))
            select stage_index, stage,
                   cast(n_bounded as bigint) as n_bounded,
                   cast(n_users as bigint) as n_users,
                   cast(round(cast(cast(n_bounded as double)
                         / cast(greatest(n_users, 1) as double)
                         as decimal(28,10)), 6) as double) as bounded_ratio
            from t order by stage_index
        """,
        "q95_degree_assortativity": """
            with e as (select distinct o.o_custkey as src,
                              l.l_suppkey as dst
                       from orders o join lineitem l
                         on l.l_orderkey = o.o_orderkey),
            od as (select src, cast(count(*) as bigint) as src_deg
                   from e group by src),
            idg as (select dst, cast(count(*) as bigint) as dst_deg
                    from e group by dst)
            select count(*) as n_edges,
                   cast(round(cast(corr(cast(src_deg as double),
                                        cast(dst_deg as double))
                         as decimal(28,8)), 6) as double) as assortativity,
                   cast(round(cast(avg(src_deg) as decimal(28,8)), 4)
                     as double) as avg_src_deg,
                   cast(round(cast(avg(dst_deg) as decimal(28,8)), 4)
                     as double) as avg_dst_deg
            from e join od using (src) join idg using (dst)
        """,
        "q96_embedding_centroids": """
            select label, cast(i - 1 as bigint) as dim, count(*) as n,
                   cast(round(cast(avg(v) as decimal(28,8)), 6)
                     as double) as avg_comp
            from (select label, unnest(embedding::DOUBLE[]) as v,
                         generate_subscripts(embedding, 1) as i
                  from embeddings)
            group by label, dim order by label, dim
        """,
        "q97_skew_profile": """
            with c as (select l_suppkey, count(*) as c from lineitem
                       group by l_suppkey),
            tot as (select count(*) as n_keys,
                           cast(sum(c) as bigint) as n_rows,
                           cast(max(c) as bigint) as max_per_key
                    from c),
            top as (select cast(sum(c) as bigint) as topsum from
                    (select c from c order by c desc, l_suppkey
                     limit 10))
            select n_keys, n_rows, max_per_key,
                   cast(round(cast(cast(max_per_key as double)
                         * cast(n_keys as double)
                         / cast(n_rows as double)
                         as decimal(28,8)), 4) as double) as skew_ratio,
                   cast(round(cast(cast(topsum as double)
                         / cast(n_rows as double)
                         as decimal(28,10)), 6) as double) as top10_share
            from tot cross join top
        """,
        "q98_funnel_windows": """
            with v as (select user_id, min(ts) as t1 from events
                       where event_type = 'view' group by user_id),
            c as (select e.user_id, min(e.ts) as t2
                  from events e join v on v.user_id = e.user_id
                  where e.event_type = 'click' and e.ts > v.t1
                  group by e.user_id),
            p as (select e.user_id, min(e.ts) as t3
                  from events e join c on c.user_id = e.user_id
                  where e.event_type = 'purchase' and e.ts > c.t2
                  group by e.user_id),
            s as (select user_id, 0 as si, 'view' as stage, t1 as ts
                  from v
                  union all
                  select user_id, 1, 'click', t2 from c
                  union all
                  select user_id, 2, 'purchase', t3 from p),
            d as (select date_trunc('day', ts) as day, si, stage,
                         count(*) as n_users
                  from s group by 1, 2, 3)
            select day, cast(si as bigint) as stage_index, stage,
                   n_users,
                   cast(round(cast(cast(n_users as double)
                         / cast(lag(n_users) over (partition by day
                                order by si) as double)
                         as decimal(28,10)), 6) as double)
                     as conv_vs_prev
            from d order by day, si
        """,
        "q100_link_prediction": """
            with pairs as (
                select distinct o.o_custkey as c, l.l_suppkey as s
                from orders o join lineitem l
                  on l.l_orderkey = o.o_orderkey),
            cn as (
                select a.s as s1, b.s as s2, count(*) as cn
                from pairs a join pairs b on a.c = b.c and a.s < b.s
                group by 1, 2),
            deg as (select s, count(*) as d from pairs group by s)
            select s1, s2, cast(cn as bigint) as cn,
                   cast(round(cast(cast(cn as double)
                        / cast(d1.d + d2.d - cn as double)
                        as decimal(28,10)), 6) as double) as jaccard
            from cn
            join deg d1 on d1.s = cn.s1
            join deg d2 on d2.s = cn.s2
            order by jaccard desc, s1, s2
            limit 50
        """,
        "q101_attribution": """
            with p as (select event_id as pid, user_id as u, ts as pts
                       from events where event_type = 'purchase'),
            c as (select user_id as u, ts as cts
                  from events where event_type = 'click'),
            j as (
                select p.pid, p.pts, max(c.cts) as last_click
                from p left join c
                  on c.u = p.u and c.cts < p.pts
                 and c.cts >= p.pts - interval 3 day
                group by 1, 2)
            select date_trunc('day', pts) as day,
                   cast(count(*) as bigint) as n_purchases,
                   cast(count(last_click) as bigint) as n_attributed,
                   cast(round(cast(cast(count(last_click) as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 6) as double)
                     as attribution_rate
            from j group by 1 order by 1
        """,
        "q102_boilerplate_shingles": """
            with t as (
                select doc_id, lang, string_split(text, ' ') as toks
                from documents),
            f as (select * from t where len(toks) >= 4),
            g as (
                select doc_id, lang,
                       array_to_string(list_slice(toks, i, i + 3), ' ')
                         as sh
                from f, unnest(generate_series(1, len(toks) - 3))
                     as u(i)),
            s as (select lang, sh, count(distinct doc_id) as nd
                  from g group by 1, 2)
            select lang,
                   cast(count(*) as bigint) as n_shingles,
                   cast(sum(case when nd > 1 then 1 else 0 end)
                        as bigint) as n_shared,
                   cast(round(cast(
                        cast(sum(case when nd > 1 then 1 else 0 end)
                             as double) / cast(count(*) as double)
                        as decimal(28,10)), 6) as double)
                     as shared_ratio
            from s group by lang order by lang
        """,
        "q103_graph_growth": """
            with fs as (
                select o.o_custkey as c, l.l_suppkey as s,
                       min(date_trunc('month', o.o_orderdate)) as month
                from orders o join lineitem l
                  on l.l_orderkey = o.o_orderkey
                group by 1, 2),
            m as (select month, cast(count(*) as bigint) as n_new
                  from fs group by month)
            select month, n_new,
                   cast(sum(n_new) over (order by month rows between
                        unbounded preceding and current row) as bigint)
                     as cum_edges
            from m order by month
        """,
        "q99_modularity": """
            with pairs as (
                select distinct o.o_custkey as src, l.l_suppkey as dst
                from orders o join lineitem l
                  on l.l_orderkey = o.o_orderkey),
            simple as (
                select least(src, dst) as u, greatest(src, dst) as v,
                       cast(count(*) as double) as w
                from pairs where src <> dst group by 1, 2),
            ids as (select u as id from simple
                    union select v from simple),
            assign as (
                select ids.id,
                       coalesce(s.s_nationkey, c.c_nationkey)
                         as community
                from ids
                left join supplier s on s.s_suppkey = ids.id
                left join customer c on c.c_custkey = ids.id),
            tagged as (
                select sp.w, au.community as cu, av.community as cv
                from simple sp
                join assign au on sp.u = au.id
                join assign av on sp.v = av.id),
            per_comm as (
                select c, sum(d) as d, sum(win) as win from (
                    select cu as c, w as d,
                           case when cu = cv then w else 0 end as win
                    from tagged
                    union all
                    select cv as c, w as d, 0 as win from tagged
                ) t group by c)
            select sum(d) / 2 as m,
                   cast(round(cast(2.0 * sum(win) / sum(d)
                        - sum(d * d) / (sum(d) * sum(d))
                        as decimal(28,10)), 6) as double) as q
            from per_comm
        """,
        "q88_retention": """
            with f as (select user_id,
                              cast(date_trunc('week', min(ts)) as timestamp)
                                as cohort
                       from events group by user_id),
            a as (select distinct user_id,
                         cast(date_trunc('week', ts) as timestamp) as wk
                  from events),
            j as (select f.cohort,
                         cast(floor(date_diff('day', f.cohort, a.wk) / 7)
                           as bigint) as week_n
                  from a join f on f.user_id = a.user_id),
            cs as (select cohort, count(*) as cohort_size from f
                   group by cohort)
            select j.cohort, week_n, count(*) as n_active,
                   min(cohort_size) as cohort_size,
                   cast(round(cast(cast(count(*) as double)
                           / cast(min(cohort_size) as double)
                         as decimal(28,10)), 6) as double) as retention
            from j join cs on cs.cohort = j.cohort
            group by j.cohort, week_n
            order by j.cohort, week_n
        """,
        "q89_skyline": """
            with s as (select p_brand, p_partkey,
                              p_retailprice as price, p_size as size
                       from part where p_partkey % 10 = 0)
            select p.p_brand, p.p_partkey, p.price,
                   cast(p.size as bigint) as size
            from s p
            where not exists (
              select 1 from s q
              where q.p_brand = p.p_brand
                and q.price <= p.price and q.size >= p.size
                and (q.price < p.price or q.size > p.size))
            order by p.p_brand, p.p_partkey
        """,
        "q91_motif_weighted": """
            with it as (select distinct l_orderkey, l_partkey
                        from lineitem),
            ew as (select a.l_partkey as u, b.l_partkey as v,
                          count(*) as w
                   from it a join it b on a.l_orderkey = b.l_orderkey
                   where a.l_partkey < b.l_partkey
                   group by 1, 2),
            e as (select u, v from ew),
            h as (select u, v, w from ew
                  where w >= 2 and v % 50 = 0),
            r as (select distinct a.u as s, b.v as d
                  from e a join e b on b.u = a.v
                  where a.u % 50 = 0
                    and not exists (select 1 from e x
                                    where x.u = a.u and x.v = b.v))
            select h.v as mid, count(*) as n_paths,
                   count(distinct h.u) as n_src,
                   count(distinct r.d) as n_dst,
                   cast(max(h.w) as bigint) as max_w
            from h join r on r.s = h.v
            group by h.v order by mid
        """,
        "q92_sequence_pack": """
            with t as (select lang, doc_id,
                         cast(len(list_filter(
                           string_split(lower(text), ' '),
                           x -> x <> '')) as bigint) as n_tok
                       from documents),
            p as (select lang, doc_id, n_tok,
                    cast(floor(coalesce(sum(n_tok) over (
                      partition by lang order by doc_id
                      rows between unbounded preceding and 1 preceding),
                      0) / 256) as bigint) as pack_id
                  from t)
            select lang, pack_id, count(*) as n_docs,
                   cast(sum(n_tok) as bigint) as pack_tokens,
                   min(doc_id) as first_doc, max(doc_id) as last_doc,
                   cast(round(cast(cast(sum(n_tok) as double) / 256.0
                         as decimal(28,10)), 6) as double) as fill_ratio
            from p group by lang, pack_id order by lang, pack_id
        """,
        "q93_minhash_bands": """
            with tk as (select doc_id,
                               unnest(string_split(lower(text), ' ')) as tok
                        from documents),
            tkf as (select * from tk where tok <> ''),
            vocab as (select tok,
                             row_number() over (order by tok) as tid
                      from (select distinct tok from tkf)),
            j as (select doc_id, tid from tkf join vocab using (tok)),
            sig as (select doc_id,
                      min((tid *  823731426 +  433494437) % 2147483647)
                        as minh0,
                      min((tid * 1500450271 +     700001) % 2147483647)
                        as minh1,
                      min((tid *  713002666 +    1046527) % 2147483647)
                        as minh2,
                      min((tid * 1119516366 +   16769023) % 2147483647)
                        as minh3,
                      min((tid * 1251695901 + 1073676287) % 2147483647)
                        as minh4,
                      min((tid * 1278945319 +  479001599) % 2147483647)
                        as minh5,
                      min((tid * 2038074743 +   87178291) % 2147483647)
                        as minh6,
                      min((tid * 1912602701 + 2147483629) % 2147483647)
                        as minh7
                    from j group by doc_id),
            bands as (
              select 0 as band, minh0 as h1, minh1 as h2 from sig
              union all select 1, minh2, minh3 from sig
              union all select 2, minh4, minh5 from sig
              union all select 3, minh6, minh7 from sig),
            sz as (select band, h1, h2, count(*) as s from bands
                   group by 1, 2, 3)
            select cast(band as bigint) as band, count(*) as n_buckets,
                   cast(sum(case when s > 1 then s else 0 end) as bigint)
                     as n_collide_docs,
                   cast(sum(s * (s - 1)) // 2 as bigint)
                     as n_candidate_pairs
            from sz group by band order by band
        """,
        "q90_regression": """
            select l_returnflag, count(*) as n,
                   cast(round(cast(regr_slope(l_extendedprice, l_quantity)
                         as decimal(28,8)), 4) as double) as slope,
                   cast(round(cast(regr_intercept(l_extendedprice,
                                                  l_quantity)
                         as decimal(28,8)), 4) as double) as intercept,
                   cast(round(cast(regr_r2(l_extendedprice, l_quantity)
                         as decimal(28,10)), 6) as double) as r2
            from lineitem group by l_returnflag order by l_returnflag
        """,
        "hypertable_rollup": """
            with ev as (select ts, event_type, value from events)
            select granularity, bucket, event_type,
                   cast(count(*) as bigint) as n,
                   cast(round(cast(sum(value) as decimal(28,4)),2)
                     as double) as sum_val
            from (
              select '15 minutes' as granularity,
                     time_bucket(interval 15 minutes, ts) as bucket,
                     event_type, value from ev
              union all
              select '1 hour', time_bucket(interval 1 hour, ts),
                     event_type, value from ev
              union all
              select '1 day', time_bucket(interval 1 day, ts),
                     event_type, value from ev
            )
            group by granularity, bucket, event_type
            order by granularity, bucket, event_type
        """,
        # Spark's sliding windows are epoch-aligned, so each event's 4
        # overlapping 1h/15min windows are exactly the generate_series
        # of aligned starts — a full hash oracle, not just rows-only.
        "sliding_window_counts": """
            select win, event_type, cast(count(*) as bigint) as n
            from (
              select unnest(generate_series(
                       time_bucket(interval 15 minutes, ts)
                         - interval 45 minutes,
                       time_bucket(interval 15 minutes, ts),
                       interval 15 minutes)) as win,
                     event_type
              from events
            )
            group by win, event_type
            order by win, event_type
        """,
        "q104_markov_transitions": """
            with seq as (
              select lag(event_type) over (partition by user_id
                       order by ts, event_id) as src,
                     event_type as dst
              from events),
            c as (select src, dst, cast(count(*) as bigint) as n
                  from seq where src is not null group by src, dst)
            select src, dst, n,
                   cast(round(cast(cast(n as double)
                        / cast(sum(n) over (partition by src) as double)
                        as decimal(28,10)), 6) as double) as p
            from c order by src, dst
        """,
        "q105_rfm_segments": """
            with cust as (
              select o_custkey, max(o_orderdate) as last_order,
                     cast(count(*) as bigint) as freq,
                     sum(cast(o_totalprice as decimal(28,2))) as monetary
              from orders group by o_custkey),
            scored as (
              select cast(ntile(4) over (order by last_order desc, o_custkey)
                       as bigint) as r_score,
                     cast(ntile(4) over (order by freq desc, o_custkey)
                       as bigint) as f_score,
                     cast(ntile(4) over (order by monetary desc, o_custkey)
                       as bigint) as m_score,
                     monetary
              from cust)
            select r_score, f_score, m_score,
                   cast(count(*) as bigint) as n_cust,
                   cast(round(cast(cast(sum(monetary) as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 2) as double) as avg_monetary
            from scored group by r_score, f_score, m_score
            order by r_score, f_score, m_score
        """,
        "q106_cooccur_lift": """
            with items as (
              select distinct l_orderkey, l_partkey from lineitem),
            n1 as (select l_partkey as pk, cast(count(*) as bigint) as n_one
                   from items group by l_partkey),
            tot as (select cast(count(distinct l_orderkey) as bigint)
                      as n_orders from lineitem),
            pairs as (
              select ia.l_partkey as a, ib.l_partkey as b,
                     cast(count(*) as bigint) as n_ab
              from items ia join items ib
                on ia.l_orderkey = ib.l_orderkey
               and ia.l_partkey < ib.l_partkey
              group by 1, 2
              having count(*) >= 3)
            select a, b, n_ab,
                   cast(round(cast(cast(n_ab * t.n_orders as double)
                        / cast(na.n_one * nb.n_one as double)
                        as decimal(28,10)), 6) as double) as lift
            from pairs join n1 na on na.pk = pairs.a
                 join n1 nb on nb.pk = pairs.b
                 cross join tot t
            order by lift desc, a, b limit 30
        """,
        "q107_session_paths": """
            with marked as (
              select user_id, ts, event_id, event_type,
                 case when lag(ts) over (partition by user_id
                        order by ts, event_id) is null
                      or ts - lag(ts) over (partition by user_id
                        order by ts, event_id) > interval '30 minutes'
                      then 1 else 0 end as new_s
              from events),
            sess as (
              select user_id, event_id, ts, event_type,
                     cast(sum(new_s) over (partition by user_id
                          order by ts, event_id rows between unbounded
                          preceding and current row) as bigint) as sid
              from marked),
            ranked as (
              select user_id, sid, event_type,
                     row_number() over (partition by user_id, sid
                       order by ts, event_id) as rn,
                     cast(count(*) over (partition by user_id, sid)
                       as bigint) as n_ev
              from sess),
            paths as (
              select user_id, sid,
                     max(case when rn = 1 then event_type end) || '>' ||
                     max(case when rn = 2 then event_type end) || '>' ||
                     max(case when rn = 3 then event_type end) as path
              from ranked where rn <= 3 and n_ev >= 3
              group by user_id, sid)
            select path, cast(count(*) as bigint) as n_sessions
            from paths group by path
            order by n_sessions desc, path limit 20
        """,
        "q108_reorder_intervals": """
            with gaps as (
              select o_custkey,
                     cast(date_diff('day',
                       cast(lag(o_orderdate) over (partition by o_custkey
                            order by o_orderdate, o_orderkey) as date),
                       cast(o_orderdate as date)) as bigint) as gap_days
              from orders),
            g as (select * from gaps where gap_days is not null)
            select n_name, cast(count(*) as bigint) as n_gaps,
                   cast(round(cast(cast(sum(gap_days) as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 4) as double) as avg_gap_days,
                   max(gap_days) as max_gap_days
            from g join customer on c_custkey = o_custkey
                  join nation on n_nationkey = c_nationkey
            group by n_name order by n_name
        """,
        "q109_cohort_ltv": """
            with first as (
              select o_custkey,
                     date_trunc('month', min(o_orderdate)) as cohort
              from orders group by o_custkey),
            sz as (select cohort, cast(count(*) as bigint) as n_cohort
                   from first group by cohort),
            j as (select f.cohort,
                         cast((year(o.o_orderdate) - year(f.cohort)) * 12
                              + (month(o.o_orderdate) - month(f.cohort))
                           as bigint) as month_offset,
                         o.o_custkey,
                         cast(o.o_totalprice as decimal(28,2)) as p
                  from orders o join first f on f.o_custkey = o.o_custkey),
            agg as (select cohort, month_offset,
                           cast(count(distinct o_custkey) as bigint)
                             as n_active,
                           sum(p) as rev
                    from j group by cohort, month_offset),
            cum as (select a.cohort, a.month_offset, a.n_active,
                           cast(a.rev as double) as revenue,
                           cast(sum(a.rev) over (
                                partition by a.cohort order by a.month_offset
                                rows between unbounded preceding
                                         and current row) * 100 as bigint)
                             as cum_cents,
                           cast(s.n_cohort as bigint) as n_cohort
                    from agg a join sz s on s.cohort = a.cohort)
            select cohort, month_offset, n_active, revenue,
                   cast((2 * cum_cents + n_cohort) // (2 * n_cohort)
                     as double) / 100.0 as ltv_per_cust
            from cum order by cohort, month_offset
        """,
        "q110_mad_outliers": """
            with b as (
              select l_returnflag, l_extendedprice as x,
                     l_orderkey, l_linenumber,
                     row_number() over (partition by l_returnflag
                       order by l_extendedprice, l_orderkey, l_linenumber)
                       as rn,
                     count(*) over (partition by l_returnflag) as n
              from lineitem),
            med as (select l_returnflag, x as med, n as n_rows from b
                    where rn = cast(floor((n + 1) / 2.0) as bigint)),
            d as (select b.l_returnflag, abs(b.x - m.med) as dev,
                         b.l_orderkey, b.l_linenumber, m.med, m.n_rows
                  from b join med m using (l_returnflag)),
            d2 as (select *, row_number() over (partition by l_returnflag
                     order by dev, l_orderkey, l_linenumber) as rn2
                   from d),
            mad as (select l_returnflag, dev as mad from d2
                    where rn2 = cast(floor((n_rows + 1) / 2.0) as bigint))
            select d.l_returnflag, cast(max(d.n_rows) as bigint) as n,
                   max(d.med) as med, max(a.mad) as mad,
                   cast(count(case when d.dev > 3 * a.mad then 1 end)
                     as bigint) as n_out
            from d join mad a using (l_returnflag)
            group by d.l_returnflag order by d.l_returnflag
        """,
        "q111_degree_histogram": """
            with e as (
              select distinct o_custkey as src, l_suppkey as dst
              from orders join lineitem on o_orderkey = l_orderkey),
            deg as (select src, cast(count(*) as bigint) as degree
                    from e group by src),
            tot as (select cast(count(*) as double) as n_tot from deg)
            select d.degree, cast(count(*) as bigint) as n_cust,
                   cast(round(cast(cast(count(*) as double) / max(t.n_tot)
                        as decimal(28,10)), 6) as double) as share
            from deg d cross join tot t
            group by d.degree order by d.degree
        """,
        "q112_weighted_sample": """
            with s as (
              select lang, doc_id, n_chars,
                     ln(cast((doc_id * 2654435761) % 4294967296 % 1048576
                             + 1 as double) / 1048576.0)
                     / cast(case when n_chars < 1 then 1 else n_chars end
                            as double) as k
              from documents),
            r as (select lang, doc_id, n_chars,
                         row_number() over (partition by lang
                           order by k desc, doc_id) as rk
                  from s)
            select lang, cast(rk as bigint) as rk, doc_id, n_chars
            from r where rk <= 10 order by lang, rk
        """,
        "q113_snapshot_diff": """
            with v1 as (
              select o_custkey, cast(count(*) as bigint) as n_old,
                     sum(cast(o_totalprice as decimal(28,2))) as t_old
              from orders
              where o_orderdate >= timestamp '1997-01-01'
                and o_orderdate < timestamp '1998-01-01'
              group by o_custkey),
            v2 as (
              select o_custkey, cast(count(*) as bigint) as n_new,
                     sum(cast(o_totalprice as decimal(28,2))) as t_new
              from orders
              where o_orderdate >= timestamp '1998-01-01'
                and o_orderdate < timestamp '1999-01-01'
              group by o_custkey),
            d as (select coalesce(v1.o_custkey, v2.o_custkey) as o_custkey,
                         case when v1.o_custkey is null then 'added'
                              when v2.o_custkey is null then 'removed'
                              when v1.n_old <> v2.n_new
                                   or v1.t_old <> v2.t_new then 'changed'
                              else 'unchanged' end as change,
                         v1.n_old as n_old, v2.n_new as n_new,
                         cast(v1.t_old as double) as tot_old,
                         cast(v2.t_new as double) as tot_new
                  from v1 full outer join v2
                       on v1.o_custkey = v2.o_custkey)
            select * from d where change <> 'unchanged'
            order by change, o_custkey
        """,
        "q114_fuzzy_name_pairs": """
            with p as (select p_partkey, p_name, p_brand, p_size
                       from part),
            pr as (select a.p_brand,
                          levenshtein(a.p_name, b.p_name) as d
                   from p a join p b
                     on a.p_brand = b.p_brand and a.p_size = b.p_size
                        and a.p_partkey < b.p_partkey
                   where abs(length(a.p_name) - length(b.p_name)) <= 4),
            m as (select p_brand, d from pr where d <= 4)
            select p_brand, cast(count(*) as bigint) as n_pairs,
                   cast(count(case when d = 0 then 1 end) as bigint)
                     as n_exact,
                   cast(round(cast(cast(sum(d) as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 4) as double) as avg_dist
            from m group by p_brand order by p_brand
        """,
        "q115_rolling_actives": """
            with du as (
              select distinct date_trunc('day', ts) as day, user_id
              from events),
            days as (select distinct day from du)
            select d.day,
                   cast(count(distinct a.user_id) as bigint) as n_active_7d,
                   cast(count(distinct case when a.day = d.day
                        then a.user_id end) as bigint) as n_active_1d
            from du a join days d
              on a.day >= d.day - interval 6 day and a.day <= d.day
            group by d.day order by d.day
        """,
        "q116_ab_split_conversion": """
            with pu as (
              select user_id,
                     max(case when event_type = 'view' then 1 else 0 end)
                       as viewed,
                     max(case when event_type = 'purchase' then 1 else 0 end)
                       as purchased
              from events group by user_id),
            v as (select case when (user_id * 2654435761) % 4294967296
                                   % 100 < 50
                               then 'A' else 'B' end as variant,
                         viewed, purchased
                  from pu)
            select variant, cast(count(*) as bigint) as n_users,
                   cast(sum(viewed) as bigint) as n_viewers,
                   cast(sum(purchased) as bigint) as n_purchasers,
                   cast(round(cast(cast(sum(case when viewed = 1
                             then purchased else 0 end) as double)
                        / cast(case when sum(viewed) < 1 then 1
                               else sum(viewed) end as double)
                        as decimal(28,10)), 6) as double)
                     as view_to_purchase
            from v group by variant order by variant
        """,
        "q117_table_profile": """
            with s as (
              select cast(count(*) as bigint) as n_rows,
              cast(sum(case when o_orderkey is null then 1 else 0 end) as bigint) as nn_o_orderkey,
              cast(count(distinct o_orderkey) as bigint) as nd_o_orderkey,
              cast(sum(case when o_custkey is null then 1 else 0 end) as bigint) as nn_o_custkey,
              cast(count(distinct o_custkey) as bigint) as nd_o_custkey,
              cast(sum(case when o_orderstatus is null then 1 else 0 end) as bigint) as nn_o_orderstatus,
              cast(count(distinct o_orderstatus) as bigint) as nd_o_orderstatus,
              cast(sum(case when o_totalprice is null then 1 else 0 end) as bigint) as nn_o_totalprice,
              cast(count(distinct o_totalprice) as bigint) as nd_o_totalprice,
              cast(sum(case when o_orderdate is null then 1 else 0 end) as bigint) as nn_o_orderdate,
              cast(count(distinct o_orderdate) as bigint) as nd_o_orderdate,
              cast(sum(case when o_orderpriority is null then 1 else 0 end) as bigint) as nn_o_orderpriority,
              cast(count(distinct o_orderpriority) as bigint) as nd_o_orderpriority
              from orders)
            select 'o_orderkey' as col_name, n_rows, nn_o_orderkey as n_nulls, nd_o_orderkey as n_distinct from s
            union all select 'o_custkey' as col_name, n_rows, nn_o_custkey as n_nulls, nd_o_custkey as n_distinct from s
            union all select 'o_orderstatus' as col_name, n_rows, nn_o_orderstatus as n_nulls, nd_o_orderstatus as n_distinct from s
            union all select 'o_totalprice' as col_name, n_rows, nn_o_totalprice as n_nulls, nd_o_totalprice as n_distinct from s
            union all select 'o_orderdate' as col_name, n_rows, nn_o_orderdate as n_nulls, nd_o_orderdate as n_distinct from s
            union all select 'o_orderpriority' as col_name, n_rows, nn_o_orderpriority as n_nulls, nd_o_orderpriority as n_distinct from s
            order by col_name
        """,
        "q118_fk_integrity": """
            select 'lineitem.l_orderkey->orders.o_orderkey' as rel,
              cast((select count(*) from lineitem) as bigint) as n_child,
              cast((select count(*) from lineitem where l_orderkey is null)
                   as bigint) as n_null_fk,
              cast((select count(distinct l_orderkey) from lineitem)
                   as bigint) as n_child_keys,
              cast((select count(*) from
                      (select distinct l_orderkey as k from lineitem
                       where l_orderkey is not null) cs
                    where not exists (select 1 from orders
                                      where o_orderkey = cs.k))
                   as bigint) as n_orphan_keys,
              cast((select count(distinct o_orderkey) from orders)
                   as bigint) as n_parents,
              cast((select count(*) from
                      (select distinct o_orderkey as k from orders) ps
                    where not exists (select 1 from lineitem
                                      where l_orderkey = ps.k))
                   as bigint) as n_unref_parents
            union all select 'lineitem.l_partkey->part.p_partkey' as rel,
              cast((select count(*) from lineitem) as bigint) as n_child,
              cast((select count(*) from lineitem where l_partkey is null)
                   as bigint) as n_null_fk,
              cast((select count(distinct l_partkey) from lineitem)
                   as bigint) as n_child_keys,
              cast((select count(*) from
                      (select distinct l_partkey as k from lineitem
                       where l_partkey is not null) cs
                    where not exists (select 1 from part
                                      where p_partkey = cs.k))
                   as bigint) as n_orphan_keys,
              cast((select count(distinct p_partkey) from part)
                   as bigint) as n_parents,
              cast((select count(*) from
                      (select distinct p_partkey as k from part) ps
                    where not exists (select 1 from lineitem
                                      where l_partkey = ps.k))
                   as bigint) as n_unref_parents
            union all select 'lineitem.l_suppkey->supplier.s_suppkey' as rel,
              cast((select count(*) from lineitem) as bigint) as n_child,
              cast((select count(*) from lineitem where l_suppkey is null)
                   as bigint) as n_null_fk,
              cast((select count(distinct l_suppkey) from lineitem)
                   as bigint) as n_child_keys,
              cast((select count(*) from
                      (select distinct l_suppkey as k from lineitem
                       where l_suppkey is not null) cs
                    where not exists (select 1 from supplier
                                      where s_suppkey = cs.k))
                   as bigint) as n_orphan_keys,
              cast((select count(distinct s_suppkey) from supplier)
                   as bigint) as n_parents,
              cast((select count(*) from
                      (select distinct s_suppkey as k from supplier) ps
                    where not exists (select 1 from lineitem
                                      where l_suppkey = ps.k))
                   as bigint) as n_unref_parents
            union all select 'orders.o_custkey->customer.c_custkey' as rel,
              cast((select count(*) from orders) as bigint) as n_child,
              cast((select count(*) from orders where o_custkey is null)
                   as bigint) as n_null_fk,
              cast((select count(distinct o_custkey) from orders)
                   as bigint) as n_child_keys,
              cast((select count(*) from
                      (select distinct o_custkey as k from orders
                       where o_custkey is not null) cs
                    where not exists (select 1 from customer
                                      where c_custkey = cs.k))
                   as bigint) as n_orphan_keys,
              cast((select count(distinct c_custkey) from customer)
                   as bigint) as n_parents,
              cast((select count(*) from
                      (select distinct c_custkey as k from customer) ps
                    where not exists (select 1 from orders
                                      where o_custkey = ps.k))
                   as bigint) as n_unref_parents
            union all select 'customer.c_nationkey->nation.n_nationkey' as rel,
              cast((select count(*) from customer) as bigint) as n_child,
              cast((select count(*) from customer where c_nationkey is null)
                   as bigint) as n_null_fk,
              cast((select count(distinct c_nationkey) from customer)
                   as bigint) as n_child_keys,
              cast((select count(*) from
                      (select distinct c_nationkey as k from customer
                       where c_nationkey is not null) cs
                    where not exists (select 1 from nation
                                      where n_nationkey = cs.k))
                   as bigint) as n_orphan_keys,
              cast((select count(distinct n_nationkey) from nation)
                   as bigint) as n_parents,
              cast((select count(*) from
                      (select distinct n_nationkey as k from nation) ps
                    where not exists (select 1 from customer
                                      where c_nationkey = ps.k))
                   as bigint) as n_unref_parents
            order by rel
        """,
        "q119_decile_gains": """
            with cust as (
              select o_custkey,
                     sum(cast(o_totalprice as decimal(28,2))) as spend_d
              from orders group by o_custkey),
            dec as (
              select o_custkey, spend_d,
                     ntile(10) over (order by spend_d desc, o_custkey)
                       as decile
              from cust),
            per as (
              select cast(decile as bigint) as decile,
                     cast(count(*) as bigint) as n_customers,
                     sum(spend_d) as dec_rev_d
              from dec group by decile),
            t as (select sum(dec_rev_d) as total_d from per),
            c as (
              select per.*,
                     sum(dec_rev_d) over (order by decile
                       rows between unbounded preceding and current row)
                       as cum_rev_d
              from per)
            select decile, n_customers,
                   cast(round(dec_rev_d, 2) as double) as decile_rev,
                   cast(round(cast(cast(dec_rev_d as double)
                        / cast(total_d as double) as decimal(28,10)), 6)
                        as double) as rev_share,
                   cast(round(cast(cast(cum_rev_d as double)
                        / cast(total_d as double) as decimal(28,10)), 6)
                        as double) as cum_share
            from c, t order by decile
        """,
        "q120_scd2_intervals": """
            with e as (
              select user_id, event_type, ts, event_id
              from events where user_id % 50 = 0),
            r as (
              select *, case when lag(event_type) over w is null
                              or lag(event_type) over w <> event_type
                         then 1 else 0 end as chg
              from e
              window w as (partition by user_id order by ts, event_id)),
            runs as (
              select *, sum(chg) over (partition by user_id
                          order by ts, event_id
                          rows between unbounded preceding and current row)
                        as run
              from r),
            per as (
              select user_id, run, min(event_type) as event_type,
                     min(ts) as valid_from,
                     cast(count(*) as bigint) as n_events
              from runs group by user_id, run)
            select user_id, event_type, valid_from,
                   lead(valid_from) over (partition by user_id
                                          order by run) as valid_to,
                   n_events
            from per order by user_id, valid_from
        """,
        "q121_autocorr": """
            with daily as (
              select date_trunc('day', o_orderdate) as day,
                     sum(cast(o_totalprice as decimal(18,2))) as rev
              from orders group by day),
            leads as (
              select rev,
                     lead(rev, 1) over w as l1, lead(rev, 2) over w as l2,
                     lead(rev, 3) over w as l3, lead(rev, 4) over w as l4,
                     lead(rev, 5) over w as l5, lead(rev, 6) over w as l6,
                     lead(rev, 7) over w as l7
              from daily window w as (order by day)),
            pairs as (
              select 1 as lag, rev as x, l1 as y from leads
              union all select 2, rev, l2 from leads
              union all select 3, rev, l3 from leads
              union all select 4, rev, l4 from leads
              union all select 5, rev, l5 from leads
              union all select 6, rev, l6 from leads
              union all select 7, rev, l7 from leads),
            mom as (
              select lag, cast(count(*) as bigint) as n_pairs,
                     cast(sum(x) as double) as sx,
                     cast(sum(y) as double) as sy,
                     cast(sum(x * y) as double) as sxy,
                     cast(sum(x * x) as double) as sxx,
                     cast(sum(y * y) as double) as syy
              from pairs where y is not null group by lag)
            select cast(lag as bigint) as lag, n_pairs,
                   cast(round(cast(
                     (cast(n_pairs as double) * sxy - sx * sy)
                     / (sqrt(cast(n_pairs as double) * sxx - sx * sx)
                        * sqrt(cast(n_pairs as double) * syy - sy * sy))
                     as decimal(28,10)), 6) as double) as acf
            from mom order by lag
        """,
        "q122_weighted_median": """
            with scored as (
              select l_returnflag, l_extendedprice,
                     sum(cast(l_quantity as decimal(18,2))) over (
                       partition by l_returnflag order by l_extendedprice
                       range between unbounded preceding and current row
                     ) as cum,
                     sum(cast(l_quantity as decimal(18,2))) over (
                       partition by l_returnflag) as tot
              from lineitem),
            med as (
              select l_returnflag,
                     min(l_extendedprice) as w_median,
                     cast(min(tot) as double) as total_weight
              from scored where 2 * cum >= tot group by l_returnflag),
            cnt as (
              select l_returnflag, cast(count(*) as bigint) as n_rows
              from lineitem group by l_returnflag)
            select m.l_returnflag, c.n_rows, m.w_median, m.total_weight
            from med m join cnt c using (l_returnflag)
            order by m.l_returnflag
        """,
        "q123_interval_union": """
            with e as (
              select user_id, event_id, epoch_us(ts) as s,
                     epoch_us(ts) + 300000000 as en
              from events),
            flagged as (
              select user_id, event_id, s, en,
                     case when max(en) over w1 is null
                            or s > max(en) over w1
                          then 1 else 0 end as nf
              from e
              window w1 as (partition by user_id order by s, event_id
                            rows between unbounded preceding
                            and 1 preceding)),
            isl as (
              select user_id, s, en,
                     sum(nf) over (partition by user_id
                                   order by s, event_id
                                   rows between unbounded preceding
                                   and current row) as island
              from flagged),
            agg as (
              select user_id, island, min(s) as i_s, max(en) as i_e
              from isl group by user_id, island)
            select user_id,
                   cast(count(*) as bigint) as n_islands,
                   cast(sum(i_e - i_s) as bigint) as covered_us
            from agg group by user_id order by user_id
        """,
        "q124_time_to_convert": """
            with e as (
              select user_id, event_type, epoch_us(ts) as t
              from events
              where event_type in ('signup', 'purchase')),
            a as (
              select user_id, event_type, t,
                     min(case when event_type = 'signup' then t end)
                       over (partition by user_id) as f
              from e),
            g as (
              select user_id, min(t) as t_to, min(f) as t_f
              from a
              where event_type = 'purchase' and f is not null and t >= f
              group by user_id)
            select cast(floor((t_to - t_f) / 3600000000.0) as bigint)
                     as hours_bucket,
                   cast(count(*) as bigint) as n_users
            from g group by hours_bucket order by hours_bucket
        """,
        "q125_sorted_neighborhood": """
            with ranked as (
              select p_partkey as id, p_name as k,
                     row_number() over (order by p_name, p_partkey)
                       as rn
              from part),
            pairs as (
              select a.id as id1, b.id as id2,
                     a.k as key1, b.k as key2
              from ranked a join ranked b
                on b.rn > a.rn and b.rn <= a.rn + 3)
            select id1, id2, key1, key2,
                   cast(levenshtein(key1, key2) as bigint) as dist
            from pairs where levenshtein(key1, key2) <= 8
            order by id1, id2
        """,
        "q126_token_diversity": """
            with tok as (
              select source as grp,
                     unnest(string_split(lower(text), ' ')) as tok
              from documents),
            pt as (
              select grp, tok, cast(count(*) as bigint) as ct
              from tok where tok <> '' group by grp, tok),
            ag as (
              select grp,
                     cast(sum(ct) as bigint) as n_tokens,
                     cast(count(*) as bigint) as n_types,
                     sum(cast(ct as hugeint) * ct) as sq
              from pt group by grp)
            select grp as source, n_tokens, n_types,
                   cast(round(cast(
                     cast(n_types as double) / cast(n_tokens as double)
                     as decimal(28,10)), 6) as double)
                     as type_token_ratio,
                   cast(round(cast(
                     1.0 - cast(sq as double)
                       / (cast(n_tokens as double)
                          * cast(n_tokens as double))
                     as decimal(28,10)), 6) as double) as simpson_index
            from ag order by source
        """,
        "q127_asof_forward": """
            with c as (
              select event_id, user_id, ts from events
              where event_type = 'click'),
            p as (
              select user_id, ts, min(value) as value from events
              where event_type = 'purchase' group by user_id, ts),
            u as (
              select user_id, ts, 1 as side,
                     event_id, cast(null as timestamp) as pts,
                     cast(null as double) as pval
              from c
              union all
              select user_id, ts, 2 as side,
                     cast(null as bigint), ts, value
              from p),
            f as (
              select user_id, ts, side, event_id,
                     first_value(pts ignore nulls) over w as n_ts,
                     first_value(pval ignore nulls) over w as n_val
              from u
              window w as (partition by user_id order by ts, side
                           rows between current row
                           and unbounded following))
            select event_id, user_id, ts, n_ts as next_ts,
                   n_val as next_val
            from f where side = 1 and n_ts is not null
            order by event_id
        """,
        "q128_gini_concentration": """
            with spend as (
              select o_custkey,
                     sum(cast(o_totalprice as decimal(18,2))) as sp
              from orders group by o_custkey),
            ranked as (
              select sp, row_number() over (order by sp, o_custkey)
                       as rk
              from spend),
            tot as (
              select cast(count(*) as bigint) as n, sum(sp) as s0
              from spend),
            stats as (
              select min(n) as n_keys, min(s0) as s0m,
                     sum(rk * sp) as s1,
                     sum(case when rk > n - (n // 10) then sp end)
                       as topd
              from ranked cross join tot)
            select n_keys,
                   cast(round(cast(
                     cast(2 * s1 - (n_keys + 1) * s0m as double)
                       / (cast(n_keys as double) * cast(s0m as double))
                     as decimal(28,10)), 6) as double) as gini,
                   cast(round(cast(
                     cast(topd as double) / cast(s0m as double)
                     as decimal(28,10)), 6) as double)
                     as top_decile_share
            from stats
        """,
        "q129_hhi_segments": """
            with per_key as (
              select c.c_mktsegment, o.o_custkey,
                     sum(cast(o.o_totalprice as decimal(18,2))) as x
              from orders o join customer c on o.o_custkey = c.c_custkey
              group by c.c_mktsegment, o.o_custkey),
            agg as (
              select c_mktsegment,
                     cast(count(*) as bigint) as n_keys,
                     sum(x * x) as sq, sum(x) as s
              from per_key group by c_mktsegment)
            select c_mktsegment, n_keys,
                   cast(round(cast(
                     cast(sq as double)
                       / (cast(s as double) * cast(s as double))
                     as decimal(28,10)), 6) as double) as hhi
            from agg order by c_mktsegment
        """,
        "q130_bounce_rate": """
            with marked as (
              select user_id, ts,
                 case when ts - lag(ts) over (partition by user_id
                        order by ts) > interval '30 minutes'
                      or lag(ts) over (partition by user_id
                        order by ts) is null
                      then 1 else 0 end as new_s
              from events),
            sess as (
              select user_id, ts,
                     cast(sum(new_s) over (partition by user_id
                       order by ts rows between unbounded preceding
                       and current row) as bigint) as sid
              from marked),
            per_sess as (
              select user_id, sid, min(ts) as start_ts,
                     cast(count(*) as bigint) as n
              from sess group by user_id, sid),
            daily as (
              select date_trunc('day', start_ts) as day,
                     cast(count(*) as bigint) as n_sessions,
                     cast(sum(case when n = 1 then 1 else 0 end)
                       as bigint) as n_bounces
              from per_sess group by day)
            select day, n_sessions, n_bounces,
                   cast(round(cast(
                     cast(n_bounces as double)
                       / cast(n_sessions as double)
                     as decimal(28,10)), 6) as double) as bounce_rate
            from daily order by day
        """,
        "q131_dup_cluster_histogram": """
            with h as (
              select md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))
                       as content_hash
              from documents),
            clusters as (
              select content_hash, cast(count(*) as bigint) as size
              from h group by content_hash)
            select size, cast(count(*) as bigint) as n_clusters,
                   cast(size * count(*) as bigint) as n_docs,
                   cast(greatest(size - 1, 0) * count(*) as bigint)
                     as n_removable
            from clusters group by size order by size
        """,
        "q132_funnel_latency": """
            with v as (select user_id, min(ts) as t1 from events
                       where event_type = 'view' group by user_id),
            c as (select e.user_id, min(e.ts) as t2
                  from events e join v on v.user_id = e.user_id
                  where e.event_type = 'click' and e.ts > v.t1
                  group by e.user_id),
            p as (select e.user_id, min(e.ts) as t3
                  from events e join c on c.user_id = e.user_id
                  where e.event_type = 'purchase' and e.ts > c.t2
                  group by e.user_id),
            trans as (
              select 'view>click' as transition,
                     cast(epoch_us(c.t2) - epoch_us(v.t1) as double)
                       / 1e6 as latency_s
              from c join v using (user_id)
              union all
              select 'click>purchase',
                     cast(epoch_us(p.t3) - epoch_us(c.t2) as double)
                       / 1e6
              from p join c using (user_id))
            select transition, cast(count(*) as bigint) as n_users,
                   cast(round(cast(quantile_cont(latency_s, 0.5)
                     as decimal(28,6)), 4) as double) as median_s,
                   cast(round(cast(quantile_cont(latency_s, 0.9)
                     as decimal(28,6)), 4) as double) as p90_s
            from trans group by transition order by transition
        """,
        "q133_chi_square": """
            with cells as (
              select c.c_mktsegment as rseg, o.o_orderpriority as cpri,
                     cast(count(*) as bigint) as o
              from orders o join customer c on o.o_custkey = c.c_custkey
              group by rseg, cpri),
            scored as (
              select o,
                     sum(o) over (partition by rseg) as r,
                     sum(o) over (partition by cpri) as c,
                     sum(o) over () as n,
                     count(distinct rseg) over () as nr,
                     count(distinct cpri) over () as nc
              from cells),
            terms as (
              select o, r, c, n, nr, nc,
                     cast((cast(o as double)
                           - cast(r as double) * cast(c as double)
                             / cast(n as double))
                          * (cast(o as double)
                             - cast(r as double) * cast(c as double)
                               / cast(n as double))
                          / (cast(r as double) * cast(c as double)
                             / cast(n as double))
                       as decimal(28,12)) as term
              from scored)
            select cast(min(n) as bigint) as n,
                   cast((min(nr) - 1) * (min(nc) - 1) as bigint) as dof,
                   cast(round(cast(cast(sum(term) as double)
                     as decimal(28,10)), 6) as double) as chi2,
                   cast(round(cast(
                     sqrt(cast(sum(term) as double)
                          / (cast(min(n) as double)
                             * cast(least(min(nr) - 1, min(nc) - 1)
                                    as double)))
                     as decimal(28,10)), 6) as double) as cramers_v
            from terms
        """,
        "q134_cross_source_shingles": """
            with t as (
                select source, string_split(text, ' ') as toks
                from documents),
            f as (select * from t where len(toks) >= 4),
            g as (
                select distinct source,
                       array_to_string(list_slice(toks, i, i + 3), ' ')
                         as sh
                from f, unnest(generate_series(1, len(toks) - 3))
                     as u(i)),
            v as (select source, cast(count(*) as bigint) as n_sh
                  from g group by source),
            o as (
                select a.source as src_a, b.source as src_b,
                       cast(count(*) as bigint) as n_shared
                from g a join g b
                  on a.sh = b.sh and a.source < b.source
                group by 1, 2)
            select src_a, src_b,
                   va.n_sh as n_a, vb.n_sh as n_b, n_shared,
                   cast(round(cast(
                        cast(n_shared as double)
                        / cast(va.n_sh + vb.n_sh - n_shared as double)
                        as decimal(28,10)), 6) as double) as jaccard
            from o
            join v va on va.source = o.src_a
            join v vb on vb.source = o.src_b
            order by src_a, src_b
        """,
        "q135_anomaly_mad_ts": """
            with daily as (
                select date_trunc('day', ts) as day,
                       cast(count(*) as bigint) as cnt
                from events group by 1),
            m as (select quantile_cont(cnt, 0.5) as med from daily),
            dev as (
                select day, cnt, med, abs(cnt - med) as dev
                from daily, m),
            md as (select quantile_cont(dev, 0.5) as mad from dev)
            select day, cnt,
                   cast(round(cast(med as decimal(28,6)), 4)
                        as double) as med,
                   cast(round(cast(mad as decimal(28,6)), 4)
                        as double) as mad,
                   cast(round(cast(
                        case when mad > 0 then (cnt - med) / mad
                             else null end
                        as decimal(28,8)), 6) as double) as score,
                   cast(case when mad > 0
                             and abs((cnt - med) / mad) > 3.5
                        then 1 else 0 end as bigint) as is_anomaly
            from dev, md order by day
        """,
        "q136_winsorized_stats": """
            with ranked as (
                select l_returnflag as grp, l_extendedprice as v,
                       row_number() over (partition by l_returnflag
                                          order by l_extendedprice)
                         as rn,
                       count(*) over (partition by l_returnflag) as n
                from lineitem),
            bounds as (
                select grp, min(v) as lo_val, max(v) as hi_val
                from ranked
                where rn = cast(floor((5 * n + 99) / 100) as bigint)
                   or rn = cast(floor((95 * n + 99) / 100) as bigint)
                group by grp),
            clamped as (
                select r.grp, r.v, b.lo_val, b.hi_val,
                       least(greatest(r.v, b.lo_val), b.hi_val) as wv
                from ranked r join bounds b on r.grp = b.grp)
            select grp as l_returnflag,
                   cast(count(*) as bigint) as n,
                   min(lo_val) as lo_val, max(hi_val) as hi_val,
                   cast(round(cast(
                        cast(sum(cast(wv as decimal(28,4))) as double)
                        / cast(count(*) as double)
                        as decimal(28,6)), 4) as double) as win_mean,
                   cast(sum(case when v < lo_val then 1 else 0 end)
                        as bigint) as n_clip_lo,
                   cast(sum(case when v > hi_val then 1 else 0 end)
                        as bigint) as n_clip_hi
            from clamped group by grp order by grp
        """,
        "q137_source_mix_budget": """
            with per as (
                select source, cast(count(*) as bigint) as n_docs,
                       cast(sum(cast(len(list_filter(
                           string_split(text, ' '), t -> t <> ''))
                           as bigint)) as bigint) as tokens
                from documents group by source),
            s1 as (
                select source, n_docs, tokens,
                       cast(floor(sum(tokens) over () * 50 / 100)
                            as bigint) as budget,
                       least(tokens,
                             cast(floor(
                                 cast(floor(sum(tokens) over ()
                                            * 50 / 100) as bigint)
                                 / count(*) over ()) as bigint))
                         as alloc1
                from per),
            s2 as (
                select source, n_docs, tokens, alloc1,
                       budget - sum(alloc1) over () as leftover,
                       tokens - alloc1 as cap,
                       sum(tokens - alloc1) over () as cap_total
                from s1),
            s3 as (
                select source, n_docs, tokens,
                       alloc1 + case when cap_total > 0
                           then least(cap, cast(floor(
                                leftover * cap / cap_total) as bigint))
                           else 0 end as alloc2
                from s2)
            select source, n_docs, tokens,
                   cast(alloc2 as bigint) as alloc_tokens,
                   cast(round(cast(
                        cast(alloc2 as double) / cast(tokens as double)
                        as decimal(28,8)), 6) as double) as sample_rate
            from s3 order by source
        """,
        "q138_seasonal_dow": """
            with per as (
                select event_type, cast(isodow(ts) as bigint) as isodow,
                       cast(count(*) as bigint) as cnt
                from events group by 1, 2)
            select event_type, isodow, cnt,
                   cast(round(cast(
                        cast(cnt * 7 as double)
                        / cast(sum(cnt) over (partition by event_type)
                               as double)
                        as decimal(28,8)), 6) as double) as dow_index
            from per order by event_type, isodow
        """,
        "q139_class_balance_plan": """
            with per as (
                select lang as class, cast(count(*) as bigint) as cnt
                from documents group by 1)
            select class, cnt,
                   min(cnt) over () as keep_n,
                   cast(round(cast(
                        cast(min(cnt) over () as double)
                        / cast(cnt as double)
                        as decimal(28,8)), 6) as double) as sample_rate,
                   cast(cnt - min(cnt) over () as bigint) as n_excess
            from per order by class
        """,
        "q140_burst_detection": """
            with per as (
                select event_type, date_trunc('hour', ts) as bucket,
                       cast(count(*) as bigint) as cnt
                from events group by 1, 2),
            st as (
                select event_type, bucket, cnt,
                       count(*) over (partition by event_type) as n,
                       sum(cnt) over (partition by event_type) as s,
                       sum(cnt * cnt) over (partition by event_type)
                         as ss
                from per),
            sc as (
                select event_type, bucket, cnt,
                       cast(s as double) / cast(n as double) as mean,
                       cast(n * ss - s * s as double)
                       / cast(n * (n - 1) as double) as var
                from st where n >= 2)
            select event_type, bucket, cnt,
                   cast(round(cast(mean as decimal(28,6)), 4)
                        as double) as hourly_mean,
                   cast(round(cast(
                        (cast(cnt as double) - mean) / sqrt(var)
                        as decimal(28,6)), 4) as double) as z
            from sc
            where var > 0
              and (cast(cnt as double) - mean) / sqrt(var) > 2.0
            order by event_type, bucket
        """,
        "q141_split_contamination": """
            with assigned as (
                select doc_id as doc,
                       case when (doc_id * 2654435761) % 4294967296
                                 % 100 < 80 then 'train'
                            when (doc_id * 2654435761) % 4294967296
                                 % 100 < 90 then 'val'
                            else 'test' end as split,
                       string_split(text, ' ') as toks
                from documents),
            f as (select * from assigned where len(toks) >= 4),
            sh as (
                select split, doc,
                       array_to_string(list_slice(toks, i, i + 3), ' ')
                         as sh
                from f, unnest(generate_series(1, len(toks) - 3))
                     as u(i)),
            train_vocab as (
                select distinct sh from sh where split = 'train'),
            held_sh as (
                select distinct split, sh from sh
                where split <> 'train'),
            sh_stats as (
                select h.split,
                       cast(count(*) as bigint) as n_shingles,
                       cast(sum(case when t.sh is not null
                                then 1 else 0 end) as bigint)
                         as n_leaked
                from held_sh h left join train_vocab t on h.sh = t.sh
                group by h.split),
            held_docs as (
                select distinct split, doc from sh
                where split <> 'train'),
            leaked_docs as (
                select distinct s.split, s.doc
                from sh s join train_vocab t on s.sh = t.sh
                where s.split <> 'train'),
            doc_stats as (
                select hd.split,
                       cast(count(*) as bigint) as n_docs,
                       cast(sum(case when ld.doc is not null
                                then 1 else 0 end) as bigint)
                         as n_docs_leaked
                from held_docs hd
                left join leaked_docs ld
                  on hd.split = ld.split and hd.doc = ld.doc
                group by hd.split)
            select s.split, n_shingles, n_leaked,
                   cast(round(cast(
                        cast(n_leaked as double)
                        / cast(n_shingles as double)
                        as decimal(28,10)), 6) as double)
                     as shingle_leak_ratio,
                   n_docs, n_docs_leaked,
                   cast(round(cast(
                        cast(n_docs_leaked as double)
                        / cast(n_docs as double)
                        as decimal(28,10)), 6) as double)
                     as doc_leak_ratio
            from sh_stats s join doc_stats d on s.split = d.split
            order by s.split
        """,
        "q142_vocab_growth": """
            with toks as (
                select doc_id as doc, t.tok
                from documents,
                     unnest(string_split(text, ' ')) as t(tok)
                where t.tok <> ''),
            firsts as (
                select tok, min(doc) as first_doc from toks
                group by tok),
            m as (select max(doc_id) as mx from documents),
            pcts as (
                select p.pct, m.mx
                from m, unnest(generate_series(10, 100, 10)) as p(pct))
            select cast(pct as bigint) as pct,
                   cast(count(*) as bigint) as vocab_size
            from firsts, pcts
            where first_doc <= floor(mx * pct / 100)
            group by pct order by pct
        """,
        "q143_seasonal_burst": """
            with per as (
                select event_type, date_trunc('hour', ts) as bucket,
                       cast(count(*) as bigint) as cnt
                from events group by 1, 2),
            tagged as (
                select event_type, bucket, cnt,
                       cast(isodow(bucket) as bigint) as isodow
                from per),
            st as (
                select event_type, isodow, bucket, cnt,
                       count(*) over (partition by event_type, isodow)
                         as n,
                       sum(cnt) over (partition by event_type, isodow)
                         as s,
                       sum(cnt * cnt) over (partition by event_type,
                                            isodow) as ss
                from tagged),
            sc as (
                select event_type, isodow, bucket, cnt,
                       cast(s as double) / cast(n as double) as mean,
                       cast(n * ss - s * s as double)
                       / cast(n * (n - 1) as double) as var
                from st where n >= 2)
            select event_type, isodow, bucket, cnt,
                   cast(round(cast(mean as decimal(28,6)), 4)
                        as double) as stratum_mean,
                   cast(round(cast(
                        (cast(cnt as double) - mean) / sqrt(var)
                        as decimal(28,6)), 4) as double) as z
            from sc
            where var > 0
              and (cast(cnt as double) - mean) / sqrt(var) > 2.0
            order by event_type, bucket
        """,
        "q144_dedup_impact": """
            with per_hash as (
                select source,
                       md5(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g'))) as h,
                       cast(count(*) as bigint) as c
                from documents group by 1, 2)
            select source,
                   cast(sum(c) as bigint) as n_docs,
                   cast(count(*) as bigint) as n_unique,
                   cast(sum(c) - count(*) as bigint) as n_removable,
                   cast(round(cast(
                        cast(sum(c) - count(*) as double)
                        / cast(sum(c) as double)
                        as decimal(28,10)), 6) as double) as dup_ratio
            from per_hash group by source order by source
        """,
        "q145_substring_dedup": """
            with base as (
                select doc_id, source,
                       list_filter(string_split(lower(text), ' '),
                                   t -> t <> '') as toks
                from documents),
            st as (select doc_id, source, len(toks) as n_toks, toks
                   from base),
            sh as (
                select doc_id, source, i as pos,
                       md5(array_to_string(
                           list_slice(toks, i, i + 7), ' ')) as sh
                from st, unnest(generate_series(1, n_toks - 7))
                     as u(i)
                where n_toks >= 8),
            dup as (select sh from sh group by sh
                    having min(doc_id) <> max(doc_id)),
            dp as (select s.doc_id, s.source, s.pos
                   from sh s join dup d on s.sh = d.sh),
            lg as (select doc_id, source, pos,
                          lag(pos) over (partition by doc_id
                                         order by pos) as prev
                   from dp),
            isl as (select doc_id, source, pos,
                           sum(case when pos - prev > 8
                               then 1 else 0 end)
                             over (partition by doc_id order by pos
                                   rows between unbounded preceding
                                   and current row) as grp
                    from lg),
            spans as (select doc_id, source,
                             max(pos) - min(pos) + 8 as span_tokens
                      from isl group by doc_id, source, grp),
            per_doc as (select source, doc_id,
                               count(*) as n_spans,
                               sum(span_tokens) as covered,
                               max(span_tokens) as mx
                        from spans group by 1, 2),
            tot as (select source, cast(count(*) as bigint) as n_docs,
                           cast(sum(n_toks) as bigint) as total_tokens
                    from st group by source),
            agg as (select source,
                           cast(count(*) as bigint)
                             as n_docs_with_repeat,
                           cast(sum(n_spans) as bigint) as n_spans,
                           cast(sum(covered) as bigint) as dup_tokens,
                           cast(max(mx) as bigint) as max_span_tokens
                    from per_doc group by source)
            select t.source, t.n_docs, t.total_tokens,
                   cast(coalesce(a.n_docs_with_repeat, 0) as bigint)
                     as n_docs_with_repeat,
                   cast(coalesce(a.n_spans, 0) as bigint) as n_spans,
                   cast(coalesce(a.dup_tokens, 0) as bigint)
                     as dup_tokens,
                   cast(coalesce(a.max_span_tokens, 0) as bigint)
                     as max_span_tokens,
                   cast(round(cast(
                        cast(coalesce(a.dup_tokens, 0) as double)
                        / cast(t.total_tokens as double)
                        as decimal(28,10)), 6) as double)
                     as dup_token_ratio
            from tot t left join agg a on a.source = t.source
            order by t.source
        """,
        "q146_pii_scan": """
            with planted as (
                select source,
                       text
                       || case when doc_id % 7 = 0 then
                              ' contact user' || cast(doc_id as varchar)
                              || '@example.com'
                          else '' end
                       || case when doc_id % 11 = 0 then
                              ' call +1-555-867-'
                              || lpad(cast(doc_id % 10000 as varchar),
                                      4, '0')
                          else '' end
                       || case when doc_id % 13 = 0 then
                              ' from 10.' || cast(doc_id % 256 as varchar)
                              || '.' || cast(doc_id % 100 as varchar)
                              || '.' || cast(doc_id % 250 + 1 as varchar)
                          else '' end
                       as text
                from documents),
            per_doc as (
                select source,
                       cast(len(regexp_extract_all(text,
                           '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}'
                           )) as bigint) as e,
                       cast(len(regexp_extract_all(text,
                           '\\+[0-9]{1,2}[- ][0-9]{3}[- ][0-9]{3}[- ][0-9]{4}'
                           )) as bigint) as p,
                       cast(len(regexp_extract_all(text,
                           '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}'
                           )) as bigint) as i
                from planted)
            select source,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(case when e + p + i > 0 then 1 else 0 end)
                        as bigint) as docs_with_pii,
                   cast(sum(e) as bigint) as n_email,
                   cast(sum(p) as bigint) as n_phone,
                   cast(sum(i) as bigint) as n_ipv4,
                   cast(round(cast(
                        cast(sum(case when e + p + i > 0
                                 then 1 else 0 end) as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 6) as double)
                     as pii_doc_ratio
            from per_doc group by source order by source
        """,
        "q147_token_length_profile": """
            with per_doc as (
                select source,
                       cast(len(list_filter(string_split(text, ' '),
                            t -> t <> '')) as bigint) as n_toks
                from documents),
            tot as (
                select source, cast(count(*) as bigint) as n_docs,
                       cast(sum(n_toks) as bigint) as total_tokens
                from per_doc group by source),
            ranked as (
                select source, n_toks,
                       row_number() over (partition by source
                                          order by n_toks) as rn,
                       count(*) over (partition by source) as n
                from per_doc),
            picks as (
                select source,
                       max(case when rn = greatest(cast(floor(
                           (25*n+99)/100) as bigint), 1)
                           then n_toks end) as p25_tokens,
                       max(case when rn = greatest(cast(floor(
                           (50*n+99)/100) as bigint), 1)
                           then n_toks end) as p50_tokens,
                       max(case when rn = greatest(cast(floor(
                           (90*n+99)/100) as bigint), 1)
                           then n_toks end) as p90_tokens,
                       max(case when rn = greatest(cast(floor(
                           (99*n+99)/100) as bigint), 1)
                           then n_toks end) as p99_tokens
                from ranked group by source)
            select t.source, t.n_docs, t.total_tokens,
                   p.p25_tokens, p.p50_tokens, p.p90_tokens,
                   p.p99_tokens
            from tot t join picks p on t.source = p.source
            order by t.source
        """,
        "q148_benchmark_attribution": """
            with benches as (
                select 'bench_a' as bench,
                       substring(text, 10, 200) as text
                from documents where doc_id % 97 = 0
                union all
                select 'bench_b', substring(text, 30, 200)
                from documents where doc_id % 89 = 0
                union all
                select 'bench_c', substring(text, 50, 200)
                from documents where doc_id % 83 = 0),
            bg as (select distinct bench, gram from (
                     select bench,
                            unnest(list_transform(
                              generate_series(1, greatest(
                                len(string_split(lower(text), ' ')) - 4,
                                0)),
                              i -> array_to_string(list_slice(
                                string_split(lower(text), ' '), i, i + 4),
                                ' '))) as gram
                     from benches)),
            ct as (select source, doc_id as doc,
                          string_split(lower(text), ' ') as ts
                   from documents),
            cg as (select source, doc, unnest(list_distinct(
                          list_transform(
                            generate_series(1, greatest(len(ts) - 4, 0)),
                            i -> array_to_string(
                              list_slice(ts, i, i + 4), ' ')))) as gram
                   from ct),
            hits as (
                select source, bench,
                       cast(count(*) as bigint) as n_contaminated
                from (select distinct cg.source, cg.doc, bg.bench
                      from cg join bg on cg.gram = bg.gram)
                group by source, bench),
            totals as (select source, cast(count(*) as bigint) as n_docs
                       from documents group by source),
            grid as (select t.source, b.bench, t.n_docs
                     from totals t
                     cross join (select distinct bench from benches) b)
            select g.source, g.bench, g.n_docs,
                   cast(coalesce(h.n_contaminated, 0) as bigint)
                     as n_contaminated,
                   cast(round(cast(
                        cast(coalesce(h.n_contaminated, 0) as double)
                        / cast(g.n_docs as double)
                        as decimal(28,10)), 6) as double)
                     as contam_doc_ratio
            from grid g left join hits h
              on g.source = h.source and g.bench = h.bench
            order by g.source, g.bench
        """,
        "q149_doc_stitching": """
            with base as (
                select doc_id as doc, source as src,
                       list_filter(string_split(lower(text), ' '),
                                   t -> t <> '') as toks
                from documents),
            st as (select doc, src, len(toks) as n, toks
                   from base where len(toks) >= 6),
            edges as (
                select doc, src,
                       md5(array_to_string(
                           list_slice(toks, 1, 3), ' ')) as head,
                       md5(array_to_string(
                           list_slice(toks, n - 2, n), ' ')) as tail
                from st),
            pairs as (
                select t.src as src_from, h.src as src_to,
                       t.doc as doc_from, h.doc as doc_to
                from edges t join edges h on t.tail = h.head
                where t.doc <> h.doc)
            select src_from, src_to,
                   cast(count(*) as bigint) as n_pairs,
                   cast(count(distinct doc_from) as bigint)
                     as n_from_docs,
                   cast(count(distinct doc_to) as bigint) as n_to_docs
            from pairs group by src_from, src_to
            order by src_from, src_to
        """,
        "q150_embedding_drift": """
            with ex as (
                select label, generate_subscripts(embedding, 1) as dim,
                       unnest(embedding::DOUBLE[]) as v
                from embeddings),
            comp as (
                select label, dim,
                       cast(count(*) as bigint) as n_vecs,
                       cast(round(cast(avg(v) as decimal(28,8)), 6)
                         as decimal(18,6)) as c
                from ex group by label, dim),
            gcent as (
                select dim,
                       cast(round(cast(avg(v) as decimal(28,8)), 6)
                         as decimal(18,6)) as g
                from ex group by dim)
            select comp.label,
                   cast(max(n_vecs) as bigint) as n_vecs,
                   cast(round(cast(sqrt(cast(sum(
                        cast((c - g) * (c - g) as decimal(38,12))
                        ) as double)) as decimal(28,10)), 6) as double)
                     as drift_l2
            from comp join gcent on comp.dim = gcent.dim
            group by comp.label order by comp.label
        """,
        # SemDeDup hash-cluster twin: clusters are vec_id % 16 (exact
        # integer arithmetic), centroids decimal-snapped at 6 dp, and
        # the greedy keep order is (csim asc, vec_id asc) — "earlier"
        # rows are the join predicate, the prune is a threshold count.
        "q151_hash_semantic_dedup": """
            with assigned as (
                select vec_id, embedding::DOUBLE[] as emb,
                       cast(vec_id % 16 as int) as cluster
                from embeddings),
            ex as (
                select cluster, generate_subscripts(emb, 1) as dim,
                       unnest(emb) as v
                from assigned),
            comp as (
                select cluster, dim,
                       cast(round(cast(avg(v) as decimal(28,8)), 6)
                         as double) as c
                from ex group by cluster, dim),
            cent as (
                select cluster, list(c order by dim) as cvec
                from comp group by cluster),
            scored as (
                select a.vec_id, a.cluster, a.emb,
                       list_cosine_similarity(a.emb, c.cvec) as csim
                from assigned a join cent c on a.cluster = c.cluster),
            agg as (
                select x.vec_id, x.cluster, x.csim,
                       count(case when
                             list_cosine_similarity(x.emb, y.emb) >= 0.3
                             then 1 end) as nd
                from scored x left join scored y
                  on y.cluster = x.cluster
                 and (y.csim < x.csim
                      or (y.csim = x.csim and y.vec_id < x.vec_id))
                group by x.vec_id, x.cluster, x.csim)
            select vec_id,
                   cast(cluster as bigint) as cluster,
                   cast(round(cast(csim as decimal(28,10)), 6) as double)
                     as centroid_sim,
                   cast(nd as bigint) as n_earlier_dups,
                   cast(case when nd = 0 then 1 else 0 end as bigint)
                     as kept
            from agg order by vec_id
        """,
        # Tokenizer fertility: all-integer token/word/char totals, two
        # final rational ratios (quotients of exact longs) snapped.
        "q152_tokenizer_fertility": """
            with rich as (
                select source,
                       text || ' v' || cast(doc_id % 10 as varchar)
                            || '.' || cast(doc_id % 7 as varchar)
                            || ' rank#'
                            || cast(doc_id % 100 as varchar) || '!'
                         as text
                from documents),
            per_doc as (
                select source,
                       cast(length(text) as bigint) as n_chars,
                       cast(len(list_filter(string_split(lower(text),
                            ' '), x -> x <> '')) as bigint) as n_words,
                       cast(len(regexp_extract_all(lower(text),
                            '[a-z]+|[0-9]+|[^a-z0-9\\s]')) as bigint)
                         as n_tokens
                from rich)
            select source,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(n_chars) as bigint) as total_chars,
                   cast(sum(n_words) as bigint) as total_words,
                   cast(sum(n_tokens) as bigint) as total_tokens,
                   cast(round(cast(cast(sum(n_tokens) as double)
                        / cast(sum(n_words) as double)
                        as decimal(28,10)), 6) as double)
                     as tokens_per_word,
                   cast(round(cast(cast(sum(n_tokens) as double)
                        / cast(sum(n_chars) as double)
                        as decimal(28,10)), 6) as double)
                     as tokens_per_char
            from per_doc group by source order by source
        """,
        # Provenance dedup at the planted domain grain (source '.d'
        # doc_id%3): q144's within-grain numbers + the cross-domain
        # mirror count (distinct contents present in >= 2 domains).
        "q153_provenance_dedup": """
            with planted as (
                select source || '.d' || cast(doc_id % 3 as varchar)
                         as domain,
                       case when doc_id % 37 = 0
                            then 'syndicated boilerplate item '
                                 || cast(doc_id % 5 as varchar)
                            else text end as text
                from documents),
            per_hash as (
                select domain,
                       md5(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g'))) as h,
                       cast(count(*) as bigint) as c
                from planted group by 1, 2),
            hd as (
                select h, cast(count(*) as bigint) as nd
                from per_hash group by h)
            select domain,
                   cast(sum(c) as bigint) as n_docs,
                   cast(count(*) as bigint) as n_unique,
                   cast(sum(c) - count(*) as bigint) as n_removable,
                   cast(sum(case when nd >= 2 then 1 else 0 end)
                     as bigint) as n_mirrored,
                   cast(round(cast(
                        cast(sum(case when nd >= 2 then 1 else 0 end)
                             as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 6) as double)
                     as mirror_ratio
            from per_hash join hd using (h)
            group by domain order by domain
        """,
        # BM25 (rational-idf) top-20 for the fixed query
        # (spark, join, fast). Expression shapes/association mirror
        # the DataFrame door exactly so the doubles are identical.
        "q154_bm25_topk": """
            with per_doc as (
                select doc_id,
                       cast(len(toks) as bigint) as dl,
                       cast(len(list_filter(toks, t -> t = 'spark'))
                         as bigint) as tf0,
                       cast(len(list_filter(toks, t -> t = 'join'))
                         as bigint) as tf1,
                       cast(len(list_filter(toks, t -> t = 'fast'))
                         as bigint) as tf2
                from (select doc_id,
                             list_filter(string_split(lower(text), ' '),
                                         t -> t <> '') as toks
                      from documents)),
            stats as (
                select cast(count(*) as bigint) as n_corpus,
                       cast(sum(dl) as bigint) as total_dl,
                       cast(sum(case when tf0 > 0 then 1 else 0 end)
                         as bigint) as df0,
                       cast(sum(case when tf1 > 0 then 1 else 0 end)
                         as bigint) as df1,
                       cast(sum(case when tf2 > 0 then 1 else 0 end)
                         as bigint) as df2
                from per_doc),
            scored as (
                select doc_id, dl, tf0, tf1, tf2,
                       (cast(n_corpus - df0 as double) + 0.5)
                         / (cast(df0 as double) + 0.5)
                         * (cast(tf0 as double) * 2.2)
                         / (cast(tf0 as double) + 1.2
                            * (1.0 - 0.75 + 0.75 * cast(dl as double)
                               / (cast(total_dl as double)
                                  / cast(n_corpus as double))))
                     + (cast(n_corpus - df1 as double) + 0.5)
                         / (cast(df1 as double) + 0.5)
                         * (cast(tf1 as double) * 2.2)
                         / (cast(tf1 as double) + 1.2
                            * (1.0 - 0.75 + 0.75 * cast(dl as double)
                               / (cast(total_dl as double)
                                  / cast(n_corpus as double))))
                     + (cast(n_corpus - df2 as double) + 0.5)
                         / (cast(df2 as double) + 0.5)
                         * (cast(tf2 as double) * 2.2)
                         / (cast(tf2 as double) + 1.2
                            * (1.0 - 0.75 + 0.75 * cast(dl as double)
                               / (cast(total_dl as double)
                                  / cast(n_corpus as double))))
                       as raw
                from per_doc, stats),
            snapped as (
                select doc_id, dl, tf0, tf1, tf2,
                       cast(round(cast(raw as decimal(28,10)), 6)
                         as double) as score
                from scored)
            select cast(row_number() over
                        (order by score desc, doc_id) as bigint)
                     as rank,
                   doc_id, dl,
                   tf0 as tf_0, tf1 as tf_1, tf2 as tf_2, score
            from snapped
            order by score desc, doc_id limit 20
        """,
        # Profile drift between the two half-month event batches —
        # shared-ANSI (also runs through the Spark SQL door verbatim).
        "q155_profile_drift": """
            with base as (
                select case when ts < timestamp '2024-01-16'
                            then 'a' else 'b' end as batch,
                       event_id, user_id, event_type, value
                from events),
            s as (
                select batch, cast(count(*) as bigint) as n_rows,
                       cast(sum(case when event_id is null then 1
                                else 0 end) as bigint) as nn0,
                       cast(count(distinct event_id) as bigint) as nd0,
                       cast(sum(case when user_id is null then 1
                                else 0 end) as bigint) as nn1,
                       cast(count(distinct user_id) as bigint) as nd1,
                       cast(sum(case when event_type is null then 1
                                else 0 end) as bigint) as nn2,
                       cast(count(distinct event_type) as bigint)
                         as nd2,
                       cast(sum(case when value is null then 1
                                else 0 end) as bigint) as nn3,
                       cast(count(distinct value) as bigint) as nd3
                from base group by batch),
            cols as (
                select batch, 'event_id' as col_name, n_rows,
                       nn0 as n_nulls, nd0 as n_distinct from s
                union all
                select batch, 'user_id', n_rows, nn1, nd1 from s
                union all
                select batch, 'event_type', n_rows, nn2, nd2 from s
                union all
                select batch, 'value', n_rows, nn3, nd3 from s)
            select a.col_name,
                   a.n_rows as n_rows_a, b.n_rows as n_rows_b,
                   a.n_nulls as n_nulls_a, b.n_nulls as n_nulls_b,
                   a.n_distinct as n_distinct_a,
                   b.n_distinct as n_distinct_b,
                   cast(round(cast(cast(b.n_rows as double)
                        / cast(a.n_rows as double)
                        as decimal(28,10)), 6) as double) as rows_ratio,
                   cast(round(cast(cast(b.n_distinct as double)
                        / cast(a.n_distinct as double)
                        as decimal(28,10)), 6) as double)
                     as distinct_ratio
            from cols a join cols b
              on a.col_name = b.col_name
             and a.batch = 'a' and b.batch = 'b'
            order by a.col_name
        """,
        # Keep-longest dedup survivorship over the planted dup
        # clusters (doc_id % 23; punctuation-only suffixes survive the
        # raw token count but not the canonical hash).
        "q156_dedup_keepers": """
            with planted as (
                select doc_id,
                       case when doc_id % 23 = 0
                            then 'boiler plate item '
                                 || cast(doc_id % 4 as varchar)
                                 || case when doc_id % 3 = 0
                                         then ' !! ?? ..' else '' end
                            else text end as text
                from documents),
            per_doc as (
                select doc_id,
                       md5(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g'))) as h,
                       cast(len(list_filter(string_split(text, ' '),
                            t -> t <> '')) as bigint) as n_toks
                from planted),
            ranked as (
                select doc_id, h, n_toks,
                       cast(count(*) over (partition by h) as bigint)
                         as cluster_size,
                       row_number() over
                         (partition by h
                          order by n_toks desc, doc_id) as rn
                from per_doc)
            select doc_id, h, cluster_size, n_toks,
                   cast(case when rn = 1 then 1 else 0 end as bigint)
                     as kept
            from ranked where cluster_size >= 2
            order by doc_id
        """,
        # Bounded (k=2) temporal earliest-arrival reach, unrolled to
        # two min-joins — the oracle for the iterative operator's
        # arithmetic (exact integer-day doubles, no snap needed).
        "q158_temporal_reach2": """
            with base as (
                select distinct o_custkey as cust, l_suppkey as supp,
                       cast(date_diff('day', date '1970-01-01',
                            cast(o_orderdate as date)) as double) as ts
                from orders join lineitem on o_orderkey = l_orderkey),
            edges as (
                select cust as src, supp + 1000000 as dst, ts from base
                union all
                select supp + 1000000 as src, cust as dst, ts from base),
            src as (
                select distinct o_custkey as id from orders
                where o_custkey % 200 = 0),
            h1 as (
                select e.dst as id, min(e.ts) as arr
                from edges e join src s on e.src = s.id
                group by e.dst),
            h2 as (
                select e.dst as id, min(e.ts) as arr
                from edges e join h1 on e.src = h1.id
                                    and e.ts >= h1.arr
                group by e.dst),
            allh as (
                select * from h1 union all select * from h2)
            select id, cast(min(arr) as double) as arrival_day
            from allh group by id order by id
        """,
        # Per-source shingle compressibility (k=8 md5 windows).
        "q157_shingle_compressibility": """
            with st as (
                select source,
                       list_filter(string_split(lower(text), ' '),
                                   t -> t <> '') as toks
                from documents),
            sh as (
                select source,
                       md5(array_to_string(toks[i:i+7], ' ')) as sh
                from st, unnest(generate_series(1, len(toks) - 7))
                         as g(i)
                where len(toks) >= 8),
            per_sh as (
                select source, sh, cast(count(*) as bigint) as c
                from sh group by source, sh)
            select source,
                   cast(sum(c) as bigint) as total_shingles,
                   cast(count(*) as bigint) as distinct_shingles,
                   cast(round(cast(
                        cast(sum(c) - count(*) as double)
                        / cast(sum(c) as double)
                        as decimal(28,10)), 6) as double)
                     as dup_shingle_ratio
            from per_sh group by source order by source
        """,
        # CUSUM changepoint (q159): scaled-integer CUSUM — the exact
        # decimal arithmetic (n·P_k − k·T) mirrors the DataFrame door
        # operand-for-operand so the argmax row is identical.
        "q159_cusum_changepoint": """
            with planted as (
                select ts, event_type,
                       value + case when event_type in ('view','purchase')
                                     and ts >= timestamp '2024-01-16'
                                    then 2.5 else 0.0 end as value
                from events),
            daily as (
                select event_type, date_trunc('day', ts) as day,
                       cast(sum(cast(value as decimal(24,3)))
                         as decimal(24,3)) as x
                from planted group by 1, 2),
            pre as (
                select event_type, day,
                       cast(sum(x) over (partition by event_type
                            order by day rows between unbounded preceding
                            and current row) as decimal(24,3)) as p,
                       row_number() over (partition by event_type
                            order by day) as k,
                       cast(sum(x) over (partition by event_type)
                         as decimal(24,3)) as t,
                       count(*) over (partition by event_type) as n
                from daily),
            cand as (
                select event_type, day, k, n, p, t,
                       cast(n as decimal(12,0)) * p
                         - cast(k as decimal(12,0)) * t as s
                from pre where k < n),
            top as (
                select *, row_number() over (partition by event_type
                            order by abs(s) desc, day asc) as rn
                from cand)
            select event_type, day as cp_day,
                   cast(n as bigint) as n_days,
                   cast(round(cast(cast(s as double)
                        / cast(n as double) as decimal(28,6)), 4)
                     as double) as cusum_peak,
                   cast(round(cast(cast(p as double)
                        / cast(k as double) as decimal(28,6)), 4)
                     as double) as pre_mean,
                   cast(round(cast(cast(t - p as double)
                        / cast(n - k as double) as decimal(28,6)), 4)
                     as double) as post_mean
            from top where rn = 1 order by event_type
        """,
        # LM transition score (q160): same rational arithmetic — the
        # only divisions are final snapped quotients of exact bigints.
        # LM transition score (q160): the scored-relation CTE chain
        # is the SHARED fragment (sql_fragments.py) composed into
        # q160 AND q163 in both dialects — edit it once, everywhere.
        "q160_lm_transition_score": LM_SCORED_CTES_DUCKDB + """
            select source,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(n_trans) as bigint) as n_transitions,
                   cast(round(cast(cast(sum(num) as double)
                        / cast(sum(den) as double)
                        as decimal(28,10)), 6) as double)
                     as micro_score,
                   cast(round(cast(min(score) as decimal(28,10)), 6)
                     as double) as min_score,
                   cast(round(cast(max(score) as decimal(28,10)), 6)
                     as double) as max_score
            from scored group by source order by source
        """,
        # k-anonymity audit (q161): exact bigint counts; floor (not a
        # double→bigint cast, which DuckDB rounds but Spark truncates)
        "q161_k_anonymity": """
            with d as (
                select lang, source,
                       cast(floor(n_chars / 10) as bigint) as len_band
                from documents),
            classes as (
                select lang, source, len_band,
                       cast(count(*) as bigint) as sz
                from d group by 1, 2, 3)
            select lang,
                   cast(sum(sz) as bigint) as n_rows,
                   cast(count(*) as bigint) as n_classes,
                   cast(sum(case when sz < 5 then 1 else 0 end)
                     as bigint) as n_small_classes,
                   cast(sum(case when sz < 5 then sz else 0 end)
                     as bigint) as n_rows_at_risk,
                   cast(min(sz) as bigint) as min_class_size,
                   cast(round(cast(
                        cast(sum(case when sz < 5 then sz else 0 end)
                             as double)
                        / cast(sum(sz) as double)
                        as decimal(28,10)), 6) as double) as risk_ratio
            from classes group by lang order by lang
        """,
        # Gopher-rule attribution (q162): all four rules are exact
        # integer predicates (cross-multiplied thresholds, no division)
        "q162_gopher_rules": """
            with planted as (
                select source,
                       case when doc_id % 29 = 0
                            then concat('zzq',
                                        cast(doc_id % 13 as string),
                                        ' qxv wvx zzq kjq pqz mvz nbq')
                            when doc_id % 23 = 0
                            then concat(text, ' ## -- !! ##')
                            else text end as text
                from documents),
            feat as (
                select source,
                       cast(len(toks) as bigint) as n_words,
                       cast(list_sum(list_transform(toks,
                            t -> length(t))) as bigint) as sum_len,
                       cast(len(list_filter(toks,
                            t -> regexp_full_match(t, '[^a-z0-9]+')))
                         as bigint) as n_symbol,
                       cast(len(list_distinct(list_intersect(toks,
                            ['the','a','of','and','with','that',
                             'to','be']))) as bigint) as n_stop
                from (select source,
                             list_filter(string_split(lower(text), ' '),
                                         t -> t <> '') as toks
                      from planted)),
            flags as (
                select source,
                       (n_words < 20 or n_words > 1000) as f_wc,
                       (sum_len < 3 * n_words
                        or sum_len > 10 * n_words) as f_ml,
                       (n_symbol * 100 > 10 * n_words) as f_sym,
                       (n_stop < 2) as f_stop
                from feat)
            select source,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(case when f_wc then 1 else 0 end)
                     as bigint) as n_fail_wordcount,
                   cast(sum(case when f_ml then 1 else 0 end)
                     as bigint) as n_fail_meanlen,
                   cast(sum(case when f_sym then 1 else 0 end)
                     as bigint) as n_fail_symbol,
                   cast(sum(case when f_stop then 1 else 0 end)
                     as bigint) as n_fail_stopword,
                   cast(sum(case when f_wc or f_ml or f_sym or f_stop
                                 then 1 else 0 end) as bigint)
                     as n_fail_any,
                   cast(sum(case when
                        (case when f_wc then 1 else 0 end)
                        + (case when f_ml then 1 else 0 end)
                        + (case when f_sym then 1 else 0 end)
                        + (case when f_stop then 1 else 0 end) >= 2
                        then 1 else 0 end) as bigint) as n_fail_multi,
                   cast(round(cast(
                        cast(sum(case when f_wc or f_ml or f_sym
                                       or f_stop then 1 else 0 end)
                             as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 6) as double)
                     as reject_ratio
            from flags group by source order by source
        """,
        # Selection curve (q163): q160's SHARED scored relation
        # (sql_fragments.py) swept over a fixed cutoff grid —
        # identical double literals both engines.
        "q163_selection_curve": LM_SCORED_CTES_DUCKDB + """,
            thr as (
                select unnest([cast(0.02 as double),
                               cast(0.03 as double),
                               cast(0.035 as double),
                               cast(0.04 as double)]) as thr)
            select source, thr,
                   cast(count(*) as bigint) as n_docs,
                   cast(sum(case when score >= thr then 1 else 0 end)
                     as bigint) as n_docs_kept,
                   cast(sum(case when score >= thr then n_trans
                                 else 0 end) as bigint)
                     as n_trans_kept,
                   cast(round(cast(
                        cast(sum(case when score >= thr then 1
                                      else 0 end) as double)
                        / cast(count(*) as double)
                        as decimal(28,10)), 6) as double)
                     as kept_ratio
            from scored cross join thr
            group by source, thr order by source, thr
        """,
        # Incremental aggregate maintenance (q164): the oracle is the
        # FULL RECOMPUTE over the final CDC state — the hash-match IS
        # the maintenance identity refresh(agg(base), ins, del) ==
        # agg(base \ del ∪ ins).
        "q164_incremental_agg": """
            select l_returnflag, l_linestatus,
                   cast(count(*) as bigint) as n,
                   cast(round(sum(cast(l_quantity as decimal(24,2))), 2)
                     as double) as sum_qty,
                   cast(round(sum(cast(l_extendedprice
                        as decimal(24,2))), 2) as double) as sum_price
            from lineitem
            where l_orderkey % 7 = 0 or l_orderkey % 5 <> 0
            group by l_returnflag, l_linestatus
            order by l_returnflag, l_linestatus
        """,
        # Join-cardinality pre-flight (q165): per-key count products —
        # exact |A ⋈ B| contribution — top-10 with total share.
        "q165_join_cardinality": """
            with ca as (
                select l_suppkey as jk,
                       cast(count(*) as bigint) as c_left
                from lineitem group by 1),
            cb as (
                select l_suppkey as jk,
                       cast(count(*) as bigint) as c_right
                from lineitem where l_returnflag = 'R' group by 1),
            per_key as (
                select jk, c_left, c_right,
                       cast(c_left * c_right as bigint) as out_rows
                from ca join cb using (jk)),
            tot as (
                select cast(sum(out_rows) as bigint)
                         as total_out_rows
                from per_key)
            select jk, c_left, c_right, out_rows, total_out_rows,
                   cast(round(cast(
                        cast(out_rows as double)
                        / cast(total_out_rows as double)
                        as decimal(28,10)), 6) as double) as out_share
            from (select * from per_key
                  order by out_rows desc, jk limit 10)
                 cross join tot
            order by out_rows desc, jk
        """,
        # Arrival regularity (q166): lag deltas in exact epoch µs,
        # decimal moments, cv² as one snapped division.
        "q166_arrival_regularity": """
            with d as (
                select user_id, epoch_us(ts) as us from events),
            lagd as (
                select user_id,
                       us - lag(us) over (partition by user_id
                                          order by us) as dd
                from d),
            per_user as (
                select user_id,
                       cast(count(*) + 1 as bigint) as n_events,
                       cast(count(*) as bigint) as n_deltas,
                       cast(sum(cast(dd as decimal(19,0)))
                         as decimal(38,0)) as s,
                       cast(sum(cast(dd as decimal(19,0))
                                * cast(dd as decimal(19,0)))
                         as decimal(38,0)) as ss
                from lagd where dd is not null
                group by user_id
                having count(*) + 1 >= 5 and sum(dd) > 0
                   and count(*) >= 2)
            select user_id, n_events,
                   cast(round(cast(cast(s as double)
                        / cast(n_deltas as double)
                        as decimal(28,4)), 1) as double)
                     as mean_delta_us,
                   cast(round(cast(
                        cast(cast(n_deltas as decimal(38,0))
                             * (cast(n_deltas as decimal(38,0)) * ss
                                - s * s) as double)
                        / cast((cast(n_deltas as decimal(38,0)) - 1)
                               * s * s as double)
                        as decimal(28,10)), 6) as double) as cv2
            from per_user
            order by cv2 asc, user_id limit 10
        """,
        # SCD1 upsert identity (q167): the oracle is the NAIVE
        # recompute — latest version per key over the full union —
        # against the maintained anti-join + batch-latest plan.
        "q167_scd1_upsert": """
            with dim as (
                select o_orderkey as k, o_orderstatus as status,
                       o_totalprice as price,
                       cast(0 as bigint) as version
                from orders),
            u1 as (
                select o_orderkey as k, 'U1' as status,
                       o_totalprice + 10.0 as price,
                       cast(1 as bigint) as version
                from orders where o_orderkey % 11 = 0),
            u2 as (
                select o_orderkey as k, 'U2' as status,
                       o_totalprice + 20.0 as price,
                       cast(2 as bigint) as version
                from orders where o_orderkey % 22 = 0),
            unioned as (
                select * from dim union all
                select * from u1 union all
                select * from u2),
            latest as (
                select k, status, price,
                       row_number() over (partition by k
                            order by version desc) as rn
                from unioned)
            select status, cast(count(*) as bigint) as n,
                   cast(round(sum(cast(price as decimal(24,2))), 2)
                     as double) as sum_price
            from latest where rn = 1
            group by status order by status
        """,
        # Multimodal asset inventory (q168): payload = UTF-8 bytes of
        # text on both engines; DuckDB 1.0 lacks md5(BLOB), so the
        # oracle hashes the VARCHAR (same UTF-8 bytes) and measures
        # bytes via octet_length(encode(...)).
        # Asset inventory (q168): the manifest CTE is the SHARED
        # fragment (sql_fragments.py) composed into q168 AND q170.
        "q168_asset_profile": ASSET_MANIFEST_CTE_DUCKDB + """,
            per_payload as (
                select modality, media_type,
                       md5(payload_text) as h,
                       cast(count(*) as bigint) as c,
                       cast(sum(coalesce(octet_length(
                            encode(payload_text)), 0)) as bigint) as b
                from manifest
                group by modality, media_type, md5(payload_text))
            select modality, media_type,
                   cast(sum(c) as bigint) as n_assets,
                   cast(sum(b) as bigint) as total_bytes,
                   cast(sum(case when h is not null then 1 else 0 end)
                     as bigint) as n_distinct_payloads,
                   cast(sum(case when h is null then c else 0 end)
                     as bigint) as n_missing,
                   cast(sum(case when h is not null then c else 0 end)
                        - sum(case when h is not null then 1
                              else 0 end) as bigint) as n_removable,
                   cast(round(cast(
                        cast(sum(case when h is not null then c
                                 else 0 end)
                             - sum(case when h is not null then 1
                                   else 0 end) as double)
                        / cast(sum(c) as double)
                        as decimal(28,10)), 6) as double) as dup_ratio
            from per_payload group by modality, media_type
            order by modality, media_type
        """,
        # Vector hygiene (q169): per-label defect census + healthy
        # norm² extremes (list_inner_product ≡ the Spark double fold
        # per the q80 discipline; NaN rows excluded BEFORE min/max;
        # NULL vectors are their own class per ADVICE r12).
        "q169_vector_hygiene": """
            with planted as (
                select label,
                       case when vec_id % 17 = 0
                            then list_transform(embedding::DOUBLE[],
                                                x -> 0.0)
                            when vec_id % 23 = 0
                            then (embedding::DOUBLE[])[1:32]
                            when vec_id % 29 = 0
                            then list_transform(embedding::DOUBLE[],
                                 (x, i) -> case when i = 1
                                           then 'NaN'::DOUBLE
                                           else x end)
                            when vec_id % 31 = 0
                            then NULL
                            else embedding::DOUBLE[] end as e
                from embeddings),
            feat as (
                select label,
                       (e is null) as f_null,
                       (e is not null and len(e) <> 64) as f_dim,
                       (e is not null
                        and len(list_filter(e, x -> isnan(x)
                                              or isinf(x))) > 0)
                         as f_fin,
                       list_inner_product(e, e) as n2
                from planted),
            flagged as (
                select label, f_null, f_dim, f_fin,
                       (not f_null and not f_dim and not f_fin
                        and n2 = 0.0) as f_zero,
                       case when not f_null and not f_dim
                                 and not f_fin and n2 > 0.0
                            then n2 end as h_n2
                from feat)
            select label,
                   cast(count(*) as bigint) as n_vecs,
                   cast(sum(case when f_null then 1 else 0 end)
                     as bigint) as n_null,
                   cast(sum(case when f_dim then 1 else 0 end)
                     as bigint) as n_bad_dim,
                   cast(sum(case when f_fin then 1 else 0 end)
                     as bigint) as n_nonfinite,
                   cast(sum(case when f_zero then 1 else 0 end)
                     as bigint) as n_zero,
                   cast(round(cast(min(h_n2) as decimal(28,8)), 6)
                     as double) as min_norm2,
                   cast(round(cast(max(h_n2) as decimal(28,8)), 6)
                     as double) as max_norm2
            from flagged group by label order by label
        """,
        # Portable text profile (oracled since r13 — VERDICT r12 item
        # 3): the per-doc CTE chain is the SHARED fragment
        # (sql_fragments.py) composed into BOTH text oracles.
        "text_profile": TEXT_PROFILE_CTES_DUCKDB + """
            select doc_id, lang_detected,
                   n_tokens_ws, n_tokens_bpe, quality, fingerprint
            from prof order by doc_id
        """,
        "text_quality_report": TEXT_PROFILE_CTES_DUCKDB + """
            select source,
                   cast(count(*) as bigint) as n_docs,
                   cast(round(cast(avg(quality) as decimal(28,8)), 4)
                     as double) as avg_quality,
                   cast(round(cast(avg(n_tokens_bpe)
                        as decimal(28,6)), 2) as double)
                     as avg_tokens_bpe,
                   cast(count(distinct lang_detected) as bigint)
                     as n_langs,
                   cast(count(distinct fingerprint) as bigint)
                     as n_distinct_fp
            from prof group by source order by source
        """,
        # Dedup threshold curve (q172): the q63 inverted-index
        # arithmetic restricted to reference(sample) × new docs, then
        # swept over the shared threshold grid. Zero-pair thresholds
        # are absent on BOTH engines by construction.
        "q172_dedup_threshold_curve": """
            with sh as (
              select doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(length(text)-2, 0)),
                       i -> substring(lower(text), i, 3))) as sh
              from documents),
            sz as (select doc_id, len(sh) as n from sh),
            ex as (select doc_id, unnest(sh) as g from sh),
            exa as (select doc_id as src, g from ex
                    where doc_id % 100 = 0),
            exb as (select doc_id as dst, g from ex
                    where doc_id % 100 <> 0),
            inter as (select a.src, b.dst, count(*) as i
                      from exa a join exb b on b.g = a.g
                      group by 1, 2),
            j as (select i.src, i.dst,
                         cast(i.i as double)
                         / cast(sa.n + sb.n - i.i as double) as jac
                  from inter i
                  join sz sa on sa.doc_id = i.src
                  join sz sb on sb.doc_id = i.dst
                  where least(sa.n, sb.n) * 2 >= greatest(sa.n, sb.n)),
            p as (select src, dst, jac from j where jac >= 0.5),
            g as (select unnest([cast(0.5 as double),
                                 cast(0.6 as double),
                                 cast(0.7 as double),
                                 cast(0.8 as double),
                                 cast(0.9 as double)]) as threshold),
            nn as (select cast(count(*) as bigint) as n_new
                   from documents where doc_id % 100 <> 0)
            select threshold,
                   cast(count(*) as bigint) as n_pairs,
                   cast(count(distinct dst) as bigint)
                     as n_docs_removed,
                   cast(round(cast(
                        cast(count(distinct dst) as double)
                        / cast(max(n_new) as double)
                        as decimal(28,10)), 6) as double)
                     as removal_ratio
            from p cross join g cross join nn
            where jac >= threshold
            group by threshold
            order by threshold
        """,
        # Clamped balance (q180): RECURSIVE CTE fold — integer-only
        # recurrence, so the Arrow-loop door matches bit-exact.
        "q180_clamped_balance": """
            with base as (
              select user_id,
                     -- ADVICE r13: explicit decimal grid, not
                     -- round(double·10⁶) — spelled identically to
                     -- the Spark door's _ledger_deltas
                     cast(cast(value as decimal(28,6)) * 1000000
                          as bigint)
                       * (case when event_type = 'purchase'
                          then 1 else -1 end) as delta,
                     row_number() over (partition by user_id
                         order by ts, event_id) as k
              from events where user_id % 20 = 0),
            rec as (
              with recursive r(user_id, k, bal, resets, maxbal) as (
                select user_id, 0, cast(0 as bigint),
                       cast(0 as bigint), cast(0 as bigint)
                from (select distinct user_id from base)
                union all
                select b.user_id, b.k,
                       greatest(cast(0 as bigint), r.bal + b.delta),
                       r.resets + (case when r.bal + b.delta < 0
                                   then 1 else 0 end),
                       greatest(r.maxbal,
                                greatest(cast(0 as bigint),
                                         r.bal + b.delta))
                from r join base b
                  on b.user_id = r.user_id and b.k = r.k + 1)
              select * from r)
            select user_id,
                   cast(max(k) as bigint) as n_events,
                   cast(max_by(bal, k) as bigint) as final_bal,
                   cast(max_by(resets, k) as bigint) as n_resets,
                   cast(max(maxbal) as bigint) as max_bal
            from rec group by user_id order by user_id
        """,
        # Langid kappa (q182): chance-corrected label agreement per
        # source; the exact bigint ratio (n·agree − S)/(n² − S).
        "q182_langid_kappa": LANGID_PRED_CTE_DUCKDB + """,
            agg as (
              select source,
                 cast(count(*) as bigint) as n_docs,
                 cast(sum(case when lang = pred_lang then 1 else 0
                          end) as bigint) as n_agree,
                 """ + ",\n                 ".join(
            f"cast(sum(case when lang = '{l}' then 1 else 0 end)"
            f" as bigint) as r_{l},"
            f" cast(sum(case when pred_lang = '{l}' then 1 else 0"
            f" end) as bigint) as c_{l}"
            for l in ("en", "de", "es", "fr", "zh", "und")) + """
              from pred group by source)
            select source, n_docs, n_agree,
                   cast(r_en*c_en + r_de*c_de + r_es*c_es + r_fr*c_fr
                        + r_zh*c_zh + r_und*c_und as bigint) as s_exp,
                   case when n_docs*n_docs =
                             (r_en*c_en + r_de*c_de + r_es*c_es
                              + r_fr*c_fr + r_zh*c_zh + r_und*c_und)
                        then 0.0
                        else cast(round(cast(
                          cast(n_docs*n_agree
                               - (r_en*c_en + r_de*c_de + r_es*c_es
                                  + r_fr*c_fr + r_zh*c_zh
                                  + r_und*c_und) as double)
                          / cast(n_docs*n_docs
                               - (r_en*c_en + r_de*c_de + r_es*c_es
                                  + r_fr*c_fr + r_zh*c_zh
                                  + r_und*c_und) as double)
                          as decimal(28,10)), 6) as double) end
                     as kappa
            from agg order by source
        """,
        # Spearman (q185): Pearson on doubled average ranks; exact
        # decimal(38,0) moment sums, q121's sqrt composition.
        "q185_spearman": """
            with ranked as (
              select l_returnflag as grp,
                 cast(rank() over (partition by l_returnflag
                        order by l_quantity) * 2
                      + count(*) over (partition by l_returnflag,
                                       l_quantity) - 1
                   as bigint) as x,
                 cast(rank() over (partition by l_returnflag
                        order by l_extendedprice) * 2
                      + count(*) over (partition by l_returnflag,
                                       l_extendedprice) - 1
                   as bigint) as y
              from lineitem),
            mom as (
              select grp, cast(count(*) as bigint) as n,
                 cast(sum(cast(x as decimal(38,0))) as double) as sx,
                 cast(sum(cast(y as decimal(38,0))) as double) as sy,
                 cast(sum(cast(x*y as decimal(38,0))) as double)
                   as sxy,
                 cast(sum(cast(x*x as decimal(38,0))) as double)
                   as sxx,
                 cast(sum(cast(y*y as decimal(38,0))) as double)
                   as syy
              from ranked group by grp)
            select grp as l_returnflag, n,
                   case when cast(n as double)*sxx - sx*sx = 0
                          or cast(n as double)*syy - sy*sy = 0
                        then 0.0
                        else cast(round(cast(
                          (cast(n as double)*sxy - sx*sy)
                          / (sqrt(cast(n as double)*sxx - sx*sx)
                             * sqrt(cast(n as double)*syy - sy*sy))
                          as decimal(28,10)), 6) as double) end
                     as rho
            from mom order by l_returnflag
        """,
        # KS statistic (q186): D carried exact as
        # max|cumA·nB − cumB·nA| over the merged sample.
        "q186_ks_statistic": """
            with a as (
              select p.pair, 1 as is_a, value as v
              from events
              cross join (select unnest(['click','error','signup',
                                         'view']) as pair) p
              where event_type = 'purchase'),
            b as (
              select event_type as pair, 0 as is_a, value as v
              from events where event_type <> 'purchase'),
            per_v as (
              select pair, v,
                 cast(sum(is_a) as bigint) as ca,
                 cast(sum(1 - is_a) as bigint) as cb
              from (select * from a union all select * from b)
              group by pair, v),
            cum as (
              select pair,
                 cast(sum(ca) over (partition by pair order by v
                      rows between unbounded preceding and current
                      row) as bigint) as cum_a,
                 cast(sum(cb) over (partition by pair order by v
                      rows between unbounded preceding and current
                      row) as bigint) as cum_b
              from per_v),
            tot as (
              select pair, cum_a, cum_b,
                 max(cum_a) over (partition by pair) as n_a,
                 max(cum_b) over (partition by pair) as n_b
              from cum)
            select pair,
                   cast(max(n_a) as bigint) as n_a,
                   cast(max(n_b) as bigint) as n_b,
                   cast(max(abs(cum_a*n_b - cum_b*n_a)) as bigint)
                     as d_num,
                   cast(round(cast(
                     cast(max(abs(cum_a*n_b - cum_b*n_a)) as double)
                     / cast(max(n_a)*max(n_b) as double)
                     as decimal(28,10)), 6) as double) as d
            from tot group by pair order by pair
        """,
        # Benford audit (q184): first [1-9] of the decimal-grid
        # string; reference shares are shared literals (no libm).
        "q184_benford": """
            with counted as (
              select regexp_extract(
                       cast(cast(l_extendedprice as decimal(18,2))
                            as string), '[1-9]') as digit,
                     cast(count(*) as bigint) as n
              from lineitem
              group by 1),
            nz as (select * from counted where digit <> ''),
            tot as (select cast(sum(n) as bigint) as total from nz),
            ref as (
              select * from (values
                (1, 0.301029995663981), (2, 0.176091259055681),
                (3, 0.124938736608300), (4, 0.096910013008056),
                (5, 0.079181246047625), (6, 0.066946789630613),
                (7, 0.057991946977687), (8, 0.051152522447381),
                (9, 0.045757490560675)) as t(digit, b))
            select cast(nz.digit as int) as digit, nz.n,
                   cast(round(cast(cast(nz.n as double)
                        / cast(tot.total as double)
                        as decimal(28,10)), 6) as double) as share,
                   round(ref.b, 6) as benford,
                   cast(round(cast(cast(nz.n as double)
                        / cast(tot.total as double) - ref.b
                        as decimal(28,10)), 6) as double) as delta
            from nz cross join tot
            join ref on ref.digit = cast(nz.digit as int)
            order by digit
        """,
        # Mann-Whitney U (q183): doubled average ranks keep the 0.5
        # tie grid in exact bigints; u2 = 2U_A.
        "q183_mann_whitney": """
            with a as (
              select p.pair, 1 as is_a, value as v
              from events
              cross join (select unnest(['click','error','signup',
                                         'view']) as pair) p
              where event_type = 'purchase'),
            b as (
              select event_type as pair, 0 as is_a, value as v
              from events where event_type <> 'purchase'),
            u as (select * from a union all select * from b),
            ranked as (
              select pair, is_a,
                 cast(rank() over (partition by pair order by v) * 2
                      + count(*) over (partition by pair, v) - 1
                   as bigint) as avg2,
                 cast(count(*) over (partition by pair, v)
                   as bigint) as t
              from u),
            agg as (
              select pair,
                 cast(sum(is_a) as bigint) as n_a,
                 cast(sum(1 - is_a) as bigint) as n_b,
                 cast(sum(case when is_a = 1 then avg2 else 0 end)
                   as bigint) as ranksum2_a,
                 cast(sum(t * t - 1) as bigint) as tie_sum
              from ranked group by pair)
            select pair, n_a, n_b,
                   cast(ranksum2_a - n_a * (n_a + 1) as bigint) as u2,
                   tie_sum,
                   cast(round(cast(
                     cast(ranksum2_a - n_a * (n_a + 1) as double)
                     / cast(n_a * n_b as double) - 1.0
                     as decimal(28,10)), 6) as double)
                     as rank_biserial
            from agg order by pair
        """,
        # Capped balance (q181): the q180 recursive fold with the
        # two-sided clamp least(cap, greatest(0, bal+delta)) and a
        # ceiling-hit counter. cap = 50,000,000 micros (the Spark
        # door's literal).
        "q181_capped_balance": """
            with base as (
              select user_id,
                     cast(cast(value as decimal(28,6)) * 1000000
                          as bigint)
                       * (case when event_type = 'purchase'
                          then 1 else -1 end) as delta,
                     row_number() over (partition by user_id
                         order by ts, event_id) as k
              from events where user_id % 20 = 0),
            rec as (
              with recursive r(user_id, k, bal, resets, caps,
                               maxbal) as (
                select user_id, 0, cast(0 as bigint),
                       cast(0 as bigint), cast(0 as bigint),
                       cast(0 as bigint)
                from (select distinct user_id from base)
                union all
                select b.user_id, b.k,
                       least(cast(50000000 as bigint),
                             greatest(cast(0 as bigint),
                                      r.bal + b.delta)),
                       r.resets + (case when r.bal + b.delta < 0
                                   then 1 else 0 end),
                       r.caps + (case when r.bal + b.delta
                                      > 50000000
                                 then 1 else 0 end),
                       greatest(r.maxbal,
                                least(cast(50000000 as bigint),
                                      greatest(cast(0 as bigint),
                                               r.bal + b.delta)))
                from r join base b
                  on b.user_id = r.user_id and b.k = r.k + 1)
              select * from r)
            select user_id,
                   cast(max(k) as bigint) as n_events,
                   cast(max_by(bal, k) as bigint) as final_bal,
                   cast(max_by(resets, k) as bigint) as n_resets,
                   cast(max_by(caps, k) as bigint) as n_caps,
                   cast(max(maxbal) as bigint) as max_bal
            from rec group by user_id order by user_id
        """,
        # Source overlap (q179): the NAIVE (source, hash) self-join
        # shape — independent of the Spark door's set-fold expansion.
        "q179_source_overlap": """
            with planted as (
                select source,
                       case when doc_id % 7 = 0
                            then concat('shared boilerplate ',
                                        cast(doc_id % 5 as string))
                            else text end as text
                from documents),
            sh as (
                select distinct source as src,
                       md5(trim(regexp_replace(regexp_replace(
                           lower(text), '[^a-z0-9 ]', '', 'g'),
                           ' +', ' ', 'g'))) as h
                from planted),
            per_src as (select src, count(*) as n_hashes
                        from sh group by src),
            pairs as (
                select x.src as a, y.src as b, count(*) as n_shared
                from sh x join sh y
                  on y.h = x.h and x.src < y.src
                group by 1, 2)
            select a, b, cast(n_shared as bigint) as n_shared,
                   cast(na.n_hashes as bigint) as n_a,
                   cast(nb.n_hashes as bigint) as n_b,
                   cast(round(cast(
                        cast(n_shared as double)
                        / cast(least(na.n_hashes, nb.n_hashes)
                               as double)
                        as decimal(28,10)), 6) as double) as overlap
            from pairs
            join per_src na on na.src = pairs.a
            join per_src nb on nb.src = pairs.b
            order by a, b
        """,
        # Bitemporal as-of (q178): row_number over (valid, txn)
        # total order after the two time-axis filters.
        "q178_bitemporal_asof": """
            with o as (
                select o_orderkey as k, o_orderdate as d,
                       o_totalprice as p
                from orders where o_orderkey % 10 = 0),
            v as (
                select k, d as valid_from, d as txn_ts, p as price
                from o
                union all
                select k, d, d + interval 20 day, p + 50.0
                from o where k % 30 = 0
                union all
                select k, d + interval 10 day, d + interval 10 day,
                       p + 100.0
                from o where k % 20 = 0),
            f as (
                select k, valid_from, txn_ts, price,
                       row_number() over (partition by k
                           order by valid_from desc, txn_ts desc)
                         as rn
                from v
                where valid_from <= timestamp '1996-07-01'
                  and txn_ts <= timestamp '1996-07-15')
            select k, valid_from, txn_ts, price
            from f where rn = 1 order by k
        """,
        # Negative sampling (q177): pure bigint hash probing + exact
        # membership join — no RNG, byte-identical training rows.
        "q177_negative_sampling": """
            with edges as (
                select distinct o.o_custkey as c, l.l_suppkey as s
                from orders o join lineitem l
                  on l.l_orderkey = o.o_orderkey),
            ns as (select count(*) as n_supp from supplier),
            cand as (
                select c, s as s_pos, r.rank,
                       cast(1 + (s - 1 + r.rank * 2654435761)
                            % n_supp as bigint) as s_neg
                from edges, ns,
                     (select unnest([1, 2, 3]) as rank) r
                where c % 50 = 0)
            select cand.c, cand.s_pos, cand.rank, cand.s_neg,
                   cast(case when e2.s is null then 0 else 1 end
                     as bigint) as is_true_edge
            from cand left join edges e2
              on e2.c = cand.c and e2.s = cand.s_neg
            order by cand.c, cand.s_pos, cand.rank
        """,
        # All-pairs Jaccard (q176): NAIVE inverted-index all-pairs —
        # deliberately independent of the Spark door's prefix filter,
        # so the hash-match proves the filter lossless on real data.
        "q176_allpairs_jaccard": """
            with sh as (
              select doc_id,
                     list_distinct(list_transform(
                       generate_series(1, greatest(length(text)-2, 0)),
                       i -> substring(lower(text), i, 3))) as sh
              from documents where doc_id % 20 = 0),
            sz as (select doc_id, len(sh) as n from sh where len(sh) > 0),
            ex as (select doc_id, unnest(sh) as g from sh),
            inter as (select a.doc_id as a, b.doc_id as b,
                             count(*) as i
                      from ex a join ex b
                        on b.g = a.g and a.doc_id < b.doc_id
                      group by 1, 2),
            j as (select i.a, i.b, i.i,
                         sa.n + sb.n - i.i as u
                  from inter i
                  join sz sa on sa.doc_id = i.a
                  join sz sb on sb.doc_id = i.b)
            select a, b,
                   cast(round(cast(cast(i as double)
                        / cast(u as double)
                        as decimal(28,10)), 6) as double) as jac
            from j where i * 5 >= u * 3
            order by a, b
        """,
        # l-diversity audit (q175): exact bigint counts; the q161
        # banding discipline (explicit floor).
        "q175_l_diversity": """
            with d as (
                select lang, source,
                       cast(floor(n_chars / 10) as bigint) as len_band
                from documents),
            classes as (
                select lang, len_band,
                       cast(count(*) as bigint) as sz,
                       cast(count(distinct source) as bigint) as lv
                from d group by 1, 2)
            select lang,
                   cast(sum(sz) as bigint) as n_rows,
                   cast(count(*) as bigint) as n_classes,
                   cast(sum(case when lv < 2 then 1 else 0 end)
                     as bigint) as n_low_diversity,
                   cast(sum(case when lv < 2 then sz else 0 end)
                     as bigint) as n_rows_exposed,
                   cast(min(lv) as bigint) as min_diversity,
                   cast(round(cast(
                        cast(sum(case when lv < 2 then sz else 0 end)
                             as double)
                        / cast(sum(sz) as double)
                        as decimal(28,10)), 6) as double)
                     as exposure_ratio
            from classes group by lang order by lang
        """,
        # M4 downsample (q174): every output value is PICKED by a
        # row_number over a total order — no arithmetic, no rounding.
        "q174_m4_downsample": """
            with base as (
                select event_type as series,
                       date_trunc('day', ts) as bucket,
                       ts, value as v, event_id as eid
                from events),
            ann as (
                select series, bucket, ts, v,
                       row_number() over (partition by series, bucket
                           order by ts, eid) as r_f,
                       row_number() over (partition by series, bucket
                           order by ts desc, eid desc) as r_l,
                       row_number() over (partition by series, bucket
                           order by v, ts, eid) as r_n,
                       row_number() over (partition by series, bucket
                           order by v desc, ts, eid) as r_x
                from base)
            select series, bucket,
                   cast(count(*) as bigint) as n_points,
                   max(case when r_f = 1 then ts end) as ts_first,
                   max(case when r_f = 1 then v end) as v_first,
                   max(case when r_l = 1 then ts end) as ts_last,
                   max(case when r_l = 1 then v end) as v_last,
                   max(case when r_n = 1 then ts end) as ts_min,
                   max(case when r_n = 1 then v end) as v_min,
                   max(case when r_x = 1 then ts end) as ts_max,
                   max(case when r_x = 1 then v end) as v_max
            from ann group by series, bucket
            order by series, bucket
        """,
        # Per-dim embedding profile (q173): moments from exact
        # decimal sums, IEEE mean/var on identical doubles (q78
        # discipline), operand order mirrored exactly.
        "q173_embedding_dim_profile": """
            with px as (
                select r.range as d,
                       cast(embedding[r.range + 1] as double) as x
                from embeddings, range(64) r
                -- ADVICE r13: for a vector shorter than 64 dims the
                -- cross-joined element is NULL; count(*) would count
                -- it into n while min/max/sum skip it. Filtering the
                -- NULL rows makes this CTE aggregate exactly the
                -- element rows the Spark door's posexplode + d < dim
                -- filter produces, for any vector length.
                where embedding[r.range + 1] is not null),
            agg as (
                select d, cast(count(*) as bigint) as n,
                       cast(sum(cast(x as decimal(28,12)))
                         as double) as sx,
                       cast(sum(cast(x * x as decimal(28,16)))
                         as double) as sxx,
                       min(x) as vmin_raw, max(x) as vmax_raw
                from px group by d)
            select cast(d as int) as dim, n,
                   cast(round(cast(sx / cast(n as double)
                        as decimal(28,10)), 6) as double) as mean,
                   cast(round(cast(
                        (sxx - sx * sx / cast(n as double))
                        / cast(n as double)
                        as decimal(28,12)), 8) as double) as var,
                   cast(round(cast(vmin_raw as decimal(28,10)), 6)
                     as double) as vmin,
                   cast(round(cast(vmax_raw as decimal(28,10)), 6)
                     as double) as vmax,
                   cast(round(cast(
                        (vmax_raw - vmin_raw) / 255.0
                        as decimal(28,12)), 8) as double)
                     as int8_scale
            from agg order by dim
        """,
        # Resource-allocation link prediction (q171): rational
        # neighbor weights as exact integer 10^12 // deg — no libm,
        # no FP sums; the top-50 orders by the bigint sum itself.
        "q171_resource_allocation": """
            with pairs as (
                select distinct o.o_custkey as c, l.l_suppkey as s
                from orders o join lineitem l
                  on l.l_orderkey = o.o_orderkey),
            cdeg as (select c, count(*) as dz from pairs group by c),
            wp as (
                select p.c, p.s,
                       cast(1000000000000 // dz as bigint) as w
                from pairs p join cdeg using (c)),
            scored as (
                select a.s as s1, b.s as s2,
                       cast(count(*) as bigint) as cn,
                       cast(sum(a.w) as bigint) as ra_w
                from wp a join wp b on a.c = b.c and a.s < b.s
                group by 1, 2)
            select s1, s2, cn,
                   cast(round(cast(cast(ra_w as double) / 1e12
                        as decimal(28,10)), 6) as double) as ra_score
            from scored
            order by ra_w desc, s1, s2
            limit 50
        """,
        # Payload dedup decisions (q170): per-(modality, md5) cluster
        # size + min-id keeper over the SHARED manifest fragment;
        # missing payloads are not dedupable (size 0, keeper 0).
        "q170_payload_dedup": ASSET_MANIFEST_CTE_DUCKDB + """,
            h as (
                select asset_id, modality,
                       md5(payload_text) as payload_hash
                from manifest)
            select asset_id, modality, payload_hash,
                   cast(case when payload_hash is not null
                        then count(*) over (partition by modality,
                                            payload_hash)
                        else 0 end as bigint) as cluster_size,
                   cast(case when payload_hash is not null
                             and asset_id = min(asset_id)
                                 over (partition by modality,
                                       payload_hash)
                        then 1 else 0 end as bigint) as is_keeper
            from h order by asset_id
        """,
    }
