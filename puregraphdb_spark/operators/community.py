"""Modularity-based community detection (Louvain-style, VERDICT r6 item 2).

Distributed re-derivation of the Louvain method (Blondel et al. 2008,
public; listed technique class in PAPERS.md) in DataFrame form:

- **Move phase**: synchronous label-move sweeps. Every vertex scores
  each neighboring community by the standard modularity gain
  ``w(i→C) − k_i · d(C∖i) / (2m)`` and adopts the argmax (ties break to
  the smaller community label). Synchronous moves on adjacent vertices
  can oscillate, so each sweep only releases one deterministic hash-half
  of the vertices (``xxhash64(id) % 2 == sweep % 2``), and every sweep is
  **validated**: the new partition's modularity is computed (one pass)
  and the sweep is reverted if it did not improve — so accepted-sweep
  modularity is non-decreasing BY CONSTRUCTION, which is the property
  the tests pin. The phase ends when both parities fail to improve.
- **Contraction**: communities collapse into supervertices; inter-
  community weights sum into single edges, intra-community weight
  becomes supervertex self-weight (degree convention ``k = nbr + 2·self``
  preserves total degree, so modularity is comparable across levels).
  Up to ``max_levels`` move+contract rounds; the per-level mappings
  compose into the final (id, community) assignment, with communities
  relabeled to their minimum member id for determinism.

Scale: each sweep is two keyed shuffles (edge→community scores, then
community totals — both on bounded keys) plus one modularity reduction;
state is one row per vertex and is re-materialized per sweep (each sweep
already runs an action, so there is no lazy batching to lose). The
contracted levels shrink geometrically. No driver-side collect of data:
the only scalars pulled are m (one row) and per-sweep modularity.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from puregraphdb_spark.functions.numeric import decimal_round
from puregraphdb_spark.operators.graph import _release

_EPS = 1e-12


def _canonical_simple(edges: DataFrame, weight_col: str | None) -> DataFrame:
    """(u, v, w) canonical undirected simple edges: u < v, self-loops
    dropped, parallel edges' weights summed (w = count when unweighted)."""
    w = F.col(weight_col) if weight_col else F.lit(1.0)
    return (
        edges.filter(F.col("src") != F.col("dst"))
        .select(
            F.least("src", "dst").alias("u"),
            F.greatest("src", "dst").alias("v"),
            w.cast("double").alias("w"),
        )
        .groupBy("u", "v")
        .agg(F.sum("w").alias("w"))
    )


def _symmetrize(simple: DataFrame) -> DataFrame:
    """Both directions of the canonical edges: (src, dst, w), src != dst."""
    return simple.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "w"
    ).unionByName(
        simple.select(F.col("v").alias("src"), F.col("u").alias("dst"), "w")
    )


def modularity(edges: DataFrame, assignment: DataFrame,
               weight_col: str | None = None,
               comm_col: str = "community") -> DataFrame:
    """One-row Newman modularity of a partition over an undirected
    simple graph: ``Q = Σ_C [ W_in(C)/m − (d(C)/(2m))² ]``.

    ``edges``: (src, dst[, weight]) — direction and duplicates are
    normalized away (canonical u<v, weights summed, self-loops dropped).
    ``assignment``: (id, community) and it must be COMPLETE: an edge
    whose endpoint is missing from the assignment is silently dropped
    by the inner join (m shrinks and Q skews — there is no cheap way
    to raise without an extra action). Returns (m, q) with q on the
    exact decimal
    grid (both-engine stable: the community count is small, so the
    squared-share sum is snapped like every derived ratio — q51
    discipline).

    Scale: two broadcast-or-shuffle joins of edges against the
    (|V|-row) assignment, then two bounded aggregations (per-community,
    then one row). SQL-expressible — this is the q99 oracle shape.
    """
    simple = _canonical_simple(edges, weight_col)
    a_u = assignment.select(F.col("id").alias("u"),
                            F.col(comm_col).alias("cu"))
    a_v = assignment.select(F.col("id").alias("v"),
                            F.col(comm_col).alias("cv"))
    tagged = simple.join(a_u, "u").join(a_v, "v")
    # per-community: internal weight (edges with both ends inside) and
    # total degree (each edge endpoint contributes w to its community)
    per_comm = (
        tagged.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("cu").alias("c"), F.col("w").alias("d"),
                        F.when(F.col("cu") == F.col("cv"), F.col("w"))
                        .otherwise(F.lit(0.0)).alias("win"),
                    ),
                    F.struct(
                        F.col("cv").alias("c"), F.col("w").alias("d"),
                        F.lit(0.0).alias("win"),
                    ),
                )
            ).alias("e")
        )
        .select("e.*")
        .groupBy("c")
        .agg(F.sum("d").alias("d"), F.sum("win").alias("win"))
    )
    # With S1=Σwin, S2=Σd (=2m), S3=Σd²:
    #   Q = S1/m − S3/(2m)² = 2·S1/S2 − S3/S2²  — one reduction.
    s1, s2, s3 = F.sum("win"), F.sum("d"), F.sum(F.col("d") * F.col("d"))
    return per_comm.agg(
        (s2 / F.lit(2.0)).alias("m"),
        decimal_round(
            F.lit(2.0) * s1 / s2 - s3 / (s2 * s2), 6, grid=10
        ).alias("q"),
    )

def _level_modularity(sym: DataFrame, selfw: DataFrame,
                      state: DataFrame, m: float) -> float:
    """Modularity of the current state over one level's graph
    (symmetric no-self edges + per-vertex self-weight, k = nbr + 2·self).

    One pass: intra-edge weight from the double-counted symmetric
    relation (÷2), self-weights always intra; community degrees from
    per-vertex degrees. Returns a Python float (one-row collect — a
    scalar, not a data collect).
    """
    deg = _level_degrees(sym, selfw)
    comm_deg = (
        state.join(deg, "id")
        .groupBy("community")
        .agg(F.sum("k").alias("d"))
        .agg(F.sum(F.col("d") * F.col("d")).alias("s3"))
    )
    st_src = state.select(F.col("id").alias("src"),
                          F.col("community").alias("c_src"))
    st_dst = state.select(F.col("id").alias("dst"),
                          F.col("community").alias("c_dst"))
    intra_edges = (
        sym.join(st_src, "src").join(st_dst, "dst")
        .filter(F.col("c_src") == F.col("c_dst"))
        .agg(F.coalesce(F.sum("w") / 2.0, F.lit(0.0)).alias("wi"))
    )
    intra_self = selfw.agg(
        F.coalesce(F.sum("sw"), F.lit(0.0)).alias("ws"))
    row = (
        intra_edges.crossJoin(intra_self).crossJoin(comm_deg)
        .select(
            (
                (F.col("wi") + F.col("ws")) / F.lit(m)
                - F.col("s3") / F.lit(4.0 * m * m)
            ).alias("q")
        )
        .collect()[0]
    )
    return float(row["q"])


def _level_degrees(sym: DataFrame, selfw: DataFrame) -> DataFrame:
    """(id, k): neighbor weight plus twice the self-weight — the
    convention under which contraction preserves total degree."""
    nbr = sym.groupBy(F.col("src").alias("id")).agg(F.sum("w").alias("nk"))
    return (
        nbr.join(selfw, nbr.id == selfw.id, "full")
        .select(
            F.coalesce(nbr.id, selfw.id).alias("id"),
            (F.coalesce("nk", F.lit(0.0))
             + 2.0 * F.coalesce("sw", F.lit(0.0))).alias("k"),
        )
    )


def _move_sweep(sym: DataFrame, deg: DataFrame, state: DataFrame,
                m: float, parity: int) -> DataFrame:
    """One synchronous label-move sweep over the ``parity`` hash-half.

    Candidate communities per vertex = neighboring communities plus the
    current one (zero-weight candidate row, so "stay" is always scored
    with the same formula). Gain vs stay uses d(C ∖ i): the mover's own
    degree is subtracted from its current community's total on both
    sides of the comparison.
    """
    st_dst = state.select(F.col("id").alias("dst"),
                          F.col("community").alias("cand"))
    nbr_w = (
        sym.join(st_dst, "dst")
        .groupBy(F.col("src").alias("id"), "cand")
        .agg(F.sum("w").alias("wc"))
    )
    stay = state.select(
        "id", F.col("community").alias("cand"), F.lit(0.0).alias("wc"))
    cands = (
        nbr_w.unionByName(stay)
        .groupBy("id", "cand")
        .agg(F.sum("wc").alias("wc"))
    )
    comm_tot = (
        state.join(deg, "id")
        .groupBy(F.col("community").alias("cand"))
        .agg(F.sum("k").alias("d_tot"))
    )
    scored = (
        cands.join(state, "id")
        .join(deg, "id")
        .join(comm_tot, "cand")
        .select(
            "id", "community", "cand",
            (
                F.col("wc")
                - F.col("k")
                * (
                    F.col("d_tot")
                    - F.when(F.col("cand") == F.col("community"),
                             F.col("k")).otherwise(F.lit(0.0))
                )
                / F.lit(2.0 * m)
            ).alias("gain"),
        )
    )
    # argmax by (gain, -cand): deterministic, ties to smaller label
    best = (
        scored.groupBy("id", "community")
        .agg(
            F.max(
                F.struct(
                    F.col("gain").alias("g"), (-F.col("cand")).alias("nc"))
            ).alias("b")
        )
        .select(
            "id", "community",
            (-F.col("b.nc")).alias("best_cand"), F.col("b.g").alias("best_g"),
        )
    )
    cur_g = scored.filter(F.col("cand") == F.col("community")).select(
        "id", F.col("gain").alias("stay_g"))
    return (
        best.join(cur_g, "id")
        .select(
            "id",
            F.when(
                (F.pmod(F.xxhash64(F.col("id")), F.lit(2))
                 == F.lit(parity))
                & (F.col("best_g") > F.col("stay_g") + F.lit(_EPS)),
                F.col("best_cand"),
            ).otherwise(F.col("community")).alias("community"),
        )
    )


def _contract(sym: DataFrame, selfw: DataFrame,
              state: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Collapse communities into supervertices → (sym', selfw').

    Inter-community weights sum (kept symmetric); intra-community edge
    weight (÷2 for double counting) plus member self-weights become the
    supervertex self-weight.
    """
    st_src = state.select(F.col("id").alias("src"),
                          F.col("community").alias("c_src"))
    st_dst = state.select(F.col("id").alias("dst"),
                          F.col("community").alias("c_dst"))
    tagged = sym.join(st_src, "src").join(st_dst, "dst")
    sym2 = (
        tagged.filter(F.col("c_src") != F.col("c_dst"))
        .groupBy(F.col("c_src").alias("src"), F.col("c_dst").alias("dst"))
        .agg(F.sum("w").alias("w"))
    )
    intra = (
        tagged.filter(F.col("c_src") == F.col("c_dst"))
        .groupBy(F.col("c_src").alias("id"))
        .agg((F.sum("w") / 2.0).alias("sw"))
    )
    old_self = (
        selfw.join(state, "id")
        .groupBy(F.col("community").alias("id"))
        .agg(F.sum("sw").alias("sw"))
    )
    selfw2 = (
        intra.unionByName(old_self)
        .groupBy("id")
        .agg(F.sum("sw").alias("sw"))
    )
    return sym2, selfw2


def louvain(edges: DataFrame, weight_col: str | None = None,
            max_levels: int = 3, max_sweeps: int = 10,
            return_history: bool = False,
            work_dir: str | None = None):
    """Louvain community detection over an undirected simple graph.

    Returns (id, community) with community = min member id (stable
    labels), or ``(assignment, history)`` when ``return_history`` —
    history is the accepted-sweep modularity sequence, non-decreasing
    by construction (a sweep that does not improve modularity is
    reverted; the phase ends when both hash-parities fail in a row).

    Scale: sweeps are keyed shuffles on vertex/community ids (no
    driver data collect; per-sweep scalars only); levels contract
    geometrically, so level ≥ 2 runs on the community graph.

    Lineage management (both rules are MEASURED, sf0.01 order graph):
    within a level, sweep states chain through localCheckpoint — flat
    ~1 s/sweep over 8 generations, where persist-chaining blew up ~4×
    per sweep (0.8 s → 27 s by sweep 5). At LEVEL boundaries a
    checkpoint is not enough: checkpoints stacked over the previous
    level's checkpoint chain degrade the same way (level-2 sweeps
    23–78 s), while the identical level-2 loop over freshly
    materialized inputs is flat — so the contracted graph is
    round-tripped through parquet (a distributed write of the
    COMMUNITY graph, ≤ the edge relation's size and typically far
    smaller; ``work_dir`` overrides the temp location for shared
    storage on a real cluster).
    """
    import shutil
    import tempfile

    simple = _canonical_simple(edges, weight_col)
    sym = _symmetrize(simple).localCheckpoint(eager=True)
    ids = sym.select(F.col("src").alias("id")).distinct()
    selfw = sym.select(F.col("src").alias("id"),
                       F.lit(0.0).alias("sw")).limit(0)
    m_row = simple.agg(F.sum("w").alias("m")).collect()[0]
    m = float(m_row["m"] or 0.0)
    if m <= 0.0:
        empty = ids.select("id", F.col("id").alias("community"))
        return (empty, []) if return_history else empty

    import uuid

    spark = edges.sparkSession
    # own uuid subdir even under a caller work_dir: two concurrent
    # louvain runs sharing a work_dir must not overwrite each other's
    # level files
    if work_dir is None:
        tmp_root = tempfile.mkdtemp(prefix="louvain-")
    else:
        tmp_root = f"{work_dir.rstrip('/')}/louvain-{uuid.uuid4().hex[:12]}"

    def _roundtrip(df: DataFrame, name: str) -> DataFrame:
        path = f"{tmp_root}/{name}"
        df.write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    global_assign: DataFrame | None = None
    history: list[float] = []
    q_global = None
    first_sym = sym  # a checkpoint; later levels' sym are parquet reads
    try:
        for _level in range(max_levels):
            deg = _level_degrees(sym, selfw).localCheckpoint(eager=True)
            state = ids.select(
                "id", F.col("id").alias("community")
            ).localCheckpoint(eager=True)
            q = _level_modularity(sym, selfw, state, m)
            if not history:
                history.append(q)
            fails = 0
            sweep = 0
            moved_any = False
            while fails < 2 and sweep < max_sweeps:
                cand = _move_sweep(sym, deg, state, m, sweep % 2)
                cand = cand.localCheckpoint(eager=True)
                q_new = _level_modularity(sym, selfw, cand, m)
                if q_new > q + _EPS:
                    _release(state)
                    state = cand
                    q = q_new
                    history.append(q)
                    fails = 0
                    moved_any = True
                else:
                    _release(cand)
                    fails += 1
                sweep += 1
            _release(deg)
            # compose this level's mapping into the global assignment
            if global_assign is None:
                global_assign = state
            else:
                lvl = state.select(F.col("id").alias("community"),
                                   F.col("community").alias("new_c"))
                superseded = global_assign
                global_assign = (
                    global_assign.join(lvl, "community")
                    .select("id", F.col("new_c").alias("community"))
                    .localCheckpoint(eager=True)
                )
                _release(superseded)
            # the last level does not contract: that would be a full
            # distributed write/read of the community graph that
            # nothing reads (round-7 review finding #5)
            last = (not moved_any or _level == max_levels - 1
                    or (q_global is not None and q <= q_global + _EPS))
            q_global = q
            if not last:
                sym_raw, selfw_raw = _contract(sym, selfw, state)
                sym = _roundtrip(sym_raw, f"sym-{_level + 1}")
                selfw = _roundtrip(selfw_raw, f"selfw-{_level + 1}")
                ids = sym.select(F.col("src").alias("id")).distinct(
                ).unionByName(selfw.select("id")).distinct()
            if state is not global_assign:
                _release(state)
            if last:
                break

        # stable labels: community := min member id
        labels = global_assign.groupBy("community").agg(
            F.min("id").alias("label"))
        out = (
            global_assign.join(labels, "community")
            .select("id", F.col("label").alias("community"))
            .localCheckpoint(eager=True)
        )
        _release(global_assign)
        _release(first_sym)
    finally:
        # remove the level round-trip files (ours even under a caller
        # work_dir — the uuid subdir) on success AND on failure; on
        # success `out` is already eagerly checkpointed, so nothing
        # reads them again
        shutil.rmtree(tmp_root, ignore_errors=True)
    return (out, history) if return_history else out


# -- oracled query ------------------------------------------------------------


def q99_modularity(spark, sf_dir: str) -> DataFrame:
    """Newman modularity of the NATION partition over the customer→
    supplier order graph — the oracled face of the modularity scorer
    (the louvain entry itself is rows-only: its sweep schedule is
    engine-specific). Vertices share q23's single id space; an id that
    is both a supplier and a customer key takes the supplier's nation
    (COALESCE priority, identical in the oracle SQL). All inputs to the
    final two divisions are exact small-integer-valued doubles, and q
    is snapped on the decimal grid (q51 discipline).

    Scale: the edge dedup shuffle, two assignment joins (the
    |V|-row assignment broadcasts), one bounded per-community
    aggregate, one row out.
    """
    from puregraphdb_spark.operators.graph import order_graph_edges
    from puregraphdb_spark.sources.registry import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    edges = order_graph_edges(o, l).distinct()
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("id"), "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("id"), "c_nationkey")
    ids = (
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    # The broadcast the docstring promises needs an explicit measured
    # gate (r14): the assignment is join-derived, so Catalyst has no
    # usable size estimate and planned BOTH modularity attach joins as
    # SortMergeJoin. One row per vertex key ≤ |customer|+|supplier|
    # keys, so the customer-table gate bounds it; under the gate the
    # edge relation is never re-shuffled for the attach (2 SMJ → BHJ,
    # 0.777 → 0.656 s best-of-5 noop at sf0.1, rows identical).
    from puregraphdb_spark.sources.registry import broadcast_if_small

    assignment = broadcast_if_small(
        ids.join(supp, "id", "left")
        .join(cust, "id", "left")
        .select(
            "id",
            F.coalesce("s_nationkey", "c_nationkey").alias("community"),
        ),
        spark, sf_dir, "customer",
    )
    return modularity(edges, assignment)


def graph_louvain(spark, sf_dir: str) -> DataFrame:
    """Louvain community sizes of the order graph (rows-only: the
    hash-parity sweep schedule makes assignments engine-specific; the
    modularity MEASURE is oracled via q99, and the algorithm's
    correctness is property-tested on ground-truth clique graphs)."""
    from puregraphdb_spark.operators.graph import order_graph_edges
    from puregraphdb_spark.sources.registry import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    assign = louvain(order_graph_edges(o, l), max_levels=2, max_sweeps=6)
    return (
        assign.groupBy("community")
        .agg(F.count("*").alias("n_members"))
        .orderBy("community")
    )


def graph_louvain_weighted(spark, sf_dir: str) -> DataFrame:
    """Weighted Louvain over the order graph with edge weight = order
    multiplicity (the same weighting `graph_wpagerank` iterates on) —
    heavy repeat-business customer↔supplier ties pull harder than
    one-off orders. Rows-only like `graph_louvain`; the weighted
    machinery itself is pinned by the uniform-weight ≡ unweighted
    equivalence test and the weighted resolution property test."""
    from puregraphdb_spark.operators.graph import order_graph_edges
    from puregraphdb_spark.sources.registry import load_table

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    weighted = (
        order_graph_edges(o, l)
        .groupBy("src", "dst")
        .agg(F.count("*").cast("double").alias("w"))
    )
    assign = louvain(weighted, weight_col="w", max_levels=2, max_sweeps=6)
    return (
        assign.groupBy("community")
        .agg(F.count("*").alias("n_members"))
        .orderBy("community")
    )
