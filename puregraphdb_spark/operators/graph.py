"""Graph module: property graphs as DataFrame pairs + GraphX-family
analytics (SURVEY.md §2 q23–q25, §3 EP3, §7.3).

The reference system is a graph database whose analytical side fits the
GraphX model (BASELINE.json: "GraphX for analytics"); `graphframes` is
not available in this environment, so this is an independent
DataFrame-native implementation of the same algorithm family:

- ``Graph``            — immutable (vertices, edges) pair, triplet view
- ``degrees``          — in/out/total degree
- ``aggregate_messages`` — the graph-parallel primitive (GraphX
                          mapReduceTriplets, OSDI'14 §4)
- ``pregel``           — the superstep loop: one checkpoint job per
                          superstep, convergence observed on that job
- ``connected_components``, ``pagerank``, ``label_propagation``,
  ``hits``, ``shortest_paths``, ``k_core`` — expressed over ``pregel``
- ``triangle_count``   — canonical-edge join counting

Scale posture: ``pregel`` materializes the algorithm's edge relation
once per call, hash-partitioned on src, and each superstep's new vertex
state once, keyed on id. The checkpoint keeps that partitioning, so a
superstep's joins between edges and state are co-partitioned: the
message aggregation is its only shuffle. The checkpoint also cuts
lineage, so no plan grows past one superstep (SURVEY §3 EP3).
"""

from __future__ import annotations

import functools
import re
import warnings
from collections.abc import Callable

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from puregraphdb_spark.sources.registry import load_table

_FLAT_CHECKPOINT_WARNED = False

#: Random-walk steps between lineage cuts. A walk step adds one join
#: to the state's plan; 16 steps keep the analyzed plan under ~60k
#: characters for the uniform and the biased node2vec sampler alike.
_WALK_STEPS_PER_CUT = 16

#: One motif term: optional ``!`` negation,
#: ``(name?[:idpred]?)-[name?[:pred]?]->(name?[:idpred]?)`` with
#: optional edge-attribute (``[e:w>=2]`` / ``[:w>=2]``) and vertex-id
#: (``(b:id%50=0)``) predicates, or a variable-length hop spec
#: ``(a)-[*..k]->(b)`` / ``(a)-[*m..k]->(b)``.
_MOTIF_TERM = re.compile(
    r"^(?P<neg>!)?\s*"
    r"\((?P<src>[A-Za-z_]\w*)?(?:\s*:\s*(?P<spred>[^)]+))?\)\s*-\s*"
    r"\[(?:\*(?P<minh>\d+)?\.\.(?P<maxh>\d+)"
    r"|(?P<edge>[A-Za-z_]\w*)?(?:\s*:\s*(?P<pred>[^\]]+))?)\]"
    r"\s*->\s*"
    r"\((?P<dst>[A-Za-z_]\w*)?(?:\s*:\s*(?P<dpred>[^)]+))?\)$"
)

#: Term predicate: ``col [% m] op literal`` with a numeric or
#: single-quoted string literal (the optional modulus covers the
#: dominant sampling idiom, ``id % 50 = 0``).
_EDGE_PRED = re.compile(
    r"^\s*(?P<col>[A-Za-z_]\w*)\s*(?:%\s*(?P<mod>\d+)\s*)?"
    r"(?P<op>>=|<=|!=|<>|==|=|>|<)\s*"
    r"(?P<val>-?\d+(?:\.\d+)?|'[^']*')\s*$"
)


def _pred_column(pred: str, cols: dict[str, Column],
                 what: str = "edge") -> Column:
    """Compile a term predicate string into a Column over ``cols``
    (allowed name → actual column) — applied BEFORE the join pipeline,
    so it prunes the underlying scan exactly like a hand-written
    pushed filter."""
    m = _EDGE_PRED.match(pred)
    if not m:
        raise ValueError(
            f"bad {what} predicate {pred!r}: expected 'col [% m] op "
            "literal' (ops > >= < <= = != ; literal numeric or 'string')"
        )
    col, op, val = m["col"], m["op"], m["val"]
    if col not in cols:
        raise ValueError(
            f"{what} predicate references unknown column {col!r} "
            f"(allowed: {sorted(cols)})"
        )
    if val.startswith("'"):
        lit = F.lit(val[1:-1])
    else:
        lit = F.lit(float(val) if "." in val else int(val))
    c = cols[col]
    if m["mod"]:
        if val.startswith("'"):
            raise ValueError(f"bad {what} predicate {pred!r}: "
                             "modulus needs a numeric literal")
        c = c % F.lit(int(m["mod"]))
    return {
        ">": c > lit, ">=": c >= lit, "<": c < lit, "<=": c <= lit,
        "=": c == lit, "==": c == lit, "!=": c != lit, "<>": c != lit,
    }[op]


@functools.cache
def _checkpoint_classes(jvm):
    """``scala.Option`` and ``classic.Dataset`` in the JVM behind ``jvm``,
    resolved once per JVM view. py4j probes every dotted prefix of a name
    as a class, so a resolution costs 0.6 ms (``scala.Option``) to 1.3 ms
    (``classic.Dataset``) against 0.09 ms for a call on a held class, and
    ``flat_checkpoint`` runs once per superstep."""
    return jvm.scala.Option, jvm.org.apache.spark.sql.classic.Dataset


def flat_checkpoint(df: DataFrame) -> DataFrame:
    """Eager localCheckpoint WITHOUT inherited statistics — the lineage
    cut for iterative DataFrame loops.

    ``Dataset.localCheckpoint`` deliberately preserves the child
    plan's Catalyst statistics (originStats), so a checkpoint chained
    through joins inherits MULTIPLIED sizeInBytes estimates: measured
    on the ktruss peeling loop, the round-0 checkpoint of a 7k-row
    edge set already claimed 26 GiB, and each subsequent round's
    estimate compounds multiplicatively — the BigInt's DIGIT COUNT
    doubles per round, and by round ~17 every stats computation runs
    Toom-Cook multiplications on million-digit integers (jstack: all
    CPU in java.math.BigInteger.multiply), exploding per-round
    planning time 0.6 s → 30–190 s on flat data, flat lineage, flat
    plans. Re-wrapping the SAME checkpointed relation without origin
    statistics resets the estimate to the size-unknown default, so the
    loop stays flat (27 rounds in 19 s where the stock checkpoint
    chain needed 20+ minutes). The relation keeps its output
    partitioning: a state hash-partitioned on its key joins a relation
    partitioned the same way without a shuffle. Falls back to the
    plain checkpoint if the internal constructor is unavailable.
    """
    ck = df.localCheckpoint(eager=True)
    try:
        spark = ck.sparkSession
        jss = spark._jsparkSession
        rel = ck._jdf.queryExecution().analyzed()  # the LogicalRDD
        option, dataset = _checkpoint_classes(spark._jvm)
        none = option.empty()
        flat = rel.copy(rel.output(), rel.rdd(), rel.outputPartitioning(),
                        rel.outputOrdering(), rel.isStreaming(),
                        rel.stream(), jss, none, none)
        return DataFrame(dataset.ofRows(jss, flat), spark)
    except Exception:  # pragma: no cover - version-dependent internal
        # ADVICE r7: the silent fallback reintroduces the BigInt-stats
        # planning blowup this function exists to fix (0.6 s → 190 s
        # per iterative round, measured) — warn ONCE so a Spark
        # upgrade that drops the internal constructor is diagnosable.
        global _FLAT_CHECKPOINT_WARNED
        if not _FLAT_CHECKPOINT_WARNED:
            _FLAT_CHECKPOINT_WARNED = True
            warnings.warn(
                "flat_checkpoint: LogicalRDD.copy unavailable; "
                "falling back to plain localCheckpoint. Iterative loops "
                "may hit the checkpoint-inherited BigInt-stats planning "
                "blowup (~30x/round slowdown) on this Spark version.",
                RuntimeWarning,
                stacklevel=2,
            )
        return ck


def _release(checkpoint: DataFrame) -> None:
    """Drop the blocks of a ``flat_checkpoint`` result. Only for a
    checkpoint nothing will read again.

    Calls ``SparkContext.unpersistRDD`` directly: ``RDD.unpersist`` makes
    the same call, after logging a WARN per locally checkpointed RDD that
    its lineage is gone, which is the point of releasing it."""
    rdd = checkpoint._jdf.queryExecution().analyzed().rdd()
    rdd.context().unpersistRDD(rdd.id(), True)


def _local_ktruss_finish(edges: list[tuple], need: int) -> list[tuple]:
    """Exact queue-based k-truss peeling of a MEASURED-SMALL edge list
    (the ``ktruss`` local-finish branch — callers gate on edge count).
    Classic algorithm: initialize per-edge support from common
    neighbors, queue edges under ``need``, and peel with incremental
    support decrements — O(Σ support) total work, no per-round cost.
    Returns the surviving canonical edges with their final
    within-subgraph support.
    """
    from collections import defaultdict, deque

    adj: dict = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    sup = {(u, v): len(adj[u] & adj[v]) for u, v in edges}
    alive = set(sup)
    q = deque(e for e, s in sup.items() if s < need)
    while q:
        u, v = q.popleft()
        if (u, v) not in alive:
            continue
        alive.discard((u, v))
        common = adj[u] & adj[v]
        adj[u].discard(v)
        adj[v].discard(u)
        for w in common:
            for a, b in ((u, w), (v, w)):
                key = (a, b) if a < b else (b, a)
                if key in alive:
                    sup[key] -= 1
                    if sup[key] < need:
                        q.append(key)
    return [(u, v, sup[(u, v)]) for u, v in sorted(alive)]


class Graph:
    """Immutable property graph: ``vertices(id, …)``, ``edges(src, dst, …)``.

    Graphs are values (the reference's pure/functional store semantics):
    every operation returns new DataFrames / new Graphs.
    """

    def __init__(self, vertices: DataFrame, edges: DataFrame):
        if "id" not in vertices.columns:
            raise ValueError("vertices must have an 'id' column")
        if "src" not in edges.columns or "dst" not in edges.columns:
            raise ValueError("edges must have 'src' and 'dst' columns")
        self.vertices = vertices
        self.edges = edges

    # -- views ------------------------------------------------------------

    def triplets(self) -> DataFrame:
        """The triplet relation edges ⋈ vertices(src) ⋈ vertices(dst).

        Central derived view of graph-parallel computation. Vertex
        attribute columns are prefixed src_/dst_.
        """
        src_v = self.vertices.select(
            [F.col(c).alias("src" if c == "id" else f"src_{c}") for c in self.vertices.columns]
        )
        dst_v = self.vertices.select(
            [F.col(c).alias("dst" if c == "id" else f"dst_{c}") for c in self.vertices.columns]
        )
        return self.edges.join(src_v, "src").join(dst_v, "dst")

    def reach(self, max_hops: int, min_hops: int = 1) -> DataFrame:
        """Bounded reachability relation: distinct (src, dst) pairs
        whose shortest directed path uses ``min_hops..max_hops`` edges
        (dedup'd — one row per pair, NOT one per path, which is what
        keeps this computable at scale; Cypher-style per-path
        enumeration explodes combinatorially on dense graphs).
        Paths use AT LEAST ONE edge, so ``src = dst`` pairs appear
        exactly when a cycle through the vertex fits the hop band —
        there is no dist-0 "path" (randomized-reference-tested).

        Built by ``max_hops − 1`` frontier joins with a dedup against
        the accumulated set each round, so the intermediate size is
        bounded by the true closure, never the path count. The
        frontier at hop h is exactly the dist-h pair set, so the
        result is simply the union of frontiers min_hops..max_hops —
        no subtraction pass exists (see the in-loop comment).
        Lazy (no checkpoint) for the small
        hop counts patterns use — the filter a caller writes over
        ``find()`` output pushes down through all the joins into the
        first edge scan.
        """
        if max_hops < 1:
            raise ValueError("max_hops must be >= 1")
        if not 1 <= min_hops <= max_hops:
            raise ValueError("need 1 <= min_hops <= max_hops")
        e = self.edges.select("src", "dst").distinct()
        reached = e
        frontier = e
        # frontier_h is EXACTLY the dist-h pairs (step minus everything
        # already reached), so the [m, k] band is just the union of
        # frontiers m..k — no final subtraction pass, and no wasted
        # anti(e, e) union arm from an anti-over-union rewrite.
        parts: list[DataFrame] = [e] if min_hops == 1 else []
        for h in range(2, max_hops + 1):
            step = (
                frontier.select(F.col("src"), F.col("dst").alias("__mid"))
                .join(
                    e.select(F.col("src").alias("__mid"), "dst"), "__mid"
                )
                .select("src", "dst")
                .distinct()
            )
            if min_hops == 1 and h == max_hops:
                # Last hop of a min_hops=1 band (r14): nothing joins
                # off this frontier, and the band is a union of every
                # hop anyway — so the dist-exactness anti-join here is
                # pure dedup, and ONE union-distinct over the raw step
                # replaces it (same pair set; MEASURED at sf0.1, q86:
                # 0.89 → 0.66 s best-of-5 noop interleaved; plan diff:
                # SortMergeJoin LeftAnti → one HashAggregate). The
                # anti-join stays load-bearing everywhere else: for
                # min_hops > 1 it IS the shortest-path semantics, and
                # on intermediate hops it keeps the next join's input
                # minimal.
                parts.append(step)
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                return out.distinct()
            frontier = step.join(reached, ["src", "dst"], "left_anti")
            reached = reached.unionByName(frontier)
            if h >= min_hops:
                parts.append(frontier)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -- motif / pattern matching ------------------------------------------

    def _edges_derivation_is_heavy(self) -> bool:
        """True when the edge relation is DERIVED by shuffle-inducing
        work (aggregate/join/window/dedup in its analyzed plan) — the
        signal ``find()`` uses to decide common-subplan sharing. A
        bare scan/filter/project is cheap to replay and loses more
        from blocked pushdown than it gains from reuse."""
        import re as _re

        plan = self.edges._jdf.queryExecution().analyzed().toString()
        return bool(_re.search(
            r"\b(Aggregate|Join|Window|Deduplicate|Distinct)\b", plan))

    def find(self, pattern: str,
             attach_vertex_attrs: bool = True,
             share_edges: bool | None = None) -> DataFrame:
        """Declarative motif matching: ``find("(a)-[e]->(b); (b)-[]->(c)")``
        returns one row per binding of the pattern in the graph.

        DSL (the GraphFrames-style public pattern syntax):

        - terms are ``;``-separated directed edges ``(src)-[edge]->(dst)``;
        - a vertex/edge NAME binds across terms (``(b)`` above is the
          same vertex in both terms); ``()`` / ``[]`` are anonymous and
          never bind;
        - a ``!`` prefix negates a term: no edge may exist between the
          two endpoints, which must be bound by positive terms. Negated
          terms cannot name their edge.
        - ``(a)-[*..k]->(b)`` is a variable-length term: a directed
          path of 1..k edges must exist (dedup'd reachability via
          ``reach(k)``, one binding per PAIR, not per path). Works
          negated too: ``!(a)-[*..k]->(b)`` = no path within k hops.
          Variable-length terms cannot name their edge.
        - ``(a)-[*m..k]->(b)`` adds a MIN hop count: the shortest
          directed path from a to b must use between m and k edges
          (``reach(k, m)`` = reach(k) minus reach(m−1) — pairs also
          connected by a shorter path are excluded). Negated form =
          no path of shortest length in [m, k].
        - ``(a)-[e:w>=2]->(b)`` / ``(a)-[:w>=2]->(b)`` attach an
          edge-attribute predicate (``col [% m] op literal``; ops
          ``> >= < <= = !=``, numeric or ``'string'`` literal) that
          filters the edge relation BEFORE the join pipeline — it
          prunes the edge scan like any pushed filter. Works on
          negated terms (= no matching edge may exist); not on
          variable-length terms.
        - ``(b:id%50=0)`` attaches a vertex-ID predicate to a binding.
          It is applied to EVERY term relation where the name appears
          (both endpoints of plain terms AND the endpoints of
          variable-length reach relations) — which is the load-bearing
          difference from filtering the ``find()`` output: a filter
          written over the output provably reaches only one join
          branch when the binding spans several (Catalyst does not
          propagate it through join equalities into union-of-frontier
          subtrees), while the in-term form prunes each occurrence at
          its scan. Use it for source sampling in large motifs. Only
          ``id`` may be referenced (the predicate runs against raw
          edge endpoints before any vertex join); vertex-ATTRIBUTE
          predicates belong on the output, where they push into the
          vertex-attach join. Anonymous endpoints may carry a
          predicate too (``(:id%2=0)``) — it applies to that
          occurrence only.

        Every named vertex and edge becomes a STRUCT column (vertex
        attrs / edge attrs) in first-appearance order, so callers write
        ``result.filter(F.col("a.id") % 10 == 0)`` — such predicates
        push down into the underlying scans like any other filter.

        Plan shape (the 100-TB posture): motif matching lowers to a
        multi-way EQUI-join pipeline — each positive term is the edge
        table with endpoints renamed to binding slots, folded
        left-to-right joining on shared slots; negated terms are
        left-anti joins; named vertices attach by an id equi-join.
        A connected pattern therefore never plans a cartesian product,
        and Catalyst remains free to reorder/broadcast
        (tests/test_graph_extended.py asserts the no-cartesian plan).
        Disconnected patterns are rejected rather than silently
        cross-joined.

        ``attach_vertex_attrs=False`` skips the per-named-vertex id
        join: vertex structs then carry ONLY the id. Use when the
        pattern needs bindings, not attributes, and the edge set is
        known closed over the vertex set (e.g. endpoint-derived
        vertices) — it removes one join per named vertex, but also the
        membership filtering that join performs.

        ``share_edges`` — automatic common-subplan sharing (SURVEY
        §7.7 item 2 / VERDICT r6 item 6). A multi-term pattern plans
        one INSTANCE of the edge relation per term; when that relation
        is derived by real work each instance replays the derivation.
        ``None`` (auto) lazily checkpoints the edge relation ONCE and
        feeds every plain/negated term from the materialization when
        ≥ 2 such terms exist AND the derivation is heavy
        (``_edges_derivation_is_heavy``: aggregate/join/window/dedup
        in its plan). MEASURED both ways at sf0.1 over the weighted
        co-occurrence derivation (two-term chain): shared 0.43 s vs
        unshared 0.80 s steady-state, 1.61 s vs 2.51 s first-action;
        predicates do NOT flip the verdict on plain terms — measure
        predicate (w>1) 0.26 s shared vs 0.68 s pushdown, id
        predicate (id%10=0) 0.34 s vs 0.75 s — because the per-term
        pushdown prunes below the derivation less than one shared
        materialization saves. The oracled q65 wedge drops 1.03 s →
        0.39 s under the auto rule. In-term pushdown keeps its round-6
        win where it lives: variable-length terms derive their reach
        relations outside the sharing (q91 unchanged at ~1.3 s, its
        vertex predicate still prunes the frontier scans). Raw-scan
        edge relations never share — replaying a parquet scan is
        cheaper than materializing it, and scan pushdown would be
        lost. ``True``/``False`` override the heuristic. Numbers in
        PLANS.md.
        """
        terms = [t.strip() for t in pattern.split(";") if t.strip()]
        if not terms:
            raise ValueError("empty motif pattern")
        parsed = []
        vpreds: dict[str, list[str]] = {}  # binding name → id-predicates
        for t in terms:
            m = _MOTIF_TERM.match(t)
            if not m:
                raise ValueError(
                    f"bad motif term {t!r}: expected '(a)-[e]->(b)' "
                    "(optionally '!'-negated)"
                )
            parsed.append(
                (bool(m["neg"]), m["src"], m["edge"], m["dst"],
                 int(m["minh"]) if m["minh"] else None,
                 int(m["maxh"]) if m["maxh"] else None,
                 m["pred"], m["spred"], m["dpred"])
            )
            for nm, p in ((m["src"], m["spred"]), (m["dst"], m["dpred"])):
                if nm and p:
                    vpreds.setdefault(nm, []).append(p)
        for plist in vpreds.values():
            for p in plist:  # compile-check named vertex preds up front
                _pred_column(p, {"id": F.lit(0)}, "vertex")

        edge_names = [e for _, _, e, _, _, _, _, _, _ in parsed if e]
        if len(edge_names) != len(set(edge_names)):
            raise ValueError("edge names must be unique across terms")
        vertex_names = {
            n for _, s, _, d, _, _, _, _, _ in parsed for n in (s, d) if n
        }
        if vertex_names & set(edge_names):
            raise ValueError("a name cannot be both a vertex and an edge")

        def slot(name: str) -> str:
            return f"__id_{name}"

        out_order: list[str] = []  # struct columns, first-appearance order

        # common-subplan sharing decision (see docstring)
        plain_terms = sum(
            1 for _neg, _s, _e, _d, _minh, maxh, _p, _sp, _dp in parsed
            if maxh is None
        )
        if share_edges is None:
            share_edges = (
                plain_terms >= 2 and self._edges_derivation_is_heavy()
            )
        edges_rel = (
            self.edges.localCheckpoint(eager=False)
            if share_edges else self.edges
        )
        if share_edges:
            # The checkpoint truncates the logical plan to a LogicalRDD
            # — which silently DROPS any join-strategy hint the caller
            # attached to the edge relation (found r14: q65's gated
            # broadcast hint died here, leaving 2 stats-less
            # SortMergeJoins the caller believed were broadcasts).
            # Re-apply the caller's hints onto the shared
            # materialization so the strategy preference survives.
            # Walks the JVM analyzed-plan NODES (ADVICE r14: the old
            # treeString regex only ever matched the root line, so
            # stacked hints were silently dropped, and the string
            # format is Spark-version-fragile); applied in reverse so
            # the original outermost hint stays outermost.
            node = self.edges._jdf.queryExecution().analyzed()
            strategies = []
            while node.getClass().getSimpleName() == "ResolvedHint":
                strat = node.hints().strategy()
                if strat.isDefined():
                    strategies.append(strat.get().toString())
                node = node.child()
            for s in reversed(strategies):
                edges_rel = edges_rel.hint(s)

        ecols = {c: F.col(c) for c in self.edges.columns}
        result: DataFrame | None = None
        anon = 0
        for neg, s, e, d, minh, maxh, pred, spred, dpred in parsed:
            if neg:
                if e:
                    raise ValueError("negated terms cannot name their edge")
                if not (s and d):
                    raise ValueError(
                        "negated terms need named endpoints bound by a "
                        "positive term"
                    )
                if pred is not None:  # compile now so bad preds fail fast
                    _pred_column(pred, ecols)
                continue
            if maxh is not None and maxh < 1:
                raise ValueError("variable-length terms need ..k with k >= 1")
            if maxh is not None and minh is not None and minh > maxh:
                raise ValueError(
                    "variable-length terms need m <= k in [*m..k]"
                )
            # named bindings: ALL of the name's predicates, at every
            # occurrence; anonymous endpoints: this occurrence's only
            s_preds = vpreds.get(s, []) if s else ([spred] if spred else [])
            d_preds = vpreds.get(d, []) if d else ([dpred] if dpred else [])
            if s is None:
                anon += 1
                s = f"__anon{anon}"
            elif s not in out_order:
                out_order.append(s)
            if e is not None and e not in out_order:
                out_order.append(e)
            if d is None:
                anon += 1
                d = f"__anon{anon}"
            elif d not in out_order:
                out_order.append(d)

            edf = edges_rel if maxh is None else self.reach(maxh, minh or 1)
            if pred is not None:
                edf = edf.filter(_pred_column(pred, ecols))
            for p in s_preds:
                edf = edf.filter(
                    _pred_column(p, {"id": F.col("src")}, "vertex"))
            for p in d_preds:
                edf = edf.filter(
                    _pred_column(p, {"id": F.col("dst")}, "vertex"))
            if s == d:  # self-loop / cycle term binds one slot
                edf = edf.filter(F.col("src") == F.col("dst"))
                sel = [F.col("src").alias(slot(s))]
            else:
                sel = [
                    F.col("src").alias(slot(s)),
                    F.col("dst").alias(slot(d)),
                ]
            if e is not None:
                sel.append(F.struct(*self.edges.columns).alias(e))
            tdf = edf.select(*sel)

            if result is None:
                result = tdf
            else:
                shared = [
                    c for c in tdf.columns
                    if c in result.columns and c.startswith("__id_")
                ]
                if not shared:
                    raise ValueError(
                        "disconnected motif pattern (a term shares no "
                        "vertex with the preceding ones) — split the "
                        "pattern and crossJoin explicitly if intended"
                    )
                result = result.join(tdf, on=shared)
        if result is None:
            raise ValueError("pattern has no positive terms")

        for neg, s, e, d, minh, maxh, pred, _, _ in parsed:
            if not neg:
                continue
            for n in (s, d):
                if slot(n) not in result.columns:
                    raise ValueError(
                        f"negated-term vertex '{n}' is not bound by any "
                        "positive term"
                    )
            rel = edges_rel if maxh is None else self.reach(maxh, minh or 1)
            if pred is not None:
                rel = rel.filter(_pred_column(pred, ecols))
            # the bindings already satisfy their id-predicates; applying
            # them to the negation relation is pure pruning
            for p in vpreds.get(s, []):
                rel = rel.filter(
                    _pred_column(p, {"id": F.col("src")}, "vertex"))
            for p in vpreds.get(d, []):
                rel = rel.filter(
                    _pred_column(p, {"id": F.col("dst")}, "vertex"))
            absent = rel.select(
                F.col("src").alias(slot(s)), F.col("dst").alias(slot(d))
            )
            result = result.join(absent, on=[slot(s), slot(d)],
                                 how="left_anti")

        # Named vertices: attach attribute structs (the id equi-join also
        # enforces vertex membership for them). Anonymous slots stay as
        # raw edge endpoints — property-graph integrity (edges reference
        # existing vertices) is assumed, as in the triplet view.
        for vname in [n for n in out_order if n in vertex_names]:
            if attach_vertex_attrs:
                vdf = self.vertices.select(
                    F.struct(*self.vertices.columns).alias(vname),
                    F.col("id").alias(slot(vname)),
                )
                result = result.join(vdf, on=slot(vname))
            else:
                result = result.withColumn(
                    vname, F.struct(F.col(slot(vname)).alias("id"))
                )

        return result.select(*out_order)

    def materialized(self) -> "Graph":
        """Graph whose vertex and edge relations are LAZILY
        checkpointed: the first action materializes each relation
        once, and every later reference — including the several
        per-term instances a multi-term ``find()`` plans, or the
        repeated edge scans of an iterative algorithm — reads the
        materialization instead of replaying the derivation.

        Use when the edge relation is DERIVED by real work (a weighted
        aggregate, a projection join): q91's three-term motif measured
        6.4 s → 4.5 s first-action and 2.4 s → 1.2 s steady-state at
        sf0.1 with the weighted co-occurrence derivation shared
        (SURVEY §7.7 item 1). Trade-offs: term predicates no longer
        push BELOW the boundary (they filter the materialized relation
        instead — cheap when the derivation dominated), and the
        materialization occupies executor storage for the RDD cache
        lifetime. Raw-table graphs gain nothing — parquet scans are
        already cheap and pushdown-friendly; don't wrap those.
        """
        return Graph(
            self.vertices.localCheckpoint(eager=False),
            self.edges.localCheckpoint(eager=False),
        )

    # -- degree family -----------------------------------------------------

    def out_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("src").alias("id")).agg(
            F.count("*").alias("out_degree")
        )

    def in_degrees(self) -> DataFrame:
        return self.edges.groupBy(F.col("dst").alias("id")).agg(
            F.count("*").alias("in_degree")
        )

    def degrees(self) -> DataFrame:
        """Total/in/out degree per vertex — union + re-aggregate, a single
        shuffle pattern that avoids an outer join of two aggregates."""
        out_part = self.edges.select(
            F.col("src").alias("id"),
            F.lit(1).cast("long").alias("outd"),
            F.lit(0).cast("long").alias("ind"),
        )
        in_part = self.edges.select(
            F.col("dst").alias("id"),
            F.lit(0).cast("long").alias("outd"),
            F.lit(1).cast("long").alias("ind"),
        )
        return (
            out_part.unionByName(in_part)
            .groupBy("id")
            .agg(
                F.sum("outd").alias("out_degree"),
                F.sum("ind").alias("in_degree"),
            )
            .withColumn("degree", F.col("out_degree") + F.col("in_degree"))
        )

    # -- graph-parallel primitive -------------------------------------------

    def aggregate_messages(
        self,
        agg: Column,
        to_src: Column | None = None,
        to_dst: Column | None = None,
    ) -> DataFrame:
        """GraphX aggregateMessages / mapReduceTriplets on DataFrames.

        ``to_src`` / ``to_dst`` are message expressions over the triplet
        view's columns; ``agg`` aggregates column "msg" per vertex.
        Returns (id, agg). One shuffle (the groupBy) beyond the triplet
        joins; partial aggregation applies map-side.
        """
        t = self.triplets()
        parts = []
        if to_dst is not None:
            parts.append(t.select(F.col("dst").alias("id"), to_dst.alias("msg")))
        if to_src is not None:
            parts.append(t.select(F.col("src").alias("id"), to_src.alias("msg")))
        if not parts:
            raise ValueError("provide to_src and/or to_dst")
        msgs = parts[0]
        for p in parts[1:]:
            msgs = msgs.unionByName(p)
        return msgs.groupBy("id").agg(agg.alias("agg"))

    # -- pregel -------------------------------------------------------------

    def pregel(
        self,
        edges: DataFrame,
        initial: Callable[[DataFrame], DataFrame],
        step: Callable[[DataFrame, DataFrame], DataFrame],
        changed: Column | None = None,
        max_iter: int = 20,
    ) -> DataFrame:
        """The superstep loop every iterative algorithm here runs on.

        - ``edges`` — the relation messages travel along, src → dst;
          materialized once per call, hash-partitioned on src.
        - ``initial(edges) -> state`` — the vertex state keyed on
          ``id`` (several rows per id are allowed), built from the
          graph's vertices or from the materialized edges.
        - ``step(edges, state) -> new state`` — one superstep. It may
          add helper columns for ``changed`` to read; the loop keeps
          only the state's own columns.
        - ``changed`` — a per-row predicate over the step's output. The
          loop stops after the first superstep in which no row
          satisfies it; ``None`` runs all ``max_iter`` supersteps.

        Each superstep is ONE job: an eager ``flat_checkpoint``
        materializes the new state, and the changed-row count is an
        Observation on that same job. Every plan is therefore one
        superstep deep, and the checkpoint keeps the state partitioned
        on id, so the next superstep joins edges and state without
        shuffling either. The loop releases each state once its
        successor is materialized, and the edges at the end: only the
        returned state, itself a checkpoint, survives the call.

        The graph's edges usually feed both ``edges`` and, through the
        vertices, the initial state. Unless they are cached already,
        the loop caches them while it runs, so however they are
        derived, the derivation runs once per call.
        """
        cached = self.edges.storageLevel == StorageLevel.NONE
        if cached:
            self.edges.persist()
        held: list[DataFrame] = []  # checkpoints released on the way out
        try:
            edges = flat_checkpoint(edges.repartition("src"))
            held.append(edges)
            state = initial(edges)
            for _ in range(max_iter):
                new = step(edges, state)
                if changed is not None:
                    obs = Observation()
                    new = new.observe(obs, F.count_if(changed).alias("n"))
                new = flat_checkpoint(new.select(*state.columns))
                if len(held) > 1:
                    _release(held.pop())
                held.append(new)
                state = new
                if changed is not None and obs.get["n"] == 0:
                    break
            if len(held) > 1:
                held.pop()  # the result survives the call
            else:  # no superstep ran: detach from the edges
                state = flat_checkpoint(state)
        finally:
            for ck in held:
                _release(ck)
            if cached:
                self.edges.unpersist(blocking=True)
        return state

    # -- algorithms ----------------------------------------------------------

    def _undirected(self) -> DataFrame:
        """Both directions of every edge, as (src, dst)."""
        return self.edges.select("src", "dst").unionByName(
            self.edges.select(F.col("dst").alias("src"),
                              F.col("src").alias("dst"))
        )

    def connected_components(self, max_iter: int = 50) -> DataFrame:
        """Min-vertex-id label propagation to fixpoint → (id, component).

        Each superstep: propagate the smaller component id across every
        edge in both directions, take the min per vertex. Converges in
        O(diameter) supersteps. (The large-star/small-star algorithm
        converges in fewer rounds at extreme diameters; plain propagation
        is the GraphX baseline and is shuffle-per-round identical here.)
        """
        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            msgs = (
                e.join(state, e.src == state.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("component").alias("nbr_min"))
            )
            return state.join(msgs, "id", "left").select(
                "id",
                F.least("component", F.coalesce("nbr_min", "component"))
                .alias("component"),
                F.col("component").alias("__old"),
            )

        return self.pregel(
            self._undirected(),
            lambda e: self.vertices.select(
                "id", F.col("id").alias("component")),
            step,
            changed=F.col("component") != F.col("__old"),
            max_iter=max_iter,
        )

    def _rank_walk(self, edges: DataFrame, contrib: Column,
                   initial: Column, teleport: Column,
                   reset_prob: float, max_iter: int) -> DataFrame:
        """The PageRank power iteration → (id, pagerank): a superstep
        sums ``contrib`` over ``edges`` ⋈ state into each dst, and
        rank = teleport + (1-reset) · that sum (0 without in-edges)."""
        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            in_sum = (
                e.join(state, e.src == state.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum(contrib).alias("in_sum"))
            )
            return state.select("id").join(in_sum, "id", "left").select(
                "id",
                (teleport + F.lit(1.0 - reset_prob)
                 * F.coalesce("in_sum", F.lit(0.0))).alias("pagerank"),
            )

        return self.pregel(
            edges,
            lambda e: self.vertices.select("id", initial.alias("pagerank")),
            step, max_iter=max_iter,
        )

    def pagerank(self, reset_prob: float = 0.15, max_iter: int = 10,
                 weight_col: str | None = None) -> DataFrame:
        """Classic iterative PageRank → (id, pagerank).

        rank_{i+1} = reset + (1-reset) * Σ_in rank_i/outdeg. Dangling
        vertices contribute nothing (GraphX semantics). Fixed iteration
        count; each superstep is one join + one groupBy shuffle.

        ``weight_col``: edge-weighted variant — each neighbor receives
        rank · w/Σ_out w instead of rank/outdeg (weights must be
        positive). Uniform weights (all 1.0) reproduce the unweighted
        result bit-for-bit: rank·1.0/Σ1.0 is the identical double
        division (property-tested). Same shuffle count — the weight-sum
        aggregation replaces the degree aggregation one-for-one.
        """
        if weight_col is None:
            pre = self.out_degrees()
            contrib = F.col("pagerank") / F.col("out_degree")
            keep = ["src", "dst", "out_degree"]
        else:
            pre = self.edges.groupBy(F.col("src").alias("id")).agg(
                F.sum(weight_col).alias("w_out")
            )
            contrib = (
                F.col("pagerank") * F.col(weight_col) / F.col("w_out")
            )
            keep = ["src", "dst", weight_col, "w_out"]
        edges = self.edges.join(pre, self.edges.src == pre.id).select(*keep)
        return self._rank_walk(edges, contrib, F.lit(1.0),
                               F.lit(reset_prob), reset_prob, max_iter)

    def hits(self, max_iter: int = 10) -> DataFrame:
        """HITS (Kleinberg hubs & authorities) → (id, hub, authority).

        Per iteration: authority = Σ over in-edges of neighbor hub,
        hub = Σ over out-edges of the NEW neighbor authority, each
        L2-normalized (the classic power-iteration on AᵀA / AAᵀ, so
        scores converge to the principal singular vectors).

        Scale: two join+sum shuffles per iteration over the edge
        relation — the exact pagerank superstep shape, directed both
        ways; each normalizer is a 1-row aggregate broadcast back
        (parameter traffic, not a data collect). Zero-norm sides
        (graphs with no edges in one direction) normalize to 0 rather
        than dividing by zero.
        """
        def _l2_normalized(scores: DataFrame, col: str) -> DataFrame:
            norm = scores.agg(
                F.sqrt(F.sum(F.col(col) * F.col(col))).alias("__norm"))
            return (
                scores.crossJoin(F.broadcast(norm))
                .select(
                    "id",
                    F.when(F.col("__norm") > 0,
                           F.col(col) / F.col("__norm"))
                    .otherwise(F.lit(0.0)).alias(col),
                )
            )

        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            ids = state.select("id")
            auth_raw = (
                e.join(state, e.src == state.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.sum("hub").alias("authority"))
            )
            auth = _l2_normalized(
                ids.join(auth_raw, "id", "left")
                .select("id", F.coalesce("authority", F.lit(0.0))
                        .alias("authority")),
                "authority",
            )
            hub_raw = (
                e.join(auth, e.dst == auth.id)
                .groupBy(F.col("src").alias("id"))
                .agg(F.sum("authority").alias("hub"))
            )
            hub = _l2_normalized(
                ids.join(hub_raw, "id", "left")
                .select("id", F.coalesce("hub", F.lit(0.0)).alias("hub")),
                "hub",
            )
            return hub.join(auth, "id").select("id", "hub", "authority")

        return self.pregel(
            self.edges.select("src", "dst"),
            lambda e: self.vertices.select(
                "id", F.lit(1.0).alias("hub"), F.lit(1.0).alias("authority")),
            step, max_iter=max_iter,
        )

    def label_propagation(self, max_iter: int = 5) -> DataFrame:
        """Community detection: adopt the most frequent neighbor label
        (ties → smaller label), until no label changes or ``max_iter``
        supersteps. Returns (id, label). The per-vertex pick is one
        aggregate, min over (−count, label): no sort."""
        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            best = (
                e.join(state, e.src == state.id)
                .groupBy(F.col("dst").alias("id"), "label")
                .agg(F.count("*").alias("cnt"))
                .groupBy("id")
                .agg(F.min(F.struct((-F.col("cnt")).alias("c"),
                                    F.col("label").alias("l")))
                     .alias("best"))
            )
            return state.join(best, "id", "left").select(
                "id", F.coalesce("best.l", "label").alias("label"),
                F.col("label").alias("__old"),
            )

        return self.pregel(
            self._undirected(),
            lambda e: self.vertices.select("id", F.col("id").alias("label")),
            step,
            changed=F.col("label") != F.col("__old"),
            max_iter=max_iter,
        )

    def strongly_connected_components(self, max_iter: int = 25,
                                      max_outer: int = 10) -> DataFrame:
        """SCC decomposition → (id, component), component = min vertex
        id of the SCC. Forward-backward min-label with peeling:

        Each outer round, propagate min ids to fixpoint along FORWARD
        edges (F(v) = min id that reaches v) and along REVERSE edges
        (B(v) = min id v reaches). F(v) = B(v) = c ⟺ v and c are
        mutually reachable ⟹ v ∈ SCC(c); those vertices are assigned
        and PEELED, and the next round runs on the shrunken remainder.
        Every SCC whose min id is a global min of its reachability
        neighborhood resolves per round, so rounds ≈ the depth of the
        SCC condensation ordered by min-id domination — small for real
        graphs (the classic FW-BW-Trim observation).

        Scale: each direction is a ``pregel`` call on the remaining
        graph — connected components along directed edges, stopping at
        the first superstep in which no label changes. Peeling shrinks
        the edge set monotonically; the remainder of each outer round is
        a checkpoint whose row count is observed by the same job, and it
        is released once the next round's is materialized. Only the
        assigned components survive the call, and nothing survives one
        that fails.
        """
        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            msgs = (
                e.join(state, e.src == state.id)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min("lbl").alias("nbr_min"))
            )
            return state.join(msgs, "id", "left").select(
                "id",
                F.least("lbl", F.coalesce("nbr_min", "lbl")).alias("lbl"),
                F.col("lbl").alias("__old"),
            )

        def min_reaching(g: Graph, edges: DataFrame) -> DataFrame:
            """(id, lbl): the min id that reaches each vertex of ``g``
            along ``edges``."""
            return g.pregel(
                edges,
                lambda e: g.vertices.select("id", F.col("id").alias("lbl")),
                step,
                changed=F.col("lbl") != F.col("__old"),
                max_iter=max_iter,
            )

        def counted(df: DataFrame) -> tuple[DataFrame, int]:
            obs = Observation()
            ck = flat_checkpoint(df.observe(obs, F.count(F.lit(1)).alias("n")))
            return ck, obs.get["n"]

        held: list[DataFrame] = []  # checkpoints released on the way out
        assigned_parts: list[DataFrame] = []

        def keep(ck: DataFrame) -> DataFrame:
            held.append(ck)
            return ck

        def release(*cks: DataFrame) -> None:
            for ck in cks:
                held.remove(ck)
                _release(ck)

        try:
            verts, left = counted(self.vertices.select("id"))
            keep(verts)
            edges = keep(flat_checkpoint(
                self.edges.select("src", "dst").distinct()))
            for _ in range(max_outer):
                if left == 0:
                    break
                g = Graph(verts, edges)
                fwd = keep(min_reaching(g, edges))
                bwd = keep(min_reaching(g, edges.select(
                    F.col("dst").alias("src"), F.col("src").alias("dst"))))
                assigned_parts.append(flat_checkpoint(
                    fwd.join(bwd.select("id", F.col("lbl").alias("b")), "id")
                    .filter(F.col("lbl") == F.col("b"))
                    .select("id", F.col("lbl").alias("component"))
                ))
                release(fwd, bwd)
                rest, left = counted(verts.join(
                    assigned_parts[-1].select("id"), "id", "left_anti"))
                keep(rest)
                rest_e = keep(flat_checkpoint(
                    edges
                    .join(rest.select(F.col("id").alias("src")), "src",
                          "left_semi")
                    .join(rest.select(F.col("id").alias("dst")), "dst",
                          "left_semi")
                ))
                release(verts, edges)
                verts, edges = rest, rest_e
        except BaseException:
            for ck in assigned_parts:
                _release(ck)
            raise
        finally:
            for ck in held:
                _release(ck)
        if not assigned_parts:  # empty graph
            return self.vertices.select(
                "id", F.col("id").alias("component")).limit(0)
        out = assigned_parts[0]
        for p in assigned_parts[1:]:
            out = out.unionByName(p)
        return out

    def k_core(self, k: int, max_iter: int = 30) -> DataFrame:
        """The k-core: vertices of the maximal subgraph where every
        vertex has undirected degree ≥ k → (id, degree) with the degree
        measured INSIDE the core. Iterative peeling over ``pregel``:
        the state is each surviving vertex's degree. In a superstep
        only the vertices below k send messages — one per edge, to
        every neighbor — and leave; each survivor's degree drops by
        the messages it receives. Stops when no vertex is below k.
        """
        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            leaving = state.filter(F.col("degree") < k)
            lost = (
                e.join(leaving, e.src == leaving.id, "left_semi")
                .groupBy(F.col("dst").alias("id"))
                .agg(F.count("*").alias("lost"))
            )
            return (
                state.filter(F.col("degree") >= k)
                .join(lost, "id", "left")
                .select("id", (F.col("degree")
                               - F.coalesce("lost", F.lit(0)))
                        .cast("long").alias("degree"))
            )

        und = (
            self._undirected()
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        return self.pregel(
            und,
            lambda e: e.groupBy(F.col("src").alias("id")).agg(
                F.count("*").cast("long").alias("degree")),
            step, changed=F.col("degree") < k, max_iter=max_iter,
        )

    def coreness(self, max_iter: int = 200) -> DataFrame:
        """Full core decomposition: every vertex's core NUMBER (the
        largest k for which it survives k-core peeling) → (id,
        coreness). The whole degeneracy profile in one call, where
        ``k_core(k)`` answers only one membership question — the
        analyst's "how cohesive is each vertex's neighborhood"
        ranking, and the standard preprocessing for densest-subgraph
        and community seeding. Isolated vertices report coreness 0.

        H-index propagation (the distributed k-core algorithm of
        Montresor–De Pellegrini–Miorandi, "Distributed k-core
        decomposition", IEEE TPDS 2013): initialize every vertex's
        estimate to its degree, then repeat
        ``est(v) ← min(est(v), H({est(u) : u ∈ N(v)}))`` where H is
        the H-index (the largest h with ≥ h neighbors estimating
        ≥ h), until a fixpoint. The fixpoint IS the coreness.
        Estimates only DECREASE and are bounded below by the true
        coreness, so termination is exact, not heuristic. Level
        peeling would serialize one level per core number (the sf1
        order graph has degeneracy 71: measured 752 s against 58 s
        here); every vertex updates in every superstep instead.

        Runs on ``pregel`` over the symmetrized, self-loop-free edges:
        a superstep sends every estimate along every edge (edges and
        state co-partitioned) and takes the H-index of each vertex's
        received estimates. It stops after the first superstep that
        lowers no estimate. If the superstep at ``max_iter`` still
        lowered one, the estimates are not the coreness yet and the
        call raises ``RuntimeError``.
        """
        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            nb = e.join(state, e.src == state.id).select(
                "dst", F.col("est").alias("__nb"))
            w = Window.partitionBy("dst").orderBy(F.desc("__nb"))
            # H-index: sort neighbor estimates desc; h = max over rows
            # of min(row_number, estimate)
            hidx = (
                nb.withColumn("__rn", F.row_number().over(w))
                .groupBy(F.col("dst").alias("id"))
                .agg(F.max(F.least(F.col("__rn"), F.col("__nb")))
                     .cast("long").alias("__h"))
            )
            return state.join(hidx, "id").select(
                "id", F.least(F.col("est"), F.col("__h")).alias("est"),
                (F.col("__h") < F.col("est")).alias("lowered"))

        und = (
            self._undirected()
            .filter(F.col("src") != F.col("dst"))
            .distinct()
        )
        est = self.pregel(
            und,
            lambda e: e.groupBy(F.col("src").alias("id")).agg(
                F.count("*").cast("long").alias("est"),
                F.lit(True).alias("lowered")),
            step, changed=F.col("lowered"), max_iter=max_iter,
        )
        if est.filter("lowered").limit(1).count():
            _release(est)
            raise RuntimeError(
                f"coreness: estimates still fell in superstep "
                f"max_iter={max_iter}; they are upper bounds, not the "
                f"coreness. Raise max_iter.")
        zero = self.vertices.select("id").join(
            est.select("id"), "id", "left_anti"
        ).select("id", F.lit(0).cast("long").alias("coreness"))
        return est.select("id", F.col("est").alias("coreness")) \
            .unionByName(zero)

    # -- structural operators (GraphX surface) -------------------------------

    def reverse(self) -> "Graph":
        """Graph with all edge directions flipped."""
        cols = [c for c in self.edges.columns if c not in ("src", "dst")]
        return Graph(
            self.vertices,
            self.edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), *cols
            ),
        )

    def subgraph(self, vpred: Column | None = None,
                 epred: Column | None = None) -> "Graph":
        """Induced subgraph: keep vertices matching ``vpred`` and edges
        matching ``epred`` whose BOTH endpoints survive (GraphX
        subgraph semantics). Two semi joins — no edge explosion."""
        v = self.vertices.filter(vpred) if vpred is not None else self.vertices
        e = self.edges.filter(epred) if epred is not None else self.edges
        ids = v.select("id")
        e = (
            e.join(ids.withColumnRenamed("id", "src"), "src", "left_semi")
            .join(ids.withColumnRenamed("id", "dst"), "dst", "left_semi")
        )
        return Graph(v, e)

    def map_vertices(self, *cols: Column) -> "Graph":
        """New graph with vertex attributes replaced by ``cols``
        (id is always kept)."""
        return Graph(self.vertices.select("id", *cols), self.edges)

    def join_vertices(self, other: DataFrame) -> "Graph":
        """Attach extra per-vertex attributes (left join on id —
        vertices without a match keep nulls, GraphX joinVertices)."""
        return Graph(self.vertices.join(other, "id", "left"), self.edges)

    def shortest_paths(self, landmarks: list[int],
                       max_iter: int = 20,
                       weight_col: str | None = None) -> DataFrame:
        """Shortest path distances to each landmark following edge
        direction (GraphX ShortestPaths). Returns (id, landmark, dist)
        rows for reachable pairs — hop counts (int) by default, or
        weighted costs (double, Bellman-Ford) when ``weight_col`` names
        a non-negative edge weight.

        State is the (id, landmark, dist) relation; each superstep
        relaxes one hop backwards over edges (dst→src) and keeps the
        min. Each superstep is one join + one min-agg shuffle.

        A row changes when its pair is new or its dist dropped; the
        loop stops after a superstep with no change. That is exact in
        both modes: Bellman-Ford keeps improving dists of rows already
        present, which a stable row count would miss.
        """
        zero, dist_type = (
            (F.lit(0).cast("int"), "int") if weight_col is None
            else (F.lit(0.0), "double"))
        cost = F.lit(1) if weight_col is None else F.col(weight_col)
        # relaxation runs against edge direction: messages flow dst → src
        reverse = self.edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"),
            cost.alias("cost"))

        def step(e: DataFrame, state: DataFrame) -> DataFrame:
            relaxed = e.join(state, e.src == state.id).select(
                F.col("dst").alias("id"), "landmark",
                (F.col("dist") + F.col("cost")).alias("dist"),
                F.lit(None).cast(dist_type).alias("__old"),
            )
            return (
                state.select("id", "landmark", "dist",
                             F.col("dist").alias("__old"))
                .unionByName(relaxed)
                .groupBy("id", "landmark")
                .agg(F.min("dist").alias("dist"),
                     F.min("__old").alias("__old"))
            )

        return self.pregel(
            reverse,
            lambda e: self.vertices.select("id")
            .filter(F.col("id").isin(landmarks))
            .select("id", F.col("id").alias("landmark"), zero.alias("dist")),
            step,
            changed=F.col("__old").isNull()
            | (F.col("dist") < F.col("__old")),
            max_iter=max_iter,
        )

    def anf(self, m: int = 64, max_iter: int = 16,
            rel_tol: float = 0.01,
            edge_batch: int | None = None) -> list[tuple[int, float]]:
        """HyperANF (Boldi, Rosa & Vigna, WWW'11 [PUBLIC]): approximate
        neighborhood function N(t) = estimated number of (u, v) pairs
        with dist(u, v) <= t, one HyperLogLog counter per vertex.

        Each vertex keeps ``m`` HLL registers AS COLUMNS (tinyint
        r0..r{m-1}) rather than an array: the per-hop counter union is
        then plain ``max()`` aggregation — full map-side partial
        aggregation in Tungsten, no array explode (x``m`` row blowup)
        and no collect_list (unbounded per-key buffers on high-degree
        vertices). Registers hold rho values <= 59, so tinyint.

        Per superstep: ONE shuffle (neighbor registers unioned with own,
        max-merged per vertex), materialized by one checkpoint job; the
        per-hop cardinality readout is an Observation on that same job,
        a SINGLE driver-side scalar (the convergence signature).
        Register width is m bytes/vertex — at 10^9
        vertices and m=64 that is 64 GB of state spread across the
        cluster, the published HyperANF design point.

        Stops when N(t) grows by less than ``rel_tol`` relative — N is
        non-decreasing by construction (registers only ever go up).
        Returns the driver-side [(t, N(t))] list — iteration-summary
        model state, k scalars, not a data collect. ``graph_anf`` and
        ``CALL anf`` wrap it as a DataFrame.

        ``edge_batch`` (round 14 — the betweenness ``source_batch``
        precedent): the per-superstep message relation is O(|E|·m)
        bytes; at sf10 (60M edges, m=64) one superstep's live shuffle
        is ~50+ GB, which EXHAUSTED a single node's disk twice in the
        r14 spot-runs even though the plan is right for a cluster.
        With ``edge_batch=B`` the edges split into B deterministic
        hash batches processed SEQUENTIALLY within each superstep,
        each batch max-merged into the accumulating state and
        checkpoint-truncated before the next — peak live bytes drop
        ~B× for a linear wall-clock trade. Messages always read the
        START-of-superstep registers, and register merge is an
        idempotent monotone max, so the REGISTER state is batched ≡
        unbatched bit-identical; the N(t) readout is an unordered
        per-vertex double sum, so the two plans can differ in the
        last float bits only (pinned to 1e-12 relative in
        tests/test_round14_operators.py). Leave ``None`` on a real
        cluster.

        Estimator: standard HLL bias-corrected harmonic mean with the
        linear-counting small-range correction (the estimate of a
        single counter is exact-ish for |ball| << m, which keeps the
        per-vertex estimates honest on small test graphs).
        """
        if m not in (16, 32, 64, 128, 256):
            raise ValueError(f"m must be one of 16/32/64/128/256, got {m}")
        p = m.bit_length() - 1
        alpha = {16: 0.673, 32: 0.697, 64: 0.709}.get(
            m, 0.7213 / (1 + 1.079 / m))
        regs = [f"r{j}" for j in range(m)]

        # rho of the singleton {id}: bucket = low p bits of xxhash64,
        # rho = 1 + count-trailing-zeros of the remaining bits. (w & -w)
        # isolates the lowest set bit — an exact power of two, so its
        # log2 is exact in double. P(rho >= k) = 2^-(k-1): geometric,
        # which is all HLL needs.
        h = F.xxhash64(F.col("id"))
        j = h.bitwiseAND(F.lit(m - 1)).cast("int")
        w = F.shiftrightunsigned(h, p)
        rho = (
            F.when(w == 0, F.lit(64 - p))
            .otherwise(F.log2(w.bitwiseAND(-w)).cast("int") + 1)
            .cast("tinyint")
        )
        init = self.vertices.select(
            "id", *[
                F.when(j == jj, rho).otherwise(F.lit(0).cast("tinyint"))
                .alias(r) for jj, r in enumerate(regs)
            ],
        )

        # per-vertex cardinality estimate from the m register columns
        z = None
        for r in regs:
            term = F.pow(F.lit(2.0), -F.col(r).cast("double"))
            z = term if z is None else z + term
        v_zero = None
        for r in regs:
            iszero = F.when(F.col(r) == 0, 1).otherwise(0)
            v_zero = iszero if v_zero is None else v_zero + iszero
        e_raw = F.lit(alpha * m * m) / z
        est = F.when(
            (e_raw <= 2.5 * m) & (v_zero > 0),
            F.lit(float(m)) * F.log(F.lit(float(m)) / v_zero),
        ).otherwise(e_raw)

        edges = flat_checkpoint(self.edges.select("src", "dst"))
        obs = Observation()
        state = flat_checkpoint(init.observe(obs, F.sum(est).alias("n")))
        nf = [(0, float(obs.get["n"]))]
        batches = edge_batch if edge_batch and edge_batch > 1 else 1
        bsel = F.pmod(F.xxhash64(F.col("src"), F.col("dst")),
                      F.lit(batches))
        jvm_gc = self.vertices.sparkSession.sparkContext._jvm.System.gc
        try:
            for t in range(1, max_iter + 1):
                # sequential hash batches: each merges into the
                # accumulating registers and truncates before the
                # next, capping live shuffle at ~|E|/B messages. All
                # batches read START-of-superstep `state`, so
                # information still travels exactly one hop.
                new_state, parts = state, []
                for b in range(batches):
                    if b:
                        new_state = flat_checkpoint(new_state)
                        parts.append(new_state)
                        jvm_gc()
                    e_b = edges.filter(bsel == b) if batches > 1 else edges
                    msgs = (
                        e_b.join(state, e_b.src == state.id)
                        .select(F.col("dst").alias("id"), *regs)
                    )
                    new_state = (
                        new_state.unionByName(msgs)
                        .groupBy("id")
                        .agg(*[F.max(r).alias(r) for r in regs])
                    )
                obs = Observation()
                new_state = flat_checkpoint(
                    new_state.observe(obs, F.sum(est).alias("n")))
                for old in parts + [state]:
                    _release(old)
                state = new_state
                # Disk hygiene (r14 sf10 lesson): the superstep's
                # O(|E|·m) shuffle files free only after the
                # truncated-lineage RDDs are GC'd — nudge the JVM
                # so the ContextCleaner drops dead stages' files
                # before the next superstep piles on top.
                jvm_gc()
                n_t = float(obs.get["n"])
                nf.append((t, n_t))
                if n_t <= nf[-2][1] * (1 + rel_tol):
                    break
        finally:
            _release(edges)
            _release(state)
        return nf

    def personalized_pagerank(self, source: int, reset_prob: float = 0.15,
                              max_iter: int = 10) -> DataFrame:
        """PageRank with teleport mass concentrated on ``source``
        (random walk with restart) → (id, pagerank)."""
        is_src = F.when(F.col("id") == source, 1.0).otherwise(0.0)
        out_deg = self.out_degrees()
        edges = (
            self.edges.select("src", "dst")
            .join(out_deg, F.col("src") == F.col("id"))
            .select("src", "dst", "out_degree")
        )
        return self._rank_walk(
            edges, F.col("pagerank") / F.col("out_degree"), is_src,
            F.lit(reset_prob) * is_src, reset_prob, max_iter)

    def betweenness_centrality(self, sources: list[int],
                               max_depth: int = 20,
                               scale: float = 1.0,
                               source_batch: int | None = None
                               ) -> DataFrame:
        """Brandes betweenness centrality from a sampled source set →
        (id, betweenness) over ALL vertices (zeros included).

        Exact Brandes when ``sources`` is the whole vertex set; with a
        uniform k-sample, passing ``scale = n/k`` gives the standard
        unbiased Brandes-sampling estimator (Brandes & Pich 2007 —
        the way betweenness is ranked at graph sizes where all-pairs
        BFS is impossible). Directed semantics; undirected graphs pass
        both edge directions.

        ``sources`` must be a BOUNDED sample: total work is
        O(|sources|·|E|) (each BFS level shuffles the frontier×edges
        message stream), so pick a fixed k (tens to low hundreds) —
        never a fixed FRACTION of the vertices, which silently turns
        the estimator into O(|V|·|E|/c) and does not fit any cluster
        at 100-TB graph sizes.

        Two phases, both set-at-a-time over a (source, vertex) state
        relation covering every sampled source at once:

        1. forward BFS with path counting — frontier ⋈ edges, σ summed
           per (source, vertex) with map-side combine, visited pairs
           excluded by a left-anti join; one checkpointed level per
           depth (the levels are REUSED by phase 2, so eager
           localCheckpoint is load-bearing, not just lineage hygiene);
        2. backward dependency accumulation — level d joins its
           successors' (σ_w, δ_w) through the edge relation and sums
           δ_v = Σ σ_v/σ_w·(1+δ_w); sources (depth 0) are excluded
           from the centrality per Brandes.

        Scale: every step is an equi-join + partial-aggregated groupBy
        on (source, vertex); state is bounded by |S|·|V|; no
        collect — the only driver traffic is the per-level emptiness
        probe. Path counts σ are doubles (exact for counts < 2⁵³;
        betweenness is conventionally a double-valued score).

        ``source_batch``: run the sources in sequential batches of
        this size and SUM the per-batch dependency vectors — the sum
        over sources commutes, so the result is bit-identical up to
        FP summation grouping. This trades wall-clock for PEAK
        footprint: per-level message volume and checkpoint/spill
        state scale with the batch size, not |S| (found at the r13
        sf10 spot-run: k=32 over the 60M-edge order graph spilled
        past an 80 GB single-node temp budget mid-BFS — the same
        job in batches of 8 peaks 4× lower; on a multi-node cluster
        with real aggregate shuffle capacity, leave it None).
        """
        if not sources:
            raise ValueError("betweenness needs at least one source")
        if source_batch is None or source_batch >= len(sources):
            dep, _ = self._brandes_dependencies(sources, max_depth)
        else:
            dep = None  # running per-vertex sum, a checkpoint
            for i in range(0, len(sources), source_batch):
                part, deltas = self._brandes_dependencies(
                    sources[i:i + source_batch], max_depth)
                if part is None:
                    continue
                summed = flat_checkpoint(
                    (part if dep is None else dep.unionByName(part))
                    .groupBy("v").agg(F.sum("dep").alias("dep")))
                for ck in deltas + ([dep] if dep is not None else []):
                    _release(ck)
                dep = summed
        if dep is None:  # no source reached anything
            return self.vertices.select(
                "id", F.lit(0.0).alias("betweenness")
            )
        bc = dep.groupBy(F.col("v").alias("id")).agg(
            F.sum("dep").alias("dep")
        )
        return (
            self.vertices.select("id")
            .join(bc, "id", "left")
            .select(
                "id",
                (F.coalesce("dep", F.lit(0.0)) * F.lit(scale))
                .alias("betweenness"),
            )
        )

    def _brandes_dependencies(self, sources: list[int], max_depth: int
                              ) -> tuple[DataFrame | None, list[DataFrame]]:
        """Both Brandes phases for ``sources`` → ``(dep, deltas)``:
        ``dep`` holds (v, dep) rows, one per (source, non-source
        vertex) pair reached, to be summed per vertex (None when no
        source reached anything); ``deltas`` are the checkpoints
        ``dep`` reads, to release once it has been consumed. Every
        other checkpoint is released before returning."""
        e = self.edges.select("src", "dst").distinct().persist()
        init = (
            self.vertices.select("id")
            .filter(F.col("id").isin(sources))
            .select(
                F.col("id").alias("s"), F.col("id").alias("v"),
                F.lit(1.0).alias("sigma"),
            )
            .localCheckpoint(eager=True)
        )
        levels = [init]
        visited = init.select("s", "v").localCheckpoint(eager=True)
        spent = [visited]  # checkpoints the result does not read
        frontier = init
        for _ in range(max_depth):
            nxt = (
                frontier.join(e, frontier.v == e.src)
                .select("s", F.col("dst").alias("nv"), "sigma")
                .groupBy("s", "nv")
                .agg(F.sum("sigma").alias("sigma"))
                .select("s", F.col("nv").alias("v"), "sigma")
                .join(visited, ["s", "v"], "left_anti")
                .localCheckpoint(eager=True)
            )
            if nxt.limit(1).count() == 0:
                spent.append(nxt)
                break
            levels.append(nxt)
            visited = (
                visited.unionByName(nxt.select("s", "v"))
                .localCheckpoint(eager=True)
            )
            spent.append(visited)
            frontier = nxt

        acc: DataFrame | None = None
        deltas: list[DataFrame] = []
        delta = levels[-1].withColumn("delta", F.lit(0.0))
        for d in range(len(levels) - 2, -1, -1):
            cur = levels[d]
            succ = delta.select(
                "s", F.col("v").alias("w"),
                F.col("sigma").alias("sigma_w"),
                F.col("delta").alias("delta_w"),
            )
            contrib = (
                cur.join(e, cur.v == e.src)
                .select("s", "v", "sigma", F.col("dst").alias("w"))
                .join(succ, ["s", "w"])
                .groupBy("s", "v")
                .agg(
                    F.sum(
                        F.col("sigma") / F.col("sigma_w")
                        * (F.lit(1.0) + F.col("delta_w"))
                    ).alias("dep")
                )
            )
            delta = (
                cur.join(contrib, ["s", "v"], "left")
                .select(
                    "s", "v", "sigma",
                    F.coalesce("dep", F.lit(0.0)).alias("delta"),
                )
                .localCheckpoint(eager=True)
            )
            if d > 0:  # depth-0 rows are the sources themselves
                part = delta.select("v", F.col("delta").alias("dep"))
                acc = part if acc is None else acc.unionByName(part)
                deltas.append(delta)
            else:
                spent.append(delta)
        e.unpersist()
        for ck in spent + levels:  # the result reads only the deltas
            _release(ck)
        return acc, deltas

    def betweenness_sampled(self, eps: float = 0.05, delta: float = 0.1,
                            max_depth: int = 20,
                            max_sources: int | None = None) -> DataFrame:
        """ε-bounded sampled betweenness (VERDICT r6 item 5): the
        Brandes–Pich source-sampling estimator with the sample size
        DERIVED from an accuracy target instead of hand-picked.

        Each sampled source s contributes a normalized dependency
        ``δ_s(v)/(n−1) ∈ [0,1]`` to vertex v's normalized betweenness,
        so by Hoeffding + a union bound over the n vertices,

            k = ceil( ln(2n/δ) / (2ε²) )

        uniform sources give ``|b̃(v) − b(v)| ≤ ε`` for EVERY vertex
        with probability ≥ 1−δ, where b is betweenness normalized by
        n(n−1). (Riondato–Kornaropoulos '14 sharpen the constant with
        VC bounds over sampled shortest PATHS; the source-sampling
        form reuses the existing two-phase BFS machinery unchanged and
        keeps the same (ε, δ) contract — the k here is merely somewhat
        larger.) When k ≥ n the estimator IS exact Brandes — the
        property the equivalence test pins.

        Work is O(k·|E|) with k independent of |V| up to the log
        factor — the knob that keeps dense graphs affordable where
        exact Brandes is O(|V|·|E|). ``max_sources`` caps k (accuracy
        degrades past the cap; the cap is reported via the raised
        error rather than silently). Returns (id, betweenness) on the
        RAW scale (× n/k), like ``betweenness_centrality``; divide by
        n(n−1) for the normalized values the ε bound speaks about.

        The k source ids are collected — k longs of model-state
        parameter traffic (same posture as the 32-id sample in the
        fixed entry), never the data.
        """
        import math

        if not (0 < eps <= 1) or not (0 < delta < 1):
            raise ValueError("need 0 < eps <= 1 and 0 < delta < 1")
        n = self.vertices.count()
        if n < 2:
            return self.vertices.select(
                "id", F.lit(0.0).alias("betweenness"))
        k = min(n, math.ceil(math.log(2.0 * n / delta) / (2.0 * eps * eps)))
        if max_sources is not None and k > max_sources:
            raise ValueError(
                f"eps={eps}, delta={delta} need k={k} sources "
                f"> max_sources={max_sources}; loosen eps/delta or "
                "raise the cap"
            )
        srcs = [
            r["id"]
            for r in self.vertices.select("id")
            .orderBy(F.xxhash64(F.col("id").cast("string")), "id")
            .limit(k)
            .collect()
        ]
        return self.betweenness_centrality(
            srcs, max_depth=max_depth, scale=float(n) / float(k))

    def random_walks(self, walk_length: int = 8, walks_per_node: int = 1,
                     seed: int = 42, max_degree: int = 10_000) -> DataFrame:
        """Deterministic seeded uniform random walks — the
        DeepWalk / node2vec (p=q=1) corpus generator: the
        training-data primitive for graph embeddings, where each walk
        becomes a "sentence" over vertex "tokens".

        Every walk starts at every vertex (``walks_per_node`` copies)
        and takes up to ``walk_length`` steps; at each step the next
        hop is chosen UNIFORMLY from the current vertex's out-
        neighbors by a seeded hash of (seed, walk copy, step, current
        vertex) — fully deterministic (same seed → bit-identical
        corpus, the reproducibility contract a training pipeline
        needs), yet distributionally uniform per step. Walks stop
        early at sink vertices (no out-edges).

        Returns (start_id, walk_no, path array<id>, walk_len).

        Scale: ONE adjacency-build shuffle (neighbor lists sorted for
        deterministic indexing, hubs capped at ``max_degree``
        hash-selected neighbors so per-vertex state is bounded —
        ~8·max_degree bytes), then ONE keyed join per step against the
        adjacency relation (walk_length shuffles total — the
        irreducible dataflow of distributed walking; AQE handles
        hub-key skew in the frontier). Walk state is
        |V|·walks_per_node rows with ≤ walk_length+1 longs each; the
        plan chain is cut by a localCheckpoint every
        ``_WALK_STEPS_PER_CUT`` steps (measured lineage rules in
        louvain's docstring).

        Citation-free Spark-first design; the walk semantics mirror
        DeepWalk (Perozzi et al., KDD'14 [PUBLIC]) with unit p=q.
        """
        if walk_length < 1 or walks_per_node < 1:
            raise ValueError("walk_length and walks_per_node must be >= 1")
        wdeg = Window.partitionBy("src").orderBy(
            F.xxhash64(F.lit(seed), "dst"), "dst")
        adj = (
            self.edges.select("src", "dst").distinct()
            .withColumn("_rk", F.row_number().over(wdeg))
            .filter(F.col("_rk") <= max_degree)
            .groupBy("src")
            .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
        )
        state = self.vertices.select(
            F.col("id").alias("start_id"),
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("walk_no"),
            F.array(F.col("id")).alias("path"),
            F.col("id").alias("cur"),
        ).withColumn("walk_no", F.col("walk_no").cast("long"))
        for step in range(walk_length):
            idx = F.pmod(
                F.xxhash64(F.lit(seed), F.col("walk_no"), F.lit(step),
                           F.col("cur")),
                F.size("nbrs"),
            )
            nxt = F.element_at("nbrs", (idx + 1).cast("int"))
            state = (
                state.join(adj, state.cur == adj.src, "left")
                .select(
                    "start_id", "walk_no",
                    F.when(F.col("nbrs").isNotNull(),
                           F.concat("path", F.array(nxt)))
                    .otherwise(F.col("path")).alias("path"),
                    F.when(F.col("nbrs").isNotNull(), nxt)
                    .otherwise(F.lit(None).cast("long")).alias("cur"),
                )
            )
            if (step + 1) % _WALK_STEPS_PER_CUT == 0:
                state = state.localCheckpoint(eager=True)
        return state.select(
            "start_id", "walk_no", "path",
            F.size("path").cast("long").alias("walk_len"),
        )

    def node2vec_walks(self, walk_length: int = 8, walks_per_node: int = 1,
                       p: float = 1.0, q: float = 1.0, seed: int = 42,
                       max_degree: int = 10_000) -> DataFrame:
        """Biased second-order random walks — the full node2vec
        sampler (Grover & Leskovec, KDD'16 [PUBLIC]): at each step
        from ``cur`` with predecessor ``prev``, neighbor ``x`` is
        drawn with unnormalized weight

        * ``1/p``  if ``x == prev``            (return parameter)
        * ``1``    if ``x`` is a neighbor of ``prev``  (distance 1)
        * ``1/q``  otherwise                    (in-out parameter)

        Small ``q`` → outward DFS-like walks (community structure);
        small ``p`` → backtracking BFS-like walks (structural roles).
        The first step (no predecessor) is uniform, as in the paper.

        Determinism contract: the per-step uniform draw ``r`` comes
        from the same seeded xxhash64 stream as ``random_walks``, and
        when ``p == q == 1`` the sampler short-circuits to the EXACT
        ``pmod(hash, degree)`` index formula of ``random_walks`` —
        the p=q=1 corpus is bit-identical to ``random_walks`` with
        the same seed (property-pinned in tests/test_graph_extended).

        Scale: the second-order bias needs BOTH neighbor lists, but
        prev's list at step i+1 IS the list the step-i join fetched
        for cur — so it is CARRIED in walk state instead of paying a
        second adjacency join (same ONE keyed join per step as
        ``random_walks``; bit-identical corpus, round-9 measured).
        The sampler is a CATEGORY decomposition (weight classes
        {prev} / distance-1 / distance-2 via hash-based
        array_intersect / array_except, then a uniform within-class
        pick) — O(degree) per row in codegen set algebra, never a
        per-element membership scan (O(degree²), measured hanging on
        10k-degree hubs). Vectors never cross into Python. State per
        walk is ≤ walk_length+1 longs plus prev's ≤``max_degree``
        neighbor array; lineage is cut like ``random_walks``.
        """
        if walk_length < 1 or walks_per_node < 1:
            raise ValueError("walk_length and walks_per_node must be >= 1")
        if p <= 0 or q <= 0:
            raise ValueError("p and q must be > 0")
        wdeg = Window.partitionBy("src").orderBy(
            F.xxhash64(F.lit(seed), "dst"), "dst")
        adj = (
            self.edges.select("src", "dst").distinct()
            .withColumn("_rk", F.row_number().over(wdeg))
            .filter(F.col("_rk") <= max_degree)
            .groupBy("src")
            .agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
            .localCheckpoint(eager=True)
        )
        biased = not (p == 1.0 and q == 1.0)
        state = self.vertices.select(
            F.col("id").alias("start_id"),
            F.explode(
                F.sequence(F.lit(0), F.lit(walks_per_node - 1))
            ).alias("walk_no"),
            F.array(F.col("id")).alias("path"),
            F.col("id").alias("cur"),
            F.lit(None).cast("long").alias("prev"),
        ).withColumn("walk_no", F.col("walk_no").cast("long"))
        if biased:
            # prev's neighbor list at step i+1 IS the nbrs array the
            # step-i join fetched for cur — carry it in walk state
            # instead of a second adjacency join (round-9 measured:
            # the two-join formulation shuffled the ≤cap-wide arrays
            # twice per step; carrying halves the per-step shuffles
            # and is bit-identical, since adj_prev served the same
            # capped arrays). State width grows by ≤max_degree longs.
            state = state.withColumn(
                "pn", F.lit(None).cast("array<bigint>"))
        # large prime: turns the signed xxhash64 into a uniform draw
        # in [0, 1) without Python-side randomness (determinism).
        mod = 2_147_483_647
        for step in range(walk_length):
            h = F.xxhash64(F.lit(seed), F.col("walk_no"), F.lit(step),
                           F.col("cur"))
            uniform_idx = F.pmod(h, F.size("nbrs"))
            uniform_nxt = F.element_at(
                "nbrs", (uniform_idx + 1).cast("int"))
            joined = state.join(adj, state.cur == adj.src, "left")
            if not biased:
                # bit-identical reduction to random_walks' sampler
                nxt = uniform_nxt
            else:
                # Category-decomposition sampler: each neighbor falls
                # in exactly one weight class — {prev} (1/p), the
                # distance-1 set d1 = nbrs ∩ pnbrs ∖ {prev} (1), or the
                # distance-2 set d2 (1/q). Drawing the CLASS by its
                # aggregate weight and then a uniform member is the
                # same distribution as the per-element inverse CDF, but
                # the set algebra is hash-based array_intersect /
                # array_except — O(deg) per row. The first cut did a
                # per-element array_contains(pnbrs, x) inside
                # transform(nbrs, ...): O(deg²) per row, which on 10k-
                # degree hubs was ~1e8 ops/row and hung the sf0.01
                # fixture outright (>400 s vs 17 s for the uniform
                # walker). Never scan one array per element of another.
                hb = F.xxhash64(F.lit(seed), F.col("walk_no"),
                                F.lit(step), F.col("cur"),
                                F.coalesce(F.col("prev"), F.lit(-1)))
                r = (F.pmod(hb, F.lit(mod)).cast("double")
                     / F.lit(float(mod)))
                pn = F.coalesce(F.col("pn"),
                                F.array().cast("array<bigint>"))
                prev_arr = F.array(F.col("prev"))
                d1 = F.array_except(
                    F.array_intersect(F.col("nbrs"), pn), prev_arr)
                d2 = F.array_except(F.col("nbrs"),
                                    F.array_union(pn, prev_arr))
                w_ret = F.when(
                    F.array_contains(F.col("nbrs"), F.col("prev")),
                    F.lit(1.0 / p)).otherwise(F.lit(0.0))
                # STAGE the expensive set-algebra trees as NAMED
                # columns: d1/d2/t feed 3–4 downstream expressions
                # each, and inlining them (the first formulation)
                # re-evaluated every intersect/except per use —
                # CollapseProject keeps a non-cheap alias referenced
                # more than once as its own projection, so each tree
                # runs ONCE per row here.
                joined = joined.select(
                    "start_id", "walk_no", "path", "cur", "prev",
                    "nbrs",
                    d1.alias("__d1"), d2.alias("__d2"),
                    w_ret.alias("__wret"), r.alias("__r"),
                )
                wret = F.col("__wret")
                w_d1 = F.size("__d1").cast("double")
                w_d2 = F.size("__d2").cast("double") * F.lit(1.0 / q)
                t = F.col("__r") * (wret + w_d1 + w_d2)
                # within-class uniform pick reuses the residual of the
                # same draw; d1 members have weight exactly 1 so the
                # residual IS the index; d2 rescales by q. Clamped to
                # the class bounds (float edge) and F.get (0-based,
                # null-safe) so an empty class can never throw.
                idx1 = F.greatest(
                    F.least(F.floor(t - wret),
                            (F.size("__d1") - 1).cast("long")),
                    F.lit(0).cast("long"))
                idx2 = F.greatest(
                    F.least(F.floor((t - wret - w_d1) * F.lit(q)),
                            (F.size("__d2") - 1).cast("long")),
                    F.lit(0).cast("long"))
                biased_nxt = F.coalesce(
                    F.when(t < wret, F.col("prev"))
                    .when(t < wret + w_d1,
                          F.get("__d1", idx1.cast("int")))
                    .otherwise(F.get("__d2", idx2.cast("int"))),
                    # exhausted-scan guard (t == total within ulps):
                    # fall back to the last neighbor, as random_walks
                    F.element_at("nbrs", F.size("nbrs")),
                )
                nxt = F.when(F.col("prev").isNull(), uniform_nxt) \
                    .otherwise(biased_nxt)
            carry = [
                # nbrs(cur) becomes nbrs(prev) for the next step —
                # the array the dropped adj_prev join used to re-fetch
                F.col("nbrs").alias("pn"),
            ] if biased else []
            state = joined.select(
                "start_id", "walk_no",
                F.when(F.col("nbrs").isNotNull(),
                       F.concat("path", F.array(nxt)))
                .otherwise(F.col("path")).alias("path"),
                F.when(F.col("nbrs").isNotNull(), nxt)
                .otherwise(F.lit(None).cast("long")).alias("cur"),
                F.when(F.col("nbrs").isNotNull(), F.col("cur"))
                .otherwise(F.lit(None).cast("long")).alias("prev"),
                *carry,
            )
            if (step + 1) % _WALK_STEPS_PER_CUT == 0:
                state = state.localCheckpoint(eager=True)
        return state.select(
            "start_id", "walk_no", "path",
            F.size("path").cast("long").alias("walk_len"),
        )

    def ktruss(self, k: int = 3, max_iter: int = 50,
               local_finish_edges: int = 100_000) -> DataFrame:
        """k-truss decomposition member: the maximal subgraph in which
        every edge participates in at least k−2 triangles — the
        standard cohesive-subgraph refinement of k-core (a k-truss is
        always inside a (k−1)-core but prunes loosely-attached edges
        a core keeps). Undirected semantics on canonical (u<v) edges.

        Returns the surviving canonical edges (u, v, support) where
        support is the final within-subgraph triangle count per edge.

        Algorithm: iterated support-prune to fixpoint — compute each
        edge's triangle support inside the CURRENT edge set (oriented
        a<b<c wedge join + left-semi closing probe, the same
        scale-safe lowering as count_triangles: orientation bounds
        wedge fan-out by the smaller-degree endpoint), drop edges with
        support < k−2, repeat until no edge is dropped. Peeling is
        monotone, so the fixpoint is the unique k-truss.

        Scale: per iteration TWO shuffle joins (wedge build + closing
        probe) and one support aggregate with map-side combine; the
        edge set only shrinks, so iterations get cheaper; each
        iteration's surviving set is localCheckpoint-bounded (the set
        is referenced three times by the next iteration's joins, so
        unbounded lineage would grow 3^i). Convergence is a per-
        iteration 1-row count — the sanctioned driver-side scalar.

        ``local_finish_edges``: peeling CASCADES are the distributed
        formulation's weakness — the tail of a decomposition removes a
        handful of edges per round, so a long cascade pays a full
        distributed round (joins + checkpoint + barrier) per 1–4
        edges; measured at sf0.01 the tail rounds additionally hit a
        pathological JVM slowdown (0.8 s → 30–90 s per round with
        flat data, flat lineage, flat plans — the fixture entry went
        from interactive to 20+ minutes). The dual-plan gate (the
        percentile-band discipline): once the surviving edge set is
        under this many edges it is COLLECTED and peeled exactly in
        one driver pass (classic queue-based peeling, O(Σ support)),
        then parallelized back — bit-identical fixpoint, measured
        6–8 s total at sf0.01 instead of 20+ min. At 100 TB the
        distributed rounds do the volume work; the gate only absorbs
        the cascade tail, whose size is bounded by construction.
        """
        if k < 2 or max_iter < 1:
            raise ValueError("k-truss needs k >= 2 and max_iter >= 1")
        e = (
            self.edges.select(
                F.least("src", "dst").alias("u"),
                F.greatest("src", "dst").alias("v"))
            .filter(F.col("u") < F.col("v"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        held = [e]  # checkpoints released on return, but the result
        n = e.count()
        need = k - 2
        for _ in range(max_iter):
            if n == 0 or n <= local_finish_edges:
                rows = _local_ktruss_finish(
                    [(r["u"], r["v"]) for r in e.collect()], need
                )
                spark = self.edges.sparkSession
                schema = e.select(
                    "u", "v", F.lit(0).cast("long").alias("support")
                ).schema
                kept = spark.createDataFrame(rows, schema)
                break
            ab = e.select(F.col("u").alias("a"), F.col("v").alias("b"))
            bc = e.select(F.col("u").alias("b"), F.col("v").alias("c"))
            ac = e.select(F.col("u").alias("a"), F.col("v").alias("c"))
            tri = (
                ab.join(bc, "b")
                .join(ac, ["a", "c"], "left_semi")
                .select("a", "b", "c")
            )
            support = (
                tri.select(F.col("a").alias("u"), F.col("b").alias("v"))
                .unionByName(
                    tri.select(F.col("b").alias("u"), F.col("c").alias("v")))
                .unionByName(
                    tri.select(F.col("a").alias("u"), F.col("c").alias("v")))
                .groupBy("u", "v")
                .agg(F.count("*").alias("support"))
            )
            kept = (
                e.join(support, ["u", "v"], "left")
                .select(
                    "u", "v",
                    F.coalesce("support", F.lit(0)).cast("long")
                    .alias("support"),
                )
                .filter(F.col("support") >= need)
            )
            kept = flat_checkpoint(kept)
            held.append(kept)
            n_new = kept.count()
            e = kept.select("u", "v")
            if n_new == n:
                break
            n = n_new
        # max_iter hit with the set still shrinking: ``kept`` is the
        # current set with its within-set support
        for ck in held:
            if ck is not kept:
                _release(ck)
        return kept

    def triangle_count(self) -> DataFrame:
        """Global triangle count via canonical-edge (u<v) wedge closing.

        1-row DataFrame (n_triangles). Scale: two self-joins of the
        canonical edge set; AQE handles wedge skew. Per-vertex counts
        would tag each closing edge's endpoints instead of counting.
        """
        e = (
            self.edges.select(
                F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
            )
            .filter(F.col("u") < F.col("v"))
            .distinct()
        )
        return count_triangles(e)


def count_triangles(canonical_edges: DataFrame,
                    broadcast_adjacency: bool | None = None) -> DataFrame:
    """Count triangles in a canonical (u<v, distinct) edge DataFrame via
    adjacency-list intersection: Σ_{(u,v)∈E} |N⁺(u) ∩ N⁺(v)|.

    Each triangle u<v<w is counted exactly once, at its (u,v) edge.
    This beats the naive wedge self-join (e1⋈e2⋈e3) by never
    materializing the wedge set (|wedges| ≫ |E|): the per-edge
    intersection of two sorted neighbor arrays touches only
    deg⁺(u)+deg⁺(v) elements, inside one codegen stage.

    ``broadcast_adjacency=True``: the adjacency table (|V| rows) is
    broadcast for both probes → the whole count is one pass over the
    edge set with zero wedge shuffle. ``False``: shuffle join on the
    probe key — the 100-TB path. ``None`` (default): SIZE-AWARE —
    decide from Catalyst's size estimate of the edge plan vs the
    session broadcast threshold, so a graph that outgrows the
    broadcast budget automatically takes the shuffle path instead of
    force-broadcasting an OOM. Callers with better knowledge of their
    edge volume (e.g. q24's measured input size) pass the bool
    explicitly.

    The shuffle path re-orients edges LOW-DEGREE → HIGH-DEGREE first
    (id tiebreak). The probe stream carries N⁺(u) per edge, so its
    shuffle volume is Σ_u deg⁺(u)² — under id-orientation a power-law
    hub with millions of neighbors keeps ~half of them as one giant
    array row (OOM at web scale); degree-orientation caps deg⁺ at
    O(√E) (standard triangle-counting bound), trading three skinny
    edge-list shuffles (degree agg + two attach joins) for bounded
    array rows. Orientation never changes the count: each triangle's
    three edges acquire exactly one acyclic orientation, so it is
    still counted once, at its minimum-degree vertex
    (tests/test_graph_properties.py pins equality with the broadcast
    path and brute force). SCALECHECK's sf1 run (12M uniform-degree
    edges) measures the two orientations equal there — the payoff is
    skew robustness, not mean speed.
    """
    if broadcast_adjacency is None:
        try:
            est = int(
                canonical_edges._jdf.queryExecution()
                .optimizedPlan().stats().sizeInBytes()
            )
        except Exception:  # estimate unavailable → conservative shuffle
            est = 1 << 62
        broadcast_adjacency = est < (64 << 20)
    if not broadcast_adjacency:
        # Degree-ordered orientation (see docstring). Degrees must
        # count DISTINCT edges, so dedup the pair stream first — the
        # distinct's shuffle replaces the dedup work collect_set would
        # have done anyway.
        e = canonical_edges.select("u", "v").distinct()
        deg = (
            e.select(F.col("u").alias("x"))
            .unionByName(e.select(F.col("v").alias("x")))
            .groupBy("x").agg(F.count("*").alias("d"))
        )
        u_first = (F.col("du") < F.col("dv")) | (
            (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
        )
        canonical_edges = (
            e.join(deg.select(F.col("x").alias("u"),
                              F.col("d").alias("du")), "u")
            .join(deg.select(F.col("x").alias("v"),
                             F.col("d").alias("dv")), "v")
            .select(
                F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("u"),
                F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("v"),
            )
        )
    else:
        # Broadcast path: the adjacency's one shuffle runs at full core
        # width, not the (narrow, input-sized) session width — the
        # collect_set and the intersect probe after it are the
        # compute-bound stages, and a narrow width leaves cores idle
        # (measured sf0.1: 1.33 s → 0.97 s at 8-wide agg on 32 cores;
        # sf0.01 on 4 cores: 0.62 s at the session's width 1 → 0.55 s).
        par = canonical_edges.sparkSession.sparkContext.defaultParallelism
        canonical_edges = canonical_edges.repartition(par, "u")
    # collect_set both DEDUPS and groups in one shuffle — callers may
    # pass a raw (u<v) pair stream without a separate distinct().
    adj = canonical_edges.groupBy("u").agg(
        F.sort_array(F.collect_set("v")).alias("nbrs")
    )
    # The probe stream is the adjacency itself exploded: each (u, nu, v)
    # row IS a distinct edge and already carries N⁺(u) — no u-side join.
    probe = adj.select(
        "u", F.col("nbrs").alias("nu"), F.explode("nbrs").alias("v")
    )
    av = adj.select(F.col("u").alias("a_v"), F.col("nbrs").alias("nv"))
    if broadcast_adjacency:
        av = F.broadcast(av)
    # Inner join is safe: an edge whose dst has no out-neighbors
    # contributes 0 to the sum anyway.
    return (
        probe.join(av, F.col("v") == F.col("a_v"))
        .agg(
            F.coalesce(
                F.sum(F.size(F.array_intersect("nu", "nv"))), F.lit(0)
            ).cast("long").alias("n_triangles")
        )
    )


# -- canonical graph projections over the fixtures (SURVEY §2.3) -------------


def order_graph_edges(orders: DataFrame, lineitem: DataFrame) -> DataFrame:
    """Bipartite customer→supplier edges: one per distinct (order,
    supplier) usage, i.e. the distinct (o_custkey, l_suppkey) pairs per
    order join. Columns (src, dst)."""
    return (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
    )


def part_cooccurrence_edges(lineitem: DataFrame,
                            deduped: bool = True) -> DataFrame:
    """Undirected canonical (u<v) part co-occurrence edges: two parts
    appearing in the same order.

    With lineitem hash-partitioned on l_orderkey the self-join is
    co-located (zero shuffle). ``deduped=False`` returns the raw pair
    stream for consumers that dedup downstream anyway (count_triangles'
    collect_set does) — skipping the explicit distinct saves its
    full-stream shuffle.
    """
    a = lineitem.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = lineitem.select("l_orderkey", F.col("l_partkey").alias("v"))
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .select("u", "v")
    )
    return pairs.distinct() if deduped else pairs


# -- oracled queries ----------------------------------------------------------


def q23_graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In/out-degree of the customer→supplier order graph.

    Degree counts distinct counterparties (count(distinct ...) in the
    oracle). Two wide shuffles total: the (custkey, suppkey) dedup,
    then ONE degree aggregation over both endpoints at once — each
    deduped pair explodes into (customer, 1, 0) and (supplier, 0, 1)
    rows (a flatMap, no shuffle), so no second aggregation tree or
    union re-agg exists. Degrees cast to long (DuckDB sum → HUGEINT).
    """
    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, final_sort,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # MEASURED-size broadcast gate on orders (scale-growing, so never a
    # bare hint): under the gate the edge build is map-side over
    # lineitem's load partitioning; past it, an orderkey-co-partitioned
    # shuffle join. The load-time repartition (orders on o_custkey)
    # otherwise hides the parquet size estimate from the static planner,
    # which is why relying on autoBroadcastJoinThreshold alone regressed
    # this query 2.4x in round 3.
    pairs = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .select("o_custkey", "l_suppkey")
        .distinct()
    )
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    return final_sort(
        pairs.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("o_custkey").alias("v"),
                        one.alias("outd"), zero.alias("ind"),
                    ),
                    F.struct(
                        F.col("l_suppkey").alias("v"),
                        zero.alias("outd"), one.alias("ind"),
                    ),
                )
            ).alias("d")
        )
        .select("d.*")
        .groupBy("v")
        .agg(
            F.sum("outd").alias("out_degree"),
            F.sum("ind").alias("in_degree"),
        ),
        # fold=True (r15): sort key = grouping key and the final merge
        # is ~15k degree rows — the one-partition sort folds into the
        # degree aggregate's own shuffle stage (guide §2.4).
        spark, sf_dir, "lineitem", "v", fold=True,
    )


def q24_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count of the part co-occurrence graph (1 row).

    Whole plan has ONE wide shuffle: co-located pair self-join (map) →
    collect_set adjacency (shuffle) → exploded probe vs adjacency
    join (map) → count.

    Broadcast decision is from the MEASURED lineitem size: the
    co-occurrence adjacency is ~2-3× the lineitem parquet bytes
    (≈ items-per-order × canonical pairs, then deduped), so inputs
    under 32 MB keep the zero-shuffle broadcast probe; larger inputs
    take the co-partitioned shuffle join — never a forced broadcast
    that grows with the data.
    """
    from puregraphdb_spark.sources.registry import table_bytes

    l = load_table(spark, sf_dir, "lineitem")
    bcast = table_bytes(spark, sf_dir, "lineitem") < (32 << 20)
    return count_triangles(
        part_cooccurrence_edges(l, deduped=False), broadcast_adjacency=bcast
    )


def q25_graph_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#customers reachable via a shared supplier, for sampled sources
    (c % 50 = 0) — 2-hop neighborhood over the bipartite order graph.

    Two exact plans, switched on the MEASURED input size (same results,
    verified equivalent by tests/test_graph_properties.py):

    - small (fixture scale): per-supplier ``collect_set`` of customers
      (ONE shuffle of the edge stream), then array math over |S| rows.
      Fastest locally, but a hot supplier with millions of distinct
      customers would materialize one giant aggregation buffer —
      bounded only at small inputs, so gated by size.
    - large (100-TB path): sampled sources joined to the edge stream on
      the supplier key, then ``countDistinct`` — two-phase aggregation
      partial-dedups (src, b_c) map-side, so no unbounded per-key array
      ever exists, and AQE skew-splits the join.

    No forced broadcasts: every input grows with the data, so the
    threshold/AQE picks the join strategy. Sources with no 2-hop
    neighbor produce no row (the oracle's inner join semantics) — the
    small path filters its zero rows explicitly.
    """
    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, final_sort, table_bytes,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    # MEASURED-size gate on orders (same rationale as q23): under it the
    # b-leg is map-side over lineitem's load partitioning in BOTH places
    # it appears (set build + source derivation); past it, the planner
    # picks the shuffle join with no hint.
    b = l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey).select(
        F.col("o_custkey").alias("b_c"), F.col("l_suppkey").alias("b_s")
    )
    if table_bytes(spark, sf_dir, "lineitem") < (32 << 20):
        cs = b.groupBy("b_s").agg(F.collect_set("b_c").alias("cust"))
        # sampled sources come from a cheap second map-side pass over
        # the edge stream (the filter keeps ~2% of rows; the distinct
        # shuffles only those). Deriving them from the sets instead
        # would put the set-build aggregation in BOTH join branches —
        # Spark reuses the exchange but re-runs the aggregation, which
        # was measured slower than this extra thin scan.
        a = (
            b.filter(F.col("b_c") % 50 == 0)
            .select(F.col("b_c").alias("a_c"), F.col("b_s").alias("a_s"))
            .distinct()
        )
        # broadcast is safe HERE only because the surrounding size gate
        # measured the whole input at megabytes; the 100-TB branch below
        # never hints.
        merged = (
            a.join(F.broadcast(cs), F.col("a_s") == F.col("b_s"))
            .groupBy(F.col("a_c").alias("src"))
            .agg(F.flatten(F.collect_list("cust")).alias("all_c"))
        )
        # the source appears in its own suppliers' customer sets; the
        # oracle's a.c<>b.c excludes it — and a source whose suppliers
        # serve nobody else yields no row (inner-join semantics).
        return final_sort(
            merged.select(
                "src",
                (
                    F.size(F.array_distinct("all_c"))
                    - F.when(
                        F.array_contains("all_c", F.col("src")), 1
                    ).otherwise(0)
                ).cast("long").alias("n_2hop"),
            )
            .filter(F.col("n_2hop") > 0),
            spark, sf_dir, "lineitem", "src",
        )
    a = (
        b.filter(F.col("b_c") % 50 == 0)
        .select(F.col("b_c").alias("a_c"), F.col("b_s").alias("a_s"))
        .distinct()
    )
    return (
        a.join(b, F.col("a_s") == F.col("b_s"))
        .filter(F.col("a_c") != F.col("b_c"))
        .groupBy(F.col("a_c").alias("src"))
        .agg(F.countDistinct("b_c").alias("n_2hop"))
        .orderBy("src")
    )


def q65_motif_wedge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-wedge motif over the directed (u<v) part co-occurrence graph
    through the ``Graph.find`` pattern DSL: paths a→b→c with NO closing
    a→c edge, sources sampled (a.id % 100 = 0), counted in one row.

    The motif lowers to: edge ⋈ edge on the shared b slot (equi-join —
    never a cartesian), a left-anti join for the ``!(a)-[]->(c)`` term,
    and id equi-joins attaching the vertex structs. The % 100 source
    sample written OVER the motif result pushes down into the first
    edge scan (verified in tests/test_graph_extended.py), bounding the
    wedge expansion to ~1% of sources — the same pre-join sampling
    discipline as q25. At 100 TB the wedge join shuffles on the b slot
    and AQE splits hot parts; the anti-join probes the canonical edge
    set on (a, c).
    """
    from puregraphdb_spark.sources.registry import shuffle_hash_if_small

    l = load_table(spark, sf_dir, "lineitem")
    e = part_cooccurrence_edges(l).select(
        F.col("u").alias("src"), F.col("v").alias("dst")
    )
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    # Hint history (r14): the old gated BROADCAST hint here had been
    # silently dropped ever since find()'s share_edges checkpoint
    # landed (its 3.8 → 2.3 s claim predates that); once find()
    # learned to preserve caller hints across the share barrier, the
    # restored broadcast MEASURED 1.50× SLOWER than the hint-less
    # sort-merge (0.47 → 0.70 s best-of-5 noop at sf0.1) — each fresh
    # execution pays a driver broadcast build of the shared edge
    # materialization, where the sort-merge path just re-sorts the
    # cached checkpoint. The gated SHUFFLE_HASH preference is the
    # family posture (q85/q86/q91) and measured ≥ hint-less here
    # (0.670 vs 0.687 s): shuffles stay, sorts go, and past the gate
    # the planner default stands.
    e = shuffle_hash_if_small(e, spark, sf_dir, "lineitem",
                              expanded=True)
    g = Graph(v, e)
    # bindings only — the vertex set IS the endpoint set, so the
    # attribute joins would be membership no-ops (3 joins saved).
    # The source sample is an IN-TERM vertex predicate (round 6): it
    # prunes term 1's scan like the old output filter did, AND the
    # negated term's anti-probe relation, which the output filter
    # never reached (measured 1.53 s → 1.08 s at sf0.1).
    # find()'s auto subplan sharing fires here (2 plain terms + anti,
    # Deduplicate-derived edges): the co-occurrence dedup materializes
    # once and feeds all three term instances — measured 1.03 s →
    # 0.39 s at sf0.1 on top of the round-6 in-term-predicate win.
    m = g.find("(a:id%100=0)-[]->(b); (b)-[]->(c); !(a)-[]->(c)",
               attach_vertex_attrs=False)
    return m.agg(
        F.count("*").alias("n_open_wedges"),
        F.countDistinct(F.col("a.id")).alias("n_sources"),
    )


def q83_graph_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted degree (strength) of the customer→supplier order graph:
    per vertex, the sum of incident edge weights (lineitem
    multiplicities) alongside the plain degree — the ORACLED member of
    the weighted-graph family (graph_wpagerank / graph_sssp_weighted
    consume exactly this edge-weight build, rows-only because they
    iterate; this query hash-proves the weights themselves).

    Scale: one shuffle for the (src, dst) weight aggregate with
    map-side combine, then q23's one-pass both-endpoint explode (a
    flatMap) into ONE strength aggregation — no union re-agg. Weights
    stay exact bigint counts end-to-end.
    """
    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, final_sort,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst")
        )
        .agg(F.count("*").alias("w"))
    )
    one, zero = F.lit(1).cast("long"), F.lit(0).cast("long")
    wl, zl = F.col("w"), zero
    return final_sort(
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("v"), wl.alias("outs"),
                        zl.alias("ins"), one.alias("outd"),
                        zero.alias("ind"),
                    ),
                    F.struct(
                        F.col("dst").alias("v"), zl.alias("outs"),
                        wl.alias("ins"), zero.alias("outd"),
                        one.alias("ind"),
                    ),
                )
            ).alias("d")
        )
        .select("d.*")
        .groupBy("v")
        .agg(
            F.sum("outs").alias("out_strength"),
            F.sum("ins").alias("in_strength"),
            F.sum("outd").alias("out_degree"),
            F.sum("ind").alias("in_degree"),
        ),
        spark, sf_dir, "lineitem", "v",
    )


def q91_motif_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edge-attribute predicate + min-hop + in-term vertex-sampling
    motif over the WEIGHTED part co-occurrence graph:
    ``(a)-[e:w>=2]->(b:id%50=0); (b)-[*2..2]->(c)`` — for sampled mid
    parts b, the strong in-ties (pairs co-occurring in ≥ 2 distinct
    orders) crossed with the parts reachable from b at shortest-path
    distance exactly 2. Oracles all three round-6 DSL extensions at
    once: the ``:w>=2`` in-term edge predicate, ``[*2..2]``
    (exact-distance frontier union), and the ``(b:id%50=0)`` in-term
    vertex predicate. Exact integer weights (q83's discipline).

    Scale — this query is WHY the in-term vertex predicate exists:
    the b binding spans both terms, and a sample filter written over
    the ``find()`` output reaches only ONE join branch (Catalyst does
    not propagate it through the join equality into the reach union;
    measured 13 s at sf0.1 that way). In-term, the predicate prunes
    term 1's dst scan AND the reach frontier's source scan — measured
    ~2 s. Weights come from a pre-deduped (order, part) item stream so
    the weight is a plain count(*) with map-side combine, not a
    countDistinct expansion; the min-hop lowering is the dist-2
    frontier (step minus reach(1)) — no subtraction pass. Every input
    derives from lineitem and nothing is broadcast-hinted: the planner
    picks join strategies from real sizes at any scale.
    Join strategy (r14, guide §3.1): all three pattern joins sit on
    aggregate-derived relations whose size statistics Catalyst cannot
    estimate, so the static planner always lands on SortMergeJoin.
    Under the measured 2 GiB lineitem gate the edge-weight relation
    carries a SHUFFLE_HASH preference — the joins keep their shuffles
    but skip both sort passes (3 SortMergeJoin → 3 ShuffledHashJoin;
    1.499 → 1.283 s best-of-5 noop at sf0.1, rows identical). Past
    the gate the hint is absent and the spill-graceful sort-merge
    default stands.
    """
    from puregraphdb_spark.sources.registry import (
        final_sort, shuffle_hash_if_small,
    )

    l = load_table(spark, sf_dir, "lineitem")
    it = l.select("l_orderkey", "l_partkey").distinct()
    a = it.select("l_orderkey", F.col("l_partkey").alias("u"))
    b = it.select("l_orderkey", F.col("l_partkey").alias("v"))
    ew = shuffle_hash_if_small(
        a.join(b, "l_orderkey")
        .filter(F.col("u") < F.col("v"))
        .groupBy("u", "v")
        .agg(F.count("*").alias("w"))
        .select(F.col("u").alias("src"), F.col("v").alias("dst"), "w"),
        spark, sf_dir, "lineitem", expanded=True,
    )
    v = (
        ew.select(F.col("src").alias("id"))
        .unionByName(ew.select(F.col("dst").alias("id")))
        .distinct()
    )
    g = Graph(v, ew)
    m = g.find("(a)-[e:w>=2]->(b:id%50=0); (b)-[*2..2]->(c)",
               attach_vertex_attrs=False)
    return final_sort(
        m.groupBy(F.col("b.id").alias("mid"))
        .agg(
            F.count("*").alias("n_paths"),
            F.countDistinct(F.col("a.id")).alias("n_src"),
            F.countDistinct(F.col("c.id")).alias("n_dst"),
            F.max(F.col("e.w")).alias("max_w"),
        ),
        spark, sf_dir, "lineitem", "mid",
    )


def q95_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the customer→supplier order graph: the
    Pearson correlation between source out-degree and destination
    in-degree across distinct edges (Newman's directed
    out–in assortativity) plus the mean endpoint degrees — the
    one-row structural summary graph analysts check before picking
    partition/skew strategy (disassortative hubs → salting;
    assortative cores → clustering).

    Scale: one dedup shuffle for the edge set, one degree aggregate
    per side (map-side combine), two equi-joins attaching degrees,
    then a single one-pass moment aggregate (corr is a decomposable
    moment sum). The correlation double goes through the decimal snap
    (q51 discipline — Spark and DuckDB sum moments in different
    orders).
    """
    from puregraphdb_spark.functions.numeric import decimal_round
    from puregraphdb_spark.sources.registry import broadcast_if_small

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    e = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("src"),
                F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    # One row per customer/supplier key, so the measured dim-table
    # gates bound the degree relations and the edge set is never
    # re-shuffled for the attach (was 2 stats-less SortMergeJoins;
    # 0.608 → 0.431 s best-of-5 noop at sf0.1, rows identical).
    outd = broadcast_if_small(
        e.groupBy("src").agg(F.count("*").cast("long").alias("src_deg")),
        spark, sf_dir, "customer")
    ind = broadcast_if_small(
        e.groupBy("dst").agg(F.count("*").cast("long").alias("dst_deg")),
        spark, sf_dir, "supplier")
    j = e.join(outd, "src").join(ind, "dst")
    return j.agg(
        F.count("*").alias("n_edges"),
        decimal_round(
            F.corr(F.col("src_deg").cast("double"),
                   F.col("dst_deg").cast("double")), 6, grid=8,
        ).alias("assortativity"),
        decimal_round(F.avg("src_deg"), 4, grid=8).alias("avg_src_deg"),
        decimal_round(F.avg("dst_deg"), 4, grid=8).alias("avg_dst_deg"),
    )


def harmonic_centrality(g: Graph, landmarks: list[int],
                        max_iter: int = 20,
                        weight_col: str | None = None) -> DataFrame:
    """Landmark-approximated harmonic centrality (Eppstein–Wang):
    h(v) = Σ_L 1/d(v, L) over the landmark sample, zero-distance terms
    excluded. Exact when ``landmarks`` is the whole vertex set; with a
    uniform sample of k landmarks, (n/k)·h is an unbiased estimator of
    the full harmonic centrality — the standard way to rank centrality
    at graph sizes where all-pairs BFS is impossible.

    Scale: one pregel BFS per call covering ALL landmarks at once (the
    state relation is (id, landmark, dist)); the centrality reduction
    is one further shuffle on id.
    """
    sp = g.shortest_paths(landmarks, max_iter=max_iter,
                          weight_col=weight_col)
    return (
        sp.filter(F.col("dist") > 0)
        .groupBy("id")
        .agg(
            F.sum(F.lit(1.0) / F.col("dist")).alias("harmonic"),
            F.count("*").alias("n_reached"),
        )
    )


def q85_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient over the part co-occurrence graph
    for sampled vertices (w % 100 = 0, degree ≥ 2):
    cc(w) = 2·T(w) / (deg(w)·(deg(w)−1)) — the per-vertex refinement of
    q24's global triangle count (a graph-db staple for community/role
    analysis).

    Scale: the center sample (% 100) filters the directed neighbor
    relation BEFORE the wedge expansion, so the deg² blowup pays only
    on 1% of vertices; the wedge→edge probe is an equi-join on the
    canonical (u<v) edge set (shuffle join — everything here derives
    from lineitem and is never broadcast-hinted). cc is an integer
    ratio → exact cross-engine; the decimal snap only formats it.
    """
    from puregraphdb_spark.functions.numeric import decimal_round
    from puregraphdb_spark.sources.registry import (
        final_sort, shuffle_hash_if_small,
    )

    l = load_table(spark, sf_dir, "lineitem")
    # All three joins here sit on aggregate-derived relations (no
    # usable stats → SortMergeJoin); under the measured lineitem gate
    # the edge, center and degree relations carry SHUFFLE_HASH so the
    # wedge expansion, the closing-edge semi-probe and the degree
    # attach keep their shuffles but skip the sorts (3 SMJ → 3 SHJ,
    # 1.196 → 0.890 s best-of-5 noop at sf0.1, rows identical). Past
    # the gate the hints are absent and sort-merge stands.
    e = shuffle_hash_if_small(
        part_cooccurrence_edges(l), spark, sf_dir, "lineitem",
        expanded=True)
    und = e.select("u", "v").unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    ctr = shuffle_hash_if_small(
        und.filter(F.col("u") % 100 == 0), spark, sf_dir, "lineitem",
        expanded=True)
    deg = shuffle_hash_if_small(
        ctr.groupBy(F.col("u").alias("w")).agg(
            F.count("*").cast("long").alias("deg")
        ), spark, sf_dir, "lineitem")
    n1 = ctr.select(F.col("u").alias("w"), F.col("v").alias("n1"))
    n2 = ctr.select(F.col("u").alias("w"), F.col("v").alias("n2"))
    wedges = n1.join(n2, "w").filter(F.col("n1") < F.col("n2"))
    tri = (
        wedges.join(
            e, (e["u"] == F.col("n1")) & (e["v"] == F.col("n2")), "leftsemi"
        )
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_tri"))
    )
    cc = (
        F.lit(2.0) * F.col("n_tri").cast("double")
        / (F.col("deg").cast("double") * (F.col("deg") - 1).cast("double"))
    )
    return final_sort(
        deg.join(tri, "w", "left")
        .withColumn("n_tri", F.coalesce(F.col("n_tri"), F.lit(0).cast("long")))
        .filter(F.col("deg") >= 2)
        .select(
            "w", "deg", "n_tri",
            decimal_round(cc, 6, grid=10).alias("cc"),
        ),
        spark, sf_dir, "lineitem", "w",
    )


def q86_reach2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-reachability census via the variable-length motif term:
    for sampled sources (s % 100 = 0) of the directed (u<v) part
    co-occurrence graph, the number of parts reachable within ≤ 2 hops
    — ``find("(a)-[*..2]->(b)")`` as an oracled query (the DSL's
    variable-length lowering is a frontier join + pair dedup, so the
    count is exactly DuckDB's UNION-distinct closure).

    Scale: the % 100 source filter written over the motif result
    pushes through the reach() union branches into the first edge
    scan (the reach relation is lazy — no checkpoint at k=2); pair
    dedup bounds intermediates by the true closure, never path count.
    """
    from puregraphdb_spark.sources.registry import (
        final_sort, shuffle_hash_if_small,
    )

    l = load_table(spark, sf_dir, "lineitem")
    # reach()'s frontier join sits on the dedup-derived edge relation
    # (no stats → SortMergeJoin); the gated SHUFFLE_HASH preference
    # keeps the exchange-reuse between the two frontier sides but
    # skips both sorts (0.999 → 0.838 s best-of-5 noop at sf0.1,
    # rows identical). Past the gate: planner default.
    e = shuffle_hash_if_small(
        part_cooccurrence_edges(l).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        ), spark, sf_dir, "lineitem", expanded=True)
    v = (
        e.select(F.col("src").alias("id"))
        .unionByName(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    m = Graph(v, e).find("(a)-[*..2]->(b)", attach_vertex_attrs=False)
    return final_sort(
        m.filter(F.col("a.id") % 100 == 0)
        .groupBy(F.col("a.id").alias("s"))
        .agg(F.count("*").cast("long").alias("n_reach")),
        spark, sf_dir, "lineitem", "s",
    )


def _co_supply_pairs(spark: SparkSession, sf_dir: str,
                     max_neighborhood: int | None,
                     skew_cap_bytes: int) -> DataFrame:
    """Distinct (customer, supplier) co-supply pairs with the q100
    hub cap: hash-selected neighborhood subsample per customer behind
    the O(1) footer-byte size gate (measured alternatives recorded in
    q100's docstring). Shared by the link-prediction family (q100
    Jaccard, q171 resource allocation) so the gate/cap semantics
    cannot drift between scores."""
    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, table_bytes,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    pairs = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"),
                F.col("l_suppkey").alias("s"))
        .distinct()
    )
    if max_neighborhood is not None and (
        table_bytes(spark, sf_dir, "lineitem") > skew_cap_bytes
    ):
        wcap = Window.partitionBy("c").orderBy(
            F.xxhash64(F.lit(42), "s"), "s")
        pairs = (
            pairs.withColumn("_rk", F.row_number().over(wcap))
            .filter(F.col("_rk") <= max_neighborhood)
            .drop("_rk")
        )
    return pairs


def _co_supply_adjacency(spark: SparkSession, sf_dir: str,
                         skew_cap_bytes: int) -> DataFrame | None:
    """Under-the-gate fast path for q171 (r14): the per-customer
    supplier neighborhood as ONE sorted array —
    ``(c, ss sorted array<bigint>)`` — built by a single
    dedup-and-group shuffle (collect_set dedups, the count_triangles
    trick), instead of the pair relation's distinct + self-join. The
    consumer expands s1<s2 pairs with two nested map-side explodes, so
    the whole quadratic stage runs inside one codegen span with no
    join machinery and one fewer exchange. Bench-measured sf0.1
    (interleaved best-of-5, like-for-like host): q171 1.52 → 1.25 s —
    its 1/deg(z) weight reads size(ss) off the array for free. q100
    was MEASURED SLOWER on this path (1.35 → 1.52 s): its deg(s)
    attachment has to re-explode every neighborhood a second time, so
    it stays on the pair relation.

    Returns ``None`` past ``skew_cap_bytes``: at that scale a hub
    customer's collect_set is exactly the unbounded per-key
    aggregation buffer the q25 docstring forbids — the window-capped
    pair relation (``_co_supply_pairs``) stays the 100-TB path.
    Equality of the two shapes is pinned by
    tests/test_r14_optimizations.py.
    """
    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, table_bytes,
    )

    if table_bytes(spark, sf_dir, "lineitem") > skew_cap_bytes:
        return None
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    raw = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"),
                F.col("l_suppkey").alias("s"))
    )
    adj = raw.groupBy("c").agg(F.sort_array(F.collect_set("s")).alias("ss"))
    # compute-bound expansion: widen past the narrow agg output to the
    # cores (as count_triangles widens its adjacency shuffle)
    return adj.repartition(spark.sparkContext.defaultParallelism)


def q100_link_prediction(spark: SparkSession, sf_dir: str,
                         max_neighborhood: int = 512,
                         skew_cap_bytes: int = 2 << 30) -> DataFrame:
    """Common-neighbor link prediction over the supplier co-supply
    graph: supplier pairs sharing customers scored by Jaccard
    |N(a)∩N(b)| / |N(a)∪N(b)| over their customer neighborhoods — the
    classic link-prediction baseline (recommend a missing supplier
    relationship). Top-50 by score with a total-order tiebreak; the
    counts are exact integers, the score one snapped division.

    Scale (VERDICT r7 item 3): the per-customer pair expansion is
    quadratic in customer degree, so hub customers are capped at
    ``max_neighborhood`` hash-selected suppliers BEFORE the expansion
    — the same seeded-hash sampling as ``Graph.random_walks``'
    ``max_degree`` cap, giving an unbiased neighborhood subsample and
    a hard O(cap²) per-key bound on the self-join. The cap engages
    behind a measured SIZE GATE (``skew_cap_bytes``, default 2 GiB of
    lineitem — the repo's dual-plan discipline): under the gate the
    absolute pair volume is bounded by the data itself, so the exact
    plan runs untouched; past it the window's sort is cheap insurance
    relative to the job against the power-law hub that would own the
    stage at 100 TB. The gating alternatives were MEASURED at sf1
    (round 9, max customer degree 118, mean 39.9, exact 37.2 s):
    an unconditional window cap 74.7 s (full sort-shuffle that
    filters nothing), a true max-degree pre-flight 103 s (re-derives
    the join+distinct under pure-lazy bench honesty), a no-join
    degree upper bound (max orders/cust × max supp/order) 55 s —
    the O(1) footer-size gate is the only variant that is free when
    skew is impossible and still hard-bounds the expansion when the
    data could hide a hub. Callers needing exactness at any size pass
    ``max_neighborhood=None``; tests force the window with
    ``skew_cap_bytes=0``. Degrees attach by two broadcastable joins;
    the top-k is TakeOrderedAndProject — no full sort.
    """
    from puregraphdb_spark.functions.numeric import decimal_round
    from puregraphdb_spark.sources.registry import broadcast_if_small

    # r15: under the gate the expansion runs off the q171 adjacency
    # arrays (two nested map-side explodes in one codegen span — no
    # pair self-join, no SMJ sorts, one fewer exchange), and deg(s)
    # is ONE cheap re-explode of the same (exchange-reused) adjacency.
    # The r14 attempts that lost are different combinations: deriving
    # deg from the adjacency while the ATTACH was still a shuffle join
    # (1.35 → 1.52 s), and the marker-row single-aggregate shape
    # (wash). With the r14 broadcast attach the explode-deg adjacency
    # path wins: isolated interleaved best-of-5 noop 1.300 → 1.151 s
    # (0.89×), faster on 4/5 runs; oracle hash re-verified at sf0.1 +
    # sf0.01. Past the gate the window-capped pair relation stays the
    # 100-TB path unchanged (a hub's collect_set is the unbounded
    # per-key buffer the house rules forbid); fast-path ≡ window-path
    # equality pinned in tests/test_round9_operators.py.
    adj = _co_supply_adjacency(spark, sf_dir, skew_cap_bytes)
    if adj is not None:
        cn = (
            adj.select(F.explode("ss").alias("s1"), "ss")
            .select("s1", F.explode("ss").alias("s2"))
            .filter(F.col("s1") < F.col("s2"))
            .groupBy("s1", "s2")
            .agg(F.count("*").alias("cn"))
        )
        deg_src = adj.select(F.explode("ss").alias("s"))
    else:
        pairs = _co_supply_pairs(spark, sf_dir, max_neighborhood,
                                 skew_cap_bytes)
        a = pairs.select("c", F.col("s").alias("s1"))
        b = pairs.select("c", F.col("s").alias("s2"))
        cn = (
            a.join(b, "c")
            .filter(F.col("s1") < F.col("s2"))
            .groupBy("s1", "s2")
            .agg(F.count("*").alias("cn"))
        )
        # The self-join stays sort-merge DELIBERATELY (r14): a
        # SHUFFLE_HASH hint on the pair relation was measured SLOWER
        # (2.04 → 2.66 s best-of-5 noop at sf0.1) — the per-partition
        # hash build of the whole neighborhood relation loses to the
        # sort it replaces here. The degree attach is the win instead:
        # deg is one row per supplier key, so the measured
        # supplier-table gate broadcasts it and the (s1,s2) aggregate
        # is never re-shuffled for the attach (2 SortMergeJoin → 2
        # BroadcastHashJoin; 2.36 → 2.00 s best-of-5 noop).
        deg_src = pairs

    deg = broadcast_if_small(
        deg_src.groupBy("s").agg(F.count("*").alias("d")),
        spark, sf_dir, "supplier")
    scored = (
        cn.join(deg.select(F.col("s").alias("s1"), F.col("d").alias("d1")),
                "s1")
        .join(deg.select(F.col("s").alias("s2"), F.col("d").alias("d2")),
              "s2")
        .select(
            "s1", "s2", F.col("cn").cast("long").alias("cn"),
            decimal_round(
                F.col("cn").cast("double")
                / (F.col("d1") + F.col("d2") - F.col("cn")).cast("double"),
                6, grid=10,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.desc("jaccard"), "s1", "s2").limit(50)


def q171_resource_allocation(spark: SparkSession, sf_dir: str,
                             max_neighborhood: int = 512,
                             skew_cap_bytes: int = 2 << 30) -> DataFrame:
    """Resource-allocation link prediction over the q100 co-supply
    core: supplier pairs scored Σ_{z ∈ N(a)∩N(b)} 1/deg(z) — common
    neighbors weighted INVERSELY by how promiscuous they are (a
    customer buying from everyone is weak evidence; a two-supplier
    customer is strong). The family's degree-penalized member
    (Adamic-Adar is the same shape with 1/log deg — its log weight is
    libm territory, while RA's rational weights stay exact, the q70
    no-libm discipline; on graphs with hub degrees in the hundreds
    the two rankings are near-identical anyway).

    Exactness: each neighbor weight is the exact integer
    10¹² div deg(z) (pure long division, no FP), summed in bigint —
    order-immune — and divided once for display. The top-50 ORDERS BY
    the integer sum itself, so the ranking has no FP tie hazards.

    Scale: identical shape to q100 (shared ``_co_supply_pairs`` with
    the measured hub gate); the weight attaches map-side to the
    customer rows BEFORE the pair expansion (one broadcastable
    |customers|-row join), so the quadratic stage carries one extra
    long. Top-k is TakeOrderedAndProject.
    """
    from puregraphdb_spark.functions.numeric import decimal_round

    adj = _co_supply_adjacency(spark, sf_dir, skew_cap_bytes)
    if adj is not None:
        # under-gate fast path: deg(z) = size(ss) read straight off
        # the adjacency array — the weight join disappears entirely
        # (true integer division, same no-FP rationale as below).
        scored = (
            adj.select(F.explode("ss").alias("s1"), "ss",
                       F.expr("1000000000000L div size(ss)")
                       .cast("long").alias("w"))
            .select("s1", F.explode("ss").alias("s2"), "w")
            .filter(F.col("s1") < F.col("s2"))
            .groupBy("s1", "s2")
            .agg(F.count("*").cast("long").alias("cn"),
                 F.sum("w").cast("long").alias("ra_w"))
        )
    else:
        pairs = _co_supply_pairs(spark, sf_dir, max_neighborhood,
                                 skew_cap_bytes)
        cdeg = pairs.groupBy("c").agg(F.count("*").alias("dz"))
        # true integer division (SQL `div`): a double 1e12/dz cast long
        # truncates differently than floor once dz > ~4k (ulp(1e12) =
        # 2.4e-4 > 1/dz) — the no-FP rule applied to the weight itself
        wp = pairs.join(cdeg, "c").select(
            "c", "s",
            F.expr("1000000000000L div dz").cast("long").alias("w"),
        )
        a = wp.select("c", F.col("s").alias("s1"), "w")
        b = wp.select("c", F.col("s").alias("s2"))
        scored = (
            a.join(b, "c")
            .filter(F.col("s1") < F.col("s2"))
            .groupBy("s1", "s2")
            .agg(F.count("*").cast("long").alias("cn"),
                 F.sum("w").cast("long").alias("ra_w"))
        )
    return (
        scored.orderBy(F.desc("ra_w"), "s1", "s2").limit(50)
        .select(
            "s1", "s2", "cn",
            decimal_round(
                F.col("ra_w").cast("double") / F.lit(1e12), 6,
                grid=10).alias("ra_score"),
        )
    )


def q177_negative_sampling(spark: SparkSession, sf_dir: str,
                           k: int = 3) -> DataFrame:
    """Training-data negative sampling for link prediction: for each
    observed co-supply edge (customer %50 sample), ``k`` DETERMINISTIC
    negative supplier candidates from integer multiplicative-hash
    probing over the supplier keyspace, each flagged by a membership
    check against the true edge set — the (positive, negatives)
    triple generator every graph-ML trainer needs, with the
    "filtered sampling" decision (is the candidate secretly a true
    edge?) made exact by an edge-set join instead of hoped-away.

    Determinism & oracle-ability: candidate s'ᵢ = 1 + (s−1 + i·P)
    mod n_supp with P = 2654435761 (Knuth's multiplicative constant)
    — pure bigint arithmetic both engines share; the flag is an
    exact membership join. No RNG: re-runs and cross-engine runs
    produce byte-identical training rows (seeded-hash discipline of
    q69/q112).

    Scale: the edge relation builds once (q100's pair grain); the
    candidate explode is k rows per edge map-side; the membership
    check is ONE left join on the (c, s') key against the edge set
    co-partitioned by the same key. n_supp is a 1-row broadcast.
    """
    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, final_sort,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    edges = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("c"),
                F.col("l_suppkey").alias("s"))
        .distinct()
    )
    n_supp = load_table(spark, sf_dir, "supplier").agg(
        F.count("*").alias("n_supp"))
    P = 2654435761
    cand = (
        edges.filter(F.col("c") % 50 == 0)
        .crossJoin(F.broadcast(n_supp))
        .select(
            "c", F.col("s").alias("s_pos"),
            F.explode(F.array(*[F.lit(i) for i in range(1, k + 1)]))
            .alias("rank"),
            "n_supp",
        )
        .select(
            "c", "s_pos", "rank",
            (F.lit(1) + (F.col("s_pos") - 1
                         + F.col("rank") * F.lit(P)) % F.col("n_supp"))
            .cast("long").alias("s_neg"),
        )
    )
    hits = edges.select(F.col("c"), F.col("s").alias("s_neg"),
                        F.lit(1).alias("hit"))
    out = (
        cand.join(hits, ["c", "s_neg"], "left")
        .select(
            "c", "s_pos", "rank", "s_neg",
            F.coalesce("hit", F.lit(0)).cast("long")
            .alias("is_true_edge"),
        )
    )
    return final_sort(out, spark, sf_dir, "lineitem",
                      "c", "s_pos", "rank")


def q103_graph_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal graph growth: per month, the number of NEW distinct
    customer→supplier edges (first order that realizes the pair) and
    the cumulative edge count — the time-resolved view of how the
    order graph densifies, the first chart every temporal-graph
    analysis draws. Exact integer counts; months are date_trunc
    epochs identical across engines.

    Scale: one (pair → min month) aggregate over the joined stream,
    one per-month count, then a window over the tiny month relation.
    """
    from pyspark.sql import Window as W

    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, final_sort,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate")
    l = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey")
    first_seen = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .groupBy(
            F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .agg(F.min(F.date_trunc("month", "o_orderdate")).alias("month"))
    )
    monthly = first_seen.groupBy("month").agg(
        F.count("*").cast("long").alias("n_new"))
    w = W.orderBy("month").rowsBetween(W.unboundedPreceding, W.currentRow)
    return final_sort(
        monthly.select(
            "month", "n_new",
            F.sum("n_new").over(w).cast("long").alias("cum_edges"),
        ),
        spark, sf_dir, "orders", "month",
    )


def q111_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the customer→supplier order graph:
    per out-degree value, how many customers have it, plus each
    bar's share of all connected customers — the shape summary
    (power-law vs uniform) that decides whether a graph workload
    needs skew handling (q97's per-key twin at the distribution
    level).

    Exactness: counts are exact integers; the share is ONE snapped
    division of exact integers.

    Scale: the (custkey, suppkey) dedup is the only wide shuffle
    (same gated broadcast edge build as q23); the degree agg rides
    that partitioning, the histogram partial-aggregates to |distinct
    degrees| rows map-side, and the 1-row total crosses back via a
    broadcast nested loop over the tiny histogram relation.
    """
    from puregraphdb_spark.functions.numeric import decimal_round
    from puregraphdb_spark.sources.registry import (
        broadcast_if_small, final_sort,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    l = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    edges = (
        l.join(broadcast_if_small(o, spark, sf_dir, "orders"),
               o.o_orderkey == l.l_orderkey)
        .select(F.col("o_custkey").alias("src"), F.col("l_suppkey").alias("dst"))
        .distinct()
    )
    deg = edges.groupBy("src").agg(F.count("*").alias("degree"))
    hist = deg.groupBy("degree").agg(F.count("*").alias("n_cust"))
    tot = deg.agg(F.count("*").cast("double").alias("n_tot"))
    return final_sort(
        hist.crossJoin(F.broadcast(tot)).select(
            "degree", "n_cust",
            decimal_round(
                F.col("n_cust").cast("double") / F.col("n_tot"), 6, grid=10,
            ).alias("share"),
        ),
        spark, sf_dir, "orders", "degree",
    )


def temporal_reach(edges: DataFrame, sources: DataFrame,
                   k: int = 3) -> DataFrame:
    """Time-respecting (temporal) reachability: earliest-arrival BFS
    where timestamps must be NON-DECREASING along a path — the
    standard temporal-graph semantics (Wu et al. 2014, "Path problems
    in temporal graphs"): an edge (u, v, t) extends a journey that
    reached u by time <= t. A static-graph BFS over the same edges
    OVERSTATES reach (it happily chains a Monday edge after a Friday
    one); this is the honest reach for contagion / information-flow /
    supply-disruption questions.

    ``edges``: (src, dst, ts) with a numeric/orderable ts;
    ``sources``: (id) — journeys start at any time (arrival -inf).
    Returns (id, arrival): every vertex reachable within ``k`` hops
    and the EARLIEST time any time-respecting journey arrives there
    (sources themselves are not emitted unless re-reached by edges).

    Scale: at most k supersteps of ``Graph.pregel``, each (state ⋈
    edges on src) + min-combine — the Pregel earliest-arrival shape;
    the state carries ONE scalar per vertex and messages
    partial-aggregate map-side. Label-correcting: a later superstep
    can LOWER an arrival (multi-hop journey through an early edge
    chain), so state merges by min. The loop stops after the first
    superstep in which no arrival appeared or went down: the rounds
    are then at a fixpoint, so the rows equal those of k rounds.
    """
    def step(e: DataFrame, state: DataFrame) -> DataFrame:
        msgs = (
            e.join(state, e.src == state.id)
            .filter(F.col("arrival").isNull()
                    | (F.col("ts") >= F.col("arrival")))
            .select(F.col("dst").alias("id"),
                    F.col("ts").alias("cand"))
            .groupBy("id")
            .agg(F.min("cand").alias("cand"))
        )
        return (
            state.withColumn("__had", F.lit(True))
            .join(msgs, "id", "full_outer")
            .select(
                "id",
                F.when(
                    F.col("arrival").isNull(), F.col("cand")
                ).when(
                    F.col("cand").isNull(), F.col("arrival")
                ).otherwise(
                    F.least("arrival", "cand")
                ).alias("arrival"),
                F.col("arrival").alias("__old"),
                "__had",
            )
        )

    e = edges.select("src", "dst", F.col("ts").cast("double").alias("ts"))
    state = Graph(sources, e).pregel(
        e,
        lambda _: sources.select(
            "id", F.lit(None).cast("double").alias("arrival")),
        step,
        changed=F.col("__had").isNull()
        | ~F.col("arrival").eqNullSafe(F.col("__old")),
        max_iter=k,
    )
    return state.filter(F.col("arrival").isNotNull())
