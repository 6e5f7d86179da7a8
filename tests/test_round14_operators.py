"""Round-14 operators: Lindley-window clamped balance, two-sided
capped balance, and their equivalences (VERDICT r13 items 3/7,
ADVICE r13 guards)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _ref_fold(rows, cap=None):
    """Reference integer fold (the retired r13 Arrow loop): rows are
    (ts_sortable, delta_micros) per one user, returns
    (final, resets, caps, maxbal)."""
    bal = resets = caps = mx = 0
    for _, d in sorted(rows):
        nb = bal + d
        if nb < 0:
            resets += 1
            nb = 0
        elif cap is not None and nb > cap:
            caps += 1
            nb = cap
        bal = nb
        if bal > mx:
            mx = bal
    return bal, resets, caps, mx


def _ledger_df(spark, per_user):
    """per_user: {uid: [delta_micros, ...]} → events-shaped frame."""
    rows = []
    eid = 0
    for uid, deltas in per_user.items():
        for k, d in enumerate(deltas):
            eid += 1
            rows.append(
                (eid, uid, f"2024-01-01 {k // 60:02d}:{k % 60:02d}:00",
                 "purchase" if d >= 0 else "view", abs(d) / 1e6)
            )
    return spark.createDataFrame(
        rows,
        "event_id long, user_id long, ts string, event_type string,"
        " value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def test_clamped_balance_window_equals_reference_fold(spark):
    """The Lindley-identity window plan must agree with the explicit
    integer fold on deltas that exercise every regime: clamp at step
    1, repeated clamps, deep negatives, recovery, all-positive,
    all-negative, zero deltas."""
    import random

    rng = random.Random(1404)
    per_user = {
        1: [5, -3, -4, 2],            # hand case: bal 2, resets 1, max 5
        2: [-1],                       # clamp at first step
        3: [-5, -5, -5],               # every step clamps
        4: [10, 20, 30],               # never clamps
        5: [0, 0, 0],                  # zero deltas: S touches m, no reset
        6: [3, -3, -3, 3, -3, -3],     # hits exactly zero then below
    }
    for uid in range(7, 27):
        per_user[uid] = [rng.randint(-50, 50) for _ in
                         range(rng.randint(1, 40))]
    from puregraphdb_spark.operators.events import clamped_balance

    df = _ledger_df(spark, per_user)
    got = {r["user_id"]: r for r in clamped_balance(df).collect()}
    for uid, deltas in per_user.items():
        want_final, want_resets, _, want_max = _ref_fold(
            list(enumerate(deltas)))
        r = got[uid]
        assert (r["n_events"], r["final_bal"], r["n_resets"],
                r["max_bal"]) == (
            len(deltas), want_final, want_resets, want_max), uid


def test_clamped_balance_zero_delta_is_not_a_reset(spark):
    """A step landing exactly AT the running minimum (delta 0 at
    balance 0) must not count as a reset: resets are strict new
    minima (S_k < m_{k-1})."""
    from puregraphdb_spark.operators.events import clamped_balance

    out = clamped_balance(_ledger_df(spark, {1: [-2, 0, -1]})).collect()
    r = out[0]
    # fold: -2 clamps (reset), 0 keeps bal 0 (no reset), -1 clamps
    assert (r["final_bal"], r["n_resets"], r["max_bal"]) == (0, 2, 0)


def test_clamped_balance_plan_is_pure_jvm(spark):
    """VERDICT r13 item 3: the default door must not contain a Python
    eval node, and the window partition must feed the groupBy without
    a second data shuffle."""
    from puregraphdb_spark.operators.events import clamped_balance

    df = clamped_balance(_ledger_df(spark, {1: [1, -1]}))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan and "Arrow" not in plan
    assert plan.count("Window") == 2
    # exactly one hash exchange (createDataFrame local relations add
    # none; final_sort is not applied to the bare operator)
    assert plan.count("Exchange hashpartitioning") == 1


def test_capped_balance_hand_case(spark):
    """cap=4 micros: +5 caps at 4, -7 clamps at 0, +3 → 3."""
    from puregraphdb_spark.operators.events import capped_balance

    out = capped_balance(_ledger_df(spark, {1: [5, -7, 3]}),
                         cap_micros=4).collect()
    r = out[0]
    assert (r["n_events"], r["final_bal"], r["n_resets"], r["n_caps"],
            r["max_bal"]) == (3, 3, 1, 1, 4)


def test_capped_balance_matches_reference_fold(spark):
    import random

    rng = random.Random(1414)
    per_user = {uid: [rng.randint(-30, 30) for _ in
                      range(rng.randint(1, 40))]
                for uid in range(1, 16)}
    from puregraphdb_spark.operators.events import capped_balance

    cap = 25
    got = {r["user_id"]: r for r in
           capped_balance(_ledger_df(spark, per_user),
                          cap_micros=cap).collect()}
    for uid, deltas in per_user.items():
        f, rs, cs, mx = _ref_fold(list(enumerate(deltas)), cap=cap)
        r = got[uid]
        assert (r["final_bal"], r["n_resets"], r["n_caps"],
                r["max_bal"]) == (f, rs, cs, mx), uid


def test_capped_balance_huge_cap_degenerates_to_clamped(spark):
    """With a cap no trajectory reaches, the two-sided clamp IS the
    zero-floor Lindley balance — the fold and the window plan must
    agree column-for-column (n_caps = 0)."""
    import random

    rng = random.Random(1424)
    per_user = {uid: [rng.randint(-40, 40) for _ in
                      range(rng.randint(1, 30))]
                for uid in range(1, 13)}
    from puregraphdb_spark.operators.events import (
        capped_balance, clamped_balance)

    df = _ledger_df(spark, per_user)
    capped = {r["user_id"]: r for r in
              capped_balance(df, cap_micros=10**9).collect()}
    clamped = {r["user_id"]: r for r in clamped_balance(df).collect()}
    assert set(capped) == set(clamped)
    for uid, c in capped.items():
        w = clamped[uid]
        assert c["n_caps"] == 0
        assert (c["final_bal"], c["n_resets"], c["max_bal"]) == (
            w["final_bal"], w["n_resets"], w["max_bal"])


def test_capped_balance_rejects_nonpositive_cap(spark):
    from puregraphdb_spark.operators.events import capped_balance

    with pytest.raises(ValueError):
        capped_balance(_ledger_df(spark, {1: [1]}), cap_micros=0)


def test_capped_balance_call_door(spark):
    from puregraphdb_spark.engine import Engine
    from tests.conftest import SF_DIR

    eng = Engine(spark, SF_DIR)
    out = eng.sql(
        "CALL capped_balance(events => 'events',"
        " cap_micros => 1000000)")
    rows = out.collect()
    assert rows and "n_caps" in out.columns
    assert all(r["max_bal"] <= 1000000 for r in rows)


def test_langid_kappa_hand_case(spark):
    """2×2 hand case: source X has 3 en docs predicted en + 1 de doc
    predicted en → n=4, agree=3, rows (en:3, de:1), cols (en:4) →
    S = 3·4 + 1·0 = 12, kappa = (4·3 − 12)/(16 − 12) = 0."""
    from puregraphdb_spark.operators.pipeline import langid_kappa

    rows = [
        ("X", "en", "the and of to is"),
        ("X", "en", "the and that with"),
        ("X", "en", "of to is in"),
        ("X", "de", "the and of"),           # declared de, reads en
        # source Y: perfect 2-label agreement → kappa 1.0
        ("Y", "en", "the and of to"),
        ("Y", "de", "der die das und"),
    ]
    df = spark.createDataFrame(rows, "source string, lang string,"
                                     " text string")
    got = {r["source"]: r for r in langid_kappa(df).collect()}
    x = got["X"]
    assert (x["n_docs"], x["n_agree"], x["s_exp"]) == (4, 3, 12)
    assert x["kappa"] == 0.0
    y = got["Y"]
    assert y["kappa"] == 1.0


def test_langid_kappa_degenerate_constant_labels(spark):
    """All docs one lang AND one prediction: pe = 1 → pinned 0.0
    (not a NaN/crash)."""
    from puregraphdb_spark.operators.pipeline import langid_kappa

    df = spark.createDataFrame(
        [("Z", "en", "the and of")] * 3,
        "source string, lang string, text string")
    r = langid_kappa(df).collect()[0]
    assert r["kappa"] == 0.0 and r["n_agree"] == 3


def test_mann_whitney_hand_case(spark):
    """A = {1, 3}, B = {2, 2}: sorted 1,2,2,3 — avg ranks 1, 2.5,
    2.5, 4 → R_A = 5, U_A = 5 − 3 = 2, u2 = 4; tie_sum = 2³−2 = 6;
    rank_biserial = 4/4 − 1 = 0."""
    from puregraphdb_spark.operators.extras import mann_whitney_u

    rows = [(1, "purchase", 1.0), (2, "purchase", 3.0),
            (3, "view", 2.0), (4, "view", 2.0)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double")
    r = mann_whitney_u(df).collect()[0]
    assert (r["pair"], r["n_a"], r["n_b"], r["u2"], r["tie_sum"],
            r["rank_biserial"]) == ("view", 2, 2, 4, 6, 0.0)


def test_mann_whitney_stochastic_dominance(spark):
    """A strictly above B: U_A = n_a·n_b (max), rank_biserial = +1;
    reversed gives −1."""
    from puregraphdb_spark.operators.extras import mann_whitney_u

    rows = ([(i, "purchase", 100.0 + i) for i in range(5)]
            + [(10 + i, "view", float(i)) for i in range(4)])
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double")
    r = mann_whitney_u(df).collect()[0]
    assert r["u2"] == 2 * r["n_a"] * r["n_b"]
    assert r["rank_biserial"] == 1.0


def test_mann_whitney_value_grain_equals_per_row_window(spark):
    """q183's value-grain rank map ≡ the per-row rank/count window form
    it replaced, exactly, on tie-heavy data: four types over five
    distinct values, so nearly every rank is a tie. u2 is also checked
    against the brute-force pair count 2·Σ([a > b] + ½[a = b])."""
    import random

    from pyspark.sql import Window

    from puregraphdb_spark.functions.numeric import decimal_round
    from puregraphdb_spark.operators.extras import mann_whitney_u

    rnd = random.Random(183)
    types = ["purchase", "view", "cart", "refund"]
    rows = [(i, rnd.choice(types), float(rnd.randint(0, 4)))
            for i in range(400)]
    df = spark.createDataFrame(
        rows, "event_id long, event_type string, value double")
    got = {r["pair"]: tuple(r) for r in mann_whitney_u(df).collect()}

    a = df.filter(F.col("event_type") == "purchase")
    per_row = None
    for t in types[1:]:
        part = (
            a.select(F.lit(t).alias("pair"), F.lit(1).alias("is_a"),
                     F.col("value").alias("v"))
            .unionByName(
                df.filter(F.col("event_type") == t).select(
                    F.lit(t).alias("pair"), F.lit(0).alias("is_a"),
                    F.col("value").alias("v")))
        )
        per_row = part if per_row is None else per_row.unionByName(part)
    w = Window.partitionBy("pair").orderBy("v")
    ranked = per_row.select(
        "pair", "is_a",
        (F.rank().over(w) * 2
         + F.count(F.lit(1)).over(Window.partitionBy("pair", "v")) - 1)
        .cast("long").alias("avg2"),
        F.count(F.lit(1)).over(Window.partitionBy("pair", "v"))
        .cast("long").alias("t"),
    )
    ref = ranked.groupBy("pair").agg(
        F.sum("is_a").cast("long").alias("n_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("n_b"),
        F.sum(F.col("is_a") * F.col("avg2")).cast("long").alias("rs2"),
        F.sum(F.col("t") * F.col("t") - 1).cast("long").alias("tie_sum"),
    )
    u2 = (F.col("rs2") - F.col("n_a") * (F.col("n_a") + 1)).cast("long")
    want = {
        r["pair"]: tuple(r) for r in ref.select(
            "pair", "n_a", "n_b", u2.alias("u2"), "tie_sum",
            decimal_round(
                u2.cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
                - F.lit(1.0), 6, grid=10).alias("rank_biserial"),
        ).collect()
    }
    assert got == want and len(got) == 3

    va = [v for _, ty, v in rows if ty == "purchase"]
    for t in types[1:]:
        vb = [v for _, ty, v in rows if ty == t]
        brute = sum(2 * (x > y) + (x == y) for x in va for y in vb)
        assert got[t][3] == brute


def test_benford_hand_case(spark):
    """Digits extracted from the decimal-grid string, zeros skipped
    (0.05 → 5), shares sum to 1."""
    from puregraphdb_spark.operators.profile import benford_profile

    df = spark.createDataFrame(
        [(123.45,), (19.99,), (0.05,), (911.0,), (1.23,)],
        "v double")
    rows = {r["digit"]: r for r in
            benford_profile(df, "v").collect()}
    assert rows[1]["n"] == 3   # 123.45, 19.99, 1.23
    assert rows[5]["n"] == 1   # 0.05
    assert rows[9]["n"] == 1   # 911.0
    assert abs(sum(r["share"] for r in rows.values()) - 1.0) < 1e-9
    assert abs(rows[1]["benford"] - 0.30103) < 1e-9


def test_spearman_hand_cases(spark):
    """Perfect monotone (nonlinear) → +1; perfect inverse → −1;
    constant column → pinned 0.0."""
    from puregraphdb_spark.operators.extras import spearman_corr

    rows = (
        [("up", float(i), float(i ** 3)) for i in range(1, 6)]
        + [("down", float(i), -float(i ** 3)) for i in range(1, 6)]
        + [("flat", float(i), 7.0) for i in range(1, 6)]
    )
    df = spark.createDataFrame(rows, "grp string, a double, b double")
    got = {r["grp"]: r["rho"] for r in
           spearman_corr(df, "grp", "a", "b").collect()}
    assert got["up"] == 1.0
    assert got["down"] == -1.0
    assert got["flat"] == 0.0


def test_spearman_ties_average_ranks(spark):
    """x = [1,2,2,3], y = [1,3,3,4]: tied pairs get identical average
    ranks in both columns → rho = 1 exactly."""
    from puregraphdb_spark.operators.extras import spearman_corr

    df = spark.createDataFrame(
        [("g", 1.0, 1.0), ("g", 2.0, 3.0), ("g", 2.0, 3.0),
         ("g", 3.0, 4.0)],
        "grp string, a double, b double")
    assert spearman_corr(df, "grp", "a", "b").collect()[0]["rho"] == 1.0


def test_ks_hand_case(spark):
    """A = {1, 2}, B = {3, 4}: disjoint supports → D = 1 (d_num =
    nA·nB = 4). A == B → D = 0."""
    from puregraphdb_spark.operators.extras import ks_statistic

    df1 = spark.createDataFrame(
        [(1, "purchase", 1.0), (2, "purchase", 2.0),
         (3, "view", 3.0), (4, "view", 4.0)],
        "event_id long, event_type string, value double")
    r = ks_statistic(df1).collect()[0]
    assert (r["pair"], r["d_num"], r["d"]) == ("view", 4, 1.0)
    df2 = spark.createDataFrame(
        [(1, "purchase", 1.0), (2, "purchase", 2.0),
         (3, "view", 1.0), (4, "view", 2.0)],
        "event_id long, event_type string, value double")
    r2 = ks_statistic(df2).collect()[0]
    assert (r2["d_num"], r2["d"]) == (0, 0.0)


def test_anf_edge_batched_equals_unbatched(spark):
    """edge_batch splits the per-superstep message relation into
    sequential hash batches; because every batch reads the
    START-of-superstep registers and the merge is a monotone max,
    the batched neighborhood function must equal the unbatched one
    EXACTLY at every hop (the betweenness source_batch discipline)."""
    from puregraphdb_spark.operators.graph import Graph

    edges = [(i, i + 1) for i in range(12)] + [(0, 6), (3, 9), (11, 0)]
    e = spark.createDataFrame(edges, "src long, dst long")
    v = spark.createDataFrame([(i,) for i in range(13)], "id long")
    g = Graph(v, e.unionByName(
        e.selectExpr("dst as src", "src as dst")).distinct())
    plain = g.anf(m=16, max_iter=6)
    batched = g.anf(m=16, max_iter=6, edge_batch=3)
    assert len(plain) == len(batched) >= 3
    # the REGISTERS are bit-identical (monotone max merge); the N(t)
    # readout sums per-vertex doubles in partition order, so the two
    # plans may differ in the last float bits — compare to 1e-12
    # relative, far below any estimate semantics.
    for (t1, n1), (t2, n2) in zip(plain, batched):
        assert t1 == t2
        assert abs(n1 - n2) <= 1e-12 * max(abs(n1), 1.0), (t1, n1, n2)


def test_ngram_jaccard_empty_shingles_no_ansi_crash(spark):
    """ADVICE r13: sub-3-char docs have empty shingle sets; the pair
    relation must filter zero-intersection pairs BEFORE the division
    (0/0 → DIVIDE_BY_ZERO under ANSI, NaN-passes-threshold without).
    doc_ids are multiples of 100 so both land in the reference side
    and probe side of the q63 grain."""
    import puregraphdb_spark.operators.llm as llm

    rows = [(0, "ab"), (100, "xy"), (200, "abcabcabc"),
            (300, "abcabcabc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sh = df.select(
        "doc_id", llm.char_ngram_set(F.col("text")).alias("sh"))
    a = sh.filter(F.col("doc_id") % 100 == 0).select(
        F.col("doc_id").alias("src"), F.col("sh").alias("sh_a"),
        F.size("sh").alias("na"))
    b = sh.select(F.col("doc_id").alias("dst"),
                  F.col("sh").alias("sh_b"), F.size("sh").alias("nb"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    pairs = (
        b.join(a, F.col("dst") != F.col("src"))
        .select("src", "dst", inter.alias("__i"), "na", "nb")
        .filter(F.col("__i") > 0)
        .select("src", "dst",
                (F.col("__i").cast("double")
                 / (F.col("na") + F.col("nb") - F.col("__i"))
                 .cast("double")).alias("jac"))
        .filter(F.col("jac") >= 0.6)
    )
    got = {(r["src"], r["dst"]) for r in pairs.collect()}
    # the two empty-shingle docs (ab, xy) must never pair; the two
    # identical 9-char docs must pair both ways
    assert got == {(200, 300), (300, 200)}
