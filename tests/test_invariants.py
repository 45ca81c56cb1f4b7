"""Property-style invariants (SURVEY.md §5.4) + approx-agg tolerance checks."""

from __future__ import annotations

from pyspark.sql import functions as F

from mimranalytics_core_spark.operators._base import t
from mimranalytics_core_spark.registry import all_ops
from tests.conftest import SF_SMALL

OPS = all_ops()


def test_dedup_idempotent(spark):
    once = OPS["dedup_exact_norm"].fn(spark, SF_SMALL)
    assert once.count() == once.distinct().count()


def test_union_all_count_additivity(spark):
    c = t(spark, SF_SMALL, "customer").count()
    s = t(spark, SF_SMALL, "supplier").count()
    assert OPS["set_union_all"].fn(spark, SF_SMALL).count() == c + s


def test_topk_subset_of_full_sort(spark):
    top = {r.o_orderkey for r in OPS["sort_limit_topk"].fn(spark, SF_SMALL).collect()}
    o = t(spark, SF_SMALL, "orders")
    full = [
        r.o_orderkey
        for r in o.orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc()).collect()
    ]
    assert top == set(full[:25])


def test_approx_distinct_within_tolerance(spark):
    approx = {
        r.event_type: r.approx_users
        for r in OPS["agg_approx_distinct"].fn(spark, SF_SMALL).collect()
    }
    exact = {
        r.event_type: r.n_users for r in OPS["agg_count_distinct"].fn(spark, SF_SMALL).collect()
    }
    for k, ex in exact.items():
        assert abs(approx[k] - ex) <= max(2, 0.05 * ex), (k, approx[k], ex)


def test_khop_monotone_in_k(spark):
    """2-hop neighborhood contains the 1-hop frontier's successors."""
    res = {r.node: r.hop for r in OPS["graph_khop"].fn(spark, SF_SMALL).collect()}
    assert all(h in (0, 1, 2) for h in res.values())
    assert any(h == 2 for h in res.values())  # region tier reached


def test_cross_sf_consistency(spark):
    """sf0.001 customers are a prefix-subset of sf0.01 (same generator):
    flagship logic must agree on shared group keys' schema."""
    small = OPS["flagship_exposure_rollup"].fn(spark, SF_SMALL)
    big = OPS["flagship_exposure_rollup"].fn(spark, "/root/testdata/sf0.01")
    assert [f.name for f in small.schema.fields] == [f.name for f in big.schema.fields]
    assert small.count() > 0 and big.count() > 0


def test_minhash_lsh_superset_check(spark):
    """LSH-verified pairs at θ=0.9 must equal the exhaustive exact-Jaccard
    pairs (recall=1 within banding probability) — checked exhaustively on
    the small corpus."""
    lsh = {
        (r.doc_a, r.doc_b) for r in OPS["dedup_minhash_lsh"].fn(spark, SF_SMALL).collect()
    }
    d = t(spark, SF_SMALL, "documents")
    toks = d.select("doc_id", F.array_distinct(F.split(F.lower("text"), " ")).alias("toks"))
    a = toks.select(F.col("doc_id").alias("a_id"), F.col("toks").alias("a_toks"))
    b = toks.select(F.col("doc_id").alias("b_id"), F.col("toks").alias("b_toks"))
    inter = F.size(F.array_intersect("a_toks", "b_toks"))
    union = F.size(F.array_union("a_toks", "b_toks"))
    exact = {
        (r.a_id, r.b_id)
        for r in a.crossJoin(b)
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(inter.cast("double") / union >= 0.9)
        .collect()
    }
    assert lsh == exact


def test_sample_stratified_bounds_and_determinism(spark):
    ev = t(SF_SMALL and spark, SF_SMALL, "events")
    s1 = OPS["sample_stratified"].fn(spark, SF_SMALL)
    s2 = OPS["sample_stratified"].fn(spark, SF_SMALL)
    r1 = sorted(r.event_id for r in s1.collect())
    r2 = sorted(r.event_id for r in s2.collect())
    assert r1 == r2  # seeded → deterministic
    n_click_total = ev.filter(F.col("event_type") == "click").count()
    n_click_sample = s1.filter(F.col("event_type") == "click").count()
    assert 0 < n_click_sample < n_click_total


def test_ewma_matches_recurrence(spark):
    rows = OPS["ts_ewma"].fn(spark, SF_SMALL).collect()
    ev = t(spark, SF_SMALL, "events").collect()
    by_user = {}
    for r in sorted(ev, key=lambda r: (r.ts, r.event_id)):
        by_user.setdefault(r.user_id, []).append(r)
    import math
    expected = {}
    for uid, es in by_user.items():
        y = None
        for r in es[:20]:
            y = r.value if y is None else 0.3 * r.value + 0.7 * y
            expected[(uid, r.event_id)] = math.floor(y * 1e4 + 0.5) / 1e4
    got = {(r.user_id, r.event_id): r.ewma for r in rows}
    assert len(got) == len(expected)
    mismatches = [
        k for k in expected if abs(got[k] - expected[k]) > 1e-6
    ]
    assert not mismatches, mismatches[:5]


def test_betweenness_nonnegative_and_hubs_dominate(spark):
    res = {r.node: r.betweenness for r in OPS["graph_betweenness"].fn(spark, SF_SMALL).collect()}
    assert all(v >= 0 for v in res.values())
    # nation nodes are the only cut vertices between customers and regions →
    # every positive-betweenness node is an interior (nation/region) node
    top = max(res, key=res.get)
    assert top.startswith("n:") or top.startswith("r:")


def test_ubo_tree_shares_sum_to_one(spark):
    """On the hierarchy tree, each nation's incoming customer weights sum to
    1 (they are shares of positive acctbal), so UBO of a nation's customers
    onto that nation sums to ~1."""
    from mimranalytics_core_spark import catalog

    edges = catalog.hierarchy_edges(spark, SF_SMALL)
    sums = (
        edges.filter(F.col("rel_type") == "customer_of")
        .groupBy("dst")
        .agg(F.sum("weight").alias("s"))
        .collect()
    )
    for r in sums:
        assert abs(r.s - 1.0) < 1e-9, (r.dst, r.s)


def test_approx_percentile_within_rank_error(spark):
    """GK sketch at accuracy 10k: each approx percentile must fall between
    the exact neighboring quantiles ±1% rank."""
    from mimranalytics_core_spark.operators._base import t as _t

    o = _t(spark, SF_SMALL, "orders")
    approx = {r.o_orderpriority: (r.p50, r.p90, r.p99)
              for r in OPS["agg_approx_percentile"].fn(spark, SF_SMALL).collect()}
    for prio, (p50, p90, p99) in approx.items():
        vals = sorted(
            r.o_totalprice for r in o.filter(F.col("o_orderpriority") == prio).collect()
        )
        n = len(vals)
        for q, got in ((0.5, p50), (0.9, p90), (0.99, p99)):
            lo = vals[max(0, int((q - 0.01) * n) - 1)]
            hi = vals[min(n - 1, int((q + 0.01) * n))]
            assert lo <= got <= hi, (prio, q, got, lo, hi)


def test_hll_sketch_merge_close_to_exact(spark):
    exact = {r.event_type: r.n for r in OPS["agg_count_distinct"].fn(spark, SF_SMALL)
             .selectExpr("event_type", "n_users AS n").collect()}
    merged = {r.event_type: r.approx_users
              for r in OPS["agg_hll_sketch_merge"].fn(spark, SF_SMALL).collect()}
    assert set(merged) == set(exact)
    for k in exact:
        assert abs(merged[k] - exact[k]) / exact[k] <= 0.03, (k, merged[k], exact[k])


def test_jaccard_neighbors_consistent_with_common_neighbors(spark):
    """graph_jaccard_neighbors' pair set and intersection counts must equal
    graph_common_neighbors (same slice, same >= 3 floor), and J in (0, 1]."""
    from mimranalytics_core_spark.registry import all_ops

    jac = {(r.cust_a, r.cust_b): (r.n_shared, r.jaccard)
           for r in all_ops()["graph_jaccard_neighbors"].fn(spark, SF_SMALL).collect()}
    com = {(r.cust_a, r.cust_b): r.shared_suppliers
           for r in all_ops()["graph_common_neighbors"].fn(spark, SF_SMALL).collect()}
    assert set(jac) == set(com) and jac
    for k, (n, j) in jac.items():
        assert n == com[k] and 0 < j <= 1


def test_range_search_consistent_with_topk(spark):
    """Every exact top-10 neighbor scoring >= the radius must appear in the
    range result with the same rounded score."""
    from mimranalytics_core_spark.registry import all_ops

    rng = {r.vec_id: r.cos_sim
           for r in all_ops()["sim_range_search"].fn(spark, SF_SMALL).collect()}
    top = {r.vec_id: r.cos_sim
           for r in all_ops()["sim_cosine_topk"].fn(spark, SF_SMALL).collect()}
    assert all(v >= 0.2 for v in rng.values())
    for vid, v in top.items():
        if v >= 0.2:
            assert rng.get(vid) == v


def test_zscore_anomaly_matches_pandas_rolling(spark):
    """The flagged set must equal a pandas rolling-window recomputation
    (strictly-preceding 20-event frame, sample stddev, |z| > 3)."""
    import math

    from mimranalytics_core_spark.operators._base import t as _t
    from mimranalytics_core_spark.registry import all_ops

    got = {(r.user_id, r.event_id): r.zscore
           for r in all_ops()["ts_zscore_anomaly"].fn(spark, SF_SMALL).collect()}
    rows = (_t(spark, SF_SMALL, "events")
            .select("user_id", "event_id", "ts", "value").collect())
    by_user: dict = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    want = {}
    for u, evs in by_user.items():
        evs.sort(key=lambda r: (r.ts, r.event_id))
        for i, r in enumerate(evs):
            w = [e.value for e in evs[max(0, i - 20):i]]
            if len(w) < 2:
                continue
            m = sum(w) / len(w)
            s = math.sqrt(sum((x - m) ** 2 for x in w) / (len(w) - 1))
            if s > 0 and abs((r.value - m) / s) > 3:
                want[(u, r.event_id)] = math.floor((r.value - m) / s * 1e6 + 0.5) / 1e6
    assert set(got) == set(want) and got
    for k in got:
        assert abs(got[k] - want[k]) < 2e-6


def test_no_python_rdd_literal_frames():
    """Driver-side literal rows go through ``catalog.literal_frame`` (whose
    own ``createDataFrame`` takes a pyarrow table): a ``createDataFrame``
    over a Python list, tuple or comprehension plans as a Python-RDD
    ``Scan ExistingRDD`` that re-runs Python-worker tasks on every
    evaluation."""
    import ast
    from pathlib import Path

    import mimranalytics_core_spark

    literal = (ast.List, ast.Tuple, ast.Set, ast.ListComp, ast.SetComp, ast.GeneratorExp)
    pkg = Path(mimranalytics_core_spark.__file__).parent
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                continue
            data = [k.value for k in node.keywords if k.arg == "data"] + node.args[:1]
            if any(isinstance(d, literal) for d in data):
                offenders.append(f"{path.relative_to(pkg)}:{node.lineno}")
    assert not offenders, f"use catalog.literal_frame: {offenders}"
