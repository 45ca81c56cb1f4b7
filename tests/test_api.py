"""Product-API tests: every reference capability (README.md:11-28) callable
end-to-end through mimranalytics_core_spark.api."""

from __future__ import annotations

from pyspark.sql import functions as F

from mimranalytics_core_spark import api
from mimranalytics_core_spark.operators._base import t
from tests.conftest import SF_SMALL


def test_expand_neighborhood_hops(spark):
    res = {r.node: r.hop for r in api.expand_neighborhood(spark, SF_SMALL, ["c:1"], hops=2).collect()}
    assert res["c:1"] == 0
    assert any(n.startswith("n:") and h == 1 for n, h in res.items())
    assert any(n.startswith("r:") and h == 2 for n, h in res.items())


def test_expand_neighborhood_no_entities_is_empty(spark):
    res = api.expand_neighborhood(spark, SF_SMALL, [], hops=2)
    assert res.columns == ["node", "hop"]
    assert res.collect() == []


def test_expand_neighborhood_two_entities_is_per_node_min(spark):
    def hops(entities):
        res = api.expand_neighborhood(spark, SF_SMALL, entities, hops=2).collect()
        return {r.node: r.hop for r in res}

    a, b, both = hops(["c:1"]), hops(["s:3"]), hops(["c:1", "s:3"])
    want = {n: min(h for h in (a.get(n), b.get(n)) if h is not None) for n in a.keys() | b.keys()}
    assert both == want
    assert a.keys() - b.keys() and b.keys() - a.keys()


def test_ubo_report_threshold_and_owners(spark):
    res = api.ubo_report(spark, SF_SMALL, threshold=0.25)
    rows = res.collect()
    assert rows, "some owner should clear 25%"
    assert all(r.effective_ownership >= 0.25 for r in rows)
    assert all(r.owner.startswith("c:") for r in rows)


def test_conflict_report_shape(spark):
    res = api.conflict_report(spark, SF_SMALL, max_levenshtein=5)
    df = res.limit(5).collect()
    for r in df:
        assert r.entity_a < r.entity_b


def test_circular_ownership_runs(spark):
    res = api.circular_ownership(spark, SF_SMALL)
    assert res.count() >= 0  # cycles exist iff local purchases exist
    assert res.columns == ["entity_on_cycle"]


def test_snapshot_and_diff_consistency(spark):
    s1 = api.snapshot_asof(spark, SF_SMALL, "2024-01-10 00:00:00")
    s2 = api.snapshot_asof(spark, SF_SMALL, "2024-01-20 00:00:00")
    diff = api.structure_diff(spark, SF_SMALL, "2024-01-10 00:00:00", "2024-01-20 00:00:00")
    added = diff.filter(F.col("change") == "added").count()
    removed = diff.filter(F.col("change") == "removed").count()
    assert removed == 0  # first_seen is monotone: nothing disappears
    assert s1.count() + added == s2.count()


def test_centrality_kinds(spark):
    pr = api.centrality(spark, SF_SMALL, "pagerank")
    assert abs(sum(r.score for r in pr.collect()) - 1.0) < 1e-3
    deg = api.centrality(spark, SF_SMALL, "degree")
    assert deg.filter(F.col("score") <= 0).count() == 0
    comp = api.centrality(spark, SF_SMALL, "component")
    assert comp.select("component").distinct().count() == 5  # one per region


def test_export_audit_report(spark, tmp_path):
    res = api.ubo_report(spark, SF_SMALL, threshold=0.25)
    dest = str(tmp_path / "ubo_report")
    api.export_audit_report(spark, SF_SMALL, res, dest, fmt="csv")
    back = spark.read.option("header", "true").csv(dest)
    assert back.count() == res.count()


# --- match_path: Cypher-shaped patterns mapped onto oracle-green operators ---


def test_match_path_var_length_equals_reach_op(spark):
    """MATCH (c:customer {key<10})-[*1..6]->(x): reached nodes + min hop must
    equal graph_reach_transitive (recursive-CTE, oracle-green) minus its
    depth-0 seed rows."""
    from mimranalytics_core_spark.registry import all_ops

    reach = {
        (r.node, r.depth)
        for r in all_ops()["graph_reach_transitive"].fn(spark, SF_SMALL).collect()
        if r.depth > 0
    }
    mp = api.match_path(
        spark,
        SF_SMALL,
        min_hops=1,
        max_hops=6,
        src_pred="src LIKE 'c:%' AND CAST(SUBSTRING(src, 3) AS INT) < 10",
    )
    got = {
        (r.node, r.hops)
        for r in mp.groupBy(F.col("dst").alias("node")).agg(F.min("hops").alias("hops")).collect()
    }
    assert got == reach


def test_match_path_weighted_equals_ubo_op(spark):
    """MATCH (c)-[*1..6]->(e) with multiplied weights = graph_ubo (weighted
    transitive closure, oracle-green)."""
    from mimranalytics_core_spark.registry import all_ops

    ubo = {
        (r.owner, r.entity): r.effective_ownership
        for r in all_ops()["graph_ubo"].fn(spark, SF_SMALL).collect()
    }
    mp = api.match_path(
        spark, SF_SMALL, min_hops=1, max_hops=6, src_pred="src LIKE 'c:%'", carry_weight=True
    )
    got = {
        (r.src, r.dst): r.path_weight
        for r in mp.filter(F.col("path_weight") >= 0.001).collect()
    }
    assert set(got) == set(ubo)
    assert all(abs(got[k] - ubo[k]) < 2e-6 for k in ubo), "weights diverge"


def test_match_path_asof_time_slider(spark):
    """MATCH with as_of: before any order activity the stake tier is empty;
    mid-history each owner's renormalized region ownership sums to ~1."""
    early = api.match_path(
        spark, SF_SMALL, edge_types=["owns_stake"], as_of="1990-01-01 00:00:00"
    )
    assert early.count() == 0

    mid = api.match_path(
        spark,
        SF_SMALL,
        min_hops=3,
        max_hops=3,
        as_of="1997-06-01 00:00:00",
        carry_weight=True,
    ).filter(F.col("dst").startswith("r:"))
    sums = mid.groupBy("src").agg(F.sum("path_weight").alias("s")).collect()
    assert sums
    assert all(0.98 <= r.s <= 1.02 for r in sums)


def test_match_path_type_restriction(spark):
    """Edge-type restriction: only nation_of edges → every path is n:→r:."""
    mp = api.match_path(spark, SF_SMALL, edge_types=["nation_of"], max_hops=2).collect()
    assert mp
    assert all(r.src.startswith("n:") and r.dst.startswith("r:") and r.hops == 1 for r in mp)


def test_export_graph_viz_matches_declared_op(spark):
    """api.export_graph_viz (seeds c:1..3, 2 hops) must equal the declared
    oracle-green graph_export_viz op, and the JSON artifact round-trips."""
    import os

    from mimranalytics_core_spark.registry import all_ops
    from mimranalytics_core_spark.sources.io import read_any

    op = {
        (r.kind, r.a, r.b, r.hop)
        for r in all_ops()["graph_export_viz"].fn(spark, SF_SMALL).collect()
    }
    path = "/tmp/mimranalytics_reports/test_viz_json"
    payload = api.export_graph_viz(
        spark, SF_SMALL, ["c:0", "c:1", "c:2", "c:3"], hops=2, path=path
    )
    got = {(r.kind, r.a, r.b, r.hop) for r in payload.collect()}
    assert got == op
    back = read_any(spark, path, "json")
    assert back.count() == len(op)
    assert os.path.isdir(os.path.join(path, "kind=node"))


# --- Cypher string front-end: parses into the same oracle-green builder ---


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_cypher_var_length_with_where_equals_builder(spark):
    """A saved reference-style Cypher string must execute identically to the
    explicit builder call it compiles to."""
    q = """MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
           WHERE a.id STARTS WITH 'c:'
           RETURN a, b, hops"""
    got = api.cypher(spark, SF_SMALL, q)
    want = api.match_path(
        spark, SF_SMALL, edge_types=["customer_of", "nation_of"],
        min_hops=1, max_hops=2, src_pred="src LIKE 'c:%'",
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"), "hops")
    assert got.columns == ["a", "b", "hops"]
    r = _rows(got)
    assert r and r == _rows(want)


def test_cypher_weighted_return_switches_on_carry_weight(spark):
    q = "MATCH (a)-[*1..6]->(b) WHERE a.id STARTS WITH 'c:' RETURN a, b, hops, path_weight AS w"
    got = api.cypher(spark, SF_SMALL, q)
    want = api.match_path(
        spark, SF_SMALL, min_hops=1, max_hops=6,
        src_pred="src LIKE 'c:%'", carry_weight=True,
    ).select(F.col("src").alias("a"), F.col("dst").alias("b"), "hops",
             F.col("path_weight").alias("w"))
    assert got.columns == ["a", "b", "hops", "w"]
    assert _rows(got) == _rows(want)


def test_cypher_as_of_time_slider(spark):
    """The AS OF extension drives the temporal edge snapshot: empty before
    history starts, populated mid-history."""
    early = api.cypher(
        spark, SF_SMALL,
        "MATCH (a)-[:OWNS_STAKE*1..3]->(b) AS OF '1990-01-01 00:00:00' RETURN a, b, hops",
    )
    assert early.count() == 0
    mid = api.cypher(
        spark, SF_SMALL,
        "MATCH (a)-[:OWNS_STAKE*1..3]->(b) AS OF '1997-06-01 00:00:00' RETURN a, b, hops",
    )
    assert mid.count() > 0


def test_cypher_single_hop_and_dst_postfilter(spark):
    """No star = exactly one hop; a dst-referencing WHERE becomes a result
    filter (cannot push below the join)."""
    q = "MATCH (n)-[:NATION_OF]->(r) WHERE r.id STARTS WITH 'r:' RETURN n, r, hops"
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows
    assert all(r.n.startswith("n:") and r.r.startswith("r:") and r.hops == 1 for r in rows)


def test_cypher_aggregate_groups_on_plain_items(spark):
    """Cypher implicit grouping: RETURN b, count(*) groups by b; result must
    equal the builder output grouped by hand."""
    q = """MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
           WHERE a.id STARTS WITH 'c:'
           RETURN b AS entity, count(*) AS n, min(hops) AS mh"""
    got = api.cypher(spark, SF_SMALL, q)
    assert got.columns == ["entity", "n", "mh"]
    base = api.match_path(
        spark, SF_SMALL, edge_types=["customer_of", "nation_of"],
        min_hops=1, max_hops=2, src_pred="src LIKE 'c:%'",
    )
    want = base.groupBy(F.col("dst").alias("entity")).agg(
        F.count(F.lit(1)).alias("n"), F.min("hops").alias("mh")
    )
    assert _rows(got) == _rows(want)


def test_cypher_global_aggregate_and_count_distinct(spark):
    q = """MATCH (a)-[:CUSTOMER_OF*1..1]->(b)
           RETURN count(*) AS n_edges, count(DISTINCT b) AS n_nations, max(hops) AS mx"""
    row = api.cypher(spark, SF_SMALL, q).collect()[0]
    assert row.n_nations == 25 and row.n_edges >= row.n_nations and row.mx == 1


def test_cypher_order_by_skip_limit_paginates(spark):
    """ORDER BY a unique key + SKIP/LIMIT must page without overlap, matching
    the full ordered result."""
    base = "MATCH (n)-[:NATION_OF]->(r) RETURN n AS nation, r AS region ORDER BY nation ASC"
    all_rows = api.cypher(spark, SF_SMALL, base).collect()
    p1 = api.cypher(spark, SF_SMALL, base + " LIMIT 10").collect()
    p2 = api.cypher(spark, SF_SMALL, base + " SKIP 10 LIMIT 10").collect()
    assert p1 == all_rows[:10] and p2 == all_rows[10:20]


def test_cypher_order_by_desc_on_aggregate_alias(spark):
    q = """MATCH (a)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
           WHERE a.id STARTS WITH 'c:'
           RETURN b AS entity, count(*) AS n ORDER BY n DESC, entity ASC LIMIT 5"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert len(rows) == 5
    ns = [r.n for r in rows]
    assert ns == sorted(ns, reverse=True)


def test_cypher_multi_segment_joins_on_shared_variable(spark):
    """(s)-[:SUPPLIER_OF]->(n)-[:NATION_OF]->(r) must equal the relational
    supplier→nation→region join."""
    q = """MATCH (s)-[:SUPPLIER_OF]->(n)-[:NATION_OF]->(r)
           RETURN s AS supplier, n AS nation, r AS region"""
    got = api.cypher(spark, SF_SMALL, q)
    assert got.columns == ["supplier", "nation", "region"]
    rows = {(r.supplier, r.nation, r.region) for r in got.collect()}
    sup = t(spark, SF_SMALL, "supplier").select("s_suppkey", "s_nationkey")
    nat = t(spark, SF_SMALL, "nation").select("n_nationkey", "n_regionkey")
    want = {
        (f"s:{r.s_suppkey}", f"n:{r.s_nationkey}", f"r:{r.n_regionkey}")
        for r in sup.join(nat, sup.s_nationkey == nat.n_nationkey).collect()
    }
    assert rows == want


def test_cypher_property_access_in_where_and_return(spark):
    """var.name resolves through the node-attribute view in both WHERE and
    RETURN; the filter must match the relational equivalent."""
    q = """MATCH (c)-[:CUSTOMER_OF]->(n)
           WHERE n.name = 'NATION_2' RETURN c AS cust, n.name AS nation_name"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.nation_name == "NATION_2" for r in rows)
    nat = t(spark, SF_SMALL, "nation").filter(F.col("n_name") == "NATION_2").collect()
    nk = nat[0].n_nationkey
    want = {
        f"c:{r.c_custkey}"
        for r in t(spark, SF_SMALL, "customer").filter(F.col("c_nationkey") == nk).collect()
    }
    assert {r.cust for r in rows} == want


def test_cypher_multi_segment_var_length_first_leg(spark):
    """A variable-length first segment composes with a fixed second segment
    (customer reaches region via 1..2, region's nations via reversed edge
    is not modeled — use supplier leg instead)."""
    q = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)-[:NATION_OF]->(r)
           WHERE c.id STARTS WITH 'c:'
           RETURN c AS cust, x AS via, r AS region"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    # the only (via)-[:NATION_OF]->(region) sources are nations, so via=n:*
    assert rows and all(r.via.startswith("n:") and r.region.startswith("r:") for r in rows)


def test_cypher_return_distinct_dedupes_bindings(spark):
    """RETURN DISTINCT b: a customer reaches its nation at hop 1 only, but
    multiple customers share a nation — distinct must collapse them."""
    q_all = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
               WHERE c.id STARTS WITH 'c:' RETURN b"""
    q_dist = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
                WHERE c.id STARTS WITH 'c:' RETURN DISTINCT b"""
    n_all = api.cypher(spark, SF_SMALL, q_all).count()
    dist = api.cypher(spark, SF_SMALL, q_dist)
    n_dist = dist.count()
    assert n_dist < n_all
    assert n_dist == 30  # 25 nations + 5 regions reachable from customers


def test_cypher_collect_aggregate_is_sorted(spark):
    q = "MATCH (n)-[:NATION_OF]->(r) RETURN r AS region, collect(n) AS nations"
    rows = {r.region: r.nations for r in api.cypher(spark, SF_SMALL, q).collect()}
    nat = t(spark, SF_SMALL, "nation").collect()
    want = {}
    for r in nat:
        want.setdefault(f"r:{r.n_regionkey}", []).append(f"n:{r.n_nationkey}")
    assert rows == {k: sorted(v) for k, v in want.items()}


def test_cypher_hops_predicate_filters_post_traversal(spark):
    q = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(b)
           WHERE hops >= 2 RETURN c AS cust, b AS dest, hops"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.hops == 2 and r.dest.startswith("r:") for r in rows)


def test_cypher_optional_match_null_extends(spark):
    """x binds nations AND regions; the optional (x)-[:NATION_OF]->(r) leg
    matches only nations, so region bindings must survive with r NULL."""
    q = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)
           OPTIONAL MATCH (x)-[:NATION_OF]->(r)
           WHERE c.id STARTS WITH 'c:'
           RETURN DISTINCT x AS entity, r AS region"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    nations = [r for r in rows if r.entity.startswith("n:")]
    regions = [r for r in rows if r.entity.startswith("r:")]
    assert nations and all(r.region is not None for r in nations)
    assert regions and all(r.region is None for r in regions)


def test_cypher_optional_match_count_skips_nulls(spark):
    q = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)
           OPTIONAL MATCH (x)-[:NATION_OF]->(r)
           WHERE c.id STARTS WITH 'c:'
           RETURN x AS entity, count(*) AS n_bindings, count(r) AS n_with_region"""
    rows = {r.entity: (r.n_bindings, r.n_with_region) for r in api.cypher(spark, SF_SMALL, q).collect()}
    for entity, (nb, nr) in rows.items():
        if entity.startswith("n:"):
            assert nr == nb
        else:
            assert nr == 0 and nb > 0


def test_cypher_second_match_clause_must_share_a_variable():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    with _pytest.raises(CypherSyntaxError, match="share a variable"):
        parse("MATCH (a)-[:CUSTOMER_OF]->(b) OPTIONAL MATCH (u)-[:SUPPLIER_OF]->(v) RETURN a, u")


def test_cypher_plain_second_match_is_inner(spark):
    """A non-optional second MATCH behaves as an inner join: region bindings
    of x (which have no NATION_OF successor) disappear."""
    q = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)
           MATCH (x)-[:NATION_OF]->(r)
           WHERE c.id STARTS WITH 'c:'
           RETURN DISTINCT x AS entity, r AS region"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.entity.startswith("n:") and r.region is not None for r in rows)


def test_cypher_with_aggregates_then_filters(spark):
    """WITH n, count(*) AS c WHERE c >= k RETURN ... must equal groupBy +
    HAVING-style filter computed by hand."""
    q = """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           WHERE n_customers >= 7
           RETURN nation, n_customers"""
    got = {(r.nation, r.n_customers) for r in api.cypher(spark, SF_SMALL, q).collect()}
    cust = t(spark, SF_SMALL, "customer")
    want = {
        (f"n:{r.c_nationkey}", r.n)
        for r in cust.groupBy("c_nationkey").agg(F.count("*").alias("n")).collect()
        if r.n >= 7
    }
    assert got == want and got


def test_cypher_return_scopes_to_with_outputs():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    # after WITH, the pattern variable c is out of scope
    with _pytest.raises(CypherSyntaxError, match="WITH output"):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n AS nation, count(*) AS k "
            "WHERE k > 3 RETURN c, nation"
        )


def test_cypher_with_plain_projection_no_aggregate(spark):
    """A WITH stage without aggregates is a plain projection/rename whose
    WHERE filters rows (not groups)."""
    q = """MATCH (n)-[:NATION_OF]->(r)
           WITH n AS nation, r AS region
           WHERE region = 'r:0'
           RETURN nation, region"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.region == "r:0" and r.nation.startswith("n:") for r in rows)
    assert len(rows) == 5  # 5 nations per region


def test_cypher_match_after_with_aggregate_then_rematch(spark):
    """MATCH…WITH…MATCH…RETURN: stage 1 aggregates, stage 2 re-matches on
    the piped variable — verified against the hand-built equivalent."""
    q = """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           MATCH (s)-[:SUPPLIER_OF]->(nation)
           RETURN nation, n_customers, count(*) AS n_suppliers"""
    got = {
        (r.nation, r.n_customers, r.n_suppliers)
        for r in api.cypher(spark, SF_SMALL, q).collect()
    }
    cust = t(spark, SF_SMALL, "customer")
    supp = t(spark, SF_SMALL, "supplier")
    nc = {f"n:{r.c_nationkey}": r.n for r in cust.groupBy("c_nationkey").agg(F.count("*").alias("n")).collect()}
    ns = {f"n:{r.s_nationkey}": r.n for r in supp.groupBy("s_nationkey").agg(F.count("*").alias("n")).collect()}
    want = {(k, nc[k], ns[k]) for k in nc if k in ns}
    assert got == want and got


def test_cypher_match_after_with_optional_null_extends(spark):
    """OPTIONAL MATCH after WITH left-joins the piped frame: nations with
    zero suppliers keep their row with the optional variable NULL."""
    q = """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           OPTIONAL MATCH (s)-[:SUPPLIER_OF]->(nation)
           RETURN nation, n_customers, count(s) AS n_suppliers"""
    got = {r.nation: (r.n_customers, r.n_suppliers) for r in api.cypher(spark, SF_SMALL, q).collect()}
    cust = t(spark, SF_SMALL, "customer")
    supp = t(spark, SF_SMALL, "supplier")
    nc = {f"n:{r.c_nationkey}": r.n for r in cust.groupBy("c_nationkey").agg(F.count("*").alias("n")).collect()}
    ns = {f"n:{r.s_nationkey}": r.n for r in supp.groupBy("s_nationkey").agg(F.count("*").alias("n")).collect()}
    assert set(got) == set(nc)  # every customer-nation survives
    for k, (ncust, nsupp) in got.items():
        assert ncust == nc[k] and nsupp == ns.get(k, 0)


def test_cypher_match_after_with_where_and_props(spark):
    """Stage-2 WHERE filters the joined frame; properties of post-WITH
    pattern variables resolve through the attribute view."""
    q = """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           MATCH (nation)-[:NATION_OF]->(r)
           WHERE r.name = 'AFRICA'
           RETURN nation, n_customers, r.name AS region_name"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.region_name == "AFRICA" for r in rows)


def test_cypher_match_after_with_scope_rules():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    # stage-2 clause must share a variable with the WITH outputs
    with _pytest.raises(CypherSyntaxError, match="share a variable"):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n AS nation, count(*) AS k "
            "MATCH (s)-[:SUPPLIER_OF]->(q) RETURN nation, s"
        )
    # stage-1 vars are out of scope after WITH even with a stage-2 MATCH
    with _pytest.raises(CypherSyntaxError):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n AS nation, count(*) AS k "
            "MATCH (s)-[:SUPPLIER_OF]->(nation) RETURN c, nation"
        )
    # hops is pattern-stage-scoped: not available in post-WITH WHERE
    with _pytest.raises(CypherSyntaxError, match="not available after WITH"):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n AS nation, count(*) AS k "
            "MATCH (s)-[:SUPPLIER_OF*1..2]->(nation) WHERE hops = 2 RETURN nation"
        )


def test_cypher_chained_with_stages(spark):
    """Two WITH pipes: aggregate -> re-match -> aggregate -> filter ->
    project, verified against the hand-built equivalent."""
    q = """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS n_customers
           MATCH (s)-[:SUPPLIER_OF]->(nation)
           WITH nation, n_customers, count(*) AS n_suppliers
           WHERE n_suppliers >= 1
           RETURN nation, n_customers, n_suppliers"""
    got = {
        (r.nation, r.n_customers, r.n_suppliers)
        for r in api.cypher(spark, SF_SMALL, q).collect()
    }
    cust = t(spark, SF_SMALL, "customer")
    supp = t(spark, SF_SMALL, "supplier")
    nc = {f"n:{r.c_nationkey}": r.n for r in cust.groupBy("c_nationkey").agg(F.count("*").alias("n")).collect()}
    ns = {f"n:{r.s_nationkey}": r.n for r in supp.groupBy("s_nationkey").agg(F.count("*").alias("n")).collect()}
    want = {(k, nc[k], ns[k]) for k in nc if ns.get(k, 0) >= 1}
    assert got == want and got


def test_cypher_third_pipe_and_scope_expiry(spark):
    """Three pipes chain; names from two stages back are out of scope."""
    q = """MATCH (c)-[:CUSTOMER_OF]->(n)
           WITH n AS nation, count(*) AS k
           WITH nation AS nid, k AS n_customers
           RETURN nid, n_customers"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.nid.startswith("n:") for r in rows)
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    # `nation` died at the second pipe
    with _pytest.raises(CypherSyntaxError):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n AS nation, count(*) AS k "
            "WITH k AS n_customers RETURN nation"
        )
    # a second WHERE in one pipe without a MATCH between is rejected
    with _pytest.raises(CypherSyntaxError, match="second WHERE"):
        parse(
            "MATCH (c)-[:CUSTOMER_OF]->(n) WITH n AS nation, count(*) AS k "
            "WHERE k > 1 WHERE k > 2 RETURN nation"
        )


def test_cypher_rejects_bad_aggregates_and_order_keys():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    for bad in (
        "MATCH (a)-[:CUSTOMER_OF]->(b) RETURN sum(b)",                    # non-numeric agg
        "MATCH (a)-[:CUSTOMER_OF]->(b) RETURN sum(*)",                    # * outside count
        "MATCH (a)-[:CUSTOMER_OF]->(b) RETURN count(*) AS n ORDER BY hops",  # hidden sort under aggregation
        "MATCH (a)-[:CUSTOMER_OF]->(b) RETURN a ORDER BY sideways",       # unknown key
    ):
        with _pytest.raises(CypherSyntaxError):
            parse(bad)


def test_cypher_rejects_out_of_subset():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    for bad in (
        "MATCH (a)-[:CUSTOMER_OF*2..]->(b) RETURN a, b",          # unbounded
        "MATCH (a)-[:CUSTOMER_OF]->(a) RETURN a",                  # same var twice
        "MATCH (a)-[:CUSTOMER_OF]->(b) WHERE a.bogusprop > 0 RETURN a, b",  # unknown property
        "CREATE (a)-[:CUSTOMER_OF]->(b)",                          # not MATCH
        "MATCH (a)-[:CUSTOMER_OF]->(b) RETURN shortest_path",      # unknown item
        "MATCH (a)-[:CUSTOMER_OF]->(b)-[:SUPPLIER_OF]->(c) RETURN a, hops",  # hops is 1-segment-only
        "MATCH (src)-[:CUSTOMER_OF]->(b) RETURN src",              # reserved variable
    ):
        with _pytest.raises(CypherSyntaxError):
            parse(bad)


def test_cypher_parse_defaults():
    from mimranalytics_core_spark.cypher import parse

    p = parse("MATCH (x)-[*]->(y) RETURN x, y, hops")
    assert (p["min_hops"], p["max_hops"]) == (1, 3)
    assert p["edge_types"] is None and not p["carry_weight"]
    p2 = parse("MATCH (x)-[:OWNS_STAKE*2]->(y) RETURN x, y")
    assert (p2["min_hops"], p2["max_hops"]) == (2, 2)
    assert p2["edge_types"] == ["owns_stake"]


def test_cypher_node_labels_filter_by_tier(spark):
    """(c:Customer)-[:CUSTOMER_OF]->(n:Nation) must equal the unlabeled
    pattern filtered by id prefixes, and the first label must reach
    src_pred (pushed below the first join)."""
    from mimranalytics_core_spark.cypher import parse

    q = "MATCH (c:Customer)-[:CUSTOMER_OF]->(n:Nation) RETURN c, n"
    p = parse(q)
    assert p["src_pred"] == "src LIKE 'c:%'"
    got = _rows(api.cypher(spark, SF_SMALL, q))
    want = _rows(
        api.cypher(
            spark,
            SF_SMALL,
            """MATCH (c)-[:CUSTOMER_OF]->(n)
               WHERE c.id STARTS WITH 'c:' AND n.id STARTS WITH 'n:'
               RETURN c, n""",
        )
    )
    assert got and got == want


def test_cypher_label_composes_with_where(spark):
    q = """MATCH (s:Supplier)-[:SUPPLIER_OF]->(n)
           WHERE n.name = 'NATION_3' RETURN s, n"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.s.startswith("s:") for r in rows)


def test_cypher_optional_match_label_is_clause_scoped(spark):
    """A label inside an OPTIONAL MATCH pattern filters that clause BEFORE
    the left join (Cypher scoping): x's region bindings fail (x:Nation) on
    the optional side, so they must null-extend — NOT disappear (the old
    behavior routed the label into the global post-filter, silently turning
    OPTIONAL MATCH into an inner join)."""
    q = """MATCH (c)-[:CUSTOMER_OF|NATION_OF*1..2]->(x)
           OPTIONAL MATCH (x:Nation)-[:NATION_OF]->(r)
           WHERE c.id STARTS WITH 'c:'
           RETURN DISTINCT x AS entity, r AS region"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    nations = [r for r in rows if r.entity.startswith("n:")]
    regions = [r for r in rows if r.entity.startswith("r:")]
    assert nations and all(r.region is not None for r in nations)
    # region bindings of x survive with NULL region — the regression core
    assert regions and all(r.region is None for r in regions)


def test_cypher_optional_label_on_fresh_var_null_extends(spark):
    """Label on a variable INTRODUCED by the optional clause: with an
    impossible label (r:Customer — nation_of destinations are regions) the
    optional side matches nothing, so every binding of x null-extends."""
    q = """MATCH (n)-[:NATION_OF]->(x)
           OPTIONAL MATCH (x)-[:NATION_OF]->(r:Customer)
           RETURN DISTINCT x AS entity, r AS extra"""
    rows = api.cypher(spark, SF_SMALL, q).collect()
    assert rows and all(r.extra is None for r in rows)


def test_cypher_multi_segment_hops_in_where_is_parse_error():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    for bad in (
        "MATCH (a)-[:CUSTOMER_OF]->(b)-[:SUPPLIER_OF]->(c) WHERE hops >= 2 RETURN a, c",
        "MATCH (a)-[:CUSTOMER_OF]->(b)-[:SUPPLIER_OF]->(c) WHERE path_weight > 0.5 RETURN a, c",
        "MATCH (a)-[:CUSTOMER_OF]->(b) OPTIONAL MATCH (b)-[:SUPPLIER_OF]->(c) WHERE hops = 1 RETURN a, c",
    ):
        with _pytest.raises(CypherSyntaxError, match="single-segment-only"):
            parse(bad)


def test_path_rows_trail_vs_walk_on_two_cycle(spark):
    """On the 2-cycle a<->b, depth-4 walks repeat edges; trails cannot:
    from each node exactly 2 trails exist (the edge, then the way back),
    while walks keep going — the defining Cypher-uniqueness difference."""
    from mimranalytics_core_spark.functions.graph_algos import path_rows

    e = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src STRING, dst STRING, weight DOUBLE"
    )
    trails = {
        (r.src, r.dst, r.hops)
        for r in path_rows(e, 1, 4, unique_edges=True).collect()
    }
    assert trails == {("a", "b", 1), ("a", "a", 2), ("b", "a", 1), ("b", "b", 2)}
    walks = path_rows(e, 1, 4, unique_edges=False).collect()
    assert len(walks) == 8  # 1..4 hops from each of a, b — edge reuse allowed


def test_cypher_trail_differs_from_walk_closure_on_cyclic_fixture(spark):
    """The verdict-mandated divergence proof: on the cyclic trade-credit
    graph, walk closure counts strictly more paths than Cypher trail
    semantics at the same bounds (2..4 hops) — so the old walk-based Cypher
    would have returned a DIFFERENT answer to a migrated Neo4j query."""
    from mimranalytics_core_spark import catalog
    from mimranalytics_core_spark.functions.graph_algos import path_rows
    from mimranalytics_core_spark.operators._base import tables

    tables(spark, SF_SMALL)
    e = catalog.trade_credit_edges(spark, SF_SMALL)
    n_trails = path_rows(e, 2, 4, src_pred="src LIKE 'c:%'", unique_edges=True).count()
    n_walks = path_rows(e, 2, 4, src_pred="src LIKE 'c:%'", unique_edges=False).count()
    assert 0 < n_trails < n_walks
    # and the declared query counts exactly the trails
    got = api.cypher(
        spark,
        SF_SMALL,
        """MATCH (a)-[:BUYS_FROM|CO_LOCATED*2..4]->(b)
           WHERE a.id STARTS WITH 'c:'
           RETURN a, b, count(*) AS n_trails, min(hops) AS min_hops""",
        graph="trade_credit",
    )
    assert sum(r.n_trails for r in got.collect()) == n_trails


def test_cypher_shortest_path_equals_min_over_trails(spark):
    """shortestPath() must return the per-pair minimum trail length (for
    b != a, min over walks == min over trails == BFS distance)."""
    from mimranalytics_core_spark import catalog
    from mimranalytics_core_spark.functions.graph_algos import path_rows
    from mimranalytics_core_spark.operators._base import tables

    got = {
        (r.a, r.b): r.hops
        for r in api.cypher(
            spark,
            SF_SMALL,
            """MATCH p = shortestPath((a)-[:BUYS_FROM|CO_LOCATED*1..4]->(b))
               WHERE a.id STARTS WITH 'c:'
               RETURN a, b, length(p) AS hops""",
            graph="trade_credit",
        ).collect()
    }
    tables(spark, SF_SMALL)
    e = catalog.trade_credit_edges(spark, SF_SMALL)
    walks = path_rows(e, 1, 4, src_pred="src LIKE 'c:%'", unique_edges=False)
    want = {}
    for r in walks.collect():
        if r.src != r.dst:
            want[(r.src, r.dst)] = min(want.get((r.src, r.dst), 99), r.hops)
    assert got == want and got


def test_cypher_all_shortest_paths_sigma_equals_min_length_path_count(spark):
    """allShortestPaths must emit exactly sigma rows per pair — verified
    against brute-force enumeration (min-hop walks never repeat nodes, so
    counting min-length walks IS sigma)."""
    from collections import Counter

    from mimranalytics_core_spark import catalog
    from mimranalytics_core_spark.functions.graph_algos import path_rows
    from mimranalytics_core_spark.operators._base import tables

    rows = api.cypher(
        spark,
        SF_SMALL,
        """MATCH p = allShortestPaths((a)-[:BUYS_FROM|CO_LOCATED*1..3]->(b))
           WHERE a.id STARTS WITH 'c:'
           RETURN a, b, length(p) AS hops, count(*) AS n_paths""",
        graph="trade_credit",
    ).collect()
    got = {(r.a, r.b): (r.hops, r.n_paths) for r in rows}
    tables(spark, SF_SMALL)
    e = catalog.trade_credit_edges(spark, SF_SMALL)
    walks = path_rows(e, 1, 3, src_pred="src LIKE 'c:%'", unique_edges=False).collect()
    minh: dict = {}
    for r in walks:
        if r.src != r.dst:
            minh[(r.src, r.dst)] = min(minh.get((r.src, r.dst), 99), r.hops)
    cnt = Counter(
        (r.src, r.dst) for r in walks if r.src != r.dst and r.hops == minh[(r.src, r.dst)]
    )
    want = {p: (minh[p], cnt[p]) for p in minh}
    assert got == want and got
    # sigma > 1 somewhere, or the op is vacuously the single-path case
    assert any(n > 1 for _, n in got.values())


def test_cypher_shortest_path_parse_rejections():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    with _pytest.raises(CypherSyntaxError, match="single relationship pattern"):
        parse("MATCH p = shortestPath((a)-[:CUSTOMER_OF]->(b)-[:SUPPLIER_OF]->(c)) RETURN a, c")
    with _pytest.raises(CypherSyntaxError, match="only MATCH clause"):
        parse("MATCH p = shortestPath((a)-[:CUSTOMER_OF*1..3]->(b)) MATCH (b)-[:SUPPLIER_OF]->(c) RETURN a, c")
    with _pytest.raises(CypherSyntaxError, match="path_weight"):
        parse("MATCH p = shortestPath((a)-[:CUSTOMER_OF*1..3]->(b)) RETURN a, b, path_weight")
    with _pytest.raises(CypherSyntaxError, match="closing shortestPath"):
        parse("MATCH p = shortestPath((a)-[:CUSTOMER_OF*1..3]->(b) RETURN a, b")
    # unbound path function name must not resolve
    with _pytest.raises(CypherSyntaxError):
        parse("MATCH (a)-[:CUSTOMER_OF*1..3]->(b) RETURN a, b, length(q)")


def test_cypher_label_rejections():
    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    import pytest as _pytest

    with _pytest.raises(CypherSyntaxError, match="unknown node label"):
        parse("MATCH (a:Widget)-[:CUSTOMER_OF]->(b) RETURN a, b")
    with _pytest.raises(CypherSyntaxError, match="different label"):
        parse(
            "MATCH (a:Customer)-[:CUSTOMER_OF]->(b) MATCH (a:Nation)-[:SUPPLIER_OF]->(d) RETURN a, b, d"
        )


def test_cypher_rel_weight_equals_edge_weight(spark):
    from mimranalytics_core_spark import api, catalog
    from pyspark.sql import functions as F

    got = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c)-[r:CUSTOMER_OF]->(n) RETURN c.id AS c, r.weight AS w",
    )
    exp = (
        catalog.hierarchy_edges(spark, SF_SMALL)
        .filter(F.col("rel_type") == "customer_of")
        .select(F.col("src").alias("c"), F.round("weight", 6).alias("w"))
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0


def test_cypher_rel_weight_rejects_other_props_and_multiseg(spark):
    import pytest as _pytest

    from mimranalytics_core_spark.cypher import CypherSyntaxError, parse

    with _pytest.raises(CypherSyntaxError):
        parse("MATCH (a)-[r:CUSTOMER_OF]->(b) RETURN r.since")
    # r.weight on a 1..1 segment of a multi-segment pattern is SUPPORTED
    # since round 5 (per-segment weight column); a VAR-LENGTH segment
    # still rejects it (Neo4j binds a list there)
    p = parse("MATCH (a)-[r:CUSTOMER_OF]->(b)-[:NATION_OF]->(c) RETURN a, r.weight AS w")
    assert any(it.get("col") == "r__w" for it in p["projection"])
    with _pytest.raises(CypherSyntaxError):
        parse(
            "MATCH (a)-[r:CUSTOMER_OF*1..2]->(b)-[:NATION_OF]->(c) RETURN r.weight"
        )
    with _pytest.raises(CypherSyntaxError):
        # rel var colliding with a node var
        parse("MATCH (a)-[a:CUSTOMER_OF]->(b) RETURN a")


def test_cypher_union_all_vs_union_distinct(spark):
    from mimranalytics_core_spark import api

    q = (
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN n.id AS e "
        "{u} "
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN n.id AS e"
    )
    dall = api.cypher(spark, SF_SMALL, q.format(u="UNION ALL"))
    ddis = api.cypher(spark, SF_SMALL, q.format(u="UNION"))
    n_nations = (
        api.cypher(spark, SF_SMALL, "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN DISTINCT n.id AS e")
    ).count()
    assert ddis.count() == n_nations
    assert dall.count() == 2 * api.cypher(
        spark, SF_SMALL, "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) RETURN n.id AS e"
    ).count()


def test_cypher_union_mismatched_columns_and_mixing_rejected(spark):
    import pytest as _pytest

    from mimranalytics_core_spark import api
    from mimranalytics_core_spark.cypher import CypherSyntaxError

    with _pytest.raises(CypherSyntaxError):
        api.cypher(
            spark,
            SF_SMALL,
            "MATCH (a)-[:CUSTOMER_OF]->(b) RETURN a.id AS x "
            "UNION MATCH (a)-[:CUSTOMER_OF]->(b) RETURN a.id AS y",
        )
    with _pytest.raises(CypherSyntaxError):
        api.cypher(
            spark,
            SF_SMALL,
            "MATCH (a)-[:CUSTOMER_OF]->(b) RETURN a.id AS x "
            "UNION MATCH (a)-[:CUSTOMER_OF]->(b) RETURN a.id AS x "
            "UNION ALL MATCH (a)-[:CUSTOMER_OF]->(b) RETURN a.id AS x",
        )
    # STARTS WITH literal containing the word UNION must NOT split
    df = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (a)-[:CUSTOMER_OF]->(b) WHERE a.name STARTS WITH 'UNION' "
        "RETURN a.id AS x",
    )
    assert df.count() == 0


def test_cypher_ends_with_contains(spark):
    from mimranalytics_core_spark import api
    from pyspark.sql import functions as F

    got = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) WHERE c.name ENDS WITH '3' "
        "RETURN c.id AS cust",
    )
    from mimranalytics_core_spark.operators._base import t as _t

    exp = (
        _t(spark, SF_SMALL, "customer")
        .filter(F.col("c_name").endswith("3"))
        .select(F.concat(F.lit("c:"), F.col("c_custkey")).alias("cust"))
    )
    assert got.exceptAll(exp).count() == 0 and exp.exceptAll(got).count() == 0
    # CONTAINS with a LIKE metacharacter in the literal must be escaped
    none = api.cypher(
        spark,
        SF_SMALL,
        "MATCH (c:Customer)-[:CUSTOMER_OF]->(n) WHERE c.name CONTAINS '%' "
        "RETURN c.id AS cust",
    )
    assert none.count() == 0
