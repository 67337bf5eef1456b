"""Pattern matching, single-relationship assertion, chain explorer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from neo4j_enterprise_spark.operators import reads, traversal
from neo4j_enterprise_spark.operators.pattern import match_path


def _graph(spark):
    nodes = spark.createDataFrame(
        [(i, "n", True, f"node{i}") for i in range(10)],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [
            (0, 0, 1, "A"),
            (1, 1, 2, "B"),
            (2, 1, 3, "B"),
            (3, 4, 5, "A"),
            (4, 0, 6, "C"),
        ],
        "id long, src long, dst long, type_name string",
    )
    return nodes, rels


def test_match_path_two_steps(spark):
    nodes, rels = _graph(spark)
    out = match_path(nodes, rels, [("A", "out"), ("B", "out")])
    got = {(r["n0"], r["n1"], r["n2"]) for r in out.collect()}
    assert got == {(0, 1, 2), (0, 1, 3)}


def test_match_path_direction_in(spark):
    nodes, rels = _graph(spark)
    out = match_path(nodes, rels, [("B", "in")])
    got = {(r["n0"], r["n1"]) for r in out.collect()}
    assert got == {(2, 1), (3, 1)}


def test_cypher_match_parses_and_binds(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_match

    nodes = spark.createDataFrame(
        [(0, "user", True, "u0"), (1, "post", True, "p1"), (2, "tag", True, "t2"),
         (3, "post", True, "p3"), (4, "user", True, "u4")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(0, 0, 1, "WROTE"), (1, 1, 2, "TAGGED"), (2, 4, 3, "WROTE"), (3, 3, 2, "TAGGED"),
         (4, 0, 3, "LIKED")],
        "id long, src long, dst long, type_name string",
    )
    out = cypher_match(nodes, rels, "(u:user)-[:WROTE]->(p:post)-[:TAGGED]->(t:tag)")
    got = {(r["u"], r["p"], r["t"]) for r in out.collect()}
    assert got == {(0, 1, 2), (4, 3, 2)}
    # reverse arrow
    rev = cypher_match(nodes, rels, "(t:tag)<-[:TAGGED]-(p:post)")
    assert {(r["t"], r["p"]) for r in rev.collect()} == {(2, 1), (2, 3)}
    # kind filter actually filters
    none = cypher_match(nodes, rels, "(u:tag)-[:WROTE]->(p)")
    assert none.count() == 0


def test_cypher_match_rejects_bad_patterns(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_match

    nodes = spark.createDataFrame([(0, "n", True, "x")], "id long, kind string, in_use boolean, name string")
    rels = spark.createDataFrame([(0, 0, 0, "T")], "id long, src long, dst long, type_name string")
    with pytest.raises(ValueError):
        cypher_match(nodes, rels, "-[:T]->(a)")
    with pytest.raises(ValueError):
        cypher_match(nodes, rels, "(a)<-[:T]->(b)")
    with pytest.raises(ValueError):
        cypher_match(nodes, rels, "(a)-[:T]->")


def test_single_relationship_ok_and_raises(spark):
    nodes, rels = _graph(spark)
    assert reads.single_relationship(rels, 0, "A", "out").count() == 1
    assert reads.single_relationship(rels, 0, "B", "out").count() == 0
    with pytest.raises(ValueError, match="more than one"):
        reads.single_relationship(rels, 1, "B", "out")


def test_chain_explorer_covers_neighborhood(spark):
    nodes, rels = _graph(spark)
    broken = spark.createDataFrame([(0,)], "rel_id long")
    found = {r["found_rel"] for r in traversal.chain_explorer(rels, broken).collect()}
    # rel 0 touches nodes 0,1 → rels 0,1,2,4 directly; their endpoints
    # (2,3,6) pull nothing new; rel 3 (disconnected) must NOT appear
    assert 3 not in found
    assert {0, 1, 2, 4} <= found


def test_traverse_prune_stops_expansion(spark):
    nodes, rels = _graph(spark)
    seeds = spark.createDataFrame([(0,)], "seed long")
    # prune node 1: it is returned but 2/3 are never reached
    out = traversal.bfs_reachable(
        rels, seeds, k=2, prune=(F.col("id") == 1), nodes=nodes
    )
    got = {r["node_id"] for r in out.collect()}
    assert got == {0, 1, 6}
    # a predicate needs the node store to evaluate against
    with pytest.raises(ValueError, match="need `nodes`"):
        traversal.bfs_reachable(rels, seeds, k=2, prune=(F.col("id") == 1))


def test_traverse_emit_filters_output(spark):
    nodes, rels = _graph(spark)
    seeds = spark.createDataFrame([(0,)], "seed long")
    out = traversal.bfs_reachable(
        rels, seeds, k=2, emit=(F.col("id") % 2 == 0), nodes=nodes
    )
    got = {r["node_id"] for r in out.collect()}
    assert got == {0, 2, 6}


def test_cypher_var_length_distinct_pairs_on_cycle(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_match

    nodes = spark.createDataFrame(
        [(i, "n", True, f"v{i}") for i in range(4)],
        "id long, kind string, in_use boolean, name string",
    )
    # 0→1→2→0 cycle plus 2→3, two parallel edges 0→1 (walks collapse)
    rels = spark.createDataFrame(
        [(0, 0, 1, "E"), (1, 1, 2, "E"), (2, 2, 0, "E"), (3, 2, 3, "E"), (4, 0, 1, "E")],
        "id long, src long, dst long, type_name string",
    )
    out = cypher_match(nodes, rels, "(a)-[*1..3]->(b)")
    got = {(r["a"], r["b"]) for r in out.collect()}
    # 1..3-hop reachability pairs, each exactly once
    assert got == {
        (0, 1), (1, 2), (2, 0), (2, 3),        # 1 hop
        (0, 2), (1, 0), (1, 3), (2, 1),        # 2 hops
        (0, 0), (1, 1), (2, 2), (0, 3),        # 3 hops (cycle closes)
    }
    assert out.count() == len(got)  # DISTINCT: parallel edges add no rows

    # lo > 1 excludes short walks; typed quantifier filters by type
    far = cypher_match(nodes, rels, "(a)-[*2..2]->(b)")
    assert {(r["a"], r["b"]) for r in far.collect()} == {
        (0, 2), (1, 0), (1, 3), (2, 1)
    }


def test_cypher_var_length_typed_and_bad_quantifier(spark):
    import pytest as _pytest

    from neo4j_enterprise_spark.operators.pattern import cypher_match, match_path

    nodes = spark.createDataFrame(
        [(0, "n", True, "a"), (1, "n", True, "b"), (2, "n", True, "c")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(0, 0, 1, "X"), (1, 1, 2, "Y")],
        "id long, src long, dst long, type_name string",
    )
    typed = cypher_match(nodes, rels, "(a)-[:X*1..2]->(b)")
    assert {(r["a"], r["b"]) for r in typed.collect()} == {(0, 1)}
    with _pytest.raises(ValueError):
        cypher_match(nodes, rels, "(a)-[]->(b)")  # no type, no quantifier
    with _pytest.raises(ValueError):
        match_path(nodes, rels, [("X", "out", 2, 1)])  # hi < lo


def test_cypher_shortest_path_min_hops_and_endpoint_filter(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes = spark.createDataFrame(
        [(0, "s", True, "a"), (1, "m", True, "b"), (2, "t", True, "c"),
         (3, "t", True, "d")],
        "id long, kind string, in_use boolean, name string",
    )
    # 0->1->2 plus shortcut 0->2 (min hops 1); 3 unreachable from 0
    rels = spark.createDataFrame(
        [(0, 0, 1, "X"), (1, 1, 2, "X"), (2, 0, 2, "X")],
        "id long, src long, dst long, type_name string",
    )
    out = cypher_query(
        nodes, rels,
        "MATCH p = shortestPath((a:s)-[*1..3]->(b:t)) "
        "RETURN a, b, length(p) AS hops ORDER BY b",
    )
    assert [(r["a"], r["b"], r["hops"]) for r in out.collect()] == [(0, 2, 1)]

    # direction reversal: <- walks the in-edges
    rev = cypher_query(
        nodes, rels,
        "MATCH p = shortestPath((a:t)<-[*1..3]-(b:s)) "
        "RETURN a, b, length(p) AS hops ORDER BY a",
    )
    assert [(r["a"], r["b"], r["hops"]) for r in rev.collect()] == [(2, 0, 1)]


def test_cypher_unwind_explodes_collected_list(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes = spark.createDataFrame(
        [(0, "g", True, "a"), (1, "x", True, "b"), (2, "x", True, "c")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(0, 0, 1, "HAS"), (1, 0, 2, "HAS")],
        "id long, src long, dst long, type_name string",
    )
    out = cypher_query(
        nodes, rels,
        "MATCH (g:g)-[:HAS]->(x) WITH g, collect(x) AS xs "
        "UNWIND xs AS m RETURN g, m ORDER BY m",
    )
    assert [(r["g"], r["m"]) for r in out.collect()] == [(0, 1), (0, 2)]
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cypher_query(nodes, rels,
                     "MATCH (g:g)-[:HAS]->(x) WITH g, collect(x) AS xs "
                     "UNWIND nope AS m RETURN g, m")


def test_rel_variable_binds_edge_id(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_match, cypher_query

    nodes = spark.createDataFrame(
        [(0, "g", True, "a"), (1, "x", True, "b"), (2, "x", True, "c")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(10, 0, 1, "HAS"), (11, 0, 2, "HAS"), (12, 1, 2, "OTHER")],
        "id long, src long, dst long, type_name string",
    )
    out = cypher_match(nodes, rels, "(a:g)-[r:HAS]->(b)")
    assert {(row["a"], row["r"], row["b"]) for row in out.collect()} == {
        (0, 10, 1), (0, 11, 2)
    }
    # untyped single hop with a var is legal; var-length with a var is not
    assert cypher_match(nodes, rels, "(a)-[r]->(b)").count() == 3
    import pytest as _pytest

    with _pytest.raises(ValueError):
        cypher_match(nodes, rels, "(a)-[r*1..2]->(b)")
    # rel var flows through the full query pipeline
    q = cypher_query(
        nodes, rels,
        "MATCH (a:g)-[r:HAS]->(b) RETURN a, count(DISTINCT r) AS n_rels",
    )
    assert [(row["a"], row["n_rels"]) for row in q.collect()] == [(0, 2)]


def test_cypher_case_projection_and_aggregate(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes = spark.createDataFrame(
        [(0, "g", True, "aa"), (1, "x", True, "bb"), (2, "x", True, "cc"),
         (3, "x", True, "bd")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(10, 0, 1, "HAS"), (11, 0, 2, "HAS"), (12, 0, 3, "HAS")],
        "id long, src long, dst long, type_name string",
    )
    agg = cypher_query(
        nodes, rels,
        "MATCH (g:g)-[:HAS]->(x) RETURN g, "
        "sum(CASE WHEN x.name STARTS WITH 'b' THEN 1 ELSE 0 END) AS n_b, "
        "count(*) AS n ORDER BY g",
    )
    assert [tuple(r) for r in agg.collect()] == [(0, 2, 3)]
    proj = cypher_query(
        nodes, rels,
        "MATCH (g:g)-[:HAS]->(x) RETURN x, "
        "CASE WHEN x.name STARTS WITH 'b' THEN 'b-ish' ELSE 'other' END AS cls "
        "ORDER BY x",
    )
    assert [tuple(r) for r in proj.collect()] == [
        (1, "b-ish"), (2, "other"), (3, "b-ish")
    ]
    # no ELSE -> NULL (Cypher default), count() skips the NULLs
    nn = cypher_query(
        nodes, rels,
        "MATCH (g:g)-[:HAS]->(x) RETURN g, "
        "count(CASE WHEN x.name STARTS WITH 'b' THEN 1 END) AS n_b",
    )
    assert [tuple(r) for r in nn.collect()] == [(0, 2)]


def test_cypher_set_updates_matched_projection(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes = spark.createDataFrame(
        [(0, "s", True, "alpha"), (1, "s", True, "beta"), (2, "n", True, "x")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(10, 0, 2, "IN"), (11, 1, 2, "IN")],
        "id long, src long, dst long, type_name string",
    )
    # overwrite an existing column on the matched rows only
    out = cypher_query(
        nodes, rels,
        "MATCH (s:s)-[:IN]->(n) WHERE s.name STARTS WITH 'a' "
        "SET s.name = 'renamed' RETURN s, s.name AS name",
    )
    assert [tuple(r) for r in out.collect()] == [(0, "renamed")]
    # create a brand-new property
    new = cypher_query(
        nodes, rels,
        "MATCH (s:s)-[:IN]->(n) SET s.tier = 'gold' "
        "RETURN s, s.tier AS tier ORDER BY s",
    )
    assert [tuple(r) for r in new.collect()] == [(0, "gold"), (1, "gold")]


def test_cypher_literal_unwind_and_functions(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes = spark.createDataFrame(
        [(0, "g", True, "a"), (1, "x", True, "b")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(10, 0, 1, "HAS")], "id long, src long, dst long, type_name string"
    )
    out = cypher_query(
        nodes, rels,
        "MATCH (g:g)-[:HAS]->(x) WITH g, x "
        "UNWIND [1, 2, 3] AS mult "
        "RETURN g, x, mult ORDER BY mult",
    )
    assert [tuple(r) for r in out.collect()] == [(0, 1, 1), (0, 1, 2), (0, 1, 3)]
    fn = cypher_query(
        nodes, rels,
        "MATCH (g:g)-[:HAS]->(x) "
        "RETURN id(g) AS gid, labels(x) AS xkind",
    )
    assert [tuple(r) for r in fn.collect()] == [(0, "x")]


def test_cypher_rel_type_alternation(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_match

    nodes = spark.createDataFrame(
        [(0, "n", True, "a"), (1, "n", True, "b"), (2, "n", True, "c")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(0, 0, 1, "A"), (1, 0, 2, "B"), (2, 1, 2, "C")],
        "id long, src long, dst long, type_name string",
    )
    out = cypher_match(nodes, rels, "(x)-[:A|B]->(y)")
    assert {(r["x"], r["y"]) for r in out.collect()} == {(0, 1), (0, 2)}
    # alternation composes with the variable-length quantifier
    var = cypher_match(nodes, rels, "(x)-[:A|C*1..2]->(y)")
    assert {(r["x"], r["y"]) for r in var.collect()} == {(0, 1), (1, 2), (0, 2)}


def test_cypher_exists_pattern_predicate(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes = spark.createDataFrame(
        [(0, "c", True, "a"), (1, "c", True, "b"), (2, "n", True, "x")],
        "id long, kind string, in_use boolean, name string",
    )
    # customer 0 placed an order; customer 1 did not
    rels = spark.createDataFrame(
        [(10, 0, 2, "IN"), (11, 1, 2, "IN"), (12, 0, 2, "PLACED")],
        "id long, src long, dst long, type_name string",
    )
    has = cypher_query(
        nodes, rels,
        "MATCH (c:c)-[:IN]->(n) WHERE EXISTS((c)-[:PLACED]->()) RETURN c",
    )
    assert [r["c"] for r in has.collect()] == [0]
    hasnt = cypher_query(
        nodes, rels,
        "MATCH (c:c)-[:IN]->(n) WHERE NOT EXISTS((c)-[:PLACED]->()) RETURN c",
    )
    assert [r["c"] for r in hasnt.collect()] == [1]
    # incoming-edge form
    inc = cypher_query(
        nodes, rels,
        "MATCH (n:n) WHERE EXISTS((n)<-[:PLACED]-()) RETURN n",
    )
    assert [r["n"] for r in inc.collect()] == [2]


def test_cypher_feature_interplay(spark):
    """One query mixing EXISTS + rel var + WITH/collect + UNWIND + CASE
    + SET + ORDER/LIMIT — guards the clause parser's feature interplay."""
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes = spark.createDataFrame(
        [(0, "g", True, "alpha"), (1, "x", True, "b1"), (2, "x", True, "b2"),
         (3, "x", True, "c3"), (9, "g", True, "beta")],
        "id long, kind string, in_use boolean, name string",
    )
    rels = spark.createDataFrame(
        [(10, 0, 1, "HAS"), (11, 0, 2, "HAS"), (12, 9, 3, "HAS"),
         (13, 0, 3, "LIKES")],
        "id long, src long, dst long, type_name string",
    )
    out = cypher_query(
        nodes, rels,
        "MATCH (g:g)-[r:HAS]->(x) "
        "WHERE EXISTS((g)-[:LIKES]->()) AND x.name STARTS WITH 'b' "
        "SET x.grade = 'kept' "
        "WITH g, collect(x) AS xs, count(r) AS nr "
        "UNWIND xs AS m "
        "RETURN g, m, nr, "
        "CASE WHEN m < 2 THEN 'low' ELSE 'high' END AS bucket "
        "ORDER BY m LIMIT 10",
    )
    rows = [tuple(r) for r in out.collect()]
    # only g=0 has a LIKES edge; b-named targets are 1 and 2
    assert rows == [(0, 1, 2, "low"), (0, 2, 2, "high")]


def test_cypher_union_dedups_and_union_all_keeps(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = _graph(spark)
    # A-edges start at {0, 4}; C-edges start at {0}: overlap node0
    q_union = (
        "MATCH (x)-[:A]->(y) RETURN x.name AS name "
        "UNION MATCH (x)-[:C]->(y) RETURN x.name AS name"
    )
    got = sorted(r["name"] for r in cypher_query(nodes, rels, q_union).collect())
    assert got == ["node0", "node4"]
    q_all = q_union.replace("UNION", "UNION ALL")
    got_all = sorted(r["name"] for r in cypher_query(nodes, rels, q_all).collect())
    assert got_all == ["node0", "node0", "node4"]


def test_cypher_union_rejects_mix_and_column_mismatch(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = _graph(spark)
    with pytest.raises(ValueError, match="mix UNION"):
        cypher_query(
            nodes,
            rels,
            "MATCH (x)-[:A]->(y) RETURN x.name AS name "
            "UNION MATCH (x)-[:B]->(y) RETURN x.name AS name "
            "UNION ALL MATCH (x)-[:C]->(y) RETURN x.name AS name",
        )
    with pytest.raises(ValueError, match="same columns"):
        cypher_query(
            nodes,
            rels,
            "MATCH (x)-[:A]->(y) RETURN x.name AS name "
            "UNION MATCH (x)-[:C]->(y) RETURN x.name AS other",
        )


def test_cypher_where_or_and_precedence(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = _graph(spark)
    # OR binds looser than AND: name = node4 OR (name >= node0 AND y < 2)
    out = cypher_query(
        nodes,
        rels,
        "MATCH (x)-[:A]->(y) "
        "WHERE x.name = 'node4' OR x.name >= 'node0' AND y < 2 "
        "RETURN x.name AS name ORDER BY name",
    )
    assert [r["name"] for r in out.collect()] == ["node0", "node4"]


def test_cypher_where_or_rejects_exists_branch(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = _graph(spark)
    with pytest.raises(ValueError, match="EXISTS inside OR"):
        cypher_query(
            nodes,
            rels,
            "MATCH (x)-[:A]->(y) "
            "WHERE EXISTS((x)-[:C]->()) OR x.name = 'node4' "
            "RETURN x.name AS name",
        )


def test_cypher_case_with_or_condition(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = _graph(spark)
    out = cypher_query(
        nodes,
        rels,
        "MATCH (x)-[:A]->(y) "
        "RETURN x.name AS name, "
        "CASE WHEN y = 1 OR y = 5 THEN 'odd' ELSE 'other' END AS tag "
        "ORDER BY name",
    )
    assert [(r["name"], r["tag"]) for r in out.collect()] == [
        ("node0", "odd"),
        ("node4", "odd"),
    ]


def test_cypher_with_order_by_limit_midpipeline(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = _graph(spark)
    # B-edges out of node1 (two of them); take top-1 source by count,
    # then expand its A-in-neighbors
    out = cypher_query(
        nodes,
        rels,
        "MATCH (x)-[:B]->(y) WITH x, count(*) AS n ORDER BY n DESC, x LIMIT 1 "
        "MATCH (z)-[:A]->(x) RETURN x, n, z ORDER BY z",
    )
    assert [tuple(r) for r in out.collect()] == [(1, 2, 0)]


def test_cypher_order_by_requires_with(spark):
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    nodes, rels = _graph(spark)
    with pytest.raises(ValueError, match="must directly follow a WITH"):
        cypher_query(
            nodes,
            rels,
            "MATCH (x)-[:A]->(y) ORDER BY x MATCH (y)-[:B]->(z) RETURN z",
        )


def test_where_keywords_inside_string_literals(spark):
    nodes, rels = _graph(spark)
    from neo4j_enterprise_spark.operators.pattern import cypher_query

    # OR / UNION / AND inside quoted literals must not split clauses
    out = cypher_query(
        nodes, rels,
        "MATCH (c:customer) WHERE c.name = 'A OR B AND C' RETURN count(*) AS n",
    )
    assert out.collect()[0].n == 0
    out2 = cypher_query(
        nodes, rels,
        "MATCH (c:customer) WHERE c.name CONTAINS 'UNION' RETURN count(*) AS n",
    )
    assert out2.collect()[0].n == 0
