"""``query_mix``: interactive reads over the derived graph and declared queries.

One client in a closed loop. Each cycle alternates one of each graph
operation (``Engine.node``, ``Engine.adjacency``, ``Engine.bfs`` with k=2
and a parameterised two-hop ``Engine.cypher`` MATCH/WHERE/RETURN) with the
declared queries in ``DECLARED``; node ids and the Cypher literal are drawn
from the seed. The tables and the derived graph (cached by
``graph.derive``) fit in memory many times over, so fixed per-query costs
dominate: plan construction, Catalyst, job scheduling and result transfer.
The first cycle runs cold, as the first queries of a fresh session do.
"""

from __future__ import annotations

import os
import random
import time

from neo4j_enterprise_spark.engine import Engine
from neo4j_enterprise_spark.graph import derive
from neo4j_enterprise_spark.plans import all_queries

from . import datagen, harness, oracle, spans
from .harness import Op

SF = 0.05

# Four declared queries from different families: TPC-H joins, the events
# rollup, LSH ANN (a pandas UDF across the Arrow boundary, rows-only, so
# checked against a committed hash) and the degree table, which returns one
# row per node with relationships.
DECLARED = (
    "q3_shipping_priority",
    "events_hourly_rollup",
    "ann_lsh_top5",
    "degree_by_type",
)

GRAPH_OPS = ("lookup", "expand", "traverse", "cypher")


def _query_op(kind, label, build, check) -> Op:
    def run(span):
        with spans.phase(span, "build"):
            df = build()
        with spans.phase(span, "collect"):
            rows = df.collect()
        spans.catalyst(span, df)
        spans.rows(span, len(rows))
        return df.columns, rows

    return Op(kind, label, run, check)


class QueryMix:
    def __init__(self, run_dir: str, seed: int):
        self.sf_dir = datagen.ensure(os.path.join(harness.WORK_DIR, "data"), SF)
        self.seed = seed
        self.n_cust = int(150_000 * SF)
        self.n_ord = int(1_500_000 * SF)
        self.n_part = int(200_000 * SF)

    def setup(self, session) -> dict:
        self.spark = session.spark
        self.eng = Engine(self.spark, self.sf_dir)
        self.queries = {n: all_queries()[n] for n in DECLARED}
        t0 = time.perf_counter()
        self.eng.nodes().count()
        self.eng.rels().count()
        derive_s = time.perf_counter() - t0
        self.oracle = oracle.Oracle(self.sf_dir)
        self.expected = oracle.load_expected()
        self._answers: dict[str, tuple] = {}
        return {"graph.derive_s": derive_s}

    # -- reference answers ------------------------------------------------
    def _matches(self, sql: str):
        return lambda got: oracle.same_result(*got, *self.oracle.query(sql))

    def _declared_check(self, name: str):
        q = self.queries[name]

        def check(got):
            if q.oracle is None:
                return oracle.result_hash(*got) == self.expected[f"{name}@sf{SF:g}"]
            if name not in self._answers:
                self._answers[name] = self.oracle.query(q.oracle)
            return oracle.same_result(*got, *self._answers[name])

        return check

    # -- operations ---------------------------------------------------------
    def _graph_op(self, kind: str, rng: random.Random) -> Op:
        eng = self.eng
        if kind == "lookup":
            nid = rng.choice(
                [
                    rng.randrange(self.n_cust),
                    derive.ORDER_OFF + rng.randrange(self.n_ord),
                    derive.PART_OFF + rng.randrange(self.n_part),
                ]
            )
            return _query_op(
                kind, f"id={nid}", lambda: eng.node(nid),
                self._matches(f"SELECT id, kind, in_use, name FROM g_nodes WHERE id = {nid}"),
            )
        if kind == "expand":
            nid = rng.randrange(self.n_cust)
            return _query_op(
                kind, f"id={nid}", lambda: eng.adjacency(nid),
                self._matches(f"SELECT * FROM g_rels WHERE src = {nid}"),
            )
        if kind == "traverse":
            nid = rng.randrange(self.n_cust)
            return _query_op(
                kind, f"seed={nid}", lambda: eng.bfs([nid], k=2),
                self._matches(_bfs2_sql(nid)),
            )
        cid = rng.randrange(self.n_cust)
        text = (
            f"MATCH (c:customer)-[:PLACED]->(o)-[:CONTAINS]->(p) WHERE c.id = {cid} "
            "RETURN p.name AS name, count(*) AS n ORDER BY name"
        )
        return _query_op(kind, text, lambda: eng.cypher(text), self._matches(_cypher_sql(cid)))

    def _cycles(self, rng: random.Random):
        """Graph operations and declared queries alternate in a fixed order.
        In a cold session the first operations also pay JIT compilation; a
        seeded order would move that cost between operation kinds."""

        def cycle(i: int) -> list[Op]:
            ops = []
            for kind, name in zip(GRAPH_OPS, DECLARED):
                q = self.queries[name]
                ops.append(self._graph_op(kind, rng))
                ops.append(
                    _query_op(
                        "declared", name,
                        lambda q=q: q.spark(self.spark, self.sf_dir),
                        self._declared_check(name),
                    )
                )
            return ops

        return cycle

    def run(self, seconds: float, tracer) -> harness.Pass:
        # every pass of a run replays the same inputs: the seed restarts
        return harness.closed_loop(self._cycles(random.Random(self.seed)), seconds, tracer)

    def extra_layers(self, warm: harness.Pass, traced: harness.Pass) -> dict:
        return {}

    def untimed_checks(self) -> list[harness.Pass]:
        return []

    def close(self) -> None:
        self.oracle.close()


def _bfs2_sql(s: int) -> str:
    """Nodes reachable from ``s`` within two outgoing hops, at their
    minimal hop count (the seed itself at 0)."""
    return f"""
        WITH h1 AS (SELECT DISTINCT dst AS node_id FROM g_rels WHERE src = {s}),
        h2 AS (SELECT DISTINCT r.dst AS node_id FROM g_rels r JOIN h1 ON r.src = h1.node_id)
        SELECT {s}::BIGINT AS seed, {s}::BIGINT AS node_id, 0 AS hops
        UNION ALL
        SELECT {s}, node_id, 1 FROM h1 WHERE node_id <> {s}
        UNION ALL
        SELECT {s}, node_id, 2 FROM h2
        WHERE node_id <> {s} AND node_id NOT IN (SELECT node_id FROM h1)"""


def _cypher_sql(c: int) -> str:
    """The two-hop Cypher aggregate: part names reached from customer ``c``
    through its orders, with their counts."""
    return f"""
        SELECT p.name AS name, COUNT(*) AS n
        FROM g_nodes c
        JOIN g_rels r1 ON r1.src = c.id AND r1.type_name = 'PLACED'
        JOIN g_nodes o ON o.id = r1.dst
        JOIN g_rels r2 ON r2.src = o.id AND r2.type_name = 'CONTAINS'
        JOIN g_nodes p ON p.id = r2.dst
        WHERE c.kind = 'customer' AND c.id = {c}
        GROUP BY p.name"""
