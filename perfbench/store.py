"""``store``: the consistency checker and the backup path over one
generated store.

Set-up builds the store with ``graph.generator.fixture_graph`` from the
seed and persists it in executor memory (``NODES`` nodes, three
relationships and four properties each). One client then runs cycles of
four operations in a closed loop:

1. ``validate``: ``operators.record_checks.validate``, the paper's
   FullCheck, over the persisted store; a clean store reports no rows.
2. ``backup_full``: ``sources.snapshot.full_backup`` into a fresh directory.
3. ``backup_incremental``: ``incremental_backup`` of a seeded transaction
   stream (``txgen``) that keeps the graph consistent.
4. ``restore``: ``restore(verify=True)``, which replays the log
   (``sources.txlog.replay``) and runs the checker over a lineage read back
   from parquet, so the persisted store is not reused. The restored graph
   must equal the final state the transaction generator computed.

Validate is scan, shuffle, window and join work over every store with
little plan construction; the backup operations are parquet writes and
reads. The seed varies the store's relationship endpoints and property
values and the transaction stream. After the loop, an untimed run of the
checker over the committed ``fixtures/checker`` store must reproduce the
rows of its seven ``check_fixture_*`` oracles.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import functions as F

from neo4j_enterprise_spark.functions.hashing import checksum_column
from neo4j_enterprise_spark.graph import generator
from neo4j_enterprise_spark.graph.model import GRAPH_TABLES
from neo4j_enterprise_spark.operators import record_checks
from neo4j_enterprise_spark.plans import all_queries, checker
from neo4j_enterprise_spark.sources import snapshot
from neo4j_enterprise_spark.sources.txlog import TXLOG_SCHEMA

from . import harness, oracle, spans, txgen
from .harness import Op

NODES = 25_000
TXS = 1_000
FAMILIES = (
    "nodes", "relationships", "first_property", "properties",
    "ownership", "dictionaries", "graph_props",
)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


class Store:
    def __init__(self, run_dir: str, seed: int):
        self.seed = seed
        self.backups = os.path.join(run_dir, "backups")

    def setup(self, session) -> dict:
        self.spark = session.spark
        t0 = time.perf_counter()
        self.g = generator.fixture_graph(self.spark, NODES, seed=self.seed)
        generate_s = time.perf_counter() - t0
        self.records = sum(df.count() for df in self.g.tables().values())
        self._make_txlog()
        self.cycle_n = 0
        return {"graph.generate_s": generate_s}

    # -- inputs: the transaction stream and the state it leads to ----------
    def _make_txlog(self) -> None:
        base = self.state(self.g)
        model = txgen.StoreModel(
            base["nodes"], base["rels"], base["props"],
            n_types=self.g.relationship_types.count(),
            n_keys=self.g.property_keys.count(),
        )
        # rows the stream writes hold only a long value: no string or array
        self.int_only = self.spark.range(1).select(
            F.xxhash64(F.lit(None).cast("string"), F.lit(None).cast("array<int>"))
        ).first()[0]
        txs = txgen.generate(model, TXS, seed=self.seed)
        self.last_tx = txs[-1][0]
        self.expected = model.final_state()
        self.expected["props"] = sorted(self._hashed(p) for p in self.expected["props"])
        self.txlog = self.spark.createDataFrame(
            [(tx, master, 0, op, kind, ent, payload) for tx, master, op, kind, ent, payload in txs],
            TXLOG_SCHEMA,
        ).withColumn(
            "checksum",
            checksum_column(
                F.col("tx_id"), F.col("op"), F.col("entity_kind"), F.col("entity_id"), F.col("payload")
            ),
        )

    def _hashed(self, prop):
        """A model property row with the int-only value hash filled in for
        rows the stream wrote."""
        owner, key, vtype, value_long, value_hash = prop
        return owner, key, vtype, value_long, self.int_only if value_hash is None else value_hash

    @staticmethod
    def state(g) -> dict:
        """The live part of a store: node ids, relationships, and node
        property rows with string and array values reduced to a hash."""
        props = (
            g.properties.filter("owner_kind = 'node' AND in_use")
            .select(
                "owner_id", "key_id", "vtype", "value_long",
                F.xxhash64("value_string", "value_array"),
            )
            .collect()
        )
        return {
            "nodes": sorted(r[0] for r in g.nodes.filter("in_use").select("id").collect()),
            "rels": sorted(
                tuple(r)
                for r in g.relationships.filter("in_use")
                .select("id", "src", "dst", "type_id")
                .collect()
            ),
            "props": sorted(tuple(r) for r in props),
        }

    # -- operations -----------------------------------------------------
    def _validate(self) -> Op:
        def run(span):
            with spans.phase(span, "build"):
                violations = record_checks.validate(self.g)
            with spans.phase(span, "collect"):
                rows = violations.collect()
            spans.catalyst(span, violations)
            spans.rows(span, len(rows))
            return rows

        return Op("validate", f"{self.records} records", run, lambda rows: rows == [])

    def _backup_ops(self) -> list[Op]:
        self.cycle_n += 1
        bdir = harness.fresh_dir(os.path.join(self.backups, str(self.cycle_n)))

        def full(span):
            return snapshot.full_backup(self.g, bdir, last_tx=0)

        def incremental(span):
            snapshot.incremental_backup(bdir, self.txlog, up_to_tx=self.last_tx)
            return bdir

        def restore(span):
            return snapshot.restore(self.spark, bdir, verify=True)

        def full_ok(vdir):
            return sorted(os.listdir(vdir)) == sorted(GRAPH_TABLES)

        def incremental_ok(d):
            with open(os.path.join(d, "backup_meta.json")) as f:
                meta = json.load(f)
            log = self.spark.read.parquet(os.path.join(d, f"txlog_1_{self.last_tx}"))
            return meta["last_tx"] == self.last_tx and log.count() == self.last_tx

        label = f"{NODES} nodes, {self.last_tx} txs"
        return [
            Op("backup_full", label, full, full_ok),
            Op("backup_incremental", label, incremental, incremental_ok),
            Op("restore", label, restore, lambda g: self.state(g) == self.expected),
        ]

    def run(self, seconds: float, tracer) -> harness.Pass:
        return harness.closed_loop(
            lambda i: [self._validate()] + self._backup_ops(), seconds, tracer
        )

    # -- per-layer detail of the traced run ---------------------------------
    def extra_layers(self, warm: harness.Pass, traced: harness.Pass) -> dict:
        """Each check family timed alone, replay timed alone, and the
        backup phases; verify is the restore time minus the replay."""
        out = {}
        for name, df in record_checks.check_families(self.g).items():
            t0 = time.perf_counter()
            df.localCheckpoint(eager=True)  # materialized as validate does
            out[f"check.{name}_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        snapshot.restore(self.spark, os.path.join(self.backups, str(self.cycle_n)), verify=False)
        replay_s = time.perf_counter() - t0

        def med(kind):
            return harness.summary([d.latency_s for d in warm.ok() if d.op.kind == kind]).get(
                "median", 0.0
            )

        verify_s = max(0.0, med("restore") - replay_s)
        size = harness.summary(
            [dir_bytes(os.path.join(self.backups, d)) for d in os.listdir(self.backups)]
        ).get("median", 0.0)
        out.update(
            {
                "check.records_per_s": self.records / med("validate") if med("validate") else 0.0,
                "backup.full_s": med("backup_full"),
                "backup.incremental_s": med("backup_incremental"),
                "restore.replay_s": replay_s,
                "restore.verify_s": verify_s,
                "backup.bytes": size,
                "backup.bytes_per_record": size / (self.records + self.last_tx),
            }
        )
        return out

    def untimed_checks(self) -> list[harness.Pass]:
        """The checker over the committed corrupted store must return
        exactly the rows its per-family oracles derive in SQL."""
        queries = all_queries()

        def run(span):
            v = record_checks.validate(checker.fixture_graph(self.spark))
            return v.columns, v.collect()

        def check(got):
            con = oracle.duckdb.connect()
            try:
                cols, rows = None, []
                for family in FAMILIES:
                    res = con.execute(queries[f"check_fixture_{family}"].oracle)
                    cols = [d[0] for d in res.description]
                    rows += res.fetchall()
            finally:
                con.close()
            return oracle.same_result(*got, cols, rows)

        op = Op("fixture_check", "fixtures/checker", run, check)
        return [harness.closed_loop(lambda i: [op], 0, spans.NullTracer())]

    def close(self) -> None:
        pass
