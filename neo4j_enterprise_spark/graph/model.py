"""PropertyGraph: the engine's graph-as-DataFrames data model.

Mirrors the reference's nine-store record model (SURVEY.md §1.2,
`consistency-check/.../full/FullCheck.java:97-123`) re-expressed
relationally (FIXTURES.md §1):

- ``nodes(id, in_use, next_rel, next_prop)``
- ``relationships(id, in_use, src, dst, type_id, src_prev, src_next,
  dst_prev, dst_next, next_prop)`` — the two per-endpoint doubly-linked
  chains of `RelationshipRecordCheck.java:35-37` become explicit pointer
  columns; *derived* chain order (ascending id per endpoint) must agree
  with them, which is exactly what the validation suite checks.
- ``properties(id, in_use, owner_id, owner_kind, prev_prop, next_prop,
  seq, key_id, vtype, value_long, value_string, value_array)`` — property
  records + blocks flattened (`PropertyRecordCheck.java:35-165`); the
  string/array dynamic stores are folded into typed value columns.
- ``relationship_types(id, in_use, name)`` / ``property_keys(id, in_use,
  name)`` — the two dictionaries (`NameRecordCheck.java:30-73`); always
  broadcast-joined (the reference pre-caches them,
  `FullCheck.java:128-134`).
- ``graph_props`` — the NeoStore singleton's property chain
  (`NeoStoreCheck.java:29-50`), same schema as ``properties``.

Storage: one parquet dir per table under a versioned snapshot root
(``<root>/v<txid>/<table>``) — snapshot isolation instead of locks
(SURVEY §3.1). At scale, nodes/relationships are written bucketed by
id/src so adjacency and pointer joins co-partition.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

NO_POINTER = -1  # the reference's Record.NO_NEXT_RELATIONSHIP / NO_NEXT_PROPERTY

GRAPH_TABLES = (
    "nodes",
    "relationships",
    "properties",
    "relationship_types",
    "property_keys",
    "graph_props",
)


@dataclass
class PropertyGraph:
    nodes: DataFrame
    relationships: DataFrame
    properties: DataFrame
    relationship_types: DataFrame
    property_keys: DataFrame
    graph_props: DataFrame | None = None

    def tables(self) -> dict[str, DataFrame]:
        out = {
            "nodes": self.nodes,
            "relationships": self.relationships,
            "properties": self.properties,
            "relationship_types": self.relationship_types,
            "property_keys": self.property_keys,
        }
        if self.graph_props is not None:
            out["graph_props"] = self.graph_props
        return out

    def persist(self) -> "PropertyGraph":
        """Materialize every table in executor memory. The validation
        suite reads each store many times (one plan per rule family);
        persisting mirrors the reference checker reading materialized
        store files instead of regenerating them. On a cluster, tables
        loaded from parquet snapshots get this for free from scan reuse
        + the page cache.

        Relationships and properties are registered before nodes. Spark
        fixes a cached table's plan when it is registered, substituting
        only the caches registered before it; a graph whose nodes are
        derived from its own chains (``link_node_heads``: the generator,
        ``txlog.replay``) then builds its nodes cache from the other two
        caches instead of re-deriving the chain windows. Tables that are
        already cached, such as dictionaries a replay passes through
        unchanged, are left as they are."""
        def cached(df: DataFrame | None) -> DataFrame | None:
            return df if df is None or df.is_cached else df.persist()

        relationships = cached(self.relationships)
        properties = cached(self.properties)
        return PropertyGraph(
            nodes=cached(self.nodes),
            relationships=relationships,
            properties=properties,
            relationship_types=cached(self.relationship_types),
            property_keys=cached(self.property_keys),
            graph_props=cached(self.graph_props),
        )

    def unpersist(self, keep: "PropertyGraph | None" = None) -> None:
        """Drop the cache of every table except the ones ``keep`` holds
        too (a graph derived from this one reads those as they are)."""
        kept = {id(df) for df in keep.tables().values()} if keep else set()
        for df in self.tables().values():
            if id(df) not in kept:
                df.unpersist()

    def save(self, root: str, version: int = 0) -> str:
        """Write a snapshot (S8 full backup: `Master.copyStore`,
        `MasterImpl.java:487-492` → per-table parquet export)."""
        vdir = os.path.join(root, f"v{version}")
        for name, df in self.tables().items():
            df.write.mode("overwrite").parquet(os.path.join(vdir, name))
        return vdir

    @classmethod
    def load(cls, spark: SparkSession, root: str, version: int = 0) -> "PropertyGraph":
        vdir = os.path.join(root, f"v{version}")
        dfs = {}
        for name in GRAPH_TABLES:
            path = os.path.join(vdir, name)
            dfs[name] = spark.read.parquet(path) if os.path.exists(path) else None
        return cls(
            nodes=dfs["nodes"],
            relationships=dfs["relationships"],
            properties=dfs["properties"],
            relationship_types=dfs["relationship_types"],
            property_keys=dfs["property_keys"],
            graph_props=dfs["graph_props"],
        )


# Chain pointers are derived, never stored independently: chain order is
# ascending record id per owner (FIXTURES.md §2), so the generator and
# tx-log replay link their chains with the same three steps and the
# validation suite checks the stored pointers against that order.


def link_relationship_chains(rels: DataFrame) -> DataFrame:
    """Set ``src_prev``/``src_next``/``dst_prev``/``dst_next``: the two
    per-endpoint doubly-linked chains (`RelationshipRecordCheck.java:35-37`)
    in ascending id, ``NO_POINTER`` at either end. A self-loop sits in
    both chains of its node."""
    w_src = Window.partitionBy("src").orderBy("id")
    w_dst = Window.partitionBy("dst").orderBy("id")
    return (
        rels.withColumn("src_prev", F.coalesce(F.lag("id").over(w_src), F.lit(NO_POINTER)))
        .withColumn("src_next", F.coalesce(F.lead("id").over(w_src), F.lit(NO_POINTER)))
        .withColumn("dst_prev", F.coalesce(F.lag("id").over(w_dst), F.lit(NO_POINTER)))
        .withColumn("dst_next", F.coalesce(F.lead("id").over(w_dst), F.lit(NO_POINTER)))
    )


def link_property_chains(props: DataFrame) -> DataFrame:
    """Set ``prev_prop``/``next_prop``: one chain per owner in ascending
    id (`PropertyRecordCheck.java:35-165`)."""
    w_owner = Window.partitionBy("owner_kind", "owner_id").orderBy("id")
    return props.withColumn(
        "prev_prop", F.coalesce(F.lag("id").over(w_owner), F.lit(NO_POINTER))
    ).withColumn("next_prop", F.coalesce(F.lead("id").over(w_owner), F.lit(NO_POINTER)))


def link_node_heads(nodes: DataFrame, rels: DataFrame, props: DataFrame) -> DataFrame:
    """``nodes(id, in_use)`` with ``next_rel``/``next_prop`` pointing at
    the head of the node's source chain and property chain in the linked
    ``rels`` and ``props`` (``NO_POINTER`` when empty); any pointers
    ``nodes`` carried are replaced."""
    first_rel = rels.filter(F.col("src_prev") == NO_POINTER).select(
        F.col("src").alias("id"), F.col("id").alias("next_rel")
    )
    first_prop = props.filter(
        (F.col("prev_prop") == NO_POINTER) & (F.col("owner_kind") == "node")
    ).select(F.col("owner_id").alias("id"), F.col("id").alias("next_prop"))
    return (
        nodes.select("id", "in_use")
        .join(first_rel, "id", "left")
        .join(first_prop, "id", "left")
        .select(
            "id",
            "in_use",
            F.coalesce("next_rel", F.lit(NO_POINTER)).alias("next_rel"),
            F.coalesce("next_prop", F.lit(NO_POINTER)).alias("next_prop"),
        )
    )
