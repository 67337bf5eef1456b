"""``catalog.local_frame``: driver-side frames as JVM ``LocalRelation``s.

Each schema below is one the package builds on the driver (seeds,
dictionaries, generator slots, graph properties, empty stores, result
rows). The Arrow-built frame must plan as a ``LocalRelation`` with a
finite size and hold exactly what ``createDataFrame`` over the same list
holds.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

import neo4j_enterprise_spark
from neo4j_enterprise_spark.catalog import local_frame

GP_DDL = (
    "id long, in_use boolean, owner_id long, owner_kind string, seq int, "
    "key_id int, vtype string, value_long long, value_string string, "
    "value_array array<int>, prev_prop long, next_prop long"
)

CASES = [
    ([(7,), (-3,)], "seed long"),
    ([(5,), (10,), (20,)], "k int"),
    ([(0, True, "BAR"), (1, False, "FOO")], "id int, in_use boolean, name string"),
    ([], "id int, in_use boolean, name string"),
    ([(0, 1, "INT"), (1, 0, "STRING")], "pslot int, key_id int, vtype string"),
    (
        [
            (0, True, 0, "graph", 0, 0, "ARRAY", None, None, [1, 2, 3], -1, 1),
            (1, True, 0, "graph", 1, 1, "INT", 8, None, None, 0, -1),
            (2, True, 0, "graph", 2, 2, "STRING", None, "graph-prop-2", [], 1, -1),
        ],
        GP_DDL,
    ),
    ([], GP_DDL),
    ([("ALL", 0), ("nodes", 2**40)], "record_type string, n_violations long"),
    ([(1, 2, "FOLLOWS", 6), (2, 3, None, 6)], "src long, dst long, type_name string, type_id int"),
    ([(0, "a", "b", "ab")], "rank int, left string, right string, merged string"),
]


@pytest.mark.parametrize("rows, ddl", CASES, ids=lambda c: str(c)[:40])
def test_local_frame_is_a_sized_local_relation_equal_to_create_dataframe(spark, rows, ddl):
    got = local_frame(spark, rows, ddl)
    plan = got._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    assert int(plan.stats().sizeInBytes()) < 2**63 - 1

    want = spark.createDataFrame(rows, ddl)
    assert got.schema == want.schema
    assert got.collect() == want.collect()


class _CreateDataFrameUses(ast.NodeVisitor):
    """The enclosing function of every ``.createDataFrame`` reference."""

    def __init__(self):
        self.scope = ["<module>"]
        self.owners = []

    def visit_FunctionDef(self, node):
        self.scope.append(node.name)
        self.generic_visit(node)
        self.scope.pop()

    def visit_Attribute(self, node):
        if node.attr == "createDataFrame":
            self.owners.append(self.scope[-1])
        self.generic_visit(node)


def test_no_module_builds_a_frame_from_a_list_outside_local_frame():
    root = Path(neo4j_enterprise_spark.__file__).parent
    uses = []
    for path in sorted(root.rglob("*.py")):
        v = _CreateDataFrameUses()
        v.visit(ast.parse(path.read_text(), str(path)))
        uses += [(path.relative_to(root).as_posix(), owner) for owner in v.owners]
    assert uses == [("catalog.py", "local_frame")]
