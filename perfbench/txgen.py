"""A seeded transaction stream that keeps the graph consistent, plus the
final state it leads to.

``sources.txlog.synthesize_txlog`` deletes nodes that still carry
relationships and properties, so a replayed graph fails the consistency
check. This generator tracks the store as it writes: before it deletes a
node it removes the node's properties and deletes every relationship that
touches it, each in its own transaction. Properties are set on nodes only,
since replay relinks node property chains but not relationship ones.

A key removed from a node is not set on it again later in the same stream.
Replay keeps only the last operation per (node, key), so for a node that
holds several rows under one key (the fixture generator writes two INTEGER
properties per node) a remove followed by a set restores every old row
where sequential application leaves one. That replay defect is reproduced
by ``test_perfbench.test_replay_remove_then_set``.

The model also gives the final state (live node ids, relationships and
property rows) that a correct replay must reproduce.
"""

from __future__ import annotations

import json
import random
from collections import defaultdict

# op mix: weights over the operations the generator chooses between
_MIX = (
    ("create_node", 20),
    ("create_rel", 25),
    ("set_prop", 25),
    ("delete_rel", 10),
    ("remove_prop", 10),
    ("delete_node", 10),
)


class StoreModel:
    """Node, relationship and node-property state of a store.

    ``props[node][key]`` is the list of ``(vtype, value_long, other)`` rows
    the node holds under that key, where ``other`` stands for the row's
    non-long value and is None on rows the stream writes. A node may hold
    several rows under one key, and replay updates them together.
    """

    def __init__(self, nodes, rels, props, n_types: int, n_keys: int):
        self.nodes = set(nodes)
        self.rels = {rid: (src, dst, t) for rid, src, dst, t in rels}
        self.touching = defaultdict(set)
        for rid, (src, dst, _) in self.rels.items():
            self.touching[src].add(rid)
            self.touching[dst].add(rid)
        self.props = defaultdict(dict)
        for owner, key, *row in props:
            self.props[owner].setdefault(key, []).append(tuple(row))
        self.n_types, self.n_keys = n_types, n_keys

    def final_state(self) -> dict:
        return {
            "nodes": sorted(self.nodes),
            "rels": sorted((rid, *v) for rid, v in self.rels.items()),
            "props": sorted(
                (owner, key, *row)
                for owner, keys in self.props.items()
                for key, rows in keys.items()
                for row in rows
            ),
        }


def generate(model: StoreModel, n_txs: int, seed: int) -> list[tuple]:
    """Append at least ``n_txs`` transactions to ``model`` (mutating it) and
    return them as ``(tx_id, master_id, op, entity_kind, entity_id,
    payload)`` rows with tx ids from 1. A node deletion is a group of
    transactions and may end the stream a few past ``n_txs``."""
    rng = random.Random(seed)
    ops, weights = zip(*_MIX)
    next_node = max(model.nodes, default=-1) + 1
    next_rel = max(model.rels, default=-1) + 1
    live = sorted(model.nodes)  # sampling pool; deleted ids are dropped lazily
    removed: set[tuple[int, int]] = set()  # (node, key) pairs not to set again
    out: list[tuple] = []

    def emit(op, kind, entity, payload=None):
        tx = len(out) + 1
        out.append((tx, tx % 3, op, kind, entity, json.dumps(payload or {})))

    def pick_node():
        while live:
            i = rng.randrange(len(live))
            if live[i] in model.nodes:
                return live[i]
            live[i] = live[-1]
            live.pop()
        return None

    def delete_rel(rid):
        src, dst, _ = model.rels.pop(rid)
        model.touching[src].discard(rid)
        model.touching[dst].discard(rid)
        emit("delete_rel", "rel", rid)

    def remove_prop(node, key):
        del model.props[node][key]
        removed.add((node, key))
        emit("remove_prop", "node", node, {"key_id": key})

    while len(out) < n_txs:
        op = rng.choices(ops, weights)[0]
        if op == "create_node":
            model.nodes.add(next_node)
            live.append(next_node)
            emit("create_node", "node", next_node)
            next_node += 1
            continue
        node = pick_node()
        if node is None:
            continue
        if op == "create_rel":
            dst, t = pick_node(), rng.randrange(model.n_types)
            model.rels[next_rel] = (node, dst, t)
            model.touching[node].add(next_rel)
            model.touching[dst].add(next_rel)
            emit("create_rel", "rel", next_rel, {"src": node, "dst": dst, "type_id": t})
            next_rel += 1
        elif op == "set_prop":
            key, value = rng.randrange(model.n_keys), rng.randrange(1 << 20)
            if (node, key) in removed:
                continue
            held = len(model.props[node].get(key, ()))
            model.props[node][key] = [("INT", value, None)] * max(1, held)
            emit("set_prop", "node", node, {"key_id": key, "value_long": value})
        elif op == "delete_rel":
            if model.touching[node]:
                delete_rel(min(model.touching[node]))
        elif op == "remove_prop":
            keys = sorted(model.props[node])
            if keys:
                remove_prop(node, keys[rng.randrange(len(keys))])
        else:  # delete_node: its properties and relationships go first
            for key in sorted(model.props[node]):
                remove_prop(node, key)
            del model.props[node]
            for rid in sorted(model.touching.pop(node, ())):
                delete_rel(rid)
            model.nodes.discard(node)
            emit("delete_node", "node", node)
    return out
