"""Per-query source-hash manifest for mechanized stale-green detection.

Twice (r10: q5_local_supplier_volume / events_sliding_rollup; r11:
events_path_trigrams) a query's plan or oracle changed after its driver
window froze, leaving a "green" CORRECTNESS row that no longer certifies
the shipped code.  Both catches came from a judge reading diffs; this
tool mechanizes the rule (VERDICT r11 ask #2).

Model
-----
``neo4j_enterprise_spark/plans/_query_hashes.json`` snapshots, for every
registered query, ``sha256(plan-function source + oracle SQL)``.  The
manifest is regenerated ONLY at window-rotation time (the start of a
round, right after ``_DRIVER_PRIORITY`` is rewritten for the new window).
``tests/test_window_staleness.py`` then asserts that every query whose
live hash differs from the manifest — or that is absent from it — sits
inside the driver window (the first 50 entries of ``queries()`` order).
Any in-round plan/oracle edit therefore turns the suite red until the
query is added to the window, which is exactly the standing rule the
hand-maintained registry comment kept getting wrong.

``--write`` refuses to run while a changed query is missing from the
window: you cannot accidentally launder a pending change out of the
mechanism by re-snapshotting mid-round.  ``--force`` overrides (only
sane immediately after a driver round has re-earned the greens).

Two hashes per query:

- ``self``: sha256(registered function source + materialized oracle).
  A self-change MUST sit in the window — no exceptions (this is the
  r10/r11 incident class: in-body plan edits, oracle edits).
- ``deep``: additionally folds in the transitive source of package
  functions (and repr of package constants) the plan references, three
  levels deep.  Catches the shared-helper hole: r12's own LSH-cap edit
  changed ``similarity.lsh_ann_topk`` without touching the registered
  ``ann_lsh_top5`` function at all.  A deep-only change must sit in the
  window OR be named in ``plans._DEEP_CHANGE_ACK`` with a reason — a
  broad helper refactor can flag more queries than one 50-slot window
  holds, so the escape hatch is an explicit, diffable acknowledgment
  the judge can audit instead of a silent miss.
"""

from __future__ import annotations

import argparse
import functools
import hashlib
import inspect
import json
import os
import re
import sys
import types
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
MANIFEST_PATH = REPO / "neo4j_enterprise_spark" / "plans" / "_query_hashes.json"
WINDOW_SIZE = 50  # the driver checks the first 50 entries of queries()


PKG = "neo4j_enterprise_spark"
_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _portable(text: str) -> str:
    """``text`` with the checkout root replaced by a fixed token, so a
    hash does not depend on where the repository is checked out (the
    checker-fixture oracles read their parquet files by absolute path)."""
    return text.replace(_checkout_root(), "<repo>")


@functools.cache
def _checkout_root() -> str:
    """The root as ``plans/checker.py`` derives its ``FIXTURE_DIR``."""
    import neo4j_enterprise_spark

    return os.path.abspath(
        os.path.join(os.path.dirname(neo4j_enterprise_spark.__file__), "..")
    )


def _fn_source(fn) -> str:
    try:
        return inspect.getsource(fn)
    except (OSError, TypeError):  # e.g. a lambda defined in a REPL
        return repr(fn)


def _referenced(src: str) -> tuple[set, dict, list]:
    """(bare names, {base name -> attrs}, in-body imports) actually
    referenced in code — AST-based, so docstring/comment mentions of
    sibling functions do NOT create dependency edges (a regex scan pulled
    whole modules into every closure via doc cross-references).
    ``imports`` carries (level, module, [(name, asname)]) for in-body
    ``from ... import ...`` statements: locally-imported helpers are not
    in ``fn.__globals__`` (the r12 asof_join edit was invisible to a
    globals-only walk because every plan imports it inside the body)."""
    import ast
    import textwrap

    names: set[str] = set()
    attrs: dict[str, set[str]] = {}
    imports: list[tuple[int, str, list[tuple[str, str]]]] = []
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:  # unparsable snippet: fall back to regex over text
        names = set(_IDENT.findall(src))
        for base, attr in re.findall(r"\b(\w+)\.(\w+)", src):
            attrs.setdefault(base, set()).add(attr)
        return names, attrs, imports
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute) and isinstance(node.value, ast.Name):
            attrs.setdefault(node.value.id, set()).add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            imports.append(
                (
                    node.level,
                    node.module or "",
                    [(a.name, a.asname or a.name) for a in node.names],
                )
            )
    return names, attrs, imports


def _import_env(fn, imports) -> dict:
    """Resolve in-body ``from X import Y`` statements to objects, using
    the function's own module as the anchor for relative imports."""
    import importlib

    env: dict = {}
    fn_mod = getattr(fn, "__module__", "") or ""
    for level, module, aliases in imports:
        try:
            if level:
                # ..operators.asof from pkg.plans.relational resolves
                # against pkg.plans (drop `level` trailing components)
                anchor = fn_mod.rsplit(".", level)[0]
                mod = importlib.import_module(f"{anchor}.{module}" if module else anchor)
            else:
                mod = importlib.import_module(module)
        except Exception:
            continue
        for name, asname in aliases:
            obj = getattr(mod, name, None)
            if obj is None:
                # `from ..operators import sampling` names a SUBMODULE:
                # getattr only works if something already imported it, which
                # would make closures depend on query iteration order —
                # import it explicitly so resolution is deterministic
                try:
                    obj = importlib.import_module(f"{mod.__name__}.{name}")
                except Exception:
                    obj = None
            if obj is not None:
                env[asname] = obj
    return env


def _collect_deep(fn, seen: dict[str, str], depth: int) -> None:
    """Record fn's source plus, recursively, the source of every package
    function — and the repr of every package module-level constant — that
    its code references (bare name or ``module.attr``), depth ≤ 3."""
    key = f"{getattr(fn, '__module__', '?')}.{getattr(fn, '__qualname__', fn)}"
    if key in seen:
        return
    src = _fn_source(fn)
    seen[key] = src
    if depth >= 3:
        return
    names, attrs, imports = _referenced(src)
    g = dict(getattr(fn, "__globals__", {}))
    g.update(_import_env(fn, imports))
    for name in sorted(names | set(attrs)):
        obj = g.get(name)
        if obj is None:
            continue
        if isinstance(obj, types.ModuleType) and obj.__name__.startswith(PKG):
            for attr in sorted(attrs.get(name, ())):
                _record(obj.__name__, attr, getattr(obj, attr, None), seen, depth)
        else:
            _record(getattr(obj, "__module__", "") or "", name, obj, seen, depth)


def _record(mod: str, name: str, obj, seen: dict[str, str], depth: int) -> None:
    if isinstance(obj, types.FunctionType) and obj.__module__.startswith(PKG):
        _collect_deep(obj, seen, depth + 1)
    elif mod.startswith(PKG) and isinstance(obj, (int, float, str, tuple, frozenset)):
        seen.setdefault(f"{mod}.{name}", repr(obj))


def query_hashes(query) -> dict[str, str]:
    """{'self': ..., 'deep': ...} — see module docstring.

    ``inspect.getsource`` includes the ``@register(...)`` decorator call,
    so oracle edits made inline in the decorator are covered twice
    (source text and materialized string) — harmless.
    """
    oracle = _portable(query.oracle) if query.oracle is not None else "<rows-only>"

    h = hashlib.sha256()
    h.update(_fn_source(query.spark).encode("utf-8"))
    h.update(b"\x00--oracle--\x00")
    h.update(oracle.encode("utf-8"))
    self_hash = h.hexdigest()

    seen: dict[str, str] = {}
    _collect_deep(query.spark, seen, depth=0)
    hd = hashlib.sha256()
    for key in sorted(seen):
        hd.update(key.encode("utf-8"))
        hd.update(b"\x00")
        hd.update(_portable(seen[key]).encode("utf-8"))
        hd.update(b"\x00")
    hd.update(b"--oracle--\x00")
    hd.update(oracle.encode("utf-8"))
    return {"self": self_hash, "deep": hd.hexdigest()}


def live_hashes() -> dict[str, dict[str, str]]:
    sys.path.insert(0, str(REPO))
    from neo4j_enterprise_spark.plans import all_queries

    return {name: query_hashes(q) for name, q in all_queries().items()}


def load_manifest() -> dict[str, dict[str, str]]:
    if not MANIFEST_PATH.exists():
        return {}
    return json.loads(MANIFEST_PATH.read_text())


def diff(live, manifest):
    """Returns (self_changed, deep_changed, new, removed) sorted lists.
    ``deep_changed`` excludes self-changed (it is the helper-only set)."""
    self_changed = sorted(
        n for n, h in live.items()
        if n in manifest and manifest[n]["self"] != h["self"]
    )
    deep_changed = sorted(
        n for n, h in live.items()
        if n in manifest
        and manifest[n]["deep"] != h["deep"]
        and manifest[n]["self"] == h["self"]
    )
    new = sorted(n for n in live if n not in manifest)
    removed = sorted(n for n in manifest if n not in live)
    return self_changed, deep_changed, new, removed


def window_names() -> list[str]:
    from neo4j_enterprise_spark.plans import all_queries

    return list(all_queries())[:WINDOW_SIZE]


def deep_change_ack() -> dict[str, str]:
    from neo4j_enterprise_spark import plans

    return getattr(plans, "_DEEP_CHANGE_ACK", {})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--write", action="store_true", help="regenerate the manifest")
    ap.add_argument(
        "--force",
        action="store_true",
        help="write even if changed queries are outside the window",
    )
    args = ap.parse_args()

    live = live_hashes()
    manifest = load_manifest()
    self_changed, deep_changed, new, removed = diff(live, manifest)
    window = set(window_names())
    ack = deep_change_ack()

    unhandled = [n for n in self_changed + new if n not in window]
    unhandled += [n for n in deep_changed if n not in window and n not in ack]
    for label, names in (
        ("changed", self_changed),
        ("deep", deep_changed),
        ("new", new),
        ("removed", removed),
    ):
        for n in names:
            ok = n in window or label == "removed" or (label == "deep" and n in ack)
            mark = "" if ok else "  <-- NOT IN WINDOW"
            print(f"{label:8s} {n}{mark}")
    if not (self_changed or deep_changed or new or removed):
        print(f"manifest in sync: {len(live)} queries, no drift")

    if args.write:
        if unhandled and not args.force:
            print(
                f"\nREFUSING to write: {len(unhandled)} changed/new "
                f"queries are outside the driver window ({unhandled}). "
                "Add them to _DRIVER_PRIORITY (or _DEEP_CHANGE_ACK for "
                "helper-only changes) first, or --force."
            )
            return 1
        MANIFEST_PATH.write_text(
            json.dumps(dict(sorted(live.items())), indent=1) + "\n"
        )
        print(f"\nwrote {MANIFEST_PATH} ({len(live)} queries)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
