"""Every top-level function and class in the package has a caller outside tests.

An AST walk, no Spark. The product is the CLI plus the query registry, so
a package definition that only tests reach is dead code and goes together
with its tests. Reachability starts from every statement outside a
package definition (module-level code, ``bench.py``, ``tools/``,
``xferbench/``, ``__spark_entry__.py``) and from every ``@query``-registered
function, then follows names: bare names, attributes, imports and
identifier strings (``getattr(module, "name")``). A bare name resolves to
its own module's definition when there is one; anything else may be any
package definition of that name. So two dead helpers that call each other
are still dead.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "odbc2parquet_spark"
CALLERS = [PACKAGE, REPO / "bench.py", REPO / "__spark_entry__.py", REPO / "tools", REPO / "xferbench"]
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)

# Kept though only tests reach them: references, twins and inverses that tests check
# live code against, and a read-only accessor.
ALLOWED = {
    ("operators/text.py", "bpe_learn"): "reference that bpe_learn_batched is checked against",
    ("operators/sharding.py", "pack_shards"): "reference that pack_shards_two_pass is checked against",
    ("operators/drift.py", "covariance_matrix_decimal"): "decimal twin covariance_matrix is checked against",
    ("operators/similarity.py", "ivf_refine_centroids"): "the Lloyd step sim_ivf_refine certifies, as one operator",
    ("functions/timeutil.py", "int_to_time_text"): "inverse of time_text_to_int in its property test",
    ("cachereg.py", "memoized"): "read-only accessor tests inspect the session memo through",
}


def _py_files():
    for root in CALLERS:
        if root.is_file():
            yield root
        else:
            yield from (p for p in root.rglob("*.py") if not p.name.startswith("test_"))


def _mentions(node):
    """(identifier, is_bare_name) for everything ``node`` names."""
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            yield sub.id, True
        elif isinstance(sub, ast.Attribute):
            yield sub.attr, False
        elif isinstance(sub, ast.alias):
            yield sub.name.rpartition(".")[2], False
        elif isinstance(sub, ast.Constant) and isinstance(sub.value, str) and sub.value.isidentifier():
            yield sub.value, False


def _is_registered(d) -> bool:
    return any(
        isinstance(dec, ast.Call) and isinstance(dec.func, ast.Name) and dec.func.id == "query"
        for dec in d.decorator_list
    )


def unreachable() -> list[tuple[str, str]]:
    """(module path relative to the package, name) of every definition nothing reaches.

    Helpers of an allowlisted definition count as reached; the
    allowlisted definitions themselves do not.
    """
    by_name: dict[str, set[tuple[str, str]]] = {}
    bodies: dict[tuple[str, str], list[ast.AST]] = {}
    roots: list[tuple[str | None, ast.AST]] = []
    registered: list[tuple[str, str]] = []
    for path in _py_files():
        tree = ast.parse(path.read_text(), str(path))
        module = path.relative_to(PACKAGE).as_posix() if PACKAGE in path.parents else None
        for stmt in tree.body:
            if module is None or not isinstance(stmt, DEFS):
                roots.append((module, stmt))
                continue
            key = (module, stmt.name)
            by_name.setdefault(stmt.name, set()).add(key)
            bodies.setdefault(key, []).append(stmt)
            if _is_registered(stmt):
                registered.append(key)

    def targets(module, node):
        for name, bare in _mentions(node):
            if bare and (module, name) in bodies:
                yield (module, name)
            else:
                yield from by_name.get(name, ())

    def closure(todo):
        seen = set()
        while todo:
            key = todo.pop()
            if key not in seen:
                seen.add(key)
                todo.extend(t for stmt in bodies[key] for t in targets(key[0], stmt))
        return seen

    live = closure(registered + [t for module, stmt in roots for t in targets(module, stmt)])
    kept = closure([key for key in ALLOWED if key in bodies]) - set(ALLOWED)
    return sorted(set(bodies) - live - kept)


def test_every_package_definition_has_a_caller_outside_tests():
    dead = [key for key in unreachable() if key not in ALLOWED]
    assert not dead, "only tests reach: " + ", ".join(f"{m}:{n}" for m, n in dead)


def test_allowlist_is_current():
    assert set(ALLOWED) <= set(unreachable()), "allowlisted but now reached, or gone"
