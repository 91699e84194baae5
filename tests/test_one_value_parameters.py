"""Every parameter in the package takes more than one value from its callers outside tests.

An AST walk, no Spark. A parameter that every caller gives the same value
only ever takes that value; it is a constant spelled as a knob, so it
belongs in the body. The scope is the top-level functions of the whole
package except ``session.py`` and ``__main__.py`` (a nested function's
parameters bind closure values, not options), whose ``env``/``argv``/
``master`` parameters are test-substitution and deployment points.
Callers are every call in the package, ``tools/``, ``bench.py``,
``__spark_entry__.py`` and ``xferbench/`` — the callers
``test_reachability.py`` counts: the product is the CLI plus the query
registry, so a value only a test passes is not a reason for a knob.
Calls resolve by name to every in-scope function of that name.

Each call gives each parameter one value. An omitted argument gives the
default; a literal gives itself (anything ``ast.literal_eval`` accepts); a
bare name gives its module's value, when the module binds the name
exactly once, to a literal, and no enclosing function binds it; the
caller's own in-scope parameter, passed on unchanged, gives whatever
values that one takes (a fixpoint, so a knob relayed through a chain of
knobs is still one knob). Any other expression, a parameter no call
reaches and no default covers, and ``*args``/``**kwargs`` forwarding give
a value of their own. A parameter with one value, or none, fails; one
without a default only when some call reaches it.

``ALLOWED`` keeps the few a test has to move to reach behaviour that
production has too: a stand-in for an outside resource, generators of
the input variety a decoder must accept from outside, the reference and
twin tests check live code against (both on ``test_reachability.ALLOWED``),
and finite caps, cutovers and round limits whose other branch — a dropped
bucket, the distributed path, the "did not converge" error — a test can
only reach by lowering the value. A default of ``None`` (a cap that is
off in production) is no such limit. The options objects the CLI builds
(``SinkOptions``, ``MappingOptions``) have their own guard
(``test_every_query_option_is_set_by_the_cli_and_read``).
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "odbc2parquet_spark"
OUT_OF_SCOPE = {PACKAGE / "session.py", PACKAGE / "__main__.py"}
CALLERS = [PACKAGE, REPO / "tools", REPO / "bench.py", REPO / "__spark_entry__.py", REPO / "xferbench"]
FUNCS = (ast.FunctionDef, ast.AsyncFunctionDef)
SETS = object()  # a value that is not the same at every call

_CAP = "production cap; a test lowers it to reach the dropped-bucket branch"
ALLOWED = {
    ("sinks/parquet_sink.py", "write_parquet_stdout", "out"): "stand-in for the process's stdout",
    ("operators/multimodal.py", "synth_png", "filter_type"): "the five PNG scanline filters a decoder accepts",
    ("operators/multimodal.py", "synth_wav", "bits"): "the 8/16/24/32-bit headers parse_wav_header accepts",
    ("operators/text.py", "bpe_learn", "n_merges"): "reference that bpe_learn_batched is checked against",
    ("operators/drift.py", "covariance_matrix_decimal", "dim"): "decimal twin covariance_matrix is checked against",
    ("operators/dedup.py", "incremental_minhash_dedup", "max_bucket"): _CAP,
    ("operators/dedup.py", "lsh_candidate_pairs", "max_bucket"): _CAP,
    ("operators/dedup.py", "lsh_candidate_pairs_multi", "max_bucket"): _CAP,
    ("operators/dedup.py", "simhash_banded_pairs", "max_bucket"): _CAP,
    ("operators/multimodal.py", "dhash_near_pairs", "max_bucket"): _CAP,
    ("operators/similarity.py", "lsh_bucket_pairs", "max_bucket"): _CAP,
    ("operators/joins.py", "deletion_blocked_fuzzy_match", "max_block"): "production cap; a test lowers it to "
    "reach the dropped-block branch",
    ("operators/text.py", "bpe_learn_batched", "local_vocab_cutover"): "production cutover; a test lowers it "
    "to reach the distributed path",
    ("operators/graph.py", "connected_components", "max_iterations"): "round limit; a test lowers it to reach "
    "the did-not-converge error",
    ("operators/graph.py", "connected_components_star", "max_iterations"): "round limit; a test lowers it to "
    "reach the did-not-converge error",
}


def _py_files():
    for root in CALLERS:
        if root.is_file():
            yield root
        else:
            yield from (p for p in sorted(root.rglob("*.py")) if not p.name.startswith("test_"))


def _defaults(fn) -> dict[str, ast.expr]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = {p.arg: d for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults)}
    out.update({p.arg: d for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None})
    return out


def _params(fn) -> list[str]:
    a = fn.args
    return [p.arg for p in a.posonlyargs + a.args + a.kwonlyargs]


def _literal(expr: ast.expr):
    """``(type, repr)`` of a literal expression, else ``SETS``."""
    try:
        v = ast.literal_eval(expr)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return SETS
    return type(v).__name__, repr(v)


def _bindings(node) -> list[str]:
    """Every name ``node`` binds outside its nested functions, once per binding."""
    out, todo = [], [node]
    while todo:
        for c in ast.iter_child_nodes(todo.pop()):
            if isinstance(c, (*FUNCS, ast.ClassDef)):
                out.append(c.name)
            elif isinstance(c, ast.alias):
                out.append((c.asname or c.name).partition(".")[0])
            elif isinstance(c, ast.Name) and isinstance(c.ctx, ast.Store):
                out.append(c.id)
            if not isinstance(c, (*FUNCS, ast.Lambda)):
                todo.append(c)
    return out


def _constants(tree: ast.Module) -> dict[str, tuple[str, str]]:
    """The module's names bound exactly once, by ``name = <literal>``, with their values."""
    names = _bindings(tree)
    return {
        stmt.targets[0].id: _literal(stmt.value)
        for stmt in tree.body
        if isinstance(stmt, ast.Assign)
        and len(stmt.targets) == 1
        and isinstance(stmt.targets[0], ast.Name)
        and names.count(stmt.targets[0].id) == 1
        and _literal(stmt.value) is not SETS
    }


def one_value() -> list[tuple[str, str, str]]:
    """(module path relative to the package, function, parameter) of every
    in-scope parameter that its callers give one value, or none."""
    defs: dict[tuple[str, str], ast.AST] = {}
    by_name: dict[str, list[tuple[str, str]]] = {}
    trees = {path: ast.parse(path.read_text(), str(path)) for path in _py_files()}
    consts = {path: _constants(tree) for path, tree in trees.items()}
    module_of = {}
    for path, tree in trees.items():
        if PACKAGE in path.parents and path not in OUT_OF_SCOPE:
            module = path.relative_to(PACKAGE).as_posix()
            for stmt in tree.body:
                if isinstance(stmt, FUNCS):
                    defs[(module, stmt.name)] = stmt
                    by_name.setdefault(stmt.name, []).append((module, stmt.name))
                    module_of[(module, stmt.name)] = path
    key_of = {id(fn): key for key, fn in defs.items()}
    values: dict[tuple, set] = {(key, p): set() for key, fn in defs.items() for p in _params(fn)}
    reached: set[tuple] = set()
    relays: list[tuple[tuple, tuple]] = []

    def value_of(expr, scopes, path):
        """A value, or the (function, parameter) the expression relays."""
        if not isinstance(expr, ast.Name):
            return _literal(expr)
        for fn in reversed(scopes):
            rebound = expr.id in _bindings(fn)
            if expr.id in _params(fn) and id(fn) in key_of and not rebound:
                return key_of[id(fn)], expr.id
            if expr.id in _params(fn) or rebound:
                return SETS
        return consts[path].get(expr.id, SETS)

    def visit(node, scopes, path):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (*FUNCS, ast.Lambda)):
                visit(child, scopes + [child], path)
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                for key in by_name.get(name, ()):
                    fn, dflt = defs[key], _defaults(defs[key])
                    forwards = any(isinstance(a, ast.Starred) for a in child.args) or any(
                        k.arg is None for k in child.keywords
                    )
                    pos = [p.arg for p in fn.args.posonlyargs + fn.args.args]
                    binds = dict(zip(pos, child.args))
                    binds.update((k.arg, k.value) for k in child.keywords)
                    for p in _params(fn):
                        reached.add((key, p))
                        expr = binds.get(p)
                        if forwards:
                            v = SETS
                        elif expr is None or (p in dflt and ast.dump(expr) == ast.dump(dflt[p])):
                            if p not in dflt:
                                continue
                            v = value_of(dflt[p], [], module_of[key])
                        else:
                            v = value_of(expr, scopes, path)
                        if isinstance(v, tuple) and v[0] in defs:
                            relays.append(((key, p), v))
                        else:
                            values[(key, p)].add(v)
            visit(child, scopes, path)

    for path, tree in trees.items():
        visit(tree, [], path)
    for (key, p), vs in values.items():
        if (key, p) not in reached and p not in _defaults(defs[key]):
            vs.add(SETS)
    grew = True
    while grew:
        grew = False
        for target, src in relays:
            if not values[src] <= values[target]:
                values[target] |= values[src]
                grew = True
    return sorted(
        (m, f, p)
        for ((m, f), p), vs in values.items()
        if SETS not in vs and len(vs) <= 1 and (p in _defaults(defs[(m, f)]) or ((m, f), p) in reached)
    )


def test_every_parameter_takes_more_than_one_value_outside_tests():
    found = [key for key in one_value() if key not in ALLOWED]
    assert not found, "only ever one value, fold into the body: " + ", ".join(
        f"{m}:{f}({p})" for m, f, p in found
    )


def test_allowlist_is_current():
    assert set(ALLOWED) <= set(one_value()), "allowlisted but now set outside tests, or gone"
