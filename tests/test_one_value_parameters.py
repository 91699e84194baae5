"""Every defaulted parameter in the package is a value some caller outside tests sets.

An AST walk, no Spark. A parameter whose every caller passes the default,
or nothing, only ever takes one value; it is a constant spelled as a knob,
so it belongs in the body as its literal. The scope is the top-level
functions of the whole package except ``session.py`` and ``__main__.py``
(a nested function's defaults bind closure values, not options), whose
``env``/``argv``/``master`` parameters are test-substitution and
deployment points. Callers are every call in the package, ``tools/``,
``bench.py``, ``__spark_entry__.py`` and ``xferbench/`` — the callers
``test_reachability.py`` counts: the product is the CLI plus the query
registry, so a value only a test sets is not a reason for a knob. Calls
resolve by name to every in-scope function of that name. A call sets a
parameter when it passes an expression other than the default,
positionally or by keyword, or when it forwards ``*args``/``**kwargs``.
Passing the caller's own defaulted parameter of the same default only
sets the parameter if that one is set in turn (a fixpoint), so a knob
relayed through a chain of knobs is still one knob.

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


def one_value() -> list[tuple[str, str, str]]:
    """(module path relative to the package, function, parameter) of every
    in-scope defaulted parameter that no caller sets."""
    defs: dict[tuple[str, str], ast.AST] = {}
    by_name: dict[str, list[tuple[str, str]]] = {}
    trees = {path: ast.parse(path.read_text(), str(path)) for path in _py_files()}
    for path, tree in trees.items():
        if PACKAGE in path.parents and path not in OUT_OF_SCOPE:
            module = path.relative_to(PACKAGE).as_posix()
            for stmt in tree.body:
                if isinstance(stmt, FUNCS):
                    defs[(module, stmt.name)] = stmt
                    by_name.setdefault(stmt.name, []).append((module, stmt.name))
    defaults = {key: _defaults(fn) for key, fn in defs.items()}
    key_of = {id(fn): key for key, fn in defs.items()}

    set_: set[tuple[tuple[str, str], str]] = set()
    relays: list[tuple[tuple[tuple[str, str], str], tuple[tuple[str, str], str]]] = []

    def relayed_from(name: ast.Name, scopes: list, default: ast.expr):
        """The enclosing in-scope parameter ``name`` reads, when it has the same default."""
        for fn in reversed(scopes):
            if name.id in _params(fn):
                key = key_of.get(id(fn))
                d = defaults[key].get(name.id) if key else None
                return (key, name.id) if d is not None and ast.dump(d) == ast.dump(default) else None
        return None

    def visit(node, scopes):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (*FUNCS, ast.Lambda)):
                visit(child, scopes + [child])
                continue
            if isinstance(child, ast.Call):
                f = child.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                for key in by_name.get(name, ()):
                    dflt = defaults[key]
                    if any(isinstance(a, ast.Starred) for a in child.args) or any(
                        k.arg is None for k in child.keywords
                    ):
                        set_.update((key, p) for p in dflt)
                        continue
                    a = defs[key].args
                    pos = [p.arg for p in a.posonlyargs + a.args]
                    binds = list(zip(pos, child.args)) + [(k.arg, k.value) for k in child.keywords]
                    for p, expr in binds:
                        if p not in dflt or ast.dump(expr) == ast.dump(dflt[p]):
                            continue
                        src = relayed_from(expr, scopes, dflt[p]) if isinstance(expr, ast.Name) else None
                        if src:
                            relays.append(((key, p), src))
                        else:
                            set_.add((key, p))
            visit(child, scopes)

    for tree in trees.values():
        visit(tree, [])
    grew = True
    while grew:
        grew = False
        for target, src in relays:
            if src in set_ and target not in set_:
                set_.add(target)
                grew = True
    return sorted((m, f, p) for (m, f), dflt in defaults.items() for p in dflt if ((m, f), p) not in set_)


def test_every_defaulted_parameter_is_set_by_some_caller():
    found = [key for key in one_value() if key not in ALLOWED]
    assert not found, "only ever the default, fold into the body: " + ", ".join(
        f"{m}:{f}({p})" for m, f, p in found
    )


def test_allowlist_is_current():
    assert set(ALLOWED) <= set(one_value()), "allowlisted but now set outside tests, or gone"
