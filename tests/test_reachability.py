"""Reachability guard: every top-level def, class and assigned name in
``ocr_spark/`` (dunders exempt) must be referenced somewhere in the code
the entry points run — ``jobs/``, ``__spark_entry__.py`` or
``ocr_spark/`` itself — outside its own definition. Only code counts: a reference is an ``ast`` ``Name``
(a load, call or assignment), an ``Attribute`` (``mod.name``) or an
imported name. Docstrings, comments and other strings do not count.
Library code that only tests reach fails here; the allowlist holds the
reference implementations and fixture generators that exist for the
tests."""

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

TEST_ORACLES = {
    ("kernels/bpe_ref.py", "encode_text"),
    ("kernels/graph_ref.py", "ref_hits"),
    ("kernels/graph_ref.py", "ref_pagerank"),
    ("synth.py", "gen_transcripts"),
    # the whale-table generator of bench.py's skew soak
    ("synth.py", "gen_whale_turns"),
    ("synth.py", "write_transcripts_parquet"),
    ("synth.py", "oracle_extract"),
    ("xlsx.py", "read_xlsx"),
}


def _references(tree: ast.AST):
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):  # import x.y.name [as z]
            yield node.name.rpartition(".")[2]


def _defined_names(node: ast.stmt):
    """Names a top-level statement defines: a def or class, or the plain
    names an assignment binds (dunders such as ``__all__`` exempt)."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        yield node.name
        return
    if isinstance(node, ast.Assign):
        targets = node.targets
    elif isinstance(node, ast.AnnAssign):
        targets = [node.target]
    else:
        return
    for t in targets:
        for n in ast.walk(t):
            if isinstance(n, ast.Name) and not (
                n.id.startswith("__") and n.id.endswith("__")
            ):
                yield n.id


def _unreferenced() -> list[tuple[str, str]]:
    pkg = ROOT / "ocr_spark"
    files = [
        *sorted(pkg.rglob("*.py")),
        *sorted((ROOT / "jobs").rglob("*.py")),
        ROOT / "__spark_entry__.py",
    ]
    trees = {f: ast.parse(f.read_text(encoding="utf-8")) for f in files}
    total = Counter()
    for tree in trees.values():
        total.update(_references(tree))
    out = []
    for f in sorted(pkg.rglob("*.py")):
        for node in trees[f].body:
            for name in _defined_names(node):
                own = sum(r == name for r in _references(node))
                if total[name] == own:
                    out.append((f.relative_to(pkg).as_posix(), name))
    return out


def test_every_library_def_is_reached():
    # exact equality: an allowlisted name that gained a caller, or was
    # deleted, is a stale entry that would hide a future dead def
    dead = set(_unreferenced())
    assert dead == TEST_ORACLES, (
        "referenced nowhere in jobs/, __spark_entry__.py or ocr_spark/: "
        f"{sorted(dead - TEST_ORACLES)}; stale allowlist entries: "
        f"{sorted(TEST_ORACLES - dead)}"
    )


# --- parameter reachability ------------------------------------------------
# Every defaulted parameter of a def under ``ocr_spark/`` must be set by
# some call in the code that runs it: the entry points, the benchmarks
# or the tests. An option that no call sets is a configuration nobody
# runs; it goes, and its default becomes the code. The allowlist holds
# (file, qualified def, parameter) entries with a reason each.
PARAM_ALLOWLIST: set[tuple[str, str, str]] = set()


def _caller_files() -> list[Path]:
    return [
        *sorted((ROOT / "ocr_spark").rglob("*.py")),
        *sorted((ROOT / "jobs").rglob("*.py")),
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "perfbench").rglob("*.py")),
        ROOT / "bench.py",
        ROOT / "bench_extra.py",
        *sorted((ROOT / "BENCH").rglob("*.py")),
        *sorted((ROOT / "tests").rglob("*.py")),
    ]


def _defaulted(fn: ast.FunctionDef) -> list[str]:
    a = fn.args
    pos = a.posonlyargs + a.args
    out = [p.arg for p in pos[len(pos) - len(a.defaults):]]
    return out + [
        k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _library_defs(trees: dict) -> list[tuple]:
    """(file, qualname, def node, class name or None) of every def,
    nested and method defs included."""
    pkg = ROOT / "ocr_spark"
    out = []

    def visit(node, f, prefix, cls):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.append((f, prefix + ch.name, ch, cls))
                visit(ch, f, prefix + ch.name + ".", None)
            elif isinstance(ch, ast.ClassDef):
                visit(ch, f, prefix + ch.name + ".", ch.name)
            else:
                visit(ch, f, prefix, cls)

    for path in sorted(pkg.rglob("*.py")):
        visit(trees[path], path.relative_to(pkg).as_posix(), "", None)
    return out


def _calls(tree: ast.AST):
    """(callee name, call, innermost enclosing def or None) of every
    call; ``from m import f as g`` makes a call to ``g`` a call to
    ``f``."""
    alias = {
        a.asname: a.name
        for n in ast.walk(tree)
        if isinstance(n, ast.ImportFrom)
        for a in n.names
        if a.asname
    }

    def visit(node, enc):
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, ast.Call):
                fn = ch.func
                if isinstance(fn, ast.Name):
                    yield alias.get(fn.id, fn.id), ch, enc
                elif isinstance(fn, ast.Attribute):
                    yield fn.attr, ch, enc
            inner = isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef))
            yield from visit(ch, ch if inner else enc)

    yield from visit(tree, None)


def _unset_params() -> tuple[int, set[tuple[str, str, str]]]:
    """(number of defaulted parameters, the ones no call sets).

    A call sets a parameter when it passes it by keyword or by
    position; a ``*args``/``**kw`` call sets every parameter. Calls
    match defs by name (a constructor call matches its class's
    ``__init__``). A call that only forwards its own def's still-unset
    parameter of the same name (``f(x=x)``) sets nothing, so the count
    iterates to a fixed point."""
    trees = {
        f: ast.parse(f.read_text(encoding="utf-8")) for f in _caller_files()
    }
    defs = _library_defs(trees)
    by_name: dict[str, list] = {}
    where = {}
    for f, q, fn, cls in defs:
        key = cls if cls and fn.name == "__init__" else fn.name
        by_name.setdefault(key, []).append((f, q, fn, cls))
        where[id(fn)] = (f, q)
    params = {(f, q, p) for f, q, fn, _ in defs for p in _defaulted(fn)}
    calls = [c for t in trees.values() for c in _calls(t)]

    def forwards_unset(v, enc, done):
        return (
            isinstance(v, ast.Name)
            and id(enc) in where
            and v.id in _defaulted(enc)
            and (*where[id(enc)], v.id) not in done
        )

    done: set = set()
    while True:
        new = set(done)
        for name, call, enc in calls:
            for f, q, fn, cls in by_name.get(name, []):
                dflt = set(_defaulted(fn))
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    new |= {(f, q, p) for p in dflt}
                    continue
                pos = [a.arg for a in fn.args.posonlyargs + fn.args.args]
                if cls and pos[:1] in (["self"], ["cls"]):
                    pos = pos[1:]
                given = [*zip(pos, call.args)]
                given += [(k.arg, k.value) for k in call.keywords]
                new |= {
                    (f, q, p)
                    for p, v in given
                    if p in dflt and not forwards_unset(v, enc, done)
                }
        if new == done:
            return len(params), params - done
        done = new


def test_every_defaulted_parameter_is_set_by_some_call():
    # exact equality, as for the name allowlist above
    n_params, unset = _unset_params()
    assert unset == PARAM_ALLOWLIST, (
        f"of {n_params} defaulted parameters, set by no call: "
        f"{sorted(unset - PARAM_ALLOWLIST)}; stale allowlist entries: "
        f"{sorted(PARAM_ALLOWLIST - unset)}"
    )
