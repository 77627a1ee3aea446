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
