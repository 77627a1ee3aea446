"""Reachability guard: every top-level def and class in ``ocr_spark/``
must be referenced somewhere in the code the entry points run —
``jobs/``, ``__spark_entry__.py`` or ``ocr_spark/`` itself — outside its
own definition. Only code counts: a reference is an ``ast`` ``Name``
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
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            own = sum(r == node.name for r in _references(node))
            if total[node.name] == own:
                out.append((f.relative_to(pkg).as_posix(), node.name))
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
