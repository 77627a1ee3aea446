"""Reachability guard: every top-level def and class in ``ocr_spark/``
must be named somewhere in the code the entry points run — ``jobs/``,
``__spark_entry__.py`` or ``ocr_spark/`` itself — outside its own
definition. A name counts wherever it appears as a whole word, docstring
cross-references included. Library code that only tests reach fails
here; the allowlist holds the reference implementations and fixture
generators that exist for the tests."""

import ast
import re
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

TEST_ORACLES = {
    ("kernels/bpe_ref.py", "encode_text"),
    ("kernels/graph_ref.py", "ref_hits"),
    ("synth.py", "gen_transcripts"),
    # the whale-table generator of bench.py's skew soak
    ("synth.py", "gen_whale_turns"),
    ("synth.py", "write_transcripts_parquet"),
    ("synth.py", "oracle_extract"),
    ("xlsx.py", "read_xlsx"),
}


def _unreferenced() -> list[tuple[str, str]]:
    pkg = ROOT / "ocr_spark"
    files = [
        *sorted(pkg.rglob("*.py")),
        *sorted((ROOT / "jobs").rglob("*.py")),
        ROOT / "__spark_entry__.py",
    ]
    words = re.compile(r"\w+")
    total = Counter()
    for f in files:
        total.update(words.findall(f.read_text(encoding="utf-8")))
    out = []
    for f in sorted(pkg.rglob("*.py")):
        lines = f.read_text(encoding="utf-8").splitlines()
        for node in ast.parse("\n".join(lines)).body:
            if not isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                continue
            first = min(
                [node.lineno] + [d.lineno for d in node.decorator_list]
            )
            own = "\n".join(lines[first - 1 : node.end_lineno])
            if total[node.name] == words.findall(own).count(node.name):
                out.append((f.relative_to(pkg).as_posix(), node.name))
    return out


def test_every_library_def_is_reached():
    # exact equality: an allowlisted name that gained a caller, or was
    # deleted, is a stale entry that would hide a future dead def
    dead = set(_unreferenced())
    assert dead == TEST_ORACLES, (
        "named nowhere in jobs/, __spark_entry__.py or ocr_spark/: "
        f"{sorted(dead - TEST_ORACLES)}; stale allowlist entries: "
        f"{sorted(TEST_ORACLES - dead)}"
    )
