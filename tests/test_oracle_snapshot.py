"""Frozen oracle-SQL snapshot: one sha256 per ``ORACLES`` key.

Each digest covers the key's DuckDB SQL after normalisation: runs of
whitespace collapse to one space and the ends are stripped, but only
outside single-quoted literals, which stay byte-exact (``replace(text,
' ', '  ')`` must not read the same as ``replace(text, ' ', ' ')``). A
``--`` comment is kept as written and ends at its newline, so a quote
inside a comment does not open a literal and code cannot move into a
comment unseen. The golden file lists the keys in ``ORACLES`` order, so
a renamed, dropped, added or reordered key fails here too.

Refactoring ``driver_contract.py`` (sharing a CTE, re-indenting, moving
a fragment into a helper) must leave every digest as it is. Only an
intended oracle change may rewrite them, from the repository root with

    python -m tests.test_oracle_snapshot --regenerate

and the change must say which keys moved and why. No Spark session is
needed.
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

from ocr_spark.driver_contract import ORACLES

GOLDEN = Path(__file__).resolve().parent / "golden" / "oracle_sql_digests.tsv"

# literal (unterminated runs to the end) | comment | whitespace | other
_TOKEN = re.compile(r"'[^']*(?:'|\Z)|--[^\n]*|\s+|[^'\s-]+|-")


def normalise(sql: str) -> str:
    out: list[str] = []
    prev = ""
    for tok in _TOKEN.findall(sql):
        if tok.startswith("--"):
            out.append(tok.rstrip() + "\n")  # the newline ends it
        elif not tok.isspace():
            out.append(tok)
        elif not prev.startswith("--"):
            out.append(" ")
        prev = tok
    return "".join(out).strip()


def _digests() -> dict[str, str]:
    return {
        key: hashlib.sha256(normalise(sql).encode("utf-8")).hexdigest()
        for key, sql in ORACLES.items()
    }


def _read_golden() -> list[tuple[str, str]]:
    rows = GOLDEN.read_text(encoding="ascii").splitlines()
    return [tuple(r.split("\t")) for r in rows]


def test_normalise_collapses_only_outside_literals():
    sql = "SELECT  replace(t, ' ', '  ')\n\t FROM x  -- it's\n   WHERE a = 'b''c'  "
    assert normalise(sql) == (
        "SELECT replace(t, ' ', '  ') FROM x -- it's\nWHERE a = 'b''c'"
    )
    assert normalise("a -- c\nb") != normalise("a -- c b")


def test_oracle_sql_matches_frozen_digests():
    golden = _read_golden()
    assert [k for k, _ in golden] == list(ORACLES), "ORACLES keys or order moved"
    digests = _digests()
    moved = [k for k, d in golden if digests[k] != d]
    assert not moved, f"{len(moved)} oracles changed: {moved}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--regenerate"]:
        sys.exit("usage: python -m tests.test_oracle_snapshot --regenerate")
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(
        "".join(f"{k}\t{v}\n" for k, v in _digests().items()), encoding="ascii"
    )
    print(f"wrote {GOLDEN}")
