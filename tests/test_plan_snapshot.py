"""Frozen optimized-plan snapshot: one sha256 per ``QUERIES`` key.

Each digest covers the key's optimized logical plan
(``df._jdf.queryExecution().optimizedPlan().toString()``) built over
the sf0.001 tables (the ``sf001_dir`` fixture), with the counters that grow across a session
stripped: expression ids (``#12``, ``#12L``) and the numeric suffix of
Python lambda variables (``lambda x_7``) and of common-subexpression
aliases (``_common_expr_3``). The golden file lists the keys in
``QUERIES`` order, so a renamed, dropped, added or reordered key fails
here too.

Refactoring an operator (sharing a fragment, moving it into a helper)
must leave every plan as it is. Only an intended plan change may
rewrite the digests, from the repository root with

    python -m tests.test_plan_snapshot --regenerate

which builds the same session as ``tests/conftest.py``, and the change
must say which keys moved and why.
"""

from __future__ import annotations

import hashlib
import re
import sys
from pathlib import Path

from ocr_spark.driver_contract import QUERIES

GOLDEN = Path(__file__).resolve().parent / "golden" / "query_plan_digests.tsv"

_EXPR_ID = re.compile(r"#\d+L?")
_FRESH_NAME = re.compile(r"\b(lambda \w+?|_common_expr)_\d+\b")


def _digests(spark, sf_dir: str) -> dict[str, str]:
    # a relation cached by an earlier test would show as InMemoryRelation
    spark.catalog.clearCache()
    out = {}
    for key, build in QUERIES.items():
        plan = build(spark, sf_dir)._jdf.queryExecution().optimizedPlan()
        text = _FRESH_NAME.sub(r"\1", _EXPR_ID.sub("", plan.toString()))
        out[key] = hashlib.sha256(text.encode("utf-8")).hexdigest()
    return out


def _read_golden() -> list[tuple[str, str]]:
    rows = GOLDEN.read_text(encoding="ascii").splitlines()
    return [tuple(r.split("\t")) for r in rows]


def test_optimized_plans_match_frozen_digests(spark, sf001_dir):
    golden = _read_golden()
    assert [k for k, _ in golden] == list(QUERIES), "QUERIES keys or order moved"
    digests = _digests(spark, sf001_dir)
    moved = [k for k, d in golden if digests[k] != d]
    assert not moved, f"{len(moved)} plans changed: {moved}"


if __name__ == "__main__":
    if sys.argv[1:] != ["--regenerate"]:
        sys.exit("usage: python -m tests.test_plan_snapshot --regenerate")
    from tests.conftest import build_session, sf001_dir

    session = build_session()
    # the fixture's own function: the same tables as the test
    digests = _digests(session, sf001_dir.__wrapped__())
    session.stop()
    GOLDEN.parent.mkdir(exist_ok=True)
    GOLDEN.write_text(
        "".join(f"{k}\t{v}\n" for k, v in digests.items()), encoding="ascii"
    )
    print(f"wrote {GOLDEN}")
