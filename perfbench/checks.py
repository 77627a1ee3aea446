"""Output checks made apart from the program: the warehouse and the
exports are read back with pyarrow, never with Spark, and extraction
results are compared with what the generator says each turn holds."""

from __future__ import annotations

import importlib.util
from collections import Counter
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.json as pj

from gen import collapse

_EXPORT_KEYS = pj.ParseOptions(
    explicit_schema=pa.schema([("conv_id", pa.string()), ("turn_idx", pa.int64())]),
    unexpected_field_behavior="ignore",
)

# failure classes of the extraction check: a fault-probe turn (see
# gen.py) whose output is exactly the text its known fault yields
KNOWN_FAULTS = {"f1": "F1", "f2": "F2"}


def turn_failures(actual: dict, expected: dict) -> Counter:
    """Classes of the turns whose extraction is wrong.

    ``actual`` maps (conv_id, turn_idx) -> (text, error); ``expected``
    maps it to (kind, expected text, fault texts). A wrong turn counts
    as F1 or F2 only when it is a probe page of that fault and its text
    equals one the fault yields; every other wrong turn, and a missing
    one, is ``other`` (the warehouse checks count a missing turn again
    as a property)."""
    bad: Counter = Counter()
    for key, (kind, exp, faults) in expected.items():
        got = actual.get(key)
        if got is None:
            bad["other"] += 1
            continue
        text, error = got
        if kind == "garbage":
            ok = text == "" and error != ""
        else:
            ok = error == "" and collapse(text) == collapse(exp)
        if ok:
            continue
        known = error == "" and collapse(text) in {collapse(f) for f in faults}
        bad[KNOWN_FAULTS[kind] if known else "other"] += 1
    return bad


def _read(path: Path, columns: list[str], partitioning=None) -> dict:
    return ds.dataset(
        str(path), format="parquet", partitioning=partitioning
    ).to_table(columns=columns).to_pydict()


def read_warehouse(root: Path) -> tuple[dict, dict]:
    """(extracted rows, lineage rows) of an ExtractWriter warehouse, as
    column dicts."""
    rows = _read(
        root / "extracted",
        ["conv_id", "turn_idx", "text", "error", "bucket"],
        partitioning="hive",
    )
    lineage = _read(
        root / "lineage",
        ["partition_id", "conv_min", "conv_max", "n_turns", "n_errors"],
        partitioning="hive",
    )
    return rows, lineage


def warehouse_properties(
    rows: dict, lineage: dict, expected: dict, n_buckets: int
) -> dict[str, bool]:
    """The commit-protocol properties of one finished run."""
    keys = list(zip(rows["conv_id"], rows["turn_idx"]))
    n_garbage = sum(1 for kind, *_ in expected.values() if kind == "garbage")
    n_err = sum(1 for e in rows["error"] if e)
    ranges: dict[int, list] = {}
    for cid, b in zip(rows["conv_id"], rows["bucket"]):
        r = ranges.setdefault(int(b), [cid, cid])
        r[0], r[1] = min(r[0], cid), max(r[1], cid)
    lin = sorted(
        zip(
            lineage["partition_id"],
            lineage["conv_min"],
            lineage["conv_max"],
            lineage["n_turns"],
            lineage["n_errors"],
        )
    )
    return {
        "every_turn_once": len(keys) == len(set(keys)) == len(expected)
        and set(keys) == set(expected),
        "one_lineage_row_per_bucket": [r[0] for r in lin] == list(range(n_buckets)),
        "lineage_turns_sum": sum(r[3] for r in lin) == len(expected),
        "lineage_errors_sum": sum(r[4] for r in lin) == n_err == n_garbage,
        "lineage_conv_ranges": all(
            ranges.get(b, [None, None]) == [lo, hi] for b, lo, hi, _, _ in lin
        ),
    }


def export_properties(json_dir: Path, expected: dict) -> dict[str, bool]:
    """The JSON export holds every row, and each file lists its
    conversations in (conv_id, turn_idx) order."""
    keys, ordered = [], True
    for f in sorted(json_dir.glob("part-*.json")):
        t = pj.read_json(f, parse_options=_EXPORT_KEYS).to_pydict()
        part = list(zip(t["conv_id"], t["turn_idx"]))
        ordered &= part == sorted(part)
        keys.extend(part)
    return {
        "export_every_row": len(keys) == len(expected) and set(keys) == set(expected),
        "export_ordered": ordered,
    }


def load_comparator(root: Path):
    """The result comparison of ``jobs/selfcheck.py``: canonical column
    and row order, row count, dtype kinds, floats within 1e-9."""
    spec = importlib.util.spec_from_file_location(
        "selfcheck", root / "jobs" / "selfcheck.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._compare
