"""The benchmark workloads and their per-layer metrics.

Each workload builds its inputs from the seed (cached per seed under
the work dir), warms up on that input, runs whole passes
through the program's public entry points and checks every pass.
"""

from __future__ import annotations

import shutil
import statistics
import sys
import time
from collections import Counter
from pathlib import Path

import pyarrow.parquet as pq

import checks
import gen
from eventlog import COMMIT_TIME, PY_RECV, PY_SENT, SCAN_TIME, EventLog
from tracing import Tracer

# import the program up front: a checkout without it fails here
from ocr_spark.extract import ExtractCounters
from ocr_spark.io import ExtractWriter, read_transcripts

MB = 2**20

# curation keys of the operator library, chosen so that a cold warm-up,
# one pass and the DuckDB oracles fit one run (README, "curate_ops")
OPS_KEYS = (
    "minhash_lsh",
    "semantic_dedup_kmeans",
    "gopher_rules",
)
OPS_FIELDS = (("s", "s"), ("stages", "count"), ("shuffle_mb", "MB"),
              ("spill_mb", "MB"), ("rows", "count"))

# every per-layer metric, with its unit; a workload that does not
# exercise a layer reports 0 for it
PER_LAYER: dict[str, str] = {
    "trace.pass_s": "s",
    "kernels.batch_s": "s",
    "kernels.html_main_s": "s",
    "kernels.pdf_order_s": "s",
    "kernels.ensemble_s": "s",
    "kernels.spans_s": "s",
    "kernels.turns_per_core_s": "1/s",
    "kernels.turns_html": "count",
    "kernels.turns_pdf": "count",
    "kernels.turns_plain": "count",
    "kernels.turns_error": "count",
    "kernels.chars_in": "count",
    "kernels.chars_out": "count",
    "extract.udf_task_s": "s",
    "extract.boundary_s": "s",
    "extract.py_sent_mb": "MB",
    "extract.py_recv_mb": "MB",
    "partitioning.shuffle_write_mb": "MB",
    "partitioning.shuffle_s": "s",
    "partitioning.max_over_mean_rows": "ratio",
    "io.scan_s": "s",
    "io.read_amplification": "ratio",
    "io.jobs": "count",
    "io.write_task_s": "s",
    "io.lineage_commit_s": "s",
    "io.files_written": "count",
    "io.resume_s": "s",
    "io.export_json_s": "s",
    **{f"ops.{k}_{f}": u for k in OPS_KEYS for f, u in OPS_FIELDS},
    "spark.tasks": "count",
    "spark.gc_s": "s",
    "spark.spill_mb": "MB",
    "check.f1_turns": "count",
    "check.f2_turns": "count",
}


def _cached(path: Path, build) -> Path:
    """Build ``path`` once, atomically, via a sibling temp dir."""
    if not path.exists():
        tmp = path.with_name(path.name + ".tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        build(tmp)
        tmp.rename(path)
    return path


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _count_parts(path: Path) -> int:
    return sum(1 for f in path.rglob("part-*") if f.is_file())


class Workload:
    name = ""
    # wall time of one pass on a 4-core box, two task slots; a run of
    # ``seconds`` times round(seconds / pass_s_nominal) passes, so every
    # run of the same length does the same work however fast the box is
    pass_s_nominal = 1.0

    def __init__(self, work: Path, root: Path, seed: int) -> None:
        self.work, self.root, self.seed = work, root, seed
        self.out = work / "run" / self.name
        self.attempted = 0
        self.failed = 0
        self.failure_classes: Counter = Counter()
        self.expected_faults = frozenset()

    @property
    def correct(self) -> bool:
        return set(self.failure_classes) <= self.expected_faults

    def n_passes(self, seconds: float) -> int:
        return max(1, round(seconds / self.pass_s_nominal))

    def clean_outputs(self) -> Path:
        shutil.rmtree(self.out, ignore_errors=True)
        self.out.mkdir(parents=True)
        return self.out

    def _count(self, n_ops: int, failures: Counter) -> None:
        self.attempted += n_ops
        self.failed += sum(failures.values())
        self.failure_classes.update(failures)

    def _engine_metrics(self, w, input_bytes_read: float) -> dict[str, float]:
        input_size = dir_bytes(self.input_dir)
        return {
            "partitioning.shuffle_write_mb": w.total("shuffle_write_bytes") / MB,
            "partitioning.shuffle_s": w.total("shuffle_write_ns") / 1e9
            + w.total("shuffle_fetch_wait_ms") / 1e3,
            "partitioning.max_over_mean_rows": w.max_over_mean_rows(),
            "io.scan_s": w.sql_metric(SCAN_TIME) / 1e3,
            "io.read_amplification": input_bytes_read / input_size,
            "io.jobs": w.n_jobs,
            "io.write_task_s": (
                sum(
                    w.total("run_ms", k)
                    for k in ("lineage_commit", "export_json", "write")
                )
                + w.sql_metric(COMMIT_TIME, "extract")
            ) / 1e3,
            "spark.tasks": w.total("n_tasks"),
            "spark.gc_s": w.total("gc_ms") / 1e3,
            "spark.spill_mb": w.total("spill_bytes") / MB,
        }

    def layer_metrics(self, passes, tracer, event_dir: Path) -> dict:
        (log,) = [p for p in event_dir.iterdir() if p.is_file()]
        ev = EventLog(log)
        rows = []
        for p, span in zip(passes, tracer.named("pass")):
            m = {k: 0.0 for k in PER_LAYER}
            m["trace.pass_s"] = p["pass_s"]
            m.update(self._pass_metrics(ev, ev.window(p["t0"], p["t1"]), tracer, span))
            rows.append(m)
        out = {k: statistics.median(r[k] for r in rows) for k in PER_LAYER}
        out.update(self._run_metrics(out))
        return {k: (v, PER_LAYER[k]) for k, v in out.items()}

    def _run_metrics(self, per_pass: dict) -> dict:
        return {}

    def check_run(self) -> None:
        """Checks made once, after the last pass."""


class WebResume(Workload):
    """The default web mix (html:pdf:plain 5:2:3, garbage, malformed
    pages, two whale conversations) through ``ExtractWriter.run`` with
    salting on, crashed by the writer's own hook after the first of two
    bucket groups, resumed under the same run id, then exported with
    ``export_json``."""

    name = "web_resume"
    pass_s_nominal = 9.5
    n_turns = 16_000
    n_files = 8
    n_buckets = 8
    group_size = 4
    partitions = 2 * 4
    salt_threshold = 400  # below both whales (n_turns/16 and /32)
    salt_buckets = 64

    def _build(self, seed: int, n_turns: int, n_files: int):
        def build(tmp: Path) -> None:
            data, expected = gen.web_mix(seed, n_turns)
            gen.write_parts(data, tmp / "data", n_files)
            pq.write_table(expected, tmp / "expected.parquet")
        return build

    def prepare(self) -> None:
        inputs = self.work / "inputs"
        self.input_root = _cached(
            inputs / f"{self.name}-{self.n_turns}-{self.seed}",
            self._build(self.seed, self.n_turns, self.n_files),
        )
        self.input_dir = self.input_root / "data"
        e = pq.read_table(self.input_root / "expected.parquet").to_pydict()
        self.expected = {
            (c, t): (k, x, f)
            for c, t, k, x, f in zip(
                e["conv_id"], e["turn_idx"], e["kind"], e["expected"],
                e["fault_texts"],
            )
        }
        self.expected_faults = frozenset(checks.KNOWN_FAULTS.values())

    def _run(self, spark, tracer, src: Path, wh: Path, warm: bool = False) -> None:
        with tracer.span("read_transcripts"):
            df = read_transcripts(spark, str(src))
        writer = ExtractWriter(str(wh))
        kw = dict(
            n_buckets=self.n_buckets,
            group_size=self.group_size,
            partitions=self.partitions,
            salt_threshold=self.salt_threshold,
            salt_buckets=self.salt_buckets,
            counters=ExtractCounters(spark),
        )
        with tracer.span("ExtractWriter.run"):
            try:
                writer.run(spark, df, "R", fail_after_groups=1, **kw)
            except RuntimeError as e:
                if "injected crash" not in str(e):
                    raise
        if not warm:
            with tracer.span("resume"):
                writer.run(spark, df, "R", **kw)
        with tracer.span("export_json"):
            writer.export_json(spark, str(wh / "export"))

    def warmup(self, spark) -> None:
        """The pass's calls on the pass's input, resume left out: every
        plan of a pass is compiled, as many Python workers started as a
        pass uses, and the JIT sees the pass's data. The resumed group
        runs the same plans as the first one."""
        wh = self.work / "run" / f"{self.name}-warm"
        shutil.rmtree(wh, ignore_errors=True)
        self._run(spark, Tracer(False), self.input_dir, wh, warm=True)

    def run_pass(self, spark, tracer) -> None:
        self._run(spark, tracer, self.input_dir, self.out / "wh")

    def check_pass(self) -> None:
        rows, lineage = checks.read_warehouse(self.out / "wh")
        actual = {
            (c, t): (x, e)
            for c, t, x, e in zip(
                rows["conv_id"], rows["turn_idx"], rows["text"], rows["error"]
            )
        }
        bad = checks.turn_failures(actual, self.expected)
        props = checks.warehouse_properties(
            rows, lineage, self.expected, self.n_buckets
        )
        props.update(
            checks.export_properties(self.out / "wh" / "export", self.expected)
        )
        bad.update({f"property:{k}": 1 for k, ok in props.items() if not ok})
        self._count(len(self.expected) + len(props), bad)
        self._last_bad = bad

    def _pass_metrics(self, ev, w, tracer, span) -> dict:
        m = self._engine_metrics(w, w.files_read("extract"))
        m.update(
            {
                "extract.udf_task_s": sum(s.run_ms for s in w.udf_stages()) / 1e3,
                "extract.py_sent_mb": w.sql_metric(PY_SENT) / MB,
                "extract.py_recv_mb": w.sql_metric(PY_RECV) / MB,
                "io.lineage_commit_s": w.sql_wall_s("lineage_commit"),
                "io.files_written": _count_parts(self.out),
                "io.resume_s": sum(
                    s["end"] - s["start"] for s in tracer.named("resume", span)
                ),
                "io.export_json_s": sum(
                    s["end"] - s["start"] for s in tracer.named("export_json", span)
                ),
                "check.f1_turns": self._last_bad.get("F1", 0),
                "check.f2_turns": self._last_bad.get("F2", 0),
            }
        )
        return m

    def _run_metrics(self, per_pass: dict) -> dict:
        k = kernel_metrics(self.input_dir)
        k["extract.boundary_s"] = per_pass["extract.udf_task_s"] - k["kernels.batch_s"]
        return k


# the kernel stages ``extract_batch`` calls, as named in
# ``ocr_spark.kernels.pipeline``, and the metric each one's time adds to
KERNEL_STAGES = {
    "extract_html": "kernels.html_main_s",
    "extract_pdf": "kernels.pdf_order_s",
    "vote": "kernels.ensemble_s",
    "candidate_c": "kernels.spans_s",
    "reanchor_spans": "kernels.spans_s",
}


def kernel_metrics(input_dir: Path) -> dict:
    """Single-core, in-process kernel timings on one pass's turns:
    ``kernels.batch_s`` from one plain ``extract_batch`` call, the
    stage times from a second call during which each stage the pipeline
    module calls is wrapped in a timer. The stage figures follow
    whatever ``extract_batch`` calls; a stage it no longer has reads 0."""
    from ocr_spark.kernels import pipeline

    t = pq.read_table(input_dir, columns=["text", "tool"]).to_pandas()
    t0 = time.perf_counter()
    out = pipeline.extract_batch(t["text"], t["tool"])
    batch_s = time.perf_counter() - t0

    stage_s = Counter({m: 0.0 for m in KERNEL_STAGES.values()})

    def timed(fn, metric):
        def call(*args, **kw):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kw)
            finally:
                stage_s[metric] += time.perf_counter() - t0
        return call

    originals = {n: getattr(pipeline, n) for n in KERNEL_STAGES if hasattr(pipeline, n)}
    try:
        for n, fn in originals.items():
            setattr(pipeline, n, timed(fn, KERNEL_STAGES[n]))
        pipeline.extract_batch(t["text"], t["tool"])
    finally:
        for n, fn in originals.items():
            setattr(pipeline, n, fn)

    tools = Counter(x if x in ("html", "pdf") else "plain" for x in t["tool"])
    return {
        "kernels.batch_s": batch_s,
        **stage_s,
        "kernels.turns_per_core_s": len(t) / batch_s,
        "kernels.turns_html": tools["html"],
        "kernels.turns_pdf": tools["pdf"],
        "kernels.turns_plain": tools["plain"],
        "kernels.turns_error": sum(1 for e in out["error"] if e),
        "kernels.chars_in": int(t["text"].str.len().sum()),
        "kernels.chars_out": int(out["text"].str.len().sum()),
    }


class CurateOps(Workload):
    """Operator-library curation keys, each written to parquet the way
    ``jobs/ops.py`` does, then checked against its DuckDB oracle."""

    name = "curate_ops"
    pass_s_nominal = 7.5
    n_docs = 300

    def prepare(self) -> None:
        def build(tmp: Path) -> None:
            pq.write_table(
                gen.documents(self.seed, self.n_docs), tmp / "documents.parquet"
            )
            pq.write_table(
                gen.embeddings(self.seed, self.n_docs), tmp / "embeddings.parquet"
            )

        self.input_dir = _cached(
            self.work / "inputs" / f"{self.name}-{self.n_docs}-{self.seed}", build
        )

    def _run(self, spark, tracer, tables: Path, out: Path) -> Counter:
        from ocr_spark.driver_contract import QUERIES

        errors: Counter = Counter()
        self.rows = {}
        for key in OPS_KEYS:
            with tracer.span(f"ops.{key}"):
                try:
                    QUERIES[key](spark, str(tables)).write.mode(
                        "overwrite"
                    ).parquet(str(out / key))
                    self.rows[key] = spark.read.parquet(str(out / key)).count()
                except Exception as e:  # noqa: BLE001 - a failed query is counted
                    errors[f"query_error:{key}"] += 1
                    print(f"[curate_ops] {key}: {e!r}", file=sys.stderr)
        return errors

    def warmup(self, spark) -> None:
        """One untimed pass over the pass's own tables."""
        self._run(spark, Tracer(False), self.input_dir, self.work / "run" / "ops-warm")

    def run_pass(self, spark, tracer) -> None:
        self._errors = self._run(spark, tracer, self.input_dir, self.out)

    def check_pass(self) -> None:
        self._count(len(OPS_KEYS), self._errors)

    def check_run(self) -> None:
        import duckdb

        from ocr_spark.driver_contract import ORACLES

        compare = checks.load_comparator(self.root)
        con = duckdb.connect(config={"threads": 4, "memory_limit": "2GB"})
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{self.input_dir / (t + '.parquet')}')"
            )
        bad: Counter = Counter()
        for key in OPS_KEYS:
            try:
                want = con.execute(ORACLES[key]).df()
                got = pq.read_table(self.out / key).to_pandas()
                err = compare(key, got, want)
            except Exception as e:  # noqa: BLE001 - an error is a failed check
                err = repr(e)
            if err:
                bad[f"oracle_mismatch:{key}"] += 1
                print(f"[curate_ops] {key}: {err}", file=sys.stderr)
        con.close()
        self._count(len(OPS_KEYS), bad)

    def _pass_metrics(self, ev, w, tracer, span) -> dict:
        m = self._engine_metrics(w, w.files_read())
        m["io.files_written"] = _count_parts(self.out)
        for key in OPS_KEYS:
            (s,) = tracer.named(f"ops.{key}", span)
            kw = ev.window(s["start"], s["end"])
            m[f"ops.{key}_s"] = s["end"] - s["start"]
            m[f"ops.{key}_stages"] = len(kw.stages)
            m[f"ops.{key}_shuffle_mb"] = kw.total("shuffle_write_bytes") / MB
            m[f"ops.{key}_spill_mb"] = kw.total("spill_bytes") / MB
            m[f"ops.{key}_rows"] = self.rows.get(key, 0)
        return m


WORKLOADS = {w.name: w for w in (WebResume, CurateOps)}
