"""Table IO, lineage commit protocol, checkpoint/resume (SURVEY.md O14-O16).

No Iceberg runtime jar is available in this environment (verified: none in
the pyspark 4.1.2 jars dir, no network), so the default backend is an
**Iceberg-layout-compatible Parquet warehouse**: hash-bucket partition
layout and a manifest-last commit protocol. The real Iceberg path exists
as code behind ``ExtractWriter(iceberg_table=...)`` — every read/write
site branches to ``spark.read.table`` / ``writeTo(...).overwritePartitions
/ .append()`` — and activates by shipping the jar via ``--packages``
(tested skip-if-no-jar).

Commit protocol (graft of the reference's server-held resumable batch
state + reset.bat, /root/reference/README.md:54-56):

- the run is divided into ``n_buckets`` units by pmod(hash(conv_id), B);
  only bucket-partitioned input (Iceberg ``bucket(B, conv_id)``) lets a
  group's scan prune to its buckets; on flat parquet the
  ``pmod(hash(conv_id), B) IN (group)`` filter cannot be pushed down, so
  every group re-reads the whole input (n_groups × the input bytes),
- buckets are processed in groups; each group writes its data partitions
  with dynamic partition overwrite (idempotent on rerun), then appends
  one lineage row per bucket **last** (manifest-last: a crash between
  data and lineage just means the bucket is rewritten on resume),
- resume = anti-join of the bucket list against committed lineage rows
  (driver-side, ≤ n_buckets elements — never row data),
- ``reset`` drops the run's lineage (the reset.bat graft).
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import (
    DataFrame,
    Observation,
    SparkSession,
    functions as F,
)

from ocr_spark.extract import ExtractCounters, extract
from ocr_spark.partitioning import ordered

BUCKET_COL = "bucket"


def add_bucket(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        BUCKET_COL, F.pmod(F.hash("conv_id"), F.lit(n_buckets))
    )


# One lineage row per bucket. Every field is nullable (an empty bucket
# has null conv_min/conv_max): the Iceberg ``create()`` path takes this
# as the lineage table's schema.
_LINEAGE_ROW = (
    "struct<run_id:string,partition_id:int,conv_min:string,"
    "conv_max:string,n_turns:bigint,n_errors:bigint>"
)


def _lineage_rows(
    spark: SparkSession, run_id: str, group: list[int], metrics: dict
) -> DataFrame:
    """The lineage rows of one bucket group, from the write pass's
    observed ``metrics``, as literal structs inlined over a one-row
    range: a JVM-local relation, so committing them starts no Python
    worker (``createDataFrame(<list>)`` would run a Python-RDD job)."""
    rows = [
        F.struct(
            F.lit(run_id),
            F.lit(b),
            F.lit(metrics[f"conv_min_{b}"]),
            F.lit(metrics[f"conv_max_{b}"]),
            F.lit(metrics[f"n_turns_{b}"]),
            F.lit(metrics[f"n_errors_{b}"]),
        ).cast(_LINEAGE_ROW)
        for b in group
    ]
    return spark.range(1, numPartitions=1).select(
        F.inline(F.array(*rows))
    ).withColumn("committed_at", F.current_timestamp())


def read_transcripts(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    dedup: bool = False,
) -> DataFrame:
    """Typed transcript source for the wire formats agent logs arrive
    in: parquet (native), ORC, JSONL, headered CSV. JSON/CSV are read
    WITH the TRANSCRIPTS schema (no inference pass over 100 TB; bad
    rows null out instead of failing the scan — the row-preserving
    error-channel philosophy at ingest). ``dedup=True`` applies the
    (conv_id, turn_idx) duplicate drop on ingest — the reference's
    ZIP duplicate-filename rule (documents/…2학기_8주차.md:52).
    """
    from ocr_spark.schema import TRANSCRIPTS

    if fmt == "parquet":
        df = spark.read.parquet(path)
    elif fmt == "orc":
        # ORC ships in Spark's default distribution (unlike Avro) —
        # columnar with predicate pushdown, same scale class as parquet
        df = spark.read.orc(path)
    elif fmt in ("json", "jsonl"):
        df = (
            spark.read.schema(TRANSCRIPTS)
            .option(
                "timestampFormat",
                "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX][xx]",
            )
            .json(path)
        )
    elif fmt == "csv":
        # multiLine: transcript text carries embedded newlines inside
        # RFC4180 quotes (escape='"' = doubled-quote convention). This
        # disables input splitting per file — CSV is the convenience
        # ingest, parquet/JSONL are the scale paths.
        df = (
            spark.read.schema(TRANSCRIPTS)
            .option("header", "true")
            .option("multiLine", "true")
            .option("escape", '"')
            .option(
                "timestampFormat",
                "yyyy-MM-dd'T'HH:mm:ss[.SSSSSS][XXX][xx]",
            )
            .csv(path)
        )
    else:
        raise ValueError(f"unknown transcript format {fmt!r}")
    df = df.select(*[f.name for f in TRANSCRIPTS.fields])
    if fmt not in ("parquet", "orc"):
        # CSV cannot distinguish '' from null (and JSON rows may omit
        # the field); TRANSCRIPTS declares text non-null, so ingest
        # enforces it — empty payloads flow to the error channel
        # downstream instead of crashing the kernel on None
        df = df.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    if dedup:
        df = df.dropDuplicates(["conv_id", "turn_idx"])
    return df


def ingest_zip(
    spark: SparkSession,
    zip_path: str,
    fmt: str = "jsonl",
    work_dir: str | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Expand a ZIP batch container and read it as transcripts — the
    reference's ZIP-upload ingest graft including its
    duplicate-FILENAME rule (first wins,
    /root/reference/documents/…2학기_8주차.md:52), applied before the
    row-level (conv_id, turn_idx) dedup.

    ZIP is not a splittable format: expansion is a one-time driver-side
    pass into ``work_dir`` (the landing zone), after which the member
    files scan in parallel. It is the upload-convenience path;
    parquet/JSONL directories are the scale paths.
    """
    import tempfile
    import zipfile

    out = Path(work_dir or tempfile.mkdtemp(prefix="ocr_spark_zip_"))
    out.mkdir(parents=True, exist_ok=True)
    seen: set[str] = set()
    with zipfile.ZipFile(zip_path) as z:
        for name in z.namelist():
            if name.endswith("/"):
                continue
            base = Path(name).name
            if base in seen:  # duplicate filename: first wins
                continue
            seen.add(base)
            (out / base).write_bytes(z.read(name))
    return read_transcripts(spark, str(out), fmt=fmt, dedup=dedup)


def iceberg_available(spark: SparkSession) -> bool:
    """True when an Iceberg runtime jar is on the session classpath."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:  # noqa: BLE001 - Py4J raises wrapped ClassNotFound
        return False


class ExtractWriter:
    """Warehouse writer with lineage-gated resume.

    Two backends behind the same commit protocol:

    - default: Iceberg-layout Parquet warehouse directory (this sandbox
      has no Iceberg jar — verified, no network);
    - ``iceberg_table='catalog.db.extracted'``: the real Iceberg path —
      ``writeTo(t).overwritePartitions()`` for data (dynamic partition
      overwrite == the Parquet mode's idempotent bucket rewrite) and
      ``writeTo(t_lineage).append()`` manifest-last. Drops in via
      ``spark-submit --packages org.apache.iceberg:...`` with no other
      change; construction fails fast when the jar is absent.
    """

    def __init__(self, root: str, iceberg_table: str | None = None,
                 spark: SparkSession | None = None) -> None:
        self.root = Path(root)
        self.data_dir = self.root / "extracted"
        self.lineage_dir = self.root / "lineage"
        self.iceberg_table = iceberg_table
        if iceberg_table and spark is not None and not iceberg_available(spark):
            raise RuntimeError(
                "iceberg_table was set but no Iceberg runtime jar is on "
                "the classpath; add --packages org.apache.iceberg:"
                "iceberg-spark-runtime-4.0_2.13:<version> (or leave "
                "iceberg_table unset for the Parquet-layout backend)"
            )

    @property
    def _lineage_table(self) -> str:
        return f"{self.iceberg_table}_lineage"

    # -- lineage ------------------------------------------------------
    def _run_lineage_dir(self, run_id: str) -> Path:
        return self.lineage_dir / f"run_id={run_id}"

    def committed_buckets(self, spark: SparkSession, run_id: str) -> set[int]:
        if self.iceberg_table:
            if not spark.catalog.tableExists(self._lineage_table):
                return set()
            rows = (
                spark.read.table(self._lineage_table)
                .filter(F.col("run_id") == run_id)
                .select("partition_id")
                .collect()
            )
            return {r.partition_id for r in rows}
        d = self._run_lineage_dir(run_id)
        if not d.exists() or not any(d.glob("*.parquet")):
            return set()
        rows = (
            spark.read.parquet(str(d)).select("partition_id").collect()
        )
        return {r.partition_id for r in rows}

    def reset(self, run_id: str, spark: SparkSession | None = None) -> None:
        """Forget a run's commits (reset.bat graft); data dirs are
        overwritten idempotently on the next run."""
        if self.iceberg_table:
            if spark is not None and spark.catalog.tableExists(
                self._lineage_table
            ):
                # run_id comes straight from the CLI: escape single
                # quotes so the DELETE predicate cannot be broken (or
                # injected into) by a quoted run id
                safe = run_id.replace("'", "''")
                spark.sql(
                    f"DELETE FROM {self._lineage_table} "
                    f"WHERE run_id = '{safe}'"
                )
            return
        d = self._run_lineage_dir(run_id)
        if d.exists():
            shutil.rmtree(d)

    def lineage(self, spark: SparkSession) -> DataFrame:
        if self.iceberg_table:
            return spark.read.table(self._lineage_table)
        return spark.read.option("basePath", str(self.lineage_dir)).parquet(
            str(self.lineage_dir)
        )

    # -- the run ------------------------------------------------------
    def run(
        self,
        spark: SparkSession,
        transcripts: DataFrame,
        run_id: str,
        *,
        n_buckets: int = 8,
        group_size: int = 4,
        partitions: int | None = None,
        salt_buckets: int = 1024,
        salt_threshold: int = 10_000,
        fail_after_groups: int | None = None,
        counters: "ExtractCounters | None" = None,
    ) -> list[int]:
        """Extract + write all uncommitted buckets. Returns the bucket ids
        committed by THIS invocation. ``partitions`` is the initial
        partition count of each group's salted rebalance (see
        ``repartition_salted``). ``fail_after_groups`` injects a mid-run crash for
        the resume-idempotence test."""
        spark.conf.set(
            "spark.sql.sources.partitionOverwriteMode", "dynamic"
        )
        df = add_bucket(transcripts, n_buckets)
        done = self.committed_buckets(spark, run_id)
        todo = [b for b in range(n_buckets) if b not in done]
        committed: list[int] = []
        groups = [
            todo[i : i + group_size] for i in range(0, len(todo), group_size)
        ]
        for gi, group in enumerate(groups):
            if fail_after_groups is not None and gi >= fail_after_groups:
                raise RuntimeError(
                    f"injected crash before group {gi} (buckets {group})"
                )
            sub = df.filter(F.col(BUCKET_COL).isin(group))
            ext = extract(
                sub,
                partitions=partitions,
                salt_buckets=salt_buckets,
                salt_threshold=salt_threshold,
                passthrough=[BUCKET_COL],
                counters=counters,
            )
            # bucket first: the partitioned write needs rows grouped by
            # bucket, so this one sort also serves the planned write's
            # own (which would otherwise sort the full rows again); each
            # file still holds its rows in (conv_id, turn_idx) order
            ordered_ext = ext.sortWithinPartitions(
                BUCKET_COL, "conv_id", "turn_idx"
            )
            # per-bucket lineage stats ride the WRITE pass itself via
            # Dataset.observe() (conditional aggregates, one set per
            # bucket in the group) -> lineage rows LAST. The previous
            # implementation re-read the just-written parquet — a second
            # scan of 100% of the output at scale (measured: 19.1k ->
            # 16.6k turns/s at group_size=32 in soak_pipeline). A bucket
            # with no rows still gets a lineage row (n_turns=0, null
            # conv range) so resume marks it done.
            obs = Observation(f"lineage_{run_id}_g{gi}")
            metric_cols = []
            for b in group:
                is_b = F.col(BUCKET_COL) == b
                metric_cols.extend(
                    [
                        F.min(F.when(is_b, F.col("conv_id"))).alias(
                            f"conv_min_{b}"
                        ),
                        F.max(F.when(is_b, F.col("conv_id"))).alias(
                            f"conv_max_{b}"
                        ),
                        F.count(F.when(is_b, F.lit(1))).alias(
                            f"n_turns_{b}"
                        ),
                        F.count(
                            F.when(is_b & (F.col("error") != ""), F.lit(1))
                        ).alias(f"n_errors_{b}"),
                    ]
                )
            observed = ordered_ext.observe(obs, *metric_cols)
            if self.iceberg_table:
                if spark.catalog.tableExists(self.iceberg_table):
                    observed.writeTo(
                        self.iceberg_table
                    ).overwritePartitions()
                else:
                    observed.writeTo(self.iceberg_table).partitionedBy(
                        F.col(BUCKET_COL)
                    ).create()
            else:
                (
                    observed.write.partitionBy(BUCKET_COL)
                    .mode("overwrite")
                    .parquet(str(self.data_dir))
                )
            lin_df = _lineage_rows(spark, run_id, group, obs.get)
            if self.iceberg_table:
                if spark.catalog.tableExists(self._lineage_table):
                    lin_df.writeTo(self._lineage_table).append()
                else:
                    lin_df.writeTo(self._lineage_table).create()
            else:
                lin_df.write.mode("append").parquet(
                    str(self._run_lineage_dir(run_id))
                )
            committed.extend(group)
        return committed

    # -- readers / exports ---------------------------------------------
    def read(self, spark: SparkSession) -> DataFrame:
        if self.iceberg_table:
            return spark.read.table(self.iceberg_table)
        return spark.read.option("basePath", str(self.data_dir)).parquet(
            str(self.data_dir)
        )

    def read_ordered(self, spark: SparkSession) -> DataFrame:
        """Stable (conv_id, turn_idx) ordering contract for comparison."""
        return ordered(self.read(spark))

    def export_json(self, spark: SparkSession, out_dir: str) -> None:
        """RAW-JSON side export (graft of /root/reference/README.md:29)."""
        self.read_ordered(spark).drop(BUCKET_COL).write.mode(
            "overwrite"
        ).json(out_dir)

    def export_xlsx(
        self, spark: SparkSession, out_path: str, limit: int = 100_000
    ) -> int:
        """Excel report export (graft of /root/reference/README.md:29 and
        the flattened per-model Excel panel in readmeImage/result.png):
        one row per turn with per-extractor candidate columns. A REPORT,
        not a data sink — collects at most ``limit`` rows to the driver
        (xlsx caps a sheet at ~1M rows; the data path stays columnar).
        Returns the number of rows written."""
        from ocr_spark.xlsx import write_xlsx

        df = self.read_ordered(spark).drop(BUCKET_COL)
        cols = [
            F.col("conv_id"),
            F.col("turn_idx"),
            F.date_format("processed_at", "yyyy-MM-dd'T'HH:mm:ss").alias(
                "processed_at"
            ),
            F.col("text"),
            F.round("score", 4).alias("score"),
            F.col("error"),
        ]
        # flatten the per-model panel: candidates is a fixed
        # 3-extractor array (html/pdf/spans routes)
        for i, name in enumerate(("a", "b", "c")):
            cols.append(
                F.col("candidates")[i]["text"].alias(f"cand_{name}_text")
            )
            cols.append(
                F.round(
                    F.col("candidates")[i]["score"], 4
                ).alias(f"cand_{name}_score")
            )
        flat = df.select(*cols).limit(limit)
        pdf = flat.toPandas()
        import pandas as pd

        rows = (
            [
                None
                if v is None or (isinstance(v, float) and pd.isna(v))
                else (v.item() if hasattr(v, "item") else v)
                for v in row
            ]
            for row in pdf.itertuples(index=False, name=None)
        )
        return write_xlsx(out_path, list(pdf.columns), rows)

    def run_stats(self, spark: SparkSession) -> DataFrame:
        """O17 aggregate report per run — the reference's efficiency
        accounting ("385 images in 4m18s", /root/reference/README.md:8)
        over lineage rows: turns, errors, buckets, wall span."""
        lin = self.lineage(spark)
        return lin.groupBy("run_id").agg(
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_errors").alias("n_errors"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.min("committed_at").alias("first_commit"),
            F.max("committed_at").alias("last_commit"),
        )
