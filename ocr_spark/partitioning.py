"""Partitioning & skew handling (SURVEY.md §2.2 skew row, §4.3).

The extraction kernel is row-wise, so compute placement only needs
*balance*; conversation colocation matters at write/export time for the
stable (conv_id, turn_idx) ordering contract. The north rule demands
explicit conv_id-hash partitioning plus salted repartitioning for skewed
("whale") conversations:

- salting is STATS-FREE (no count job, no broadcast): turns below
  ``salt_threshold`` keep salt 0 (a short conversation is one shuffle
  key), a whale's tail is round-robined over ``salt_buckets`` keys, and
  the stage rebalances on (conv_id, salt); the partition count given is
  an initial one (see ``repartition_salted``),
- because a conversation's rows can span partitions (whale salting, and
  AQE's split of large rebalance partitions), ordered exports re-sort on
  read (ordering contract lives in ``ordered`` below, not in a global
  ``orderBy`` — forbidden at 10^12 rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

SALT_COL = "_salt"


def repartition_salted(
    df: DataFrame,
    num_partitions: int,
    salt_buckets: int = 1024,
    salt_threshold: int = 10_000,
) -> DataFrame:
    """conv_id-hash rebalance with round-robin salting of whale turns.

    The one exchange hash-partitions on (conv_id, salt) into
    ``num_partitions`` partitions, an INITIAL count. With AQE on it is
    Spark's rebalance (origin ``REBALANCE_PARTITIONS_BY_COL``), and AQE
    resizes the stage after it by shuffle bytes against
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes``:

    - adjacent small partitions merge, down to about
      ``defaultParallelism`` partitions and none below the minimum
      partition size, so a small input runs its Python UDF on a few full
      tasks rather than on ``num_partitions`` part-empty ones (each
      Python task pays a fixed worker cost);
    - EVERY partition above the advisory size is split by map ranges,
      skewed or not, so at scale the stage runs on more than
      ``num_partitions`` tasks of about the advisory size each, and one
      salt-0 conversation can span several tasks and so several output
      files. Nothing downstream needs it whole: the kernel is row-wise
      and ``ordered`` re-sorts.

    With AQE off it is a plain ``repartition`` on the same keys into
    exactly ``num_partitions`` partitions.

    ``salt = 0`` while ``turn_idx < salt_threshold``, else
    ``1 + pmod(turn_idx, salt_buckets)``: a conversation shorter than the
    threshold keeps salt 0 (one shuffle key), and a whale's tail spreads
    round-robin over ``salt_buckets`` keys — every key carries an EQUAL
    share of the whale, so partition load is uniform by construction.
    Stats-free like the round-1 turn-block scheme (the salt is a pure
    projection: no count job, no broadcast, one shuffle total), but
    strictly better balanced: blocks of ``threshold`` turns hashed 32
    ways left multi-thousand-turn Poisson collisions on some partitions
    (measured 2->8 skew-soak efficiency 0.741); round-robin keys of
    ~n/salt_buckets turns shrink the straggler term to the hash
    collision of SMALL keys. Distinct keys per conversation are bounded
    by ``salt_buckets + 1`` — key count is shuffle-hash input, not
    state, so a large bucket count costs nothing.
    """
    t = F.col("turn_idx").cast("long")
    salted = df.withColumn(
        SALT_COL,
        F.when(t < F.lit(int(salt_threshold)), F.lit(0)).otherwise(
            F.pmod(t, F.lit(int(salt_buckets))) + F.lit(1)
        ),
    )
    n = int(num_partitions)
    aqe = df.sparkSession.conf.get("spark.sql.adaptive.enabled")
    if aqe.lower() == "true":
        staged = salted.hint("rebalance", n, "conv_id", SALT_COL)
    else:
        # for library callers whose sessions run with AQE off (no session
        # in this repo does, so this is not dead code): Spark drops a
        # rebalance hint then, which would leave no exchange and no whale
        # salting at all, so keep the same hash partitioning
        staged = salted.repartition(n, "conv_id", SALT_COL)
    return staged.drop(SALT_COL)


def ordered(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering for comparison/export.

    Within-partition sort after conv_id-hash partitioning — all turns of
    a conversation colocate, so per-partition order is globally stable
    per conversation without a cluster-wide sort.
    """
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "conv_id"
    ).sortWithinPartitions("conv_id", "turn_idx")
