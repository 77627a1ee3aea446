"""Partitioning & skew handling (SURVEY.md §2.2 skew row, §4.3).

The extraction kernel is row-wise, so compute placement only needs
*balance*; conversation colocation matters at write/export time for the
stable (conv_id, turn_idx) ordering contract. The north rule demands
explicit conv_id-hash partitioning plus salted repartitioning for skewed
("whale") conversations:

- salting is STATS-FREE (no count job, no broadcast): turns below
  ``salt_threshold`` keep salt 0 (short conversations stay colocated),
  a whale's tail is round-robined over ``salt_buckets`` keys, and the
  stage repartitions on (conv_id, salt),
- because whales are split across partitions, ordered exports re-sort on
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
    """conv_id-hash repartition with round-robin salting of whale turns.

    ``salt = 0`` while ``turn_idx < salt_threshold``, else
    ``1 + pmod(turn_idx, salt_buckets)``: a conversation shorter than the
    threshold keeps salt 0 (fully colocated), and a whale's tail spreads
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
    return salted.repartition(num_partitions, "conv_id", SALT_COL).drop(
        SALT_COL
    )


def ordered(df: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) ordering for comparison/export.

    Within-partition sort after conv_id-hash partitioning — all turns of
    a conversation colocate, so per-partition order is globally stable
    per conversation without a cluster-wide sort.
    """
    return df.repartition(
        df.sparkSession.sparkContext.defaultParallelism, "conv_id"
    ).sortWithinPartitions("conv_id", "turn_idx")
