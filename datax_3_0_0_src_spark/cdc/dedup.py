"""Last-writer-wins dedup of a change batch — one winning event per key.

The reference establishes per-key event ordering with a per-shard sequence id
(epoch_timestamp_rowIndex_shardId appended by otsstreamreader,
otsstreamreader/src/main/java/com/alibaba/datax/plugin/reader/otsstreamreader/internal/core/SingleVerAndUpOnlyModeRecordSender.java:94-100);
we order by (warc_ts, log_offset) and reduce with ``max_by`` over a struct —
a hash aggregation with map-side partial combine, so hot keys are pre-reduced
on the map side before any shuffle (already skew-resistant for the agg).

``salt_partitions`` adds an explicit two-phase variant for pathological skew
(north_rule: hot url-prefix keys handled explicitly): phase 1 reduces each
(key, salt) sub-group, phase 2 reduces the ≤S survivors per key. The salt is
derived from the sequence column, never random, so plans stay deterministic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def dedup_lww(
    df: DataFrame,
    *,
    key: str = "url",
    ts_col: str = "warc_ts",
    seq_col: str = "log_offset",
    salt_partitions: int | None = None,
    sums: dict[str, Column] | None = None,
) -> DataFrame:
    """Reduce to the single max-(ts, seq) event per key. Whole-row winner.

    ``sums`` {name: column}: each winner also carries, under ``name``, the
    sum of ``column`` over every event of its key (``F.lit(1)`` counts the
    events a winner stands for)."""
    # The key stays a TOP-LEVEL grouping column (not packed into the struct):
    # the agg's hash(key) output partitioning then survives the projection, so
    # a downstream join on the key (the lake MERGE) reuses this exchange
    # instead of re-shuffling the whole batch — one shuffle serves both.
    others = [c for c in df.columns if c != key]
    row = F.struct(*[F.col(c) for c in others]).alias("_row")
    order = F.struct(F.col(ts_col), F.col(seq_col))
    sums = sums or {}

    if salt_partitions and salt_partitions > 1:
        summed = [F.sum(n).alias(n) for n in sums]  # phase 2 re-sums phase 1's
        salt = F.pmod(F.xxhash64(F.col(seq_col)), F.lit(salt_partitions)).alias("_salt")
        phase1 = (
            df.select(F.col(key), row, order.alias("_ord"), salt,
                      *[c.alias(n) for n, c in sums.items()])
            .groupBy(key, "_salt")
            .agg(F.max_by(F.col("_row"), F.col("_ord")).alias("_row"),
                 F.max(F.col("_ord")).alias("_ord"), *summed)
        )
        winners = (
            phase1.groupBy(key)
            .agg(F.max_by(F.col("_row"), F.col("_ord")).alias("_row"), *summed)
        )
        return winners.select(key, "_row.*", *sums)

    return (
        df.groupBy(key)
        .agg(F.max_by(row, order).alias("_row"),
             *[F.sum(c).alias(n) for n, c in sums.items()])
        .select(key, "_row.*", *sums)
    )
