"""Hierarchical prefix sum: a global running total that never sends
every row through one task."""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hierarchical_cumsum(
    df: DataFrame,
    block: Column,
    order: Sequence[Column | str],
    sums: Mapping[str, Column | str],
    partition: Sequence[str] = (),
    *,
    inclusive: bool,
) -> DataFrame:
    """Return ``df`` plus one running-total column per ``sums`` entry
    (output name -> value column): the sum of the values of every row
    of the same ``partition`` that comes before the row in ``order``,
    and of the row itself when ``inclusive``. That is
    ``coalesce(sum(v) OVER (PARTITION BY partition ORDER BY order ROWS
    BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW | 1 PRECEDING), 0)``,
    which with few or no partition keys runs in one task. Here:

    1. running sums within each block, window partitioned by
       ``(*partition, block)`` and ordered by ``order``;
    2. per-block totals (one groupBy, one row per block);
    3. exclusive running sum of the totals, partitioned by
       ``partition``, over the small block table only;
    4. a broadcast join adds each block's offset back onto its rows.

    The one condition callers must meet: block order is consistent
    with ``order`` — every row of a block sorts before every row of a
    higher block (``floor(o / width)`` over an ascending ``o``, say).
    NULL values count as 0. Rows whose block or partition key is NULL
    are dropped by the equi-join; size blocks so the block table
    broadcasts.
    """
    blk = "__cs_blk"
    keys = [*partition, blk]
    in_block = (
        Window.partitionBy(*keys)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, 0 if inclusive else -1)
    )
    by_block = (
        Window.partitionBy(*partition)
        .orderBy(blk)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    blocked = df.withColumn(blk, block)
    vals = list(sums.values())
    local = blocked.select(
        "*",
        *[F.coalesce(F.sum(v).over(in_block), F.lit(0)).alias(f"__cs_in{i}")
          for i, v in enumerate(vals)],
    )
    offsets = (
        blocked.groupBy(*keys)
        .agg(*[F.sum(v).alias(f"__cs_tot{i}") for i, v in enumerate(vals)])
        .select(
            *keys,
            *[F.coalesce(F.sum(f"__cs_tot{i}").over(by_block), F.lit(0))
              .alias(f"__cs_off{i}") for i in range(len(vals))],
        )
    )
    return local.join(F.broadcast(offsets), keys).select(
        *df.columns,
        *[(F.col(f"__cs_off{i}") + F.col(f"__cs_in{i}")).alias(name)
          for i, name in enumerate(sums)],
    )
