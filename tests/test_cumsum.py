"""hierarchical_cumsum equals the plain global running-sum window it
replaces, over random inputs (fast set: a few small examples)."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Window
from pyspark.sql import functions as F

from ksql_query_tutorial_spark.operators.cumsum import hierarchical_cumsum

ROW = st.tuples(
    st.integers(min_value=0, max_value=2),            # p1
    st.integers(min_value=0, max_value=1),            # p2
    st.integers(min_value=-12, max_value=12),         # o: sort key
    st.one_of(st.none(), st.integers(min_value=-50, max_value=50)),  # v
)


@settings(max_examples=8, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    rows=st.lists(ROW, min_size=0, max_size=30),
    width=st.integers(min_value=1, max_value=6),
    n_part=st.integers(min_value=0, max_value=2),
    inclusive=st.booleans(),
)
def test_hierarchical_cumsum_matches_global_window(
    spark, rows, width, n_part, inclusive
):
    """Blocks of ``width`` sort-key values leave single-row blocks and
    gaps (empty blocks) between them; values go negative and NULL (NULL
    counts as 0, so the reference is ``coalesce(sum, 0)``)."""
    df = spark.createDataFrame(
        [(i, *r) for i, r in enumerate(rows)],
        "id long, p1 int, p2 int, o long, v long",
    )
    parts = ["p1", "p2"][:n_part]
    order = ["o", "id"]
    frame_end = 0 if inclusive else -1
    ref_w = (
        Window.partitionBy(*parts)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    want = {
        r.id: (r.total, r.n)
        for r in df.select(
            "id",
            F.coalesce(F.sum("v").over(ref_w), F.lit(0)).alias("total"),
            F.coalesce(F.sum(F.lit(1)).over(ref_w), F.lit(0)).alias("n"),
        ).collect()
    }
    got = hierarchical_cumsum(
        df,
        block=F.floor(F.col("o") / width),
        order=order,
        sums={"total": "v", "n": F.lit(1)},
        partition=parts,
        inclusive=inclusive,
    )
    assert got.columns == [*df.columns, "total", "n"]
    assert {r.id: (r.total, r.n) for r in got.collect()} == want
