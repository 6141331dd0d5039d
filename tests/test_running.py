"""bucketed_running == the single-partition window it replaces, on
adversarial shapes: heavy ties on the leading key, NULLs in summed
columns, all-equal keys (one bucket), tiny frames (fewer rows than
buckets), exclusive frames, and running max."""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from weaviate_spark.operators.running import RunningAgg, bucketed_running


def _naive(df, order, aggs, rank_col=None, total_col=None):
    out = df
    for a in aggs:
        w = Window.orderBy(*order).rowsBetween(Window.unboundedPreceding, a.end)
        fn = F.sum if a.fn == "sum" else F.max
        out = out.withColumn(a.out, fn(a.col).over(w))
    if rank_col is not None:
        out = out.withColumn(
            rank_col, F.row_number().over(Window.orderBy(*order))
        )
    if total_col is not None:
        out = out.withColumn(
            total_col,
            F.count(F.lit(1)).over(
                Window.orderBy(*order).rowsBetween(
                    Window.unboundedPreceding, Window.unboundedFollowing
                )
            ),
        )
    return out


def _rows(df):
    return sorted(
        tuple(r) for r in df.collect()
    )


@pytest.mark.parametrize("buckets", [1, 3, 8])
def test_running_matches_naive(spark, buckets):
    # ties on k (7 distinct values over 200 rows), NULLs in m
    data = [
        (i, i % 7, (i * 37) % 100 if i % 11 else None, float((i * 13) % 50))
        for i in range(200)
    ]
    df = spark.createDataFrame(data, "id long, k long, m long, v double")
    order = [F.col("k").asc(), F.col("id").asc()]
    aggs = [
        RunningAgg("cum_m", F.col("m"), "sum", 0),
        RunningAgg("prev_m", F.col("m"), "sum", -1),
        RunningAgg("run_max", F.col("v"), "max", 0),
        RunningAgg("prev_max", F.col("v"), "max", -1),
    ]
    got = bucketed_running(
        df, F.col("k"), order, aggs, rank_col="rn", total_col="n",
        buckets=buckets,
    )
    want = _naive(df, order, aggs, rank_col="rn", total_col="n")
    assert _rows(got.select(df.columns + ["cum_m", "prev_m", "run_max",
                                          "prev_max", "rn", "n"])) == \
        _rows(want.select(df.columns + ["cum_m", "prev_m", "run_max",
                                        "prev_max", "rn", "n"]))


def test_running_all_equal_lead_and_tiny(spark):
    # all-equal leading key: every row lands in one bucket; still exact
    df = spark.createDataFrame(
        [(i, 5, i * 2) for i in range(10)], "id long, k long, m long"
    )
    order = [F.col("k").asc(), F.col("id").asc()]
    aggs = [RunningAgg("cum", F.col("m"), "sum", 0)]
    got = _rows(
        bucketed_running(df, F.col("k"), order, aggs, rank_col="rn",
                         buckets=4).select("id", "cum", "rn")
    )
    want = _rows(_naive(df, order, aggs, rank_col="rn").select("id", "cum", "rn"))
    assert got == want

    empty = df.where(F.lit(False))
    assert bucketed_running(
        empty, F.col("k"), order, aggs, rank_col="rn", buckets=4
    ).count() == 0


def test_running_exclusive_first_row_null(spark):
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)], "id long, m long")
    out = bucketed_running(
        df, F.col("id"), [F.col("id").asc()],
        [RunningAgg("prev", F.col("m"), "sum", -1)], buckets=3,
    )
    rows = {r["id"]: r["prev"] for r in out.collect()}
    assert rows == {1: None, 2: 10, 3: 30}


def test_running_plan_has_no_single_partition_window(spark):
    # the point of the helper: the corpus-sized window must be
    # hash-partitioned, never SinglePartition
    df = spark.range(0, 1000).select(
        F.col("id"), (F.col("id") % 13).alias("m")
    )
    out = bucketed_running(
        df, F.col("id"), [F.col("id").asc()],
        [RunningAgg("cum", F.col("m"), "sum", 0)], rank_col="rn", buckets=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    win_lines = [
        ln for ln in plan.splitlines() if "Exchange SinglePartition" in ln
    ]
    # the only SinglePartition exchange allowed is the bucket-count-sized
    # offsets frame (its subtree aggregates by _rb, one row per bucket)
    assert len(win_lines) <= 1


@pytest.mark.parametrize("buckets", [1, 4, 16])
def test_grouped_unit_prefix_sum_matches_naive(spark, buckets):
    from weaviate_spark.operators.running import grouped_unit_prefix_sum

    # unit-interval keys with heavy ties (8 distinct values), several
    # groups of very different sizes, long values
    data = [
        (i, ["en", "de", "fr"][i % 3] if i < 180 else "zh",
         ((i * 5) % 8) / 8.0, int((i * 13) % 40))
        for i in range(200)
    ]
    df = spark.createDataFrame(data, "id long, g string, h double, tok long")
    got = grouped_unit_prefix_sum(
        df, ["g"], F.col("h"), [F.col("id").asc()], F.col("tok"),
        "before", buckets=buckets,
    )
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("h").asc(), F.col("id").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    want = df.withColumn(
        "before", F.coalesce(F.sum("tok").over(w), F.lit(0))
    )
    assert _rows(got.select("id", "g", "before")) == _rows(
        want.select("id", "g", "before")
    )


def test_grouped_unit_prefix_sum_no_single_group_task(spark):
    """The corpus-sized window must be partitioned by (group, bucket),
    not by group alone: one giant group may not serialize the stage."""
    from weaviate_spark.operators.running import grouped_unit_prefix_sum

    df = spark.createDataFrame(
        [(i, "only", (i % 97) / 97.0, i) for i in range(300)],
        "id long, g string, h double, tok long",
    )
    out = grouped_unit_prefix_sum(
        df, ["g"], F.col("h"), [F.col("id").asc()], F.col("tok"),
        "before", buckets=8,
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    import re
    # the row-level window must ride a (g, bucket) partitioning; only
    # the bucket-count-sized offsets window may partition by g alone
    row_windows = [
        m for m in re.findall(r"Window \[[^\n]*partitionBy=\[[^\]]*\]", plan)
        if "_gu_rb" not in m
    ]
    assert all("sum" not in m or "_gu_bt" in m for m in row_windows), plan


@pytest.mark.parametrize("buckets", [1, 4, 16])
def test_grouped_bucketed_rank_matches_naive(spark, buckets):
    from weaviate_spark.operators.running import grouped_bucketed_rank

    # heavy value ties (7 distinct values), uneven groups, unique tiebreak
    data = [
        (i, ["A", "B", "C"][i % 3] if i < 150 else "D",
         float((i * 11) % 7), i)
        for i in range(200)
    ]
    df = spark.createDataFrame(data, "id long, g string, v double, tb long")
    got = grouped_bucketed_rank(
        df, ["g"], F.col("v"), [F.col("tb").asc()], "ra", "n",
        buckets=buckets,
    )
    w = Window.partitionBy("g").orderBy(F.col("v").asc(), F.col("tb").asc())
    want = df.withColumn("ra", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g"))
    )
    assert _rows(got.select("id", "g", "ra", "n")) == _rows(
        want.select("id", "g", "ra", "n")
    )


@pytest.mark.parametrize("buckets", [1, 4])
def test_grouped_helpers_keep_null_groups(spark, buckets):
    """A NULL group is a group of its own under Window.partitionBy: both
    grouped helpers must keep its rows and rank/sum them within it."""
    from weaviate_spark.operators.running import (
        grouped_bucketed_rank, grouped_unit_prefix_sum,
    )

    data = [(i, None if i % 3 == 0 else ["a", "b"][i % 2],
             ((i * 7) % 10) / 10.0, i % 4) for i in range(30)]
    df = spark.createDataFrame(data, "id long, g string, h double, tok long")

    def rows(out, cols):
        return sorted((tuple(r) for r in out.select(*cols).collect()),
                      key=lambda t: tuple((x is None, x) for x in t))

    w = Window.partitionBy("g").orderBy(F.col("h").asc(), F.col("id").asc())
    got = grouped_unit_prefix_sum(
        df, ["g"], F.col("h"), [F.col("id").asc()], F.col("tok"),
        "before", buckets=buckets,
    )
    want = df.withColumn("before", F.coalesce(F.sum("tok").over(
        w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    assert rows(got, ["id", "g", "before"]) == rows(want, ["id", "g", "before"])

    got = grouped_bucketed_rank(
        df, ["g"], F.col("h"), [F.col("id").asc()], "ra", "n",
        buckets=buckets,
    )
    want = df.withColumn("ra", F.row_number().over(w)).withColumn(
        "n", F.count(F.lit(1)).over(Window.partitionBy("g")))
    assert rows(got, ["id", "g", "ra", "n"]) == rows(want, ["id", "g", "ra", "n"])
    assert got.count() == len(data)
