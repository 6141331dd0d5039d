"""Scalable global running aggregates (optimization guide §2.2/§2.5).

A window spec with ``Window.orderBy(...)`` and no ``partitionBy`` ships
every row to ONE task (Spark logs "No Partition Defined for Window
operation"): exact, and fine for bounded frames, but a single-task
straggler when the frame is corpus-sized — the whole stage runs at
parallelism 1 no matter how many executors exist. ``bucketed_running``
computes the same running aggregates with bucket-level parallelism:

1. ONE aggregate computes ~``buckets`` approximate percentile boundaries
   of the numeric leading order key, collected to the driver (bounded by
   the bucket count) and embedded as a literal array;
2. every row gets a deterministic bucket id = number of boundaries
   strictly below its key. The mapping is monotone in the key, so
   buckets are contiguous ranges of the global order, and rows that
   compare equal on the leading key always share a bucket — a tie can
   never straddle a boundary;
3. the running aggregates run per bucket (ONE corpus-sized
   hashpartitioning exchange instead of the SinglePartition one), and
   cross-bucket offsets come from a bucket-count-sized totals frame
   (tiny single-partition window) broadcast back onto the rows.

Correctness does not depend on the boundary VALUES — any monotone
bucketing yields bit-identical results; the boundaries only control
balance — so the approximate percentile sketch is safe, and a bucket
count change (local vs cluster) never changes results. A single hot key
value bounds the parallelism at that key's row count, the same limit
AQE skew handling has for one unsplittable key.

The input frame is consumed by three plans (boundaries, rows, bucket
totals); callers should pass something cheap to recompute or a cached
frame (`register_cache(df.cache())`).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = [
    "RunningAgg",
    "bucketed_running",
    "grouped_bucketed_rank",
    "grouped_unit_prefix_sum",
    "ntile_from_rank",
]


def ntile_from_rank(rank: Column, n: Column, b: int) -> Column:
    """Spark ``ntile(b)`` derived from (global 1-based row_number, total
    row count): the first ``n % b`` tiles hold ``(n div b) + 1`` rows,
    the remaining tiles ``n div b`` — pure integer arithmetic, so the
    tile assignment never needs the single-partition window ntile()
    plans. ``greatest(..., 1)`` guards the unreachable else-branch
    division when n < b (every row then satisfies the first branch)."""
    q = F.floor(n / F.lit(b)).cast("long")
    r = (n % F.lit(b)).cast("long")
    thr = r * (q + F.lit(1))
    return F.when(
        rank <= thr, F.floor((rank - 1) / (q + F.lit(1))).cast("long") + 1
    ).otherwise(
        r + F.floor((rank - thr - 1) / F.greatest(q, F.lit(1))).cast("long") + 1
    )


class RunningAgg:
    """One running aggregate: ``fn`` in {"sum", "max"}, ``col`` the
    input column, ``end`` the frame end (0 = inclusive of the current
    row, -1 = strictly preceding rows only). The exclusive form yields
    NULL for the global first row (same as the single-partition
    window)."""

    __slots__ = ("out", "col", "fn", "end")

    def __init__(self, out: str, col: Column, fn: str = "sum", end: int = 0):
        if fn not in ("sum", "max"):
            raise ValueError(f"unsupported running fn {fn!r}")
        if end not in (0, -1):
            raise ValueError("end must be 0 (inclusive) or -1 (exclusive)")
        self.out, self.col, self.fn, self.end = out, col, fn, end


def _bucket_expr(lead: Column, boundaries: list[float]) -> Column:
    """Deterministic bucket id: count of boundaries strictly below the
    key, evaluated as a generated binary-search WHEN tree — O(log B)
    comparisons per row, O(B) expression nodes. NULL keys (Spark sorts
    them first under ASC) fail every ``v > b`` comparison and land in
    bucket 0, matching their sort position."""
    if not boundaries:
        return F.lit(0)
    v = lead.cast("double")

    def search(lo: int, hi: int) -> Column:
        # bucket for keys known to have exactly `lo`..`hi` boundaries
        # below them, deciding on boundaries[lo:hi]
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(v > F.lit(float(boundaries[mid])), search(mid + 1, hi)).otherwise(
            search(lo, mid)
        )

    return search(0, len(boundaries))


def _join_offsets(rows: DataFrame, off: DataFrame, gcols: list[str],
                  rb: str) -> DataFrame:
    """Attach the per-(group, bucket) offsets to the rows, NULL-safe on
    the group columns: a NULL group is a group of its own, as in
    ``Window.partitionBy(group)``, where a name-list inner join would
    drop its rows."""
    ren = {g: f"_off_g{i}" for i, g in enumerate(gcols)}
    o = off.select(*[F.col(c).alias(ren.get(c, "_off_rb" if c == rb else c))
                     for c in off.columns])
    cond = [F.col(rb) == F.col("_off_rb")] + [
        F.col(g).eqNullSafe(F.col(ren[g])) for g in gcols]
    return rows.join(F.broadcast(o), cond).drop(*ren.values(), "_off_rb")


def grouped_unit_prefix_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    key: Column,
    tiebreak: Sequence[Column],
    value: Column,
    out: str,
    buckets: int | None = None,
) -> DataFrame:
    """Per-group EXCLUSIVE running sum of ``value`` over the group-local
    order (``key`` asc, ``tiebreak...``), where ``key`` is uniform in
    [0, 1) (a unit hash) — the group-aware companion of
    ``bucketed_running`` (guide §2.2/§2.5).

    ``Window.partitionBy(group).orderBy(...)`` runs each GROUP's prefix
    sum in one task: exact, but with a few giant groups (languages,
    domains) the stage's parallelism is the group count at any scale.
    Here every row gets a deterministic bucket ``floor(key * B)`` —
    equal-width over the unit interval, so no boundary sketch pass is
    needed and the mapping is monotone in the key (equal keys always
    share a bucket; a tie can never straddle a boundary). The running
    sum runs per (group, bucket) behind ONE hashpartitioning exchange;
    cross-bucket offsets come from a (groups x buckets)-sized totals
    frame whose per-group window is bounded by the bucket count,
    broadcast back onto the rows. Integer/long sums are exact under any
    split, so the result is bit-identical to the single-task window.

    The exclusive first-row convention matches
    ``rowsBetween(unboundedPreceding, -1)`` + ``coalesce(..., 0)``:
    the returned column is never NULL (a group's first row gets 0)."""
    spark = df.sparkSession
    if buckets is None:
        buckets = min(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1), 1024
        )
    gcols = list(group_cols)
    d = df.withColumn("_gu_key", key).withColumn(
        "_gu_rb",
        F.least(
            F.floor(F.col("_gu_key") * F.lit(float(buckets))),
            F.lit(buckets - 1),
        ).cast("int"),
    )
    wloc = (
        Window.partitionBy(*gcols, "_gu_rb")
        .orderBy(F.col("_gu_key").asc(), *tiebreak)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    loc = d.withColumn("_gu_loc", F.sum(value).over(wloc))
    tot = d.groupBy(*gcols, "_gu_rb").agg(F.sum(value).alias("_gu_bt"))
    woff = (
        Window.partitionBy(*gcols)
        .orderBy("_gu_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = tot.select(
        *gcols, "_gu_rb", F.sum("_gu_bt").over(woff).alias("_gu_off")
    )
    return (
        _join_offsets(loc, off, gcols, "_gu_rb")
        .withColumn(
            out,
            F.coalesce(F.col("_gu_loc"), F.lit(0))
            + F.coalesce(F.col("_gu_off"), F.lit(0)),
        )
        .drop("_gu_key", "_gu_rb", "_gu_loc", "_gu_off")
    )


def grouped_bucketed_rank(
    df: DataFrame,
    group_cols: Sequence[str],
    lead: Column,
    tiebreak: Sequence[Column],
    rank_col: str,
    total_col: str,
    buckets: int | None = None,
) -> DataFrame:
    """Per-group 1-based ``row_number`` over the group-local total order
    (``lead`` asc, ``tiebreak...``) plus the group row count — without
    ``Window.partitionBy(group)``'s one-task-per-group stage (a fact
    table with 3 giant groups sorts whole on 3 tasks at any scale).

    Shape: one bounded ``percentile_approx`` sketch of ``lead`` picks
    boundary values (any monotone bucketing is rank-exact — the
    boundaries only control balance, and the strict ``v > b`` bucket
    comparison keeps ties together, so a tie group can never straddle a
    boundary); the row-level window partitions by (group, bucket);
    per-(group, bucket) counts feed a per-group offsets window bounded
    by the bucket count, broadcast back. ``rank_col`` requires the
    order to be total (unique per row) for a deterministic assignment —
    the same contract as ``bucketed_running``'s rank_col. Under a total
    order the DESCENDING rank is ``total - rank + 1``; callers needing
    both directions derive it instead of running a second window.

    The input is consumed by three plans (sketch, rows, bucket counts);
    pass something cheap to recompute (a column-pruned scan) or a
    cached frame."""
    spark = df.sparkSession
    if buckets is None:
        buckets = min(
            max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1), 1024
        )
    gcols = list(group_cols)
    boundaries: list[float] = []
    if buckets > 1:
        fracs = [i / buckets for i in range(1, buckets)]
        row = df.select(
            F.percentile_approx(
                lead.cast("double"), F.array(*[F.lit(f) for f in fracs]),
                F.lit(10000),
            ).alias("_b")
        ).first()
        if row is not None and row["_b"] is not None:
            seen: set[float] = set()
            for b in row["_b"]:
                if b is not None and b not in seen:
                    seen.add(b)
                    boundaries.append(b)
    d = df.withColumn("_gr_rb", _bucket_expr(lead, boundaries))
    wloc = Window.partitionBy(*gcols, "_gr_rb").orderBy(lead.asc(), *tiebreak)
    loc = d.withColumn("_gr_lr", F.row_number().over(wloc))
    tot = d.groupBy(*gcols, "_gr_rb").agg(F.count(F.lit(1)).alias("_gr_bn"))
    woff = (
        Window.partitionBy(*gcols)
        .orderBy("_gr_rb")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wall = Window.partitionBy(*gcols)
    off = tot.select(
        *gcols,
        "_gr_rb",
        F.coalesce(F.sum("_gr_bn").over(woff), F.lit(0)).alias("_gr_off"),
        F.sum("_gr_bn").over(wall).alias(total_col),
    )
    return (
        _join_offsets(loc, off, gcols, "_gr_rb")
        .withColumn(rank_col, F.col("_gr_lr") + F.col("_gr_off"))
        .drop("_gr_rb", "_gr_lr", "_gr_off")
    )


def bucketed_running(
    df: DataFrame,
    lead: Column,
    order: Sequence[Column],
    aggs: Sequence[RunningAgg],
    rank_col: str | None = None,
    total_col: str | None = None,
    buckets: int | None = None,
) -> DataFrame:
    """Return ``df`` with running aggregates over the global total order
    ``order`` (whose numeric-castable leading component is ``lead``),
    computed with bucket-level parallelism instead of a single-partition
    window.

    ``rank_col``: 1-based global row_number (requires ``order`` to be a
    total order, unique per row — otherwise tie order, and therefore the
    rank assignment, is nondeterministic exactly as it would be with the
    plain window). ``total_col``: the grand row count attached to every
    row (for ntile-style arithmetic). Frames are ROWS-based, matching
    ``Window.rowsBetween(unboundedPreceding, end)``.
    """
    spark = df.sparkSession
    if buckets is None:
        # one bucket per shuffle partition, capped: past ~1k buckets the
        # per-row search depth and the literal array stop paying for
        # extra parallelism (buckets bound the stage's max parallelism;
        # at 1024 buckets even a 10^10-row frame is ~10M rows/bucket)
        buckets = min(max(int(spark.conf.get("spark.sql.shuffle.partitions")), 1), 1024)

    # 1. boundary sketch: bounded (buckets-1 values) driver collect
    boundaries: list[float] = []
    if buckets > 1:
        fracs = [i / buckets for i in range(1, buckets)]
        row = df.select(
            F.percentile_approx(
                lead.cast("double"), F.array(*[F.lit(f) for f in fracs]), F.lit(10000)
            ).alias("_b")
        ).first()
        if row is not None and row["_b"] is not None:
            # drop duplicate boundaries (heavy ties); strictness of the
            # bucket comparison keeps equal keys together either way
            seen: set[float] = set()
            for b in row["_b"]:
                if b is not None and b not in seen:
                    seen.add(b)
                    boundaries.append(b)

    d = df.withColumn("_rb", _bucket_expr(lead, boundaries))

    # 2. per-bucket running aggregates (the only corpus-sized exchange)
    out = d
    loc_cols: dict[str, str] = {}
    for a in aggs:
        w = (
            Window.partitionBy("_rb")
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, a.end)
        )
        fn = F.sum if a.fn == "sum" else F.max
        loc = f"_loc_{a.out}"
        loc_cols[a.out] = loc
        out = out.withColumn(loc, fn(a.col).over(w))
    if rank_col is not None:
        wr = Window.partitionBy("_rb").orderBy(*order)
        out = out.withColumn("_loc_rn", F.row_number().over(wr))

    # 3. bucket totals -> exclusive offsets (bucket-count-sized frame)
    tot_aggs = [F.count(F.lit(1)).alias("_tn")]
    for a in aggs:
        fn = F.sum if a.fn == "sum" else F.max
        tot_aggs.append(fn(a.col).alias(f"_t_{a.out}"))
    tot = d.groupBy("_rb").agg(*tot_aggs)
    woff = Window.orderBy("_rb").rowsBetween(Window.unboundedPreceding, -1)
    wall = Window.orderBy("_rb").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    off_cols = [F.col("_rb"), F.sum("_tn").over(woff).alias("_off_rn")]
    if total_col is not None:
        off_cols.append(F.sum("_tn").over(wall).alias("_grand_n"))
    for a in aggs:
        fn = F.sum if a.fn == "sum" else F.max
        off_cols.append(fn(f"_t_{a.out}").over(woff).alias(f"_off_{a.out}"))
    off = tot.select(*off_cols)

    # 4. combine: global = local (+/greatest) offset-of-preceding-buckets
    out = out.join(F.broadcast(off), "_rb")
    for a in aggs:
        loc, offc = F.col(loc_cols[a.out]), F.col(f"_off_{a.out}")
        if a.fn == "sum":
            # exclusive local is NULL on each bucket's first row; the
            # global exclusive value there is exactly the offset (NULL
            # for the global first row, as the plain window yields)
            comb = F.when(
                loc.isNull(), offc
            ).otherwise(loc + F.coalesce(offc, F.lit(0)))
        else:
            comb = F.when(loc.isNull(), offc).otherwise(
                F.when(offc.isNull(), loc).otherwise(F.greatest(loc, offc))
            )
        out = out.withColumn(a.out, comb)
    if rank_col is not None:
        out = out.withColumn(
            rank_col, F.col("_loc_rn") + F.coalesce(F.col("_off_rn"), F.lit(0))
        )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_grand_n"))

    drop = ["_rb", "_off_rn"] + [loc_cols[a.out] for a in aggs] + [
        f"_off_{a.out}" for a in aggs
    ]
    if rank_col is not None:
        drop.append("_loc_rn")
    if total_col is not None:
        drop.append("_grand_n")
    return out.drop(*drop)
