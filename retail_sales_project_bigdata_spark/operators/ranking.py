"""Scale-safe global ordering primitives (VERDICT r1 item 1).

A global window (``Window.orderBy(...)`` with no partitionBy) compiles to
a single-partition WindowExec: ONE task sorts and scans the entire frame
— the "one task owns the whole frame" shape that dies first at 100 TB
(Spark itself warns ``WindowExec: No Partition Defined``).  The
reference's ranking steps (ntile scoring, percent_rank reports, dense id
assignment) all used that shape; this module replaces it with the
two-phase formulation:

1. ``repartitionByRange`` on the order key — Spark's distributed sort:
   every partition holds a contiguous key range, partitions are ordered.
2. A *partitioned* ``row_number`` per range partition (parallel).
3. Per-partition row counts → prefix-sum offsets.  The offsets frame is
   (#partitions)-sized — broadcast it and add ``offset + local_rn``.

The result equals the global ``row_number()`` EXACTLY **when the ordering
is total** (no ties across the full key) — which every caller here
guarantees by appending a unique key as the final tiebreak, the same
discipline that already made NTILE/percent_rank deterministic and
engine-portable for the DuckDB oracles.  Under a unique ordering,
``rank == dense_rank == row_number``, so percent_rank, cume_dist and
ntile are all pure arithmetic on (row_number, total_count):

- ``percent_rank = (rn - 1) / (n - 1)``  (0 when n == 1, per SQL spec)
- ``cume_dist    = rn / n``
- ``ntile(t)``: with ``q = n div t`` and ``rem = n mod t``, the first
  ``rem`` tiles take ``q + 1`` rows, the rest take ``q`` — closed form
  below, identical to Spark's and DuckDB's NTILE.

Cost: one range exchange + one hash exchange on the partition id (both
distributed) versus the single-task sort — strictly better past a few
million rows, and the only formulation that survives a frame that grows
with the business (customers, suppliers, vocabulary).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _range_with_pid(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    num_partitions: int | None,
) -> DataFrame:
    """Range-partition on (group..., order...) and stamp the partition id.

    CORRECTNESS-CRITICAL cache boundary: the pid-stamped frame feeds TWO
    consumers (the local-rank window and the offsets aggregate), and the
    two MUST agree on every row's partition id.  Without a boundary the
    plan may duplicate the range exchange per consumer, and each copy
    re-SAMPLES its bounds — when the input itself comes from a shuffle
    whose row order/coalescing varies between executions (AQE), the two
    copies can land rows in different partitions and silently corrupt the
    offsets (observed: nondeterministic rank misalignment at 32
    partitions).  ``persist()`` makes the frame ONE InMemoryRelation over
    ONE exchange, so the bounds are sampled exactly once per action.  The
    explicit numPartitions additionally keeps AQE from re-coalescing the
    exchange itself.  Cost: a spill-safe cache of the frame being ranked
    — the same bytes the shuffle already wrote.
    """
    spark = df.sparkSession
    n_part = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    keys = [F.asc(c) for c in group_cols] + list(order_cols)
    return (
        df.repartitionByRange(n_part, *keys)
        .withColumn("_rr_pid", F.spark_partition_id())
        .persist()
    )


def _grouped_offsets(
    counts: DataFrame,
    group_cols: list[str],
    sub_cols: tuple[str, ...] = ("_rr_sub",),
    out_cols: tuple[str, ...] = ("_rr_offset",),
) -> DataFrame:
    """Exclusive prefix sum of per-(partition, group) subtotals: for each
    (pid, group), the sum of subtotals from SAME-group rows in LOWER
    partitions (one output column per entry in ``sub_cols``).  The frame
    is (#partitions + #group-boundary splits) rows — broadcastable at
    any data size."""
    a, b = counts.alias("a"), counts.alias("b")
    same_group = [
        F.col(f"b.{g}").eqNullSafe(F.col(f"a.{g}")) for g in group_cols
    ]
    cond = F.col("b._rr_pid") < F.col("a._rr_pid")
    for eq in same_group:
        cond = cond & eq
    return (
        a.join(F.broadcast(b), cond, "left")
        .groupBy(
            F.col("a._rr_pid").alias("_rr_pid"),
            *[F.col(f"a.{g}").alias(g) for g in group_cols],
        )
        .agg(
            *[
                F.coalesce(F.sum(f"b.{s}"), F.lit(0)).alias(o)
                for s, o in zip(sub_cols, out_cols)
            ]
        )
    )


def _join_offsets(
    local: DataFrame, offsets: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Broadcast-join the per-(pid, group) offsets back onto the locally
    ranked rows.  NULL-SAFE on the group keys: a plain name-equality join
    would silently DROP every row whose group key is NULL (NULL == NULL
    is unknown), while ``_grouped_offsets`` deliberately carries NULL
    groups via ``eqNullSafe`` — the two sides must agree.  ``_rr_pid`` is
    never null, so it keeps plain equality."""
    o = offsets
    for g in ["_rr_pid", *group_cols]:
        o = o.withColumnRenamed(g, f"_rr_o_{g}")
    cond = local["_rr_pid"] == o["_rr_o__rr_pid"]
    for g in group_cols:
        cond = cond & local[g].eqNullSafe(o[f"_rr_o_{g}"])
    joined = local.join(F.broadcast(o), cond)
    return joined.drop(*[f"_rr_o_{g}" for g in ["_rr_pid", *group_cols]])


def grouped_topk_rank(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    out: str,
    k: int,
) -> DataFrame:
    """1-based per-group row number kept only up to rank ``k`` (a LITERAL
    bound) — the top-k-per-group shape, one hash exchange total.

    :func:`grouped_row_number` must rank EVERY row, so low-cardinality
    group keys force the two-phase range formulation (range-bound
    sampling pass + persist + offsets join).  When only ranks ``<= k``
    survive, none of that is needed: a plain partitioned window whose
    rank filter carries a literal bound compiles to Spark's
    ``WindowGroupLimit`` (SPARK-37099, 3.5+) with a PARTIAL phase below
    the exchange — each map task keeps at most ``k`` rows per group
    before any shuffle, so the per-group final sort sees at most
    ``k × num_map_partitions`` rows, bounded by the plan shape rather
    than the stratum size.  A billion-row stratum therefore does NOT
    land on one task; only its k-per-map-partition survivors do.
    (Optimization round r9, guide §2.4: one exchange instead of the
    two-phase path's range + hash exchanges and its persist.)

    Requirements: ``k`` at most ``spark.sql.optimizer.windowGroupLimitThreshold``
    (default 1000) for the rewrite to fire, and ``order_cols`` a total
    order within each group — same contract as grouped_row_number, so
    the surviving ranks are IDENTICAL to the two-phase path's.  The
    rank filter runs on the raw ``row_number()`` output (the rewrite
    pattern-matches Filter directly over Window); the long cast matches
    grouped_row_number's output dtype.
    """
    # Enforce the documented contract instead of trusting it (ADVICE r9):
    # a k above the threshold would NOT fire the WindowGroupLimit
    # rewrite and silently degrade to a whole-stratum single-task window
    # sort — exactly the scale hazard this module exists to prevent.
    # Fail loudly so the caller reaches for grouped_row_number instead.
    threshold = int(
        df.sparkSession.conf.get(
            "spark.sql.optimizer.windowGroupLimitThreshold", "1000"
        )
    )
    if int(k) > threshold:
        raise ValueError(
            f"grouped_topk_rank: k={k} > windowGroupLimitThreshold="
            f"{threshold}; the WindowGroupLimit rewrite would not fire "
            "and the window would sort whole strata on single tasks — "
            "use grouped_row_number for data-proportional limits"
        )
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("_tk_rn", F.row_number().over(w))
        .filter(F.col("_tk_rn") <= int(k))
        .withColumn(out, F.col("_tk_rn").cast("long"))
        .drop("_tk_rn")
    )


def grouped_row_number(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based row number per group under a TOTAL per-group ordering,
    with NO single-task-per-group window.

    ``Window.partitionBy(lang/source/...)`` is only scale-safe when the
    partition key's cardinality is high; for a handful of strata (five
    languages, a few dozen sources) each stratum's entire sort lands on
    ONE task — AQE splits skewed JOINS, not skewed windows.  This
    formulation range-partitions on (group, order), ranks locally per
    (range-partition, group), and adds broadcast per-group offsets, so a
    billion-row stratum spreads over the whole cluster.

    ``order_cols`` must be a total order within each group (unique
    tiebreak) — same contract as :func:`global_row_number`.
    """
    ranged = _range_with_pid(df, group_cols, order_cols, num_partitions)
    local = ranged.withColumn(
        "_rr_local",
        F.row_number().over(
            Window.partitionBy("_rr_pid", *group_cols).orderBy(*order_cols)
        ),
    )
    counts = ranged.groupBy("_rr_pid", *group_cols).agg(
        F.count(F.lit(1)).alias("_rr_sub")
    )
    offsets = _grouped_offsets(counts, group_cols)
    return (
        _join_offsets(local, offsets, group_cols)
        .withColumn(out, (F.col("_rr_local") + F.col("_rr_offset")).cast("long"))
        .drop("_rr_pid", "_rr_local", "_rr_offset")
    )


def grouped_prefix_sum(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    value_col: str,
    out: str = "prefix_sum",
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """Running sum of ``value_col`` per group in ``order_cols`` order —
    the distributed form of ``sum().over(partitionBy(group).orderBy(...)
    .rowsBetween(unboundedPreceding, currentRow))`` for LOW-cardinality
    groups (same hazard and same two-phase fix as
    :func:`grouped_row_number`).  Exact for integer-valued columns at
    any split (addition is associative); for doubles the summation order
    changes with the partitioning, as with any distributed sum.
    """
    return grouped_prefix_sums(
        df,
        group_cols,
        order_cols,
        [value_col],
        [out],
        exclusive=exclusive,
        num_partitions=num_partitions,
    )


def grouped_prefix_sums(
    df: DataFrame,
    group_cols: list[str],
    order_cols: list[Column],
    value_cols: list[str],
    outs: list[str],
    exclusive: bool = False,
    num_partitions: int | None = None,
) -> DataFrame:
    """:func:`grouped_prefix_sum` over SEVERAL value columns sharing ONE
    range exchange — a caller cumulating k measures along the same order
    (e.g. both samples' counts in a KS statistic) pays one distributed
    sort instead of k."""
    ranged = _range_with_pid(df, group_cols, order_cols, num_partitions)
    w = (
        Window.partitionBy("_rr_pid", *group_cols)
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = ranged
    for i, v in enumerate(value_cols):
        local = local.withColumn(f"_rr_local_{i}", F.sum(v).over(w))
    sums = ranged.groupBy("_rr_pid", *group_cols).agg(
        *[F.sum(v).alias(f"_rr_sub_{i}") for i, v in enumerate(value_cols)]
    )
    offsets = _grouped_offsets(
        sums,
        group_cols,
        tuple(f"_rr_sub_{i}" for i in range(len(value_cols))),
        tuple(f"_rr_off_{i}" for i in range(len(value_cols))),
    )
    res = _join_offsets(local, offsets, group_cols)
    drop = ["_rr_pid"]
    for i, (v, out) in enumerate(zip(value_cols, outs)):
        cum = F.col(f"_rr_local_{i}") + F.col(f"_rr_off_{i}")
        if exclusive:
            cum = cum - F.col(v)
        res = res.withColumn(out, cum)
        drop += [f"_rr_local_{i}", f"_rr_off_{i}"]
    return res.drop(*drop)


def global_row_number(
    df: DataFrame,
    order_cols: list[Column],
    out: str = "rn",
    num_partitions: int | None = None,
) -> DataFrame:
    """1-based global row number under a TOTAL ordering, no global window
    — the group-less case of :func:`grouped_row_number`.

    Plan shape: RangeExchange(order) → partitioned WindowExec(local rn)
    → tiny count-per-partition aggregate → broadcast prefix-sum join.
    """
    return grouped_row_number(df, [], order_cols, out, num_partitions)


def with_total_count(df: DataFrame, out: str = "_n_total") -> DataFrame:
    """Attach the frame's total row count as a column — 1-row aggregate
    broadcast back via crossJoin (stays lazy, no driver round-trip)."""
    total = df.agg(F.count(F.lit(1)).cast("long").alias(out))
    return df.crossJoin(F.broadcast(total))


def ntile_from_rn(rn: Column, n: Column, tiles: int) -> Column:
    """Exact NTILE(tiles) from a total-order row number and total count.

    Matches Spark/DuckDB NTILE bucket boundaries: first ``n % tiles``
    buckets get ``n div tiles + 1`` rows each, the rest get ``n div
    tiles``.  Integer arithmetic via floor is exact below 2^53 rows.
    ``greatest(q, 1)`` keeps the (never-taken when q == 0) otherwise
    branch from dividing by zero under ANSI.
    """
    t = F.lit(tiles)
    q = F.floor(n / t)
    rem = n - q * t
    cut = rem * (q + 1)
    big = F.floor((rn - F.lit(1)) / (q + F.lit(1))) + F.lit(1)
    small = rem + F.floor((rn - cut - F.lit(1)) / F.greatest(q, F.lit(1))) + F.lit(1)
    return F.when(rn <= cut, big).otherwise(small).cast("int")


def percent_rank_from_rn(rn: Column, n: Column) -> Column:
    """percent_rank under a unique ordering: (rn-1)/(n-1), 0 for n == 1.
    Pure integer→IEEE-double ratio — bit-identical across engines."""
    return F.when(n == 1, F.lit(0.0)).otherwise(
        (rn - F.lit(1)).cast("double") / (n - F.lit(1)).cast("double")
    )


def cume_dist_from_rn(rn: Column, n: Column) -> Column:
    """cume_dist under a unique ordering: rn/n (peers == 1)."""
    return rn.cast("double") / n.cast("double")
