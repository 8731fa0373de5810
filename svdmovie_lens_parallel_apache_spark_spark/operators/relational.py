"""Relational operators beyond what the reference shipped.

The reference's join surface is two inner equi-joins (J1/J2) and a manual
broadcast-lookup pattern (J3/J4) — SURVEY.md §2.1. The engine exposes the
full join family as thin, scale-conscious wrappers: Catalyst picks
broadcast-hash vs sort-merge (AQE converts at runtime), and callers can
force a broadcast for known-small dimensions.

Top-k-per-group is the standard window + filter: at scale the window sort
is per-partition-key only (no global sort), and for k=1
``max_by``-style aggregation would avoid the sort entirely.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def spread_small(df: DataFrame) -> DataFrame:
    """Round-robin repartition an UNDER-PARALLEL input ahead of a
    CPU-dense stage (round-13, guide §2.5: input skew — one
    unsplittable input). The sf fixtures are single-row-group parquet
    files, so a scan is ONE task and every expensive map stage chained
    on it (n-gram explosion, codec kernels, pair enumeration) ran
    single-threaded on a 32-core host. The guard makes this a no-op
    whenever the input already carries >= defaultParallelism
    partitions — at 100 TB real tables have many splits and the
    exchange never fires; on the fixtures it moves a few hundred KB
    once to light every core."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    # a shuffle already sets downstream parallelism, so shuffled plans are
    # left alone WITHOUT touching .rdd: accessing .rdd on an adaptive plan
    # with exchanges finalizes the AQE plan — eagerly executing its
    # shuffle stages just to read a partition count, work that is NOT
    # reused by the later action.
    if _has_shuffle(df):
        return df
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target)


def _has_shuffle(df: DataFrame) -> bool:
    """Whether the rows of ``df`` come through a shuffle exchange. Walks
    the physical plan as planned — an ``AdaptiveSparkPlanExec`` is read
    through its ``initialPlan`` (exchanges inserted, nothing executed) —
    and into cached relations. Only ``ShuffleExchangeExec`` counts, and
    the walk does not enter a ``BroadcastExchangeExec``: a broadcast side
    feeds a hash table, not the output's partitioning."""
    stack = [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "ShuffleExchangeExec":
            return True
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.initialPlan())
        elif kind != "BroadcastExchangeExec":
            for seq in (node.children(), node.innerChildren()):
                stack.extend(seq.apply(i) for i in range(seq.size()))
    return False


def semi_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with a match in ``right`` (EXISTS)."""
    return left.join(right, on=on, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, on) -> DataFrame:
    """Rows of ``left`` with no match in ``right`` (NOT EXISTS)."""
    return left.join(right, on=on, how="left_anti")


def broadcast_join(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Fact ⋈ broadcast(dim) — the DataFrame form of the reference's
    broadcast-matrices-then-lookup pattern (J3,
    ``SVDMovieLensSparkJava.java:447-448,499-513``)."""
    return fact.join(F.broadcast(dim), on=on, how=how)


def merge_upsert(base: DataFrame, updates: DataFrame, key: str | list[str]) -> DataFrame:
    """MERGE/upsert without a table format: rows of ``base`` whose key has
    no update, unioned with all update rows (updates win). The anti-join +
    union emulation of ``MERGE INTO`` (Delta/Iceberg carry the
    transactional form; the relational algebra is identical). One shuffle
    per side on the key; at scale write the result partition-aligned so
    repeated merges stay co-located.
    """
    keys = [key] if isinstance(key, str) else list(key)
    kept = base.join(updates.select(*keys), on=keys, how="left_anti")
    return kept.unionByName(updates)


def salted_join(skewed: DataFrame, small: DataFrame, on: str,
                salt_buckets: int = 8, how: str = "inner") -> DataFrame:
    """Skew-mitigated join: spread each hot key of the skewed side across
    ``salt_buckets`` shuffle partitions; replicate the small side once per
    salt. Result is identical to a plain equi-join on ``on``.

    AQE's skew-join handles most cases automatically
    (spark.sql.adaptive.skewJoin.enabled, on in session defaults); this
    explicit form is for when the skew is known a priori or AQE can't
    split (e.g. a single monster key feeding an aggregation).
    Salt is derived from xxhash64 of the whole row — deterministic, no
    rand() (reproducible retries, no lineage nondeterminism).
    """
    skewed_salted = skewed.withColumn(
        "__salt", F.pmod(F.xxhash64(*[F.col(c) for c in skewed.columns]), F.lit(salt_buckets))
    )
    salts = F.explode(F.array(*[F.lit(i) for i in range(salt_buckets)]))
    small_replicated = small.withColumn("__salt", salts)
    out = skewed_salted.join(small_replicated, on=[on, "__salt"], how=how)
    return out.drop("__salt")


def asof_join(left: DataFrame, right: DataFrame, partition_col: str,
              left_time: str, right_time: str,
              payload: dict[str, str], tiebreak: str) -> DataFrame:
    """As-of join (no native Spark operator): for each left row, attach the
    payload of the LATEST right row with ``right_time <= left_time`` in the
    same partition.

    Implementation is the scalable union + forward-fill pattern:
    union both sides → per-partition event-time sort → ``last(payload,
    ignorenulls)`` over an unbounded-preceding row frame → keep left rows.
    One shuffle on the partition key, per-key sort only — no range join,
    no per-row probe. Right rows sort BEFORE left rows at equal times, so
    ties are inclusive (<=). ``payload``: {right_col: output_name};
    ``tiebreak``: unique right column ordering simultaneous right rows.
    """
    lcols = left.columns
    l = left.select(
        *lcols,
        F.col(left_time).alias("__t"),
        F.lit(1).alias("__is_left"),
        F.lit(None).cast("long").alias("__tb"),
        *[F.lit(None).cast(dict(right.dtypes)[rc]).alias(out) for rc, out in payload.items()],
    )
    r = right.select(
        *[F.lit(None).cast(dict(left.dtypes)[c]).alias(c) for c in lcols if c != partition_col],
        F.col(partition_col),
        F.col(right_time).alias("__t"),
        F.lit(0).alias("__is_left"),
        F.col(tiebreak).cast("long").alias("__tb"),
        *[F.col(rc).alias(out) for rc, out in payload.items()],
    ).select(*l.columns)  # align column order for unionByName-safe union
    w = (
        Window.partitionBy(partition_col)
        .orderBy(F.col("__t"), F.col("__is_left"), F.col("__tb"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l.unionByName(r).select(
        *lcols,
        "__is_left",
        *[F.last(out, ignorenulls=True).over(w).alias(out) for out in payload.values()],
    )
    return filled.where(F.col("__is_left") == 1).drop("__is_left")


def topk_per_group(df: DataFrame, partition_by: list[str], order_by: list[Column],
                   k: int, rank_col: str = "rn") -> DataFrame:
    """Top-k rows per group via ``row_number`` over a per-group sort.

    ``order_by`` MUST end with a unique tiebreaker column for deterministic
    results (floating sort keys alone are not reproducible across engines).
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )


def interval_overlap_pairs(items: DataFrame, key: str = "k",
                           id_col: str = "iid", start: str = "s",
                           end: str = "e", bucket_width: int = 7) -> DataFrame:
    """All pairs of same-key intervals that OVERLAP (inclusive [s, e]
    endpoints), without a cartesian or BroadcastNestedLoop.

    Each interval is exploded to the ``bucket_width``-sized buckets it
    covers (``ceil(len/W)+1`` copies at most), the self-join runs as an
    EQUI-join on ``(key, bucket)``, and a qualifying pair survives only
    in its *canonical* bucket — the one containing the overlap start,
    ``floor(greatest(s_a, s_b) / W)`` — so pairs whose intervals straddle
    a bucket boundary are never double-counted. This is the standard
    distributed interval-join decomposition: at scale the shuffle
    carries O(rows x copies) bucket rows and every join partition is a
    single (key, bucket) cell; ``bucket_width`` trades copy factor
    against cell size (set it near the max interval length).

    Returns one row per unordered pair (``id_a < id_b``) with both
    interval bounds and ``overlap_len`` (inclusive day/unit count).
    Not in the reference (its join surface is equi-only —
    ``SVDMovieLensSparkJava.java:191-513``).
    """
    W = bucket_width

    def _floor_div(e: str) -> Column:
        # exact integer floor division: (x - pmod(x, W)) is the floor
        # multiple (pmod >= 0) and divides exactly, so integral `div`
        # never truncates. F.floor(col / W) routes through double and
        # can misplace a bucket for |x| >= 2^53 (drops/dupes pairs).
        return F.expr(f"(({e}) - pmod(({e}), {W})) div {W}")

    exploded = items.select(
        F.col(key).alias("__k"), F.col(id_col).alias("__id"),
        F.col(start).alias("__s"), F.col(end).alias("__e"),
    ).withColumn(
        "__bucket",
        F.explode(F.sequence(_floor_div("__s"), _floor_div("__e"))),
    )
    a = exploded.select(
        "__k", "__bucket",
        F.col("__id").alias("id_a"),
        F.col("__s").alias("s_a"), F.col("__e").alias("e_a"),
    )
    b = exploded.select(
        "__k", "__bucket",
        F.col("__id").alias("id_b"),
        F.col("__s").alias("s_b"), F.col("__e").alias("e_b"),
    )
    return (
        a.join(b, ["__k", "__bucket"])
        .where(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
            & (F.col("__bucket") == _floor_div("greatest(s_a, s_b)"))
        )
        .withColumn(
            "overlap_len",
            (F.least(F.col("e_a"), F.col("e_b"))
             - F.greatest(F.col("s_a"), F.col("s_b")) + 1).cast("long"),
        )
        .select(F.col("__k").alias(key), "id_a", "id_b",
                "s_a", "e_a", "s_b", "e_b", "overlap_len")
    )
