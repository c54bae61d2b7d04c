"""Scale-safe global ranking: two-pass quantile bucketing instead of the
single-partition global window.

``Window.orderBy(...)`` with no partition key routes the ENTIRE table
through one task — the classic cluster-killer for global rank/ntile.
The two-pass shape here keeps every stage partition-parallel:

1. approx_percentile cut points over the sort key (one partial-agg pass)
   define contiguous, monotone buckets;
2. ``row_number`` runs per-bucket (hash exchange on the bucket id — the
   only wide shuffle);
3. per-bucket counts (one tiny row per bucket) are collected to the
   driver and turned into exact global-rank offsets, embedded back into
   the plan as literals.

Every step is a deterministic function of the data, so the returned lazy
DataFrame is safe to re-execute (no persisted intermediate whose loss
would skew ranks).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _bucketize(df: DataFrame, key: str, n_buckets: int | None) -> DataFrame:
    """Shared pass 1 of every two-pass global operator here: contiguous
    monotone buckets from approx_percentile cut points on ``key``
    (numeric), as a ``_bkt`` column.

    The input persists through the session cache registry first: every
    two-pass caller executes it 2-3 times (the cut-point pass, the
    bucket-size pass, the ranked output), and when the input embeds an
    expensive per-row score the repeated scans dominate (sf10:
    q_score_rank_norm re-ran its text-quality scan three times — 19 s
    warm, ~6 s of it the ranked output). One generation per session,
    rebuilt inside every invocation (the containment_shingles
    lifecycle); lineage is kept, so a released generation recomputes
    instead of failing."""
    from .cache_registry import persist_slot

    df = persist_slot(df, "global_rank_input")
    spark = df.sparkSession
    nb = n_buckets or max(spark.sparkContext.defaultParallelism, 16)
    probs = ", ".join(str((i + 1) / nb) for i in range(nb - 1))
    cuts = df.select(
        F.expr(f"approx_percentile({key}, array({probs}), 10000)").alias("c")
    ).first()["c"] or []
    bucket = F.lit(0)
    for c in cuts:
        bucket = bucket + F.when(F.col(key) > F.lit(c), 1).otherwise(0)
    return df.withColumn("_bkt", bucket)


def _bucket_offsets(per_bucket: dict[int, int]):
    """Exact running offsets from per-bucket totals (the tiny driver-side
    fold both global_row_number and global_cumsum share). Returns
    (offset_map_column, grand_total)."""
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(per_bucket):
        offsets[b] = acc
        acc += int(per_bucket[b])
    off_map = F.create_map(*[F.lit(x) for kv in offsets.items() for x in kv])
    return off_map, acc


def global_row_number(
    df: DataFrame,
    order_cols: list[str],
    n_buckets: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact ``row_number() OVER (ORDER BY order_cols)`` without a
    SinglePartition window: quantile-bucket on ``order_cols[0]`` (must be
    numeric), per-bucket ``row_number``, then exact bucket-size offsets
    folded in as literals. Returns (df + ``_grn`` column, total rows);
    callers drop or rename ``_grn``. The only driver-side data is the
    per-bucket count vector (<= n_buckets rows)."""
    bucketed = _bucketize(df, order_cols[0], n_buckets)
    w = Window.partitionBy("_bkt").orderBy(*order_cols)
    ranked = bucketed.withColumn("_lr", F.row_number().over(w))

    sizes = {
        r["_bkt"]: r["n"]
        for r in bucketed.groupBy("_bkt").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    if not sizes:
        return df.withColumn("_grn", F.lit(0).cast("long")), 0
    off_map, n = _bucket_offsets(sizes)
    rank = F.element_at(off_map, F.col("_bkt")) + F.col("_lr")
    return ranked.withColumn("_grn", rank.cast("long")).drop("_bkt", "_lr"), n


def global_ntile(
    df: DataFrame,
    n_tiles: int,
    order_cols: list[str],
    bucket_col: str | None = None,
    out_col: str = "tile",
    n_buckets: int | None = None,
) -> DataFrame:
    """Exact ``ntile(n_tiles) OVER (ORDER BY order_cols)`` without a
    SinglePartition window. ``order_cols[0]`` must be numeric (it feeds
    approx_percentile); remaining cols break ties. Output keeps ``df``'s
    columns named in ``order_cols[0:1]``'s select plus ``out_col``."""
    ranked, n = global_row_number(df, order_cols, n_buckets)
    if n == 0:
        return df.withColumn(out_col, F.lit(0).cast("int"))
    rank = F.col("_grn")

    # ntile semantics: first (n % t) tiles get floor(n/t)+1 rows, rest floor(n/t)
    base, rem = n // n_tiles, n % n_tiles
    if base == 0:
        tile = rank
    else:
        head = rem * (base + 1)
        tile = F.when(
            F.lit(rem > 0) & (rank <= head), ((rank - 1) / (base + 1)).cast("long") + 1
        ).otherwise(F.lit(rem) + ((rank - F.lit(head) - 1) / base).cast("long") + 1)
    return ranked.withColumn(out_col, tile.cast("int")).drop("_grn")


def global_cumsum(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    n_buckets: int | None = None,
) -> tuple[DataFrame, int]:
    """Exact running ``sum(value_col) OVER (ORDER BY order_cols)`` (long
    arithmetic) without a SinglePartition window — the cumulative twin of
    :func:`global_row_number` (shared ``_bucketize``/``_bucket_offsets``
    machinery): quantile-bucket on ``order_cols[0]``, per-bucket windowed
    cumsum, exact per-bucket totals folded back as literal offsets.
    Returns (df + ``_gcum`` column, grand total). ``value_col`` must be
    integral (exact sums; callers lift decimals to cents the way the
    drawdown/MAD family does); NULL values count as ZERO weight — they
    advance nothing, deterministically, instead of crashing the
    driver-side offset fold."""
    val = F.coalesce(F.col(value_col).cast("long"), F.lit(0))
    df = df.withColumn("_v", val)
    bucketed = _bucketize(df, order_cols[0], n_buckets)
    w = (
        Window.partitionBy("_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = bucketed.withColumn("_lc", F.sum("_v").over(w))

    sums = {
        r["_bkt"]: r["s"]
        for r in bucketed.groupBy("_bkt").agg(F.sum("_v").alias("s")).collect()
    }
    if not sums:
        return df.drop("_v").withColumn("_gcum", F.lit(0).cast("long")), 0
    off_map, total = _bucket_offsets(sums)
    cum = F.element_at(off_map, F.col("_bkt")) + F.col("_lc")
    return (
        local.withColumn("_gcum", cum.cast("long")).drop("_bkt", "_lc", "_v"),
        total,
    )


def doubled_midranks(
    hist: DataFrame, keys: list[str], value: str, cnt: str
) -> DataFrame:
    """Doubled mid-ranks of a value histogram, the one rank primitive of
    every rank statistic (Spearman, Mann–Whitney, Kruskal–Wallis, AUC).

    ``hist`` holds one row per ``(keys…, value)``; ``cnt`` rows stand
    behind each. A NULL ``value`` is not an observation: its rows are
    dropped, so both engines rank the same rows whatever their NULL sort
    order. Adds two columns:

    - ``_mid2 = 2·(rows below value within keys) + cnt + 1`` (long);
    - ``_tie3 = cnt³ − cnt`` (decimal(38,0)), the tie-correction term.

    Exactness: the tied rows of a value occupy ranks below+1 … below+cnt,
    whose mean is below + (cnt + 1)/2, so twice the mid-rank is the
    integer above, exact in a long for any row count a long can hold.
    ``cnt³`` overflows a long once one value holds more than 2²¹ rows, so
    the tie term runs in decimal(38,0), exact to ~5·10¹² rows per value.

    With ``keys``, the rows below come from one keyed window per key
    (NULL keys form a group of their own). With ``keys=[]`` the order is
    global, so they come from :func:`global_cumsum` (inclusive, minus the
    row's own ``cnt``) and no window runs in a single partition.
    """
    hist = hist.filter(F.col(value).isNotNull())
    c = F.col(cnt)
    if keys:
        w = (
            Window.partitionBy(*keys)
            .orderBy(value)
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        below = F.coalesce(F.sum(c).over(w), F.lit(0))
        ranked = hist.withColumn("_mid2", (2 * below + c + 1).cast("long"))
    else:
        cum, _ = global_cumsum(hist, [value], cnt)
        mid2 = (2 * F.col("_gcum") - c + 1).cast("long")
        ranked = cum.withColumn("_mid2", mid2).drop("_gcum")
    t = c.cast("decimal(38,0)")
    return ranked.withColumn("_tie3", t * t * t - t)


def global_running_max(
    df: DataFrame,
    order_cols: list[str],
    value_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Exact running ``max(value_col) OVER (ORDER BY order_cols)``
    without a SinglePartition window — the prefix-max sibling of
    :func:`global_cumsum` (shared ``_bucketize`` machinery): quantile-
    bucket on ``order_cols[0]``, per-bucket windowed max, then the exact
    per-bucket maxima folded back as literal strictly-before-bucket
    prefix maxima combined with ``greatest``. Adds ``_gmax`` (long).
    ``value_col`` must be integral and non-NULL on rows that should
    participate; the driver-side state is the <= n_buckets max vector."""
    bucketed = _bucketize(df, order_cols[0], n_buckets)
    w = (
        Window.partitionBy("_bkt")
        .orderBy(*order_cols)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    local = bucketed.withColumn("_lm", F.max(value_col).over(w))
    per_bucket = {
        r["_bkt"]: r["m"]
        for r in bucketed.groupBy("_bkt")
        .agg(F.max(value_col).alias("m"))
        .collect()
    }
    if not per_bucket:
        return df.withColumn("_gmax", F.lit(None).cast("long"))
    prefix: dict[int, int | None] = {}
    best: int | None = None
    for b in sorted(per_bucket):
        prefix[b] = best
        m = per_bucket[b]
        if m is not None and (best is None or m > best):
            best = int(m)
    # buckets with no strictly-before maximum (the first non-empty one)
    # are simply absent from the map: element_at -> NULL -> coalesce
    entries = [
        x
        for b, m in prefix.items()
        if m is not None
        for x in (F.lit(b), F.lit(m).cast("long"))
    ]
    if entries:
        pre = F.element_at(F.create_map(*entries), F.col("_bkt"))
    else:
        pre = F.lit(None).cast("long")
    gmax = F.greatest(F.coalesce(pre, F.col("_lm")), F.col("_lm"))
    return local.withColumn("_gmax", gmax.cast("long")).drop("_bkt", "_lm")
