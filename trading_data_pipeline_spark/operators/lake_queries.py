"""Lake-maintenance operators a 100 TB table needs between queries:

- ``q_scan_binary``  — the ``binaryFile`` source: opaque payloads (the
  multimodal layout's on-disk form) read as (path, length, content)
  without decoding, the scan path for image/audio corpora;
- ``q_compaction``   — small-file compaction: rewrite a fragmented
  partitioned table into ~target-sized files per partition (the
  OPTIMIZE half of lakehouse maintenance; q_zorder_stats is the
  clustering half), with row/value conservation as the oracle;
- ``q_cdc_apply``    — apply an ordered CDC changelog (upserts +
  deletes) to produce the current snapshot: one shuffle on the key,
  last-writer-wins, deletes drop the key.

Conservation oracles: compaction and CDC produce results derivable from
the raw events table by plain SQL, so the physical rewrite / changelog
machinery is value-checked exactly, and file-layout effects are asserted
in pytest (tests/test_lake_ops.py) where row-hashes can't see them.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.quantize import q as _q
from ..registry import load, register
from .bars import cents

TMP_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    ".tmp", "lake",
)


# ---------------------------------------------------------------- binaryFile

def export_binary_payloads(docs, out_dir: str) -> int:
    """Write each (doc_id, text) row as ``<doc_id>.bin`` (utf-8 bytes).

    Driver-side by design: this exports a SMALL deterministic sample (the
    callers pass <= a few hundred rows) to model an object-store payload
    prefix; a full-corpus export would go through foreachPartition. The
    interesting distributed path is the READ below.
    """
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir, exist_ok=True)
    rows = docs.collect()  # tiny by design (subset filter at the caller)
    for r in rows:
        with open(os.path.join(out_dir, f"{r['doc_id']:08d}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    return len(rows)


@register(
    "q_scan_binary",
    "SELECT doc_id, strlen(text) AS n_bytes FROM documents WHERE doc_id % 25 = 0",
    doc="binaryFile source over an exported payload prefix: read opaque "
    "*.bin objects distributed (path/length/content schema, no decode), "
    "recover the id from the path and the byte length from BOTH the "
    "file-status length and length(content) (cross-checked in the "
    "filter). Oracle: utf-8 byte lengths straight from the documents "
    "table — a full write/read round-trip of the multimodal payload "
    "layout",
)
def q_scan_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    out_dir = os.path.join(TMP_ROOT, "binary_scan")
    export_binary_payloads(docs.select("doc_id", "text"), out_dir)
    scanned = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(out_dir)
    )
    return (
        scanned.select(
            F.regexp_extract(F.col("path"), r"(\d+)\.bin$", 1)
            .cast("long")
            .alias("doc_id"),
            F.col("length").alias("n_bytes"),
            F.length(F.col("content")).alias("_content_bytes"),
        )
        # file-status length and actual payload length must agree
        .filter(F.col("n_bytes") == F.col("_content_bytes"))
        .drop("_content_bytes")
    )


# ---------------------------------------------------------------- compaction

def compact_table(
    spark: SparkSession,
    src_dir: str,
    dst_dir: str,
    partition_col: str,
    target_bytes: int = 128 * 1024 * 1024,
    salt_key: str | None = None,
) -> DataFrame:
    """Rewrite a partitioned parquet table with ~``target_bytes`` files.

    Per-partition file stats come from one Hadoop FS listing (one row per
    partition — tiny); each partition's rows get a deterministic salt in
    [0, ceil(bytes/target)) and the rewrite shuffles on (partition, salt),
    so every output partition holds whole (partition, salt) groups and
    writes ceil(bytes/target) files of ~target size. No driver-side data
    movement — the listing is metadata, the rewrite is one exchange.
    """
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(src_dir)
    fs = root.getFileSystem(hconf)
    n_files_by_part: dict[str, int] = {}
    for st in fs.listStatus(root):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if "=" not in name:
            continue
        val = name.split("=", 1)[1]
        bytes_ = sum(
            f.getLen()
            for f in fs.listStatus(st.getPath())
            if f.getPath().getName().endswith(".parquet")
        )
        n_files_by_part[val] = max(1, -(-bytes_ // target_bytes))

    df = spark.read.parquet(src_dir)
    salt_src = F.xxhash64(F.col(salt_key)) if salt_key else F.monotonically_increasing_id()
    n_map = F.create_map(
        *[x for v, n in sorted(n_files_by_part.items())
          for x in (F.lit(v), F.lit(n))]
    )
    n_col = F.coalesce(
        n_map[F.col(partition_col).cast("string")], F.lit(1)
    )
    salted = df.withColumn("_salt", F.pmod(salt_src, n_col))
    # Explicit partition count (= total target files): a bare
    # repartition(cols) is REPARTITION_BY_COL, which AQE may coalesce
    # back into fewer, oversized partitions — defeating the whole point.
    # REPARTITION_BY_NUM is exempt from AQE coalescing.
    n_total = max(1, sum(n_files_by_part.values()))
    (
        salted.repartition(n_total, F.col(partition_col), F.col("_salt"))
        .drop("_salt")
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(dst_dir)
    )
    return spark.read.parquet(dst_dir)


@register(
    "q_compaction",
    """
    SELECT CAST(ts AS DATE) AS date,
           count(*) AS n_rows,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS sum_value
    FROM events GROUP BY 1
    """,
    doc="Small-file compaction round-trip: events written fragmented "
    "(16-way repartition x date partitions), compacted to ~target-size "
    "files per date partition via a (date, salt) exchange, read back and "
    "aggregated. Oracle is the same aggregate over the raw table — the "
    "rewrite must conserve every row and value; the file-count collapse "
    "itself is asserted in tests/test_lake_ops.py. DECIMAL sum so the "
    "fold order of the rewritten layout can't change the hash",
)
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn("date", F.to_date("ts"))
    frag_dir = os.path.join(TMP_ROOT, "compaction", "fragmented")
    dst_dir = os.path.join(TMP_ROOT, "compaction", "compacted")
    (
        ev.repartition(16)
        .write.mode("overwrite")
        .partitionBy("date")
        .parquet(frag_dir)
    )
    compacted = compact_table(
        spark, frag_dir, dst_dir, "date", target_bytes=128 * 1024 * 1024,
        salt_key="event_id",
    )
    return compacted.groupBy(F.col("date").cast("date").alias("date")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        (
            F.floor(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 100
                + 0.5
            )
            / 100
        ).alias("sum_value"),
    )


# ----------------------------------------------------------------- CDC apply

def apply_changelog(
    changes: DataFrame,
    key: str,
    order_cols: list[str],
    op_col: str = "op",
    keep_deletes: bool = False,
) -> DataFrame:
    """Current snapshot from an ordered changelog: per key, the row with
    the highest (order_cols) wins; a terminal delete removes the key —
    unless ``keep_deletes``, which retains the winning 'D' row as a
    tombstone (the streaming CDC sink needs tombstones in storage so a
    late older update cannot resurrect a deleted key).

    One hash exchange on the key (the window), then a per-key top-1 —
    Spark's rank-limit pushdown turns this into a partial group-limit
    before the shuffle, so the exchange carries at most one candidate
    row per (key, input partition), not the whole changelog.
    """
    w = Window.partitionBy(key).orderBy(*[F.col(c).desc() for c in order_cols])
    top = (
        changes.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return top if keep_deletes else top.filter(F.col(op_col) != "D")


@register(
    "q_cdc_apply",
    """
    WITH log AS (
      SELECT user_id,
             CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
             event_type, value, ts, event_id
      FROM events
    ), ranked AS (
      SELECT *, row_number() OVER (
               PARTITION BY user_id ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM log
    )
    SELECT user_id, op, event_type,
           floor(value * 10000 + 0.5) / 10000 AS value, ts, event_id
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
    doc="CDC changelog apply (last-writer-wins MERGE): events become an "
    "ordered changelog (error => delete, anything else => upsert, ts + "
    "event_id as the commit order); the snapshot keeps each key's final "
    "upsert and drops keys whose final op is a delete. One key exchange "
    "with rank-limit pushdown (partial top-1 before the shuffle) — the "
    "pattern that folds a day of Debezium/binlog traffic into a table "
    "state without a transaction log",
)
def q_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    log = ev.select(
        "user_id",
        F.when(F.col("event_type") == "error", "D").otherwise("U").alias("op"),
        "event_type",
        "value",
        "ts",
        "event_id",
    )
    snap = apply_changelog(log, "user_id", ["ts", "event_id"])
    return snap.withColumn("value", _q(F.col("value"), 10000))


# ------------------------------------------------- incremental aggregation

_INC_CUTOFF = "2024-01-21"


def merge_agg_states(states: DataFrame, keys: list[str]) -> DataFrame:
    """Combine partial aggregate states (n / sum / min / max per key) —
    the algebraic-aggregate merge that lets a materialized daily rollup
    absorb a new batch WITHOUT rescanning history: old state and the
    delta batch's state union, then re-combine per key. count and sum
    add; min/max fold; avg derives at read time as sum/n."""
    return states.groupBy(*keys).agg(
        F.sum("n").alias("n"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
    )


def _agg_state(df: DataFrame) -> DataFrame:
    return df.groupBy("day").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("sum_v"),
        F.min("value").alias("min_v"),
        F.max("value").alias("max_v"),
    )


@register(
    "q_incremental_agg",
    f"""
    SELECT CAST(ts AS DATE) AS day,
           count(*) AS n,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS sum_value,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(*)
                 * 10000 + 0.5) / 10000 AS avg_value,
           floor(min(value) * 10000 + 0.5) / 10000 AS min_value,
           floor(max(value) * 10000 + 0.5) / 10000 AS max_value
    FROM events GROUP BY 1
    """,
    doc="Incremental materialized-rollup maintenance: history (days "
    f"before {_INC_CUTOFF}) is persisted as ALGEBRAIC partial states "
    "(n/sum/min/max), the delta batch aggregates independently, and the "
    "two state sets merge per key — history is never rescanned. DECIMAL "
    "sums make the merge fold-order-exact, so the oracle (a full "
    "recompute over all days) must match bit-for-bit. The pattern that "
    "turns a daily 100 TB rescan into a delta-sized job",
)
def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    state_dir = os.path.join(TMP_ROOT, "inc_agg_state")
    old_state = _agg_state(ev.filter(F.col("day") < F.lit(_INC_CUTOFF)))
    old_state.write.mode("overwrite").parquet(state_dir)  # the stored rollup
    delta_state = _agg_state(ev.filter(F.col("day") >= F.lit(_INC_CUTOFF)))
    merged = merge_agg_states(
        spark.read.parquet(state_dir).unionByName(delta_state), ["day"]
    )
    return merged.select(
        "day",
        "n",
        (F.floor(F.col("sum_v").cast("double") * 100 + 0.5) / 100).alias("sum_value"),
        (F.floor(F.col("sum_v").cast("double") / F.col("n") * 10000 + 0.5) / 10000).alias("avg_value"),
        _q(F.col("min_v"), 10000).alias("min_value"),
        _q(F.col("max_v"), 10000).alias("max_value"),
    )


# --------------------------------------------------------- schema evolution

@register(
    "q_schema_evolution",
    f"""
    SELECT CASE WHEN CAST(ts AS DATE) < DATE '{_INC_CUTOFF}'
                THEN '_missing' ELSE event_type END AS event_type,
           count(*) AS n,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS sum_value
    FROM events GROUP BY 1
    """,
    doc="Schema-evolution read: batch v1 lands WITHOUT the event_type "
    "column, batch v2 adds it; mergeSchema=true reconciles the footers "
    "and backfills v1 rows with NULL (surfaced as '_missing'). The "
    "add-a-column migration every long-lived lake table goes through — "
    "no rewrite of historical files",
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").withColumn("day", F.to_date("ts"))
    lake_dir = os.path.join(TMP_ROOT, "schema_evo")
    shutil.rmtree(lake_dir, ignore_errors=True)
    v1 = ev.filter(F.col("day") < F.lit(_INC_CUTOFF)).select(
        "event_id", "user_id", "ts", "value"
    )
    v2 = ev.filter(F.col("day") >= F.lit(_INC_CUTOFF)).select(
        "event_id", "user_id", "ts", "value", "event_type"
    )
    v1.write.parquet(os.path.join(lake_dir, "batch=1"))
    v2.write.parquet(os.path.join(lake_dir, "batch=2"))
    merged = (
        spark.read.option("mergeSchema", "true")
        .option("recursiveFileLookup", "true")
        .parquet(lake_dir)
    )
    return (
        merged.groupBy(
            F.coalesce(F.col("event_type"), F.lit("_missing")).alias("event_type")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (
                F.floor(
                    F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 100
                    + 0.5
                )
                / 100
            ).alias("sum_value"),
        )
    )


# ------------------------------------------------------ write-audit-publish

class AuditFailed(RuntimeError):
    """Raised when a staged write fails its audit; nothing is published."""


def write_audit_publish(
    df: DataFrame,
    final_dir: str,
    audit,
    partition_by: list[str] | None = None,
) -> DataFrame:
    """WAP: write to a staging prefix, run ``audit(staged_df) -> bool``
    over the MATERIALIZED files (what readers would actually see), and
    only then move the staging directory to ``final_dir``. A failed audit
    removes the staging data and raises — the published path never holds
    unaudited rows, and a crashed job leaves only a ``._staging`` prefix
    that the next run overwrites. Directory rename is one metadata op on
    HDFS-like stores; on S3 the same pattern runs against a staging
    prefix + manifest swap.
    """
    from ..streaming.sinks import _paths, _swap_dir

    spark = df.sparkSession
    staging = final_dir + "._staging"
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging)
    staged = spark.read.parquet(staging)
    if not audit(staged):
        fs, s_path = _paths(spark, staging)
        fs.delete(s_path, True)
        raise AuditFailed(f"audit rejected staged write for {final_dir}")
    # shared crash-safe publish: the previous version is renamed aside,
    # never deleted before the new data is live (streaming/sinks._swap_dir)
    _swap_dir(spark, staging, final_dir)
    return spark.read.parquet(final_dir)


@register(
    "q_wap_publish",
    """
    SELECT event_type, count(*) AS n,
           floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE)
                 * 100 + 0.5) / 100 AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Write-audit-publish round-trip: events stage to a ._staging "
    "prefix, the one-scan q_data_quality-style audit runs over the "
    "MATERIALIZED staged files, and only a passing audit publishes (one "
    "directory rename). Oracle aggregates the source directly — a "
    "published table must be byte-equivalent to its input. Failed-audit "
    "rollback is asserted in tests/test_lake_ops.py",
)
def q_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    final_dir = os.path.join(TMP_ROOT, "wap", "events")

    def audit(staged: DataFrame) -> bool:
        m = staged.agg(
            F.count(F.lit(1)).alias("n"),
            F.count("value").alias("n_value"),
            F.countDistinct("event_id").alias("n_id"),
        ).first()
        return m["n"] > 0 and m["n_value"] == m["n"] and m["n_id"] == m["n"]

    published = write_audit_publish(ev, final_dir, audit)
    return published.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.floor(
                F.sum(F.col("value").cast("decimal(18,6)")).cast("double") * 100
                + 0.5
            )
            / 100
        ).alias("sum_value"),
    )


# ------------------------------------------------------- file-level zone map

def file_stats(df: DataFrame, cols: list[str], by_path: bool = False) -> DataFrame:
    """Per-file zone-map statistics (row count + min/max per column) via
    the ``_metadata`` hidden column — the stats a table format (Delta/
    Iceberg) keeps per data file to skip non-matching files at planning
    time.

    One partial-aggregated groupBy on the file key: each task folds its
    own file's rows map-side, so the exchange carries one row per
    (file, task). Output columns are ``min_<col>``/``max_<col>``.
    ``by_path`` keys rows by the full ``file_path`` (needed to resolve
    files in partitioned layouts); the default basename key is the
    human/oracle-friendly form for flat tables.
    """
    key = (
        F.col("_metadata.file_path").alias("file_path")
        if by_path
        else F.col("_metadata.file_name").alias("file_name")
    )
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    for c in cols:
        aggs.append(F.min(c).alias(f"min_{c}"))
        aggs.append(F.max(c).alias(f"max_{c}"))
    return df.groupBy(key).agg(*aggs)


@register(
    "q_file_stats",
    """
    SELECT 'lineitem.parquet'     AS file_name,
           count(*)               AS n_rows,
           min(l_orderkey)        AS min_l_orderkey,
           max(l_orderkey)        AS max_l_orderkey,
           min(l_extendedprice)   AS min_l_extendedprice,
           max(l_extendedprice)   AS max_l_extendedprice
    FROM lineitem
    """,
    doc="Zone-map stats collection (the OPTIMIZE-time companion to "
    "q_compaction): per-file row count + column min/max from the "
    "_metadata hidden column, one partial-aggregated exchange. The "
    "source table is a single file, so the oracle is the table-level "
    "aggregate under that file's name; the multi-file layout is "
    "covered by tests/test_lake_ops.py",
)
def q_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # raw read (not registry.load): _metadata must bind to the scan, and
    # the projected columns carry no nano timestamps — but the footer
    # schema does, so set the legacy conf the same way load() does
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    return file_stats(df, ["l_orderkey", "l_extendedprice"])


# ------------------------------------------------------ stats-based skipping

PRUNE_LO, PRUNE_HI = 100, 900  # l_orderkey band for the registered query


def prune_files_by_stats(
    spark: SparkSession,
    table_dir: str,
    stats_rows,
    col: str,
    lo,
    hi,
) -> DataFrame:
    """Planning-time file skipping from zone-map stats: read only the
    files whose ``[min_col, max_col]`` range intersects ``[lo, hi]``.

    ``stats_rows`` is the collected output of :func:`file_stats` — one
    row per data file, i.e. planning METADATA (what a table format keeps
    in its log); selecting from it on the driver is the Delta/Iceberg
    planning step, not a data collect. A file whose stats are NULL (the
    column is all-NULL there) can never be ruled out, so it is KEPT —
    pruning must be conservative. Rows carrying a ``file_path`` (from
    :func:`file_stats` with ``by_path=True``) are addressed directly,
    which also works for partitioned layouts where the basename alone
    would not resolve; bare ``file_name`` rows join against
    ``table_dir`` (flat layouts only). Returns an empty frame with the
    table's schema when every file is pruned.
    """

    def prunable(r) -> bool:
        mx, mn = r[f"max_{col}"], r[f"min_{col}"]
        return mx is not None and mn is not None and (mx < lo or mn > hi)

    keep = [
        r["file_path"] if "file_path" in r.__fields__ else os.path.join(
            table_dir, r["file_name"]
        )
        for r in stats_rows
        if not prunable(r)
    ]
    if not keep:
        schema = spark.read.parquet(table_dir).schema
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*keep)


@register(
    "q_pruned_scan",
    f"""
    SELECT l_orderkey, l_extendedprice
    FROM lineitem
    WHERE l_orderkey BETWEEN {PRUNE_LO} AND {PRUNE_HI}
    """,
    doc="Zone-map file skipping end to end: lay lineitem out with "
    "repartitionByRange (each file owns a contiguous l_orderkey range), "
    "collect q_file_stats-style per-file min/max, and answer a range "
    "predicate by scanning ONLY the files whose range intersects — the "
    "residual filter then makes the result exact. The files-skipped "
    "assertion lives in tests/test_lake_ops.py; the oracle checks the "
    "pruned read loses no rows",
)
def q_pruned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = os.path.join(TMP_ROOT, "pruned", "lineitem")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    (
        load(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_extendedprice")
        .repartitionByRange(8, "l_orderkey")
        .write.mode("overwrite")
        .parquet(out)
    )
    stats = file_stats(
        spark.read.parquet(out), ["l_orderkey"], by_path=True
    ).collect()
    pruned = prune_files_by_stats(
        spark, out, stats, "l_orderkey", PRUNE_LO, PRUNE_HI
    )
    return pruned.filter(
        F.col("l_orderkey").between(PRUNE_LO, PRUNE_HI)
    ).select("l_orderkey", "l_extendedprice")


# -------------------------------------------------------- snapshot diffing

def snapshot_diff(old: DataFrame, new: DataFrame, key: str) -> DataFrame:
    """Reconciliation diff between two table versions: per key, is the
    row ``added`` (new only), ``removed`` (old only), or ``changed``
    (present in both with any non-key column differing, null-safely)?
    Unchanged keys are dropped — at migration/backfill scale the diff
    output is change-sized, not table-sized.

    One full-outer hash join on the key; the column comparison is a
    null-safe conjunction evaluated inside the join's projection (no
    second pass, no row hashing — hashing would false-positive on hash
    collisions and force a canonical serialization; a direct <=> per
    column is exact and codegen'd).
    """
    cols = [c for c in old.columns if c != key]
    assert old.columns == new.columns, "snapshot_diff requires equal schemas"
    o = old.select(
        F.col(key).alias("_k"), *[F.col(c).alias(f"_o_{c}") for c in cols]
    )
    n = new.select(
        F.col(key).alias("_k"), *[F.col(c).alias(f"_n_{c}") for c in cols]
    )
    # presence flags come from join-side marker columns, not data columns
    # (an all-NULL data row would otherwise read as absent)
    o = o.withColumn("_in_o", F.lit(True))
    n = n.withColumn("_in_n", F.lit(True))
    joined = o.join(n, "_k", "full_outer")
    same = F.lit(True)
    for c in cols:
        same = same & F.col(f"_o_{c}").eqNullSafe(F.col(f"_n_{c}"))
    change = (
        F.when(F.col("_in_o").isNull(), "added")
        .when(F.col("_in_n").isNull(), "removed")
        .when(~same, "changed")
    )
    return (
        joined.select(F.col("_k").alias(key), change.alias("change_type"))
        .filter(F.col("change_type").isNotNull())
    )


@register(
    "q_snapshot_diff",
    """
    WITH old AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders WHERE o_orderkey % 10 != 0
    ), new AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
                            + CAST(1.00 AS DECIMAL(18,2)) AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 != 0
    )
    SELECT coalesce(old.o_orderkey, new.o_orderkey) AS o_orderkey,
           CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN NOT (old.o_custkey IS NOT DISTINCT FROM new.o_custkey
                          AND old.o_totalprice IS NOT DISTINCT FROM new.o_totalprice)
                  THEN 'changed'
           END AS change_type
    FROM old FULL OUTER JOIN new ON old.o_orderkey = new.o_orderkey
    WHERE (CASE WHEN old.o_orderkey IS NULL THEN 'added'
                WHEN new.o_orderkey IS NULL THEN 'removed'
                WHEN NOT (old.o_custkey IS NOT DISTINCT FROM new.o_custkey
                          AND old.o_totalprice IS NOT DISTINCT FROM new.o_totalprice)
                  THEN 'changed' END) IS NOT NULL
    """,
    doc="Version reconciliation: added/removed/changed keys between two "
    "snapshot derivations of orders (simulated prior/current versions) "
    "— one full-outer key join, null-safe per-column compare, "
    "change-sized output; the migration-audit twin of q_cdc_apply",
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    old = orders.filter(F.col("o_orderkey") % 10 != 0)
    bump = (
        F.col("o_totalprice").cast("decimal(18,2)")
        + F.lit(1.00).cast("decimal(18,2)")
    ).cast("double")
    new = orders.filter(F.col("o_orderkey") % 13 != 0).withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") % 7 == 0, bump).otherwise(
            F.col("o_totalprice")
        ),
    )
    return snapshot_diff(old, new, "o_orderkey")


# --------------------------------------------------------- table checksum

CK_HEX_DIGITS = 12  # 48-bit per-row hash: exact in double on any engine


def table_checksum(orders: DataFrame) -> DataFrame:
    """Order-independent per-group content checksum of the orders table —
    the cross-system reconciliation primitive: two replicas (or a table
    before/after a migration) compare one row per group instead of
    shipping data, and a single changed/missing/duplicated row flips the
    sum. This is how you verify a 100 TB copy without a 100 TB shuffle;
    group keys localize which slice diverged (here o_orderpriority —
    partition keys in production).

    Determinism across engines: the row is serialized from exactly-
    stringable fields (integers, quantized cents, ISO date, the key
    itself), hashed with md5, and the FIRST 12 hex digits are parsed as
    an integer — 48 bits keeps every per-row value and the fold exact in
    any arithmetic; the group sum accumulates in DECIMAL(38,0) and ships
    as a digit string. Addition is commutative, so the checksum is
    independent of row order AND partitioning — unlike any hash-of-
    concatenation scheme.
    """
    row = F.concat_ws(
        "|",
        F.col("o_orderkey"),
        F.col("o_custkey"),
        cents("o_totalprice"),
        F.col("o_orderdate").cast("date").cast("string"),
        F.col("o_orderpriority"),
    )
    v = F.conv(F.substring(F.md5(row), 1, CK_HEX_DIGITS), 16, 10).cast("long")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(v.cast("decimal(38,0)")).cast("decimal(38,0)").cast("string").alias("checksum"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "q_table_checksum",
    f"""
    WITH r AS (
      SELECT o_orderpriority,
             md5(concat_ws('|',
                 CAST(o_orderkey AS VARCHAR),
                 CAST(o_custkey AS VARCHAR),
                 CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR),
                 CAST(CAST(o_orderdate AS DATE) AS VARCHAR),
                 o_orderpriority)) AS h
      FROM orders
    ), v AS (
      SELECT o_orderpriority,
             CAST(list_sum(list_transform(generate_series(1, {CK_HEX_DIGITS}),
               i -> (strpos('0123456789abcdef', substr(h, CAST(i AS INTEGER), 1)) - 1)
                    * power(16, {CK_HEX_DIGITS} - i))) AS BIGINT) AS hv
      FROM r
    )
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(sum(hv) AS DECIMAL(38,0)) AS VARCHAR) AS checksum
    FROM v GROUP BY o_orderpriority
    """,
    doc="Order-independent content checksum per group: md5 of a "
    "deterministically-serialized row, first 48 bits summed in "
    "DECIMAL(38) — replica/migration reconciliation that compares one "
    "row per group instead of re-shipping the table; commutative sum "
    "makes it partitioning- and order-proof. Oracle parses the same hex "
    "via arithmetic (every step exact in double at 48 bits)",
)
def q_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    return table_checksum(load(spark, sf_dir, "orders"))
