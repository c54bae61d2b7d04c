"""FileSystemConnector tests — mirrors the reference's S3 connector suite
(tests/common/test_s3.py:63-227) on local paths: listing, csv/parquet
round-trips, empty-write guard, wrong-format raise, single-object write.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from trading_data_pipeline_spark.exceptions import WrongFormatException
from trading_data_pipeline_spark.sources.connector import FileSystemConnector


@pytest.fixture()
def conn(spark, tmp_path):
    return FileSystemConnector(spark, str(tmp_path))


@pytest.fixture()
def df2(spark):
    # ref test_s3.py:160 — the generic 2-col frame
    return spark.createDataFrame([("A", "B"), ("C", "D")], "col1 string, col2 string")


def test_csv_round_trip(conn, df2):
    assert conn.write(df2, "out/csv_rt", "csv") is True
    back = conn.read_csv("out/csv_rt", schema="col1 string, col2 string")
    assert sorted(map(tuple, back.collect())) == [("A", "B"), ("C", "D")]


def test_parquet_round_trip(conn, df2):
    assert conn.write(df2, "out/pq_rt", "parquet") is True
    back = conn.read_parquet("out/pq_rt")
    assert sorted(map(tuple, back.collect())) == [("A", "B"), ("C", "D")]


def test_wrong_format_raises(conn, df2):
    with pytest.raises(WrongFormatException):
        conn.write(df2, "out/bad", "xlsx")  # ref test_s3.py:211-227


def test_empty_write_skipped(conn, spark, tmp_path):
    empty = spark.createDataFrame([], "col1 string, col2 string")
    assert conn.write(empty, "out/empty", "csv") is None  # ref s3.py:93-95
    assert not os.path.exists(tmp_path / "out/empty")


def test_list_files_in_prefix(conn, df2, tmp_path):
    conn.write(df2, "2021-04-15/a", "csv")
    conn.write(df2, "2021-04-16/b", "csv")
    files = conn.list_files_in_prefix("2021-04-15")
    assert files and all("2021-04-15" in f for f in files)
    assert conn.list_files_in_prefix("2021-04-99") == []


def _write_csv(path, *values):
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text("\n".join(["v", *values]) + "\n")


def test_read_csv_prefixes_reads_what_the_prefixes_hold(conn, tmp_path):
    """One scan over the existing prefixes: a file in a nested
    subdirectory is read (a plain directory read drops it, so this fails
    without ``recursiveFileLookup``), a ``_SUCCESS`` marker adds no rows,
    a missing prefix is skipped, a prefix outside the list is not read,
    and with no existing prefix there is no frame."""
    _write_csv(tmp_path / "2021-04-15" / "a.csv", "a1", "a2")
    _write_csv(tmp_path / "2021-04-15" / "late" / "b.csv", "b1")
    (tmp_path / "2021-04-15" / "_SUCCESS").write_text("")
    _write_csv(tmp_path / "2021-04-16" / "c.csv", "c1")
    _write_csv(tmp_path / "2021-04-17" / "d.csv", "d1")

    df = conn.read_csv_prefixes(["2021-04-15", "2021-04-16", "2021-04-18"], schema="v string")
    assert sorted(r.v for r in df.collect()) == ["a1", "a2", "b1", "c1"]
    assert conn.read_csv_prefixes(["2021-04-18", "2021-04-19"], schema="v string") is None
    assert conn.read_csv_prefixes([], schema="v string") is None


def test_read_csv_prefixes_matches_prefixes_literally(spark, tmp_path):
    """Glob metacharacters in a prefix (and in the root) match only
    themselves: ``2021-04-1[56]`` reads neither ``2021-04-15`` nor
    ``2021-04-16``, ``*`` matches nothing, and ``a,b`` is one prefix."""
    root = tmp_path / "r{o}[o]t"
    for sub in ("2021-04-15", "2021-04-16", "2021-04-1[56]", "a", "b", "a,b", "x{y}"):
        _write_csv(root / sub / "f.csv", f'"{sub}"')
    conn = FileSystemConnector(spark, str(root))

    def read(*prefixes):
        df = conn.read_csv_prefixes(list(prefixes), schema="v string")
        return None if df is None else sorted(r.v for r in df.collect())

    assert read("2021-04-1[56]") == ["2021-04-1[56]"]
    assert read("a,b") == ["a,b"]
    assert read("x{y}", "2021-04-15") == ["2021-04-15", "x{y}"]
    assert read("2021-04-1*") is None


def test_read_csv_prefixes_infers_schema_like_read_csv(conn, tmp_path):
    _write_csv(tmp_path / "2021-04-15" / "a.csv", "1", "2")
    df = conn.read_csv_prefixes(["2021-04-15"])
    assert df.schema.simpleString() == conn.read_csv("2021-04-15/a.csv").schema.simpleString()
    assert sorted(r.v for r in df.collect()) == [1, 2]


def test_write_single_object(conn, df2, tmp_path):
    # ref xetra_transformer.py:216-221 writes ONE object per report
    assert conn.write_single_object(df2, "report/r1.csv", "csv") is True
    target = tmp_path / "report/r1.csv"
    assert target.is_file()  # a real file, not a directory sink
    back = conn.read_csv("report/r1.csv", schema="col1 string, col2 string")
    assert back.count() == 2


def _two_shuffle_frame(spark):
    # an aggregate over one key, then a window over another: two exchanges,
    # the shape of the report1 lineage
    from pyspark.sql import Window

    agg = (
        spark.range(0, 2000, 1, numPartitions=4)
        .groupBy((F.col("id") % 50).alias("k"))
        .agg(F.sum("id").alias("s"))
    )
    return agg.withColumn(
        "prev", F.lag("s").over(Window.partitionBy(F.col("k") % 5).orderBy("k"))
    )


@pytest.mark.parametrize("file_format", ["parquet", "csv"])
def test_write_single_object_evaluates_frame_once(
    conn, spark, tmp_path, file_format, jobs_started
):
    """The single-object write starts exactly the jobs of a plain
    ``coalesce(1).write`` of the same frame: no emptiness probe recomputes
    the lineage before the real write."""
    df = _two_shuffle_frame(spark)
    plain = jobs_started(
        f"plain-{file_format}",
        lambda: df.coalesce(1).write.format(file_format).save(str(tmp_path / "plain")),
    )
    single = jobs_started(
        f"single-{file_format}",
        lambda: conn.write_single_object(df, f"report/r.{file_format}", file_format),
    )
    assert plain >= 1
    assert single == plain
    assert (tmp_path / f"report/r.{file_format}").is_file()


@pytest.mark.parametrize("file_format", ["parquet", "csv"])
def test_write_single_object_empty_frame_leaves_no_trace(conn, spark, tmp_path, file_format):
    """Zero rows → None, no key and no ``._spark_tmp`` left behind; an
    existing key is left exactly as it was."""
    empty = _two_shuffle_frame(spark).filter(F.col("k") < 0)
    key = f"report/r.{file_format}"
    assert conn.write_single_object(empty, key, file_format) is None
    assert not (tmp_path / key).exists()
    assert not (tmp_path / f"{key}._spark_tmp").exists()

    assert conn.write_single_object(_two_shuffle_frame(spark), key, file_format) is True
    before = (tmp_path / key).read_bytes()
    assert conn.write_single_object(empty, key, file_format) is None
    assert (tmp_path / key).read_bytes() == before
    assert not (tmp_path / f"{key}._spark_tmp").exists()


def test_write_bytes_replaces_key_and_leaves_no_tmp(conn, spark, tmp_path, jobs_started):
    """Driver-side byte writes: a second write replaces the first, no
    ``._spark_tmp`` is left behind, and neither the writes nor the reads
    start a Spark job."""
    key = "meta/m.csv"
    got = []

    def write_twice_and_read():
        conn.write_bytes(key, b"a,b\n1,2\n")
        conn.write_bytes(key, b"a,b\n3,4\n")
        got.append(conn.read_bytes(key))

    assert jobs_started("write-bytes", write_twice_and_read) == 0
    assert got == [b"a,b\n3,4\n"]
    assert (tmp_path / key).read_bytes() == b"a,b\n3,4\n"
    assert not (tmp_path / f"{key}._spark_tmp").exists()
    # Spark reads the published object like any other CSV
    back = conn.read_csv(key, schema="a int, b int")
    assert [tuple(r) for r in back.collect()] == [(3, 4)]


def test_multi_path_scan_unions(conn, df2):
    # ref extract(): many csv objects → ONE frame (xetra_transformer.py:118-123)
    conn.write(df2, "d1/part", "csv")
    conn.write(df2, "d2/part", "csv")
    both = conn.read_csv(["d1/part", "d2/part"], schema="col1 string, col2 string")
    assert both.count() == 4


@pytest.mark.parametrize("fmt", ["csv", "parquet", "json", "xml", "orc"])
def test_readers_take_glob_metacharacter_keys_literally(conn, spark, fmt):
    """A key holding ``{ }`` or ``[ ]`` names one object, not a pattern:
    every reader returns exactly that key's rows. Unescaped, Spark would
    read ``d-15`` and ``d-16`` for ``d-1[56]``, and ``xy`` for ``x{y}``."""
    rows = {"d-1[56]": 99, "d-15": 15, "d-16": 16, "x{y}": 7, "xy": 8}
    for key, v in rows.items():
        conn.write(spark.createDataFrame([(v,)], "v int"), key, fmt)
    read = {
        "csv": lambda k: conn.read_csv(k, schema="v int"),
        "parquet": conn.read_parquet,
        "json": lambda k: conn.read_json(k, schema="v int"),
        "xml": lambda k: conn.read_xml(k, schema="v int"),
        "orc": conn.read_orc,
    }[fmt]
    for key in ("d-1[56]", "x{y}"):
        assert [r.v for r in read(key).collect()] == [rows[key]]


def test_write_single_object_overwrites_atomically(conn, spark, tmp_path):
    """Rewriting an existing key must swap content without a window in
    which the key is absent (delete-then-rename would leave one; a
    concurrent meta reader would plan a full backfill)."""
    df_a = spark.createDataFrame([("old",)], "v string")
    df_b = spark.createDataFrame([("new",)], "v string")
    assert conn.write_single_object(df_a, "meta/m.csv", "csv") is True
    assert conn.write_single_object(df_b, "meta/m.csv", "csv") is True
    target = tmp_path / "meta/m.csv"
    assert target.is_file()
    back = conn.read_csv("meta/m.csv", schema="v string")
    assert [r.v for r in back.collect()] == ["new"]


def test_write_sized_parquet_scales_file_count(spark, tmp_path):
    """The size-targeted writer must derive its partition count from the
    data size: a small target yields MORE files than a big target on the
    same data, file count matches the returned n, and the data round-trips."""
    import glob

    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.sources.sized_writer import (
        partitions_for_target,
        write_sized_parquet,
    )

    df = load(spark, "/root/testdata/sf0.1", "lineitem")
    small_n = partitions_for_target(df, target_mb=1)
    big_n = partitions_for_target(df, target_mb=1024)
    assert small_n > big_n >= 1

    out = str(tmp_path / "sized")
    n = write_sized_parquet(df, out, target_mb=1)
    files = glob.glob(f"{out}/part-*.parquet")
    assert len(files) == n == small_n
    assert spark.read.parquet(out).count() == df.count()


def test_compact_partitions_reduces_files_and_preserves_data(spark, tmp_path):
    """Compaction must collapse a fragmented date partition into the
    size-derived file count, leave other partitions' files untouched, and
    preserve every row."""
    import glob

    from trading_data_pipeline_spark.registry import load
    from trading_data_pipeline_spark.sources.sized_writer import compact_partitions

    events = load(spark, "/root/testdata/sf0.01", "events").withColumn(
        "date", F.to_date("ts")
    )
    dates = sorted(r.date for r in events.select("date").distinct().collect())
    hot, cold = dates[0], dates[1]
    path = str(tmp_path / "lake")
    # fragment the hot date into many tiny files; cold date stays 2 files
    events.filter(F.col("date") == hot).repartition(37).write.partitionBy(
        "date"
    ).parquet(path)
    events.filter(F.col("date") == cold).repartition(2).write.mode(
        "append"
    ).partitionBy("date").parquet(path)
    before = spark.read.parquet(path)
    n_rows = before.count()
    hot_dir = f"{path}/date={hot.isoformat()}"
    cold_dir = f"{path}/date={cold.isoformat()}"
    assert len(glob.glob(f"{hot_dir}/part-*")) == 37
    cold_files = sorted(glob.glob(f"{cold_dir}/part-*"))

    n = compact_partitions(spark, path, "date", [hot])
    assert len(glob.glob(f"{hot_dir}/part-*")) == n < 37
    assert sorted(glob.glob(f"{cold_dir}/part-*")) == cold_files  # untouched
    after = spark.read.parquet(path)
    assert after.count() == n_rows


def test_vacuum_orphans_removes_only_debris(spark, tmp_path):
    """vacuum_orphans deletes ._staging/._spark_tmp/_temporary leftovers
    and nothing else; a fresh TTL protects a live job's staging dir."""
    import os

    from trading_data_pipeline_spark.sources.connector import (
        FileSystemConnector,
    )

    root = str(tmp_path)
    live = os.path.join(root, "events")
    os.makedirs(os.path.join(live, "date=2024-01-01"))
    orphan1 = os.path.join(root, "events._staging")
    orphan2 = os.path.join(live, "_temporary")
    os.makedirs(orphan1)
    os.makedirs(orphan2)
    conn = FileSystemConnector(spark, root)

    # the DEFAULT TTL (24 h) must treat just-created dirs as too fresh —
    # a live job's staging dir is protected without any argument
    assert conn.vacuum_orphans() == []
    assert os.path.exists(orphan1) and os.path.exists(orphan2)

    deleted = conn.vacuum_orphans(ttl_seconds=0)
    assert len(deleted) == 2
    assert not os.path.exists(orphan1)
    assert not os.path.exists(orphan2)
    assert os.path.exists(os.path.join(live, "date=2024-01-01"))


# ------------------------------------------------------ python data source


def test_python_source_determinism_across_partitioning(spark):
    from trading_data_pipeline_spark.sources.python_source import (
        register_python_source,
        row_at,
    )

    register_python_source(spark)

    def read(parts):
        return (
            spark.read.format("synthetic_events")
            .option("rows", 500)
            .option("partitions", parts)
            .load()
        )

    a = sorted(map(tuple, read(2).collect()))
    b = sorted(map(tuple, read(7).collect()))
    assert a == b and len(a) == 500
    # spot-check the shared row formula
    assert a[17] == row_at(17)


def test_python_source_partition_parallelism(spark):
    from trading_data_pipeline_spark.sources.python_source import (
        register_python_source,
    )

    register_python_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 5)
        .load()
    )
    assert df.rdd.getNumPartitions() == 5
    # ragged final slice: rows not divisible by partitions still complete
    df2 = (
        spark.read.format("synthetic_events")
        .option("rows", 1003)
        .option("partitions", 4)
        .load()
    )
    assert df2.count() == 1003


def test_python_source_zero_rows_is_empty_not_an_error(spark):
    from trading_data_pipeline_spark.sources.python_source import (
        register_python_source,
    )

    register_python_source(spark)
    df = (
        spark.read.format("synthetic_events").option("rows", 0).load()
    )
    assert df.count() == 0


def test_python_source_streaming_batches_and_restart(spark, tmp_path):
    """The Spark-4 simpleStreamReader contract: trigger-once micro-batches
    advance the committed offset; a restart from the same checkpoint
    continues at the NEXT row index (no replays, no gaps) and the rows
    match the deterministic row formula."""
    from trading_data_pipeline_spark.sources.python_source import (
        register_python_source,
        row_at,
    )

    register_python_source(spark)
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")

    def run_once():
        q = (
            spark.readStream.format("synthetic_events")
            .option("rows_per_batch", 50)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(once=True)
            .start()
        )
        q.awaitTermination(120)

    run_once()
    first = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in first) == list(range(50))

    run_once()  # restart from the checkpoint → rows 50..99 appended
    both = spark.read.parquet(out).collect()
    assert sorted(r.event_id for r in both) == list(range(100))
    by_id = {r.event_id: r for r in both}
    for i in (0, 49, 50, 99):
        eid, user, etype, val = row_at(i)
        r = by_id[i]
        assert (r.user_id, r.event_type, r.value) == (user, etype, val)
