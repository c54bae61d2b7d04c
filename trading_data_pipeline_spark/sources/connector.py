"""Object-store / filesystem connector — Spark-first port of the reference's
``S3BucketConnector`` (xetra/common/s3.py:30-120).

The reference wraps boto3: list keys under a prefix (:52-63), read one CSV
into pandas (:65-82), write a frame as csv/parquet (:84-107). On Spark the
same surface works over any Hadoop-supported scheme (``file://``, ``s3a://``,
``hdfs://``) through the JVM FileSystem API and ``spark.read``/``df.write`` —
executors do the reads in parallel instead of the driver streaming bytes.

Scale design:
- The Report1 ETL reads its date prefixes with ``read_csv_prefixes``: ONE
  driver-side ``globStatus`` over ``root/{p1,p2,...}`` finds the prefixes
  that exist, and ONE Spark CSV scan over the matched directories lists
  and reads their files (``recursiveFileLookup``, so nested files count
  as the recursive ``listFiles`` walk did). Nothing lists a file twice
  and no py4j call is made per file; above
  ``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32)
  directories Spark lists them in a distributed job, which is the right
  shape at 100 TB.
- ``list_files_in_prefix`` stays as the reference's protocol surface
  (``bucket.objects.filter(Prefix=...)``, s3.py:52-63) that the s3a and
  moto tests cover; no ETL path calls it. Never feed its output to a
  driver-side loop of single-file reads (ref's extract loop,
  xetra_transformer.py:118-123).
- Writes are directory sinks (one file per task). ``write_single_object``
  reproduces the reference's single-key output contract
  (xetra_transformer.py:216-221) via coalesce(1) + FS rename — only for
  report-sized outputs.
- Each single-object write evaluates its frame exactly once: emptiness
  comes from the row count the write itself observes, not from an
  ``isEmpty()`` probe that would recompute the whole lineage (CSV scan and
  every shuffle) before the real write. ``write`` keeps its probe — a
  directory or append sink cannot be undone after the fact.
- State-sized objects (the meta file) move as bytes on the driver:
  ``read_bytes`` / ``write_bytes`` go through the same Hadoop FileSystem
  (so ``s3a://`` and ``hdfs://`` work unchanged) and start no Spark job.
  ``write_bytes`` stages ``key._spark_tmp/part-00000`` and publishes it
  with ``_publish`` — the one rename path ``write_single_object`` uses
  too, so both writers leave the same layout and have the same crash
  semantics.
"""

from __future__ import annotations

import logging
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..exceptions import WrongFormatException

logger = logging.getLogger(__name__)

SUPPORTED_FORMATS = ("csv", "parquet", "json", "orc", "xml")  # json/orc/xml: extensions
# (the reference supports only csv/parquet — s3.py:96-103; anything else
# still raises WrongFormatException, same contract, wider allowlist)


def _is_unsupported_filesystem(exc: Exception) -> bool:
    """True iff ``exc`` wraps Hadoop's UnsupportedFileSystemException
    (py4j surfaces JVM errors as Py4JJavaError with a ``java_exception``).
    Used to decide whether the FileContext rename path merely isn't
    available for the scheme (safe to fall back) vs actually failed
    mid-flight (must re-raise)."""
    java_exc = getattr(exc, "java_exception", None)
    while java_exc is not None:
        try:
            name = java_exc.getClass().getName()
        except Exception:
            return False
        if "UnsupportedFileSystemException" in name:
            return True
        java_exc = java_exc.getCause()
    return False


def _glob_escape(s: str) -> str:
    """``s`` with every Hadoop glob metacharacter backslash-escaped, so a
    ``globStatus`` pattern built from it matches ``s`` literally."""
    return re.sub(r"([\\{}\[\]*?,])", r"\\\1", s)


class FileSystemConnector:
    """List/read/write over a Hadoop-supported filesystem root.

    ``root`` plays the role of the reference's bucket endpoint+name
    (s3.py:37-50); credentials come from the Hadoop conf / environment
    (same as boto3's env-credential chain at s3.py:45-47).
    """

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root.rstrip("/")

    # -- listing (ref s3.py:52-63) -----------------------------------------
    def _fs(self, path_str: str):
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(path_str)
        return path.getFileSystem(hconf), path, jvm

    def list_files_in_prefix(self, prefix: str) -> list[str]:
        """Return all file paths under ``root/prefix`` (recursive).

        Ref s3.py:52-63 (``bucket.objects.filter(Prefix=prefix)``). Uses the
        JVM FileSystem so the same call works on file://, s3a://, hdfs://.
        """
        base = f"{self.root}/{prefix.lstrip('/')}"
        fs, path, _ = self._fs(base)
        if not fs.exists(path):
            return []
        out: list[str] = []
        it = fs.listFiles(path, True)  # recursive
        while it.hasNext():
            out.append(it.next().getPath().toString())
        return sorted(out)

    def exists(self, key: str) -> bool:
        """True iff ``root/key`` exists (file or directory). Part of the
        connector duck-type shared with BucketConnector so the meta
        protocol never touches Hadoop internals directly."""
        fs, path, _ = self._fs(self._abs(key))
        return fs.exists(path)

    # -- reads (ref s3.py:65-82) -------------------------------------------
    def read_bytes(self, key: str) -> bytes:
        """The whole object at ``root/key``, read on the driver — for
        state-sized objects only (the meta file); no Spark job."""
        fs, path, _ = self._fs(self._abs(key))
        stream = fs.open(path)
        try:
            return stream.readAllBytes()
        finally:
            stream.close()

    def read_csv(
        self,
        paths: str | list[str],
        schema: StructType | str | None = None,
        sep: str = ",",
        encoding: str = "UTF-8",
        header: bool = True,
    ) -> DataFrame:
        """Distributed CSV scan over one or many paths.

        Ref s3.py:65-82 reads ONE object per call and the caller concats
        (xetra_transformer.py:118-123); here the whole path list becomes a
        single Spark scan (the UNION ALL is implicit and parallel).
        Explicit ``schema`` is strongly preferred at scale — ``inferSchema``
        triggers an extra pass over the data.
        """
        reader = self._csv_reader(schema, sep, encoding, header)
        return reader.csv(self._literal_paths(paths))

    def read_csv_prefixes(
        self, prefixes: list[str], schema: StructType | str | None = None
    ) -> DataFrame | None:
        """One CSV scan over every file under the ``root/<prefix>`` paths
        that exist, or None when no prefix exists.

        The existing prefixes come from a single ``globStatus`` call on
        ``root/{p1,p2,...}``; glob metacharacters in the root and the
        prefixes are escaped, so each prefix matches only itself. Spark
        then lists the matched directories as part of the scan, with
        ``recursiveFileLookup`` so a file in a nested subdirectory is
        read. Like any Spark directory read it skips names starting with
        ``_`` or ``.`` (``_SUCCESS`` markers, ``.crc`` files).
        """
        if not prefixes:
            return None
        pattern = "%s/{%s}" % (
            _glob_escape(self.root),
            ",".join(_glob_escape(p.strip("/")) for p in prefixes),
        )
        fs, path, _ = self._fs(pattern)
        matched = fs.globStatus(path) or []
        logger.info("%d of %d prefixes matched under %s", len(matched), len(prefixes), self.root)
        if not matched:
            return None
        reader = self._csv_reader(schema).option("recursiveFileLookup", True)
        return reader.csv(
            self._literal_paths(sorted(st.getPath().toString() for st in matched))
        )

    def _csv_reader(
        self,
        schema: StructType | str | None,
        sep: str = ",",
        encoding: str = "UTF-8",
        header: bool = True,
    ):
        reader = self.spark.read.options(header=header, sep=sep, encoding=encoding)
        if schema is not None:
            return reader.schema(schema)
        return reader.option("inferSchema", True)

    def read_parquet(self, paths: str | list[str]) -> DataFrame:
        return self.spark.read.parquet(*self._literal_paths(paths))

    def read_json(
        self, paths: str | list[str], schema: StructType | str | None = None
    ) -> DataFrame:
        """JSON-lines scan (engine extension; explicit schema avoids the
        inference pass, same as read_csv)."""
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.json(self._literal_paths(paths))

    def read_xml(
        self, paths: str | list[str], schema: StructType | str | None = None
    ) -> DataFrame:
        """XML scan (engine extension — native in Spark 4 after the
        spark-xml donation; rowTag must match the writer's). Explicit
        schema avoids the inference pass, same as read_csv/read_json."""
        reader = self.spark.read.format("xml").option("rowTag", "row")
        if schema is not None:
            reader = reader.schema(schema)
        return reader.load(self._literal_paths(paths))

    def read_orc(self, paths: str | list[str]) -> DataFrame:
        """ORC scan (engine extension — bundled with Spark, columnar with
        the same predicate-pushdown/column-pruning properties as parquet;
        the interchange format for Hive-era lakes)."""
        return self.spark.read.orc(*self._literal_paths(paths))

    def _literal_paths(self, paths: str | list[str]) -> list[str]:
        """Absolute, glob-escaped reader paths: Spark glob-expands any path
        holding ``{ } [ ] * ? \\``, so an unescaped key such as
        ``2021-04-1[56]`` would read other keys' files instead of its own."""
        if isinstance(paths, str):
            paths = [paths]
        return [_glob_escape(self._abs(p)) for p in paths]

    def _abs(self, p: str) -> str:
        # Hadoop returns scheme URIs both as "file:///x" and "file:/x" —
        # treat any "scheme:/" prefix (or an absolute local path) as already
        # resolved.
        if p.startswith("/") or re.match(r"^[A-Za-z][A-Za-z0-9+.-]*:/", p):
            return p
        return f"{self.root}/{p}"

    # -- writes (ref s3.py:84-107) -----------------------------------------
    @staticmethod
    def _check_format(file_format: str) -> None:
        if file_format not in SUPPORTED_FORMATS:
            raise WrongFormatException(
                f"{file_format} is not supported; use one of {SUPPORTED_FORMATS}"
            )

    @staticmethod
    def _save(
        df: DataFrame,
        target: str,
        file_format: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        """The one format dispatch behind every write: saves ``df`` to
        ``target`` with no emptiness probe (callers decide about empty
        frames)."""
        writer = df.write.mode(mode)
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        if file_format == "csv":
            writer.option("header", True).csv(target)
        elif file_format == "json":
            writer.json(target)
        elif file_format == "orc":
            writer.orc(target)
        elif file_format == "xml":
            writer.format("xml").option("rowTag", "row").option(
                "rootTag", "rows"
            ).save(target)
        else:
            writer.parquet(target)

    def write(
        self,
        df: DataFrame,
        key: str,
        file_format: str,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> bool | None:
        """Write ``df`` under ``root/key`` as csv or parquet.

        Mirrors the reference's semantics exactly:
        - empty frame → skip the write, return None (s3.py:93-95; uses
          ``isEmpty()`` — a LocalLimit(1) probe, not a full count — because
          a directory or append sink cannot be undone after the fact)
        - unsupported format → WrongFormatException (s3.py:104-107)
        - csv branch (s3.py:96-99), parquet branch (s3.py:100-103)
        Partitioned parquet (``partition_by``) is the 100 TB layout the
        reference's date-prefix key scheme approximates by hand.
        """
        self._check_format(file_format)
        if not df.columns or df.isEmpty():
            return None
        self._save(df, self._abs(key), file_format, mode, partition_by)
        return True

    def write_single_object(self, df: DataFrame, key: str, file_format: str) -> bool | None:
        """Single-object output key, matching the reference's
        ``<trg_key><timestamp>.<fmt>`` contract (xetra_transformer.py:216-221).

        Spark sinks are directories; this coalesces to one task, writes to
        ``key._spark_tmp`` and publishes the part file as ``key``
        (``_publish``). ONLY for report-sized output — it serializes the
        final write to a single task by design.

        The frame is evaluated once: the write observes its own row count.
        Zero rows → the tmp dir is deleted and None returned, so an
        existing ``key`` is left untouched (the reference's empty-write
        skip, s3.py:93-95).
        """
        self._check_format(file_format)
        if not df.columns:
            return None
        tmp_dir = self._abs(key) + "._spark_tmp"
        obs = Observation()
        self._save(
            df.observe(obs, F.count(F.lit(1)).alias("rows")).coalesce(1),
            tmp_dir,
            file_format,
        )
        fs, tmp_path, _ = self._fs(tmp_dir)
        rows = obs.get["rows"]
        if rows == 0:
            fs.delete(tmp_path, True)
            logger.info("no rows to write; %s left untouched", key)
            return None
        part = None
        for st in fs.listStatus(tmp_path):
            name = st.getPath().getName()
            if name.startswith("part-"):
                part = st.getPath()
                break
        if part is None:  # pragma: no cover — a non-empty save always emits one
            raise WrongFormatException(f"no part file produced under {tmp_dir}")
        self._publish(part, key)
        logger.info("wrote %d rows to %s", rows, key)
        return True

    def write_bytes(self, key: str, body: bytes) -> None:
        """Replace the object at ``root/key`` with ``body``, written on the
        driver — for state-sized objects only (the meta file); no Spark
        job. Staged as ``key._spark_tmp/part-00000`` and published like a
        single-object write."""
        fs, part, _ = self._fs(self._abs(key) + "._spark_tmp/part-00000")
        stream = fs.create(part, True)
        try:
            stream.write(body)
        finally:
            stream.close()
        self._publish(part, key)

    def _publish(self, part, key: str) -> None:
        """Move the staged file ``part`` to ``root/key``, replacing any
        existing object, then delete the staging directory that held it.
        The one rename path behind ``write_single_object`` and
        ``write_bytes``."""
        fs, dest, jvm = self._fs(self._abs(key))
        # Overwrite-rename via FileContext.rename(OVERWRITE). Truly atomic
        # ONLY on HDFS (renameInternal is one namenode op); the default
        # AbstractFileSystem path (LocalFs/ChecksumFs, S3A via
        # DelegateToFileSystem) still implements it as delete-dest-then-
        # rename, so on those stores this narrows but does not close the
        # missing-key window, and S3 "rename" is copy+delete regardless.
        # Schemes with no AbstractFileSystem binding raise
        # UnsupportedFileSystemException — fall back to the plain
        # FileSystem delete+rename, which is no worse.
        hconf = self.spark._jsc.hadoopConfiguration()
        gw = self.spark.sparkContext._gateway
        try:
            fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(dest.toUri(), hconf)
            overwrite = gw.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
            overwrite[0] = jvm.org.apache.hadoop.fs.Options.Rename.OVERWRITE
            fc.rename(part, dest, overwrite)
        except Exception as exc:
            # Fall back ONLY for "this scheme has no AbstractFileSystem
            # binding". Any other FileContext failure may already have
            # mutated the store (the non-HDFS rename is delete-dest-then-
            # rename) — deleting dest again and retrying could destroy the
            # only remaining copy, so re-raise instead.
            if not _is_unsupported_filesystem(exc):
                raise
            if fs.exists(dest):
                fs.delete(dest, False)
            if not fs.rename(part, dest):
                raise IOError(f"rename {part} -> {dest} returned false") from exc
        if not fs.exists(dest):
            raise IOError(f"single-object write left no file at {dest}")
        fs.delete(part.getParent(), True)

    # -- maintenance ---------------------------------------------------------
    ORPHAN_SUFFIXES = ("._staging", "._spark_tmp", "._old")
    ORPHAN_NAMES = ("_temporary",)
    VACUUM_DEFAULT_TTL = 24 * 3600.0  # a live job's staging dir is younger

    def vacuum_orphans(
        self, prefix: str = "", ttl_seconds: float = VACUUM_DEFAULT_TTL
    ) -> list[str]:
        """Delete leftover intermediate directories under ``root/prefix``:
        WAP/CDC ``._staging`` prefixes, single-object ``._spark_tmp``
        dirs, and committer ``_temporary`` dirs — the debris a crashed
        job leaves behind (every writer in this repo either renames these
        away on success or overwrites them on the next run, so anything
        still present is dead weight readers must never see).

        ``ttl_seconds`` guards against racing a LIVE job: only
        directories whose modification time is older than the TTL are
        removed (Delta VACUUM's retention-window rule). The default is a
        conservative 24 h — a running write's staging dir is always
        younger; pass 0 only when no writer can be active. Returns the
        deleted paths. Driver-side recursive listing — run it per table
        prefix, the way VACUUM takes a table, not over a whole lake.
        """
        import time

        base = f"{self.root}/{prefix.lstrip('/')}" if prefix else self.root
        fs, base_path, _ = self._fs(base)
        if not fs.exists(base_path):
            return []
        cutoff_ms = (time.time() - ttl_seconds) * 1000.0
        deleted: list[str] = []

        def walk(dir_path) -> None:
            for st in fs.listStatus(dir_path):
                if not st.isDirectory():
                    continue
                p = st.getPath()
                name = p.getName()
                is_orphan = name in self.ORPHAN_NAMES or any(
                    name.endswith(s) for s in self.ORPHAN_SUFFIXES
                )
                if is_orphan and st.getModificationTime() <= cutoff_ms:
                    fs.delete(p, True)
                    deleted.append(p.toString())
                elif not is_orphan:
                    walk(p)

        walk(base_path)
        return sorted(deleted)
