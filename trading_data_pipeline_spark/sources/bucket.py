"""Object-store bucket connector over the S3 API (boto3) — direct protocol
parity with the reference's ``S3BucketConnector`` (xetra/common/s3.py:30-120),
independent of the Hadoop s3a client.

Why this exists alongside :class:`~.connector.FileSystemConnector`:

- **Scope**: STATE-SIZED objects only — the meta file, single-object
  reports, config blobs. These are the objects the reference moves through
  boto3 (list:52-63, read:65-82, write:84-119), and for them driver-side
  byte transfer is the *correct* scale answer (a 4 KB meta CSV does not
  need a distributed scan). Bulk tables stay on the
  ``FileSystemConnector`` / s3a / parquet path; the ``max_rows`` guard
  makes that boundary a hard error instead of a silent driver OOM.
- **Atomicity**: S3 ``PutObject`` is atomic by API contract — readers see
  either the old object or the complete new one, never a partial write.
  For single-object sinks over a real object store this is STRONGER than
  the rename dance ``write_single_object`` needs on directory
  filesystems (connector.py discusses why rename-atomicity is HDFS-only).
- **Testability**: the S3 API surface runs against moto's in-process mock
  in CI (tests/test_bucket_moto.py mirrors the reference's integration
  test tests/integration_tests/test_int_xetra_transformer.py:280-304),
  so the object-store protocol — listing, incremental meta, timestamped
  report keys, empty-write skip, format dispatch — is exercised even
  where no s3a jars or live buckets exist.

Credentials follow boto3's standard environment/profile chain, the same
chain the reference relies on (s3.py:45-47). No bucket names, endpoints,
or credentials are baked in.
"""

from __future__ import annotations

import io

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from ..exceptions import WrongFormatException

BUCKET_FORMATS = ("csv", "parquet")  # exactly the reference's set (s3.py:96-103)


class BucketConnector:
    """List/read/write state-sized objects in one bucket via the S3 API.

    Duck-type-compatible with ``FileSystemConnector`` for every surface the
    meta protocol and :class:`~..etl.Report1ETL` use (``read_csv_prefixes``,
    ``list_files_in_prefix``, ``read_csv``, ``exists``, ``read_bytes``,
    ``write_bytes``, ``write``, ``write_single_object``), so the same ETL
    runs unchanged against a directory tree or a bucket.
    ``read_csv_prefixes`` is a server-side listing per prefix and one
    ``read_csv`` of the keys found; ``read_bytes`` / ``write_bytes`` are a
    plain GET and an atomic PUT.
    """

    def __init__(
        self,
        spark: SparkSession,
        bucket: str,
        endpoint_url: str | None = None,
        max_rows: int = 1_000_000,
    ):
        import boto3

        self.spark = spark
        self.bucket_name = bucket
        self.endpoint_url = endpoint_url
        self.max_rows = max_rows
        self._s3 = boto3.resource("s3", endpoint_url=endpoint_url)
        self._bucket = self._s3.Bucket(bucket)

    # -- listing (ref s3.py:52-63) -----------------------------------------
    def list_files_in_prefix(self, prefix: str) -> list[str]:
        """All object keys under ``prefix`` (server-side filtered,
        paginated by boto3 — constant driver memory per page)."""
        return sorted(
            obj.key for obj in self._bucket.objects.filter(Prefix=prefix)
        )

    def exists(self, key: str) -> bool:
        from botocore.exceptions import ClientError

        try:
            self._s3.Object(self.bucket_name, key).load()
            return True
        except ClientError as exc:
            if exc.response.get("Error", {}).get("Code") in ("404", "NoSuchKey"):
                return False
            raise

    # -- reads (ref s3.py:65-82) -------------------------------------------
    def read_csv_prefixes(
        self, prefixes: list[str], schema: StructType | str | None = None
    ) -> DataFrame | None:
        """Every CSV object under each of ``prefixes`` as ONE frame, or
        None when no prefix holds an object."""
        keys = [k for p in prefixes for k in self.list_files_in_prefix(p)]
        return self.read_csv(keys, schema=schema) if keys else None

    def read_bytes(self, key: str) -> bytes:
        return self._s3.Object(self.bucket_name, key).get()["Body"].read()

    def read_csv(
        self,
        keys: str | list[str],
        schema: StructType | str | None = None,
        sep: str = ",",
        encoding: str = "utf-8",
        header: bool = True,
    ) -> DataFrame:
        """Fetch one or many CSV objects and return ONE Spark DataFrame
        (the reference reads per-object and concats caller-side,
        xetra_transformer.py:118-123; here the concat is internal).
        Driver-side by design — see the module scope note."""
        if isinstance(keys, str):
            keys = [keys]
        if isinstance(schema, str):
            schema = StructType.fromDDL(schema)
        frames = []
        for key in keys:
            text = self.read_bytes(key).decode(encoding)
            frames.append(
                pd.read_csv(
                    io.StringIO(text), sep=sep, header=0 if header else None
                )
            )
        if not frames:
            return self.spark.createDataFrame([], schema or "key string")
        pdf = pd.concat(frames, ignore_index=True)
        if len(pdf) > self.max_rows:
            raise ValueError(
                f"BucketConnector.read_csv fetched {len(pdf)} rows > "
                f"max_rows={self.max_rows}; bulk tables belong to "
                "FileSystemConnector (distributed scan), not the "
                "driver-side object protocol"
            )
        if schema is not None:
            pdf = pdf[[f.name for f in schema.fields]]
            return self.spark.createDataFrame(pdf, schema)
        return self.spark.createDataFrame(pdf)

    def read_parquet(self, keys: str | list[str]) -> DataFrame:
        if isinstance(keys, str):
            keys = [keys]
        frames = [
            pd.read_parquet(io.BytesIO(self.read_bytes(k))) for k in keys
        ]
        pdf = pd.concat(frames, ignore_index=True)
        if len(pdf) > self.max_rows:
            raise ValueError(
                f"BucketConnector.read_parquet fetched {len(pdf)} rows > "
                f"max_rows={self.max_rows}; bulk tables belong to "
                "FileSystemConnector (distributed scan)"
            )
        return self.spark.createDataFrame(pdf)

    # -- writes (ref s3.py:84-119) -----------------------------------------
    def write(
        self,
        df: DataFrame,
        key: str,
        file_format: str,
        mode: str = "overwrite",  # noqa: ARG002 — PUT always overwrites
        partition_by: list[str] | None = None,
    ) -> bool | None:
        """Serialize ``df`` to ONE object at ``key`` (atomic PUT).

        Reference semantics exactly (s3.py:84-107): empty frame → skip and
        return None; csv/parquet only, anything else →
        ``WrongFormatException``. ``partition_by`` is rejected — one object
        has no partition layout; partitioned data belongs to the
        filesystem connector.
        """
        if file_format not in BUCKET_FORMATS:
            raise WrongFormatException(
                f"{file_format} is not supported; use one of {BUCKET_FORMATS}"
            )
        if partition_by:
            raise WrongFormatException(
                "partition_by is meaningless for a single-object PUT; use "
                "FileSystemConnector.write for partitioned layouts"
            )
        if not df.columns:
            return None
        # one evaluation: the capped collect is both the emptiness check and
        # the max_rows guard (at most max_rows + 1 rows are collected)
        pdf = df.limit(self.max_rows + 1).toPandas()
        if pdf.empty:
            return None
        if len(pdf) > self.max_rows:
            raise ValueError(
                f"refusing to collect > max_rows={self.max_rows} rows for a "
                "single-object PUT; bulk sinks belong to FileSystemConnector"
            )
        if file_format == "csv":
            body = pdf.to_csv(index=False).encode("utf-8")
        else:
            buf = io.BytesIO()
            pdf.to_parquet(buf, index=False)
            body = buf.getvalue()
        self.write_bytes(key, body)
        return True

    def write_bytes(self, key: str, body: bytes) -> None:
        self._bucket.put_object(Body=body, Key=key)

    # single-object output IS this connector's native write
    write_single_object = write
