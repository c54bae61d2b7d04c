"""The three workloads: what one operation is, how it is timed, traced
and checked.

Each workload is a closed loop: one client, one operation at a time. A
pass runs every operation of the workload once; the timed section repeats
passes until the run length is reached.

- ``queries_headline``: the 14 ``bench.HEADLINE`` queries on generated
  sf0.1 tables, noop sink.
- ``llm_curation``: the set-similarity and text-ranking queries over the
  generated ``documents``.
- ``etl_xetra``: ``Report1ETL`` over generated Xetra CSVs: a cold backfill,
  a one-day incremental run from a pre-seeded meta file, and a no-op
  re-run. The target is reset between operations, outside the timed part.
"""

from __future__ import annotations

import glob
import os
import random
import shutil
import sys
from datetime import date, datetime, timedelta

import pandas as pd

from . import checks, gen
from .trace import Tracer, count_jobs, plan_phases

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

LLM_CURATION = [
    "q_dedup_near",
    "q_jaccard_prefix_join",
    "q_containment",
    "q_bm25",
    "q_tfidf_exact",
]


def headline() -> list[str]:
    import bench  # the bench.py list, imported so the two never drift

    return list(bench.HEADLINE)


class QueryWorkload:
    """Registered queries on generated tables, executed with the noop sink."""

    kind = "queries"

    def __init__(self, queries: list[str], tables: list[str] | None):
        self.queries = queries
        self.tables = tables

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.sf_dir = os.path.join(work_dir, "sf0.1")
        sizes = gen.write_tables(self.sf_dir, seed, self.tables)
        self.order = list(self.queries)
        random.Random(seed).shuffle(self.order)
        self._docs = None
        return {"sf": 0.1, "tables": sizes}

    def start(self, spark) -> None:
        from trading_data_pipeline_spark import registry

        self.spark = spark
        self.specs = registry.all_queries()
        self._load = registry.load

    def set_tracer(self, tracer: Tracer) -> None:
        """Trace ``registry.load`` where each operator module bound it
        (or put the original back for an untraced section)."""
        self.tracer = tracer
        original = self._load
        target = tracer.wrap("registry.load", original) if tracer.enabled else original
        for mod in list(sys.modules.values()):
            bound = getattr(mod, "load", None)
            if getattr(mod, "__name__", "").startswith("trading_data_pipeline_spark") and (
                bound is original or getattr(bound, "__wrapped_by_tracer__", None) is original
            ):
                mod.load = target

    # -- warm-up pass with output checks
    def warm_and_check(self, op: str, group: str) -> list[str]:
        spec = self.specs[op]
        pdf = spec.fn(self.spark, self.sf_dir).toPandas()
        self.spark.catalog.clearCache()
        if op == "q_jaccard_prefix_join":
            from trading_data_pipeline_spark.operators.dedup_queries import PREFIX_JACCARD_T

            return checks.check_jaccard_join(pdf, self.docs(), PREFIX_JACCARD_T)
        if op == "q_dedup_near":
            return checks.check_shingle_pairs(pdf, self.docs(), "jaccard", 0.5)
        if op == "q_containment":
            return checks.check_shingle_pairs(pdf, self.docs(), "containment", 0.8)
        if spec.oracle is None:
            return [f"{op} has no output check"]
        if not hasattr(self, "_con"):
            self._con = checks.duckdb_con(self.sf_dir)
        return checks.check_oracle(self._con, spec.oracle, pdf)

    def docs(self) -> pd.DataFrame:
        if self._docs is None:
            self._docs = pd.read_parquet(os.path.join(self.sf_dir, "documents.parquet"))
        return self._docs

    # -- timed operation
    def before(self, op: str) -> None:
        pass

    def run(self, op: str, group: str) -> None:
        spark, tr = self.spark, self.tracer
        with tr.span("operators.build", op=op) as a, count_jobs(tr, spark, group, a):
            df = self.specs[op].fn(spark, self.sf_dir)
        if tr.enabled:
            with tr.span("spark.plan", op=op) as a:
                a.update(plan_phases(df))
        with tr.span("spark.exec", op=op):
            df.write.format("noop").mode("overwrite").save()

    def after(self, op: str) -> list[str]:
        self.spark.catalog.clearCache()
        return []


# ---------------------------------------------------------------- ETL

META_KEY = "meta/report1_meta.csv"


class EtlWorkload:
    """``Report1ETL`` backfill, incremental and no-op runs."""

    kind = "etl"
    OPS = ["etl_backfill", "etl_incremental", "etl_noop"]

    def prepare(self, work_dir: str, seed: int) -> dict:
        self.today = date.today()
        self.src_root = os.path.join(work_dir, "xetra")
        self.trg_root = os.path.join(work_dir, "target")
        info = gen.write_xetra(self.src_root, seed, self.today)
        self.rows_by_date = info.pop("rows_by_date")
        first = gen.first_extract_date(self.today)
        self.first = first.isoformat()
        self.last_trading = gen.trading_days(first, self.today)[-1].isoformat()
        self.all_dates = _dates(first, self.today)
        self.order = list(self.OPS)
        self._expected_reports: dict[str, pd.DataFrame] = {}
        return {"xetra": info, "first_extract_date": self.first, "today": self.today.isoformat()}

    def start(self, spark) -> None:
        from trading_data_pipeline_spark import etl as etl_module

        self.spark = spark
        self.etl_module = etl_module
        self.counts = {"rows_in": 0, "report_rows": 0}

    def set_tracer(self, tracer: Tracer) -> None:
        """Trace the meta protocol where the ETL module bound it (or put
        the originals back for an untraced section)."""
        self.tracer = tracer
        for attr, span in (("return_date_list", "meta.resolve"), ("update_meta_file", "meta.update")):
            fn = getattr(self.etl_module, attr)
            fn = getattr(fn, "__wrapped_by_tracer__", fn)
            setattr(self.etl_module, attr, tracer.wrap(span, fn) if tracer.enabled else fn)

    def _connectors(self):
        from trading_data_pipeline_spark.sources.connector import FileSystemConnector

        cls = FileSystemConnector
        if self.tracer.enabled:
            cls = traced_connector(FileSystemConnector, self.tracer, self.group)
        return cls(self.spark, self.src_root), cls(self.spark, self.trg_root)

    def _new_etl(self):
        from trading_data_pipeline_spark.config import SourceConfig, TargetConfig

        src, trg = self._connectors()
        return self.etl_module.Report1ETL(
            self.spark, src, trg, META_KEY,
            SourceConfig(src_first_extract_date=self.first), TargetConfig(),
        )

    # -- warm-up pass: the same operations, checked
    def warm_and_check(self, op: str, group: str) -> list[str]:
        self.before(op)
        self.run(op, group)
        return self.after(op)

    def before(self, op: str) -> None:
        if op == "etl_noop":
            self._snapshot = self._target_state()
            return
        shutil.rmtree(self.trg_root, ignore_errors=True)
        if op == "etl_incremental":
            # every date before the last trading day is already processed
            seeded = [d for d in self.all_dates if d < self.last_trading]
            os.makedirs(os.path.join(self.trg_root, "meta"))
            stamp = datetime.now().strftime("%Y-%m-%d %H:%M:%S")
            pd.DataFrame({"source_date": seeded, "datetime_of_processing": stamp}).to_csv(
                os.path.join(self.trg_root, META_KEY), index=False
            )

    def run(self, op: str, group: str) -> None:
        self.group = group
        tr = self.tracer
        if not tr.enabled:
            self.job = self._new_etl()
            self.job.run()
            return
        with tr.span("etl.init") as a, count_jobs(tr, self.spark, group, a):
            job = self.job = self._new_etl()
        with tr.span("etl.extract") as a, count_jobs(tr, self.spark, group, a):
            raw = job.extract()
        with tr.span("etl.transform") as a, count_jobs(tr, self.spark, group, a):
            report = job.transform(raw)
        with tr.span("spark.plan") as a:
            a.update(plan_phases(report))
        with tr.span("etl.load") as a, count_jobs(tr, self.spark, group, a):
            job.load(report)
        self.counts["rows_in"] += sum(self.rows_by_date.get(d, 0) for d in job.extract_date_list)

    def after(self, op: str) -> list[str]:
        if op == "etl_noop":
            after = self._target_state()
            if after != self._snapshot:
                return ["no-op run changed the target"]
            return []
        reports = glob.glob(os.path.join(self.trg_root, "report1", "*.parquet"))
        if len(reports) != 1:
            return [f"expected one report object, found {len(reports)}"]
        report = pd.read_parquet(reports[0])
        self.counts["report_rows"] += len(report)
        errs = checks.check_report(report, self._expected(op))
        meta = pd.read_csv(os.path.join(self.trg_root, META_KEY), dtype=str)
        # the job's own today ends its date spine (a run may cross midnight)
        today = date.fromisoformat(self.job.extract_date_list[-1])
        expected = _dates(date.fromisoformat(self.first), today)
        return errs + checks.check_meta_dates(meta["source_date"].tolist(), expected)

    def _expected(self, op: str) -> pd.DataFrame:
        """The report an operation must write, computed once per run from
        the CSVs of its scanned dates (its cutoff and the warm-up day)."""
        if op not in self._expected_reports:
            cutoff = self.first if op == "etl_backfill" else self.last_trading
            warm_up = date.fromisoformat(cutoff) - timedelta(days=1)
            files = sorted(
                f
                for d in _dates(warm_up, self.today)
                for f in glob.glob(os.path.join(self.src_root, d, "*.csv"))
            )
            self._expected_reports[op] = checks.expected_report1(files, cutoff)
        return self._expected_reports[op]

    def _target_state(self) -> dict[str, tuple[int, int]]:
        out = {}
        for path in glob.glob(os.path.join(self.trg_root, "**"), recursive=True):
            if os.path.isfile(path):
                st = os.stat(path)
                out[os.path.relpath(path, self.trg_root)] = (st.st_size, st.st_mtime_ns)
        return out


def traced_connector(base, tracer: Tracer, group: str):
    """A ``FileSystemConnector`` subclass with spans around prefix listing
    and single-object writes (Spark jobs and bytes written recorded)."""

    class TracedConnector(base):
        def list_files_in_prefix(self, prefix: str) -> list[str]:
            with tracer.span("connector.list", prefix=prefix) as a:
                files = super().list_files_in_prefix(prefix)
                a["files"] = len(files)
            return files

        def write_single_object(self, df, key: str, file_format: str):
            with tracer.span("connector.write_single_object", key=key) as a:
                with count_jobs(tracer, self.spark, group, a):
                    out = super().write_single_object(df, key, file_format)
                path = self._abs(key)
                a["bytes"] = os.path.getsize(path) if out and os.path.isfile(path) else 0
            return out

    return TracedConnector


def _dates(first: date, last: date) -> list[str]:
    return [(first + timedelta(days=i)).isoformat() for i in range((last - first).days + 1)]


def make(name: str):
    if name == "queries_headline":
        return QueryWorkload(headline(), None)
    if name == "llm_curation":
        return QueryWorkload(LLM_CURATION, None)
    if name == "etl_xetra":
        return EtlWorkload()
    raise ValueError(f"unknown workload {name!r}")


WORKLOADS = ("queries_headline", "llm_curation", "etl_xetra")
