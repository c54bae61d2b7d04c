"""One benchmark command for the registered queries and the Report1 ETL.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads: ``queries_headline``, ``llm_curation``, ``etl_xetra`` (see
``workloads.py`` and README.md). The seed sets the generated inputs and
the query order. Each run:

1. builds the session (``local[nproc]``, ``SPARK_GRAFT_CPUS = nproc``) and
   imports the registry -- one ``setup_s`` sample, from process start;
2. generates the inputs under ``.perfbench_work/`` in the current directory;
3. runs one warm-up pass whose outputs are checked;
4. runs the timed section: passes of the workload, one operation at a
   time, until ``--seconds`` have passed. Each latency is also kept with
   the host's stolen CPU time taken out (``unstolen_factor``): the
   end-to-end figures are those, so a busy spell of a shared host does
   not read as a slower program;
5. with ``--trace 1``, runs one traced pass and one more untraced pass,
   with Spark's event log on; spans are written to ``.perfbench_out/``.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``. The line before it
is the full record: machine, inputs, per-operation medians and checks.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

def since_process_start() -> float:
    """Seconds since this process started (Linux /proc clock ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def setup_env(work_dir: str) -> None:
    """Keep every scratch file inside the checkout and pin the core count."""
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())


def build_session(work_dir: str, event_log: str | None = None):
    """Session and registry, as every workload uses them."""
    from trading_data_pipeline_spark.registry import all_queries
    from trading_data_pipeline_spark.session import build_session as build

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
        "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -Dderby.system.home={work_dir}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log,
            }
        )
    spark = build("perfbench", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    all_queries()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


# ------------------------------------------------------------- memory


def _jvm_pid(spark) -> int | None:
    try:
        return int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    except Exception:  # noqa: BLE001 -- memory is reported without the JVM then
        return None


def reset_peak_rss(pids: list[int]) -> None:
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def machine_cpu_s() -> tuple[float, float]:
    """(busy, stolen): CPU seconds this machine ran (user, nice, system,
    irq, softirq) and CPU seconds the hypervisor took from it, over all
    CPUs (/proc/stat; stolen is 0 on bare metal)."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return (f[0] + f[1] + f[2] + f[5] + f[6]) / hz, f[7] / hz


def unstolen_factor(busy: float, stolen: float) -> float:
    """The share of the CPU time this machine asked for that it got. The
    hypervisor of a shared host takes CPU time from a VM's busy CPUs
    (steal): the VM's threads stall, and an operation takes longer by
    about the share taken. Scaling its latency by this factor takes the
    host's share out."""
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


# ------------------------------------------------------------- statistics


def tail_percentile(n: int) -> int | None:
    """The highest whole percentile with at least ten samples beyond it
    (nearest rank), or None when that would be below the 90th: with fewer
    than 100 samples there is no tail to report."""
    for p in range(99, 89, -1):
        rank = -(-p * n // 100)  # ceil(p * n / 100)
        if rank >= 1 and n - rank >= 10:
            return p
    return None


def percentile(values: list[float], p: int) -> float:
    s = sorted(values)
    return s[max(-(-p * len(s) // 100), 1) - 1]


# ------------------------------------------------------------- the loop


class Section:
    """One timed section: per-op latencies of each pass, as measured and
    with the host's stolen CPU time taken out (``unstolen``)."""

    def __init__(self):
        self.passes: list[dict[str, float]] = []
        self.unstolen: list[dict[str, float]] = []
        self.stolen_share: list[float] = []
        self.failed = 0
        self.attempted = 0
        self.groups: set[str] = set()
        self.errors: list[str] = []
        self.wall = 0.0


def timed_section(
    spark, wl, tracer, seconds: float, tag: str, bad_ops: set[str], sec: Section | None = None
) -> Section:
    """Run passes until ``seconds`` have passed (at least one), adding them
    to ``sec`` (a new section by default)."""
    sec = sec or Section()
    n0 = len(sec.passes)
    wl.set_tracer(tracer)
    sc = spark.sparkContext
    t_start = time.perf_counter()
    while len(sec.passes) == n0 or time.perf_counter() - t_start < seconds:
        lat: dict[str, float] = {}
        unstolen: dict[str, float] = {}
        busy = stolen = 0.0
        for op in wl.order:
            group = f"{tracer.run_id}:{tag}:{len(sec.passes)}:{op}"
            sec.groups.add(group)
            sc.setJobGroup(group, op)
            wl.before(op)
            sec.attempted += 1
            ok = True
            with tracer.span("op", op=op, group=group):
                b0, s0 = machine_cpu_s()
                t0 = time.perf_counter()
                try:
                    wl.run(op, group)
                except Exception:  # noqa: BLE001 -- a failed op is counted, the loop goes on
                    ok = False
                    sec.errors.append(f"{op}: {traceback.format_exc(limit=3)}")
                lat[op] = time.perf_counter() - t0
                b1, s1 = machine_cpu_s()
                unstolen[op] = lat[op] * unstolen_factor(b1 - b0, s1 - s0)
                busy, stolen = busy + b1 - b0, stolen + s1 - s0
            if ok:
                errs = wl.after(op)
                if errs:
                    ok = False
                    sec.errors.extend(f"{op}: {e}" for e in errs)
            sec.failed += int(not ok or op in bad_ops)
        sec.passes.append(lat)
        sec.unstolen.append(unstolen)
        sec.stolen_share.append(stolen / (busy + stolen) if busy + stolen else 0.0)
        sc._jvm.System.gc()
    sec.wall += time.perf_counter() - t_start
    wl.set_tracer(type(tracer)(tracer.run_id, enabled=False))
    return sec


# ------------------------------------------------------------- main


def main(argv: list[str] | None = None) -> int:
    cpu_at_start = machine_cpu_s()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [
        m for m in ("trading_data_pipeline_spark", "bench") if importlib.util.find_spec(m) is None
    ]
    if missing or not os.path.isdir(os.path.join(REPO, "tools")):
        print(f"perfbench: the program is not here (missing {missing or ['tools']})", file=sys.stderr)
        return 2

    from perfbench import layers, trace, workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: --workload must be one of {workloads.WORKLOADS}", file=sys.stderr)
        return 2

    run_id = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    cwd = os.getcwd()
    work_dir = os.path.join(cwd, ".perfbench_work", run_id)
    out_dir = os.path.join(cwd, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    setup_env(work_dir)
    try:
        return _run(args, run_id, work_dir, out_dir, workloads, layers, trace, cpu_at_start)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)


def _run(args, run_id, work_dir, out_dir, workloads, layers, trace, cpu_at_start) -> int:
    event_log = os.path.join(work_dir, "eventlog") if args.trace else None
    t0 = time.perf_counter()
    spark = build_session(work_dir, event_log)
    setup_s = since_process_start()
    busy, stolen = (b - a for a, b in zip(cpu_at_start, machine_cpu_s()))
    setup_unstolen_s = setup_s * unstolen_factor(busy, stolen)
    session_build_s = time.perf_counter() - t0

    wl = workloads.make(args.workload)
    t0 = time.perf_counter()
    inputs = wl.prepare(os.path.join(work_dir, "inputs"), args.seed)
    gen_s = time.perf_counter() - t0

    wl.start(spark)
    off = trace.Tracer(run_id, enabled=False)
    wl.set_tracer(off)
    checks: dict[str, list[str]] = {}
    warm_s: dict[str, float] = {}
    for op in wl.order:
        group = f"{run_id}:warm:{op}"
        spark.sparkContext.setJobGroup(group, op)
        t0 = time.perf_counter()
        try:
            checks[op] = wl.warm_and_check(op, group)
        except Exception:  # noqa: BLE001 -- reported as a failed check
            checks[op] = [traceback.format_exc(limit=3)]
        warm_s[op] = time.perf_counter() - t0
    bad_ops = {op for op, errs in checks.items() if errs}

    pids = [os.getpid()] + [p for p in [_jvm_pid(spark)] if p]
    reset_peak_rss(pids)
    plain = timed_section(spark, wl, off, args.seconds, "timed", bad_ops)
    rss = peak_rss_mb(pids)

    traced = tracer = None
    if args.trace:
        # untraced, traced, untraced: the JVM still speeds up from pass to
        # pass, and this order cancels a steady drift out of
        # bench.tracing_overhead_s
        tracer = trace.Tracer(run_id)
        if wl.kind == "etl":
            wl.counts = {k: 0 for k in wl.counts}
        traced = timed_section(spark, wl, tracer, 0, "traced", bad_ops)
        etl_counts = dict(getattr(wl, "counts", {}))
        timed_section(spark, wl, off, 0, "timed", bad_ops, plain)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    stop_session(spark)

    latencies = [v for p in plain.passes for v in p.values()]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "machine": machine(cores),
        "inputs": inputs,
        "order": wl.order,
        "setup_s": setup_s,
        "setup_unstolen_s": setup_unstolen_s,
        "gen_s": gen_s,
        "warm_and_check_s": warm_s,
        "peak_rss_mb": rss,
        "checks": {op: errs[:5] for op, errs in checks.items()},
        "errors": (plain.errors + (traced.errors if traced else []))[:10],
        "passes": len(plain.passes),
        "pass_s": [sum(p.values()) for p in plain.passes],
        "pass_op_s": plain.passes,
        "pass_unstolen_s": [sum(p.values()) for p in plain.unstolen],
        "pass_stolen_share": plain.stolen_share,
        "timed_s": plain.wall,
        "wall_s": layers.pass_time(plain),
        "per_op_median_s": layers.per_op_medians(plain),
        "per_op_unstolen_median_s": layers.per_op_medians(plain, unstolen=True),
        "op_p50_s": statistics.median(latencies),
        **workload_e2e(wl, plain),
    }
    if args.trace:
        spans = tracer.spans
        tracer.write_jsonl(os.path.join(out_dir, f"{run_id}-spans.jsonl"))
        events = trace.read_event_log(event_log)
        metrics, detail = layers.per_layer(
            wl, spans, events, traced, plain, session_build_s, cores, etl_counts
        )
        record["layers"] = detail
        attempted, failed = plain.attempted + traced.attempted, plain.failed + traced.failed
        metrics["failed_ratio"] = (failed / attempted, "ratio")
    else:
        attempted, failed = plain.attempted, plain.failed
        metrics = {
            "setup_s": (setup_unstolen_s, "s"),
            "wall_unstolen_s": (layers.pass_time(plain, unstolen=True), "s"),
        }
    correct = not bad_ops and not plain.errors and not (traced and traced.errors)
    with open(os.path.join(out_dir, f"{run_id}-record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps(record, default=str))
    print(
        json.dumps(
            {
                "correct": correct,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )
    return 0


def workload_e2e(wl, sec: Section) -> dict:
    """The workload's own end-to-end figures, printed in the record."""
    from perfbench.layers import per_op_medians

    lat = [v for p in sec.passes for v in p.values()]
    med = per_op_medians(sec)
    if wl.kind == "etl":
        return {
            "etl_backfill_s": med["etl_backfill"],
            "etl_incremental_s": med["etl_incremental"],
            "etl_noop_s": med["etl_noop"],
        }
    p = tail_percentile(len(lat))
    return {
        "query_p50_s": statistics.median(lat),
        "query_tail_s": percentile(lat, p) if p else None,
        "query_tail_percentile": p,
        "query_samples": len(lat),
    }


def machine(cores: int) -> dict:
    import bench
    import pyspark

    return {
        "nproc": nproc(),
        "master": f"local[{cores}]",
        "co_load": bench._co_load_sentinel(),
        "spark": pyspark.__version__,
        "python": platform.python_version(),
        "platform": platform.platform(),
    }


if __name__ == "__main__":
    sys.exit(main())
