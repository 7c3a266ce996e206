"""One benchmark run of one workload, in its own process (``run.py``
starts it, with the environment it needs, and stops it).

Order of a run: ``SETUPS`` set-ups (session start, staging, warm-up),
then one timed unit, then the output checks outside the clock, then the
session stops. In a traced run the shims and the event log are on from
the first set-up, and the per-layer figures are read off the spans and
the log once the session has stopped.

Times are CPU seconds of the whole process tree: this process, the JVM,
and the PySpark daemon with the Python workers it forks (the daemon
moves itself to a process group of its own, so a process-group sum would
miss the ``mapInPandas`` and UDF work). On a shared host, other tenants'
CPU steal stretched a unit's wall by 20-140% in a quarter to half of the
runs, which no bound of 0.25 survives; CPU time moved about half as
much. Walls are still reported, and traced.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import resource  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(ROOT / "tools")]

from bench import _host_load  # noqa: E402
from stats import median, summary  # noqa: E402
from tracing import TASK_METRICS, Tracer, fold_jobs, install_shims, read_jobs  # noqa: E402
from workloads import WORKLOADS, noop  # noqa: E402

SETUPS = 3
# setup_s is the median of the set-ups, so it leaves out the first, cold
# one (JVM launch, imports, JIT). That one is the per-layer
# setup.cold_cpu_s: one sample a run spread up to 0.25 across seeds on a
# shared host, too wide for a bound.
# unit_task_cpu_s is the part of unit_cpu_s spent in Spark tasks (JVM
# task threads and Python workers): the work on the data, which is a
# small share of a JIT-cold unit at the scale a run can afford
END_TO_END = {"setup_s": "s", "unit_cpu_s": "s", "unit_task_cpu_s": "s"}
FOLD_SPANS = (
    "dag.run", "text.quality_filter",
    "dedup.minhash_lsh", "dedup.semdedup", "text.pack_shards", "stream.run",
)
TIMED_SPANS = (
    "dag.run", "tests.run", "table_format.write", "table_format.read",
    "table_format.replace", "text.quality_filter", "dedup.minhash_lsh",
    "dedup.semdedup", "text.pack_shards",
)
# JVM threads by what they do, from the first 15 characters of their
# names. Every other JVM thread (JIT compilation, query planning on the
# py4j gateway threads, scheduling) counts as jvm_other, and so does a
# thread that exits mid-unit: the JVM starts and stops compiler threads
# as it likes, so JIT time cannot be told apart this way.
JVM_THREADS = {
    "jvm_tasks": ("Executor task l",),
    "jvm_gc": ("GC Thread#", "G1 ", "VM Thread"),
}
CPU_PARTS = ("driver", "python_workers", *JVM_THREADS, "jvm_other")
PER_LAYER = (
    ["setup.cold_cpu_s", "session.start_s", "models.fixtures_s", "streaming.source_stage_s"]
    + [f"{s}_s" for s in TIMED_SPANS]
    + ["dag.model.user_base_s", "dag.model.stacked_users_partners_s",
       "dag.model.locations_clean_s", "dag.jobs", "dag.tasks",
       "table_format.files_written", "table_format.bytes_written", "table_format.write_amp"]
    + ["dedup.lsh_victims", "dedup.semantic_victims", "text.kept_docs",
       "stream.batches", "stream.add_batch_s", "stream.query_planning_s",
       "stream.wal_commit_s", "stream.latest_offset_s", "stream.input_rows_per_s"]
    + [f"{s}.{k}" for s in FOLD_SPANS for k in TASK_METRICS]
    + [f"unit.cpu.{p}_s" for p in CPU_PARTS]
    + ["trace.unit_s", "trace.unattributed_s", "trace.unattributed_jobs", "process.peak_rss_mb"]
)


def start_session(workload, trace: bool, run_dir: Path):
    from oroboro_dw_dbt_spark.session import get_spark

    n_shuffle, conf = workload.session_conf()
    conf["spark.sql.warehouse.dir"] = str(run_dir / "spark-warehouse")
    if trace:
        log_dir = run_dir / "eventlog"
        log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": log_dir.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", shuffle_partitions=n_shuffle, extra_conf=conf)


def peak_rss_mb(spark) -> float:
    """Driver Python plus JVM resident-set high-water marks."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks) of every process. The ticks are
    utime + stime + cutime + cstime: a process's own CPU plus that of
    the children it has reaped. A zombie still shows its own."""
    table = {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        table[int(pid)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return table


def subtree(table: dict[int, tuple[int, int]], root: int) -> set[int]:
    """``root`` and every process below it in ``table``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in out:
            out.add(pid)
            todo.extend(children.get(pid, ()))
    return out


def process_cpu(jvm_pid: int) -> dict[str, float]:
    """CPU seconds used so far by the JVM (``jvm``), everything the JVM
    started (``python_workers``: the PySpark daemon and the workers it
    forks) and the rest of this process's tree (``driver``). A child
    that exits counts in its parent once reaped, so nothing the tree ran
    is lost. CPU time stolen by other tenants is not in it."""
    table = proc_table()
    workers = subtree(table, jvm_pid) - {jvm_pid}
    driver = subtree(table, os.getpid()) - workers - {jvm_pid}
    hz = os.sysconf("SC_CLK_TCK")
    return {"driver": sum(table[p][1] for p in driver) / hz,
            "jvm": table.get(jvm_pid, (0, 0))[1] / hz,
            "python_workers": sum(table[p][1] for p in workers) / hz}


def tree_cpu_s(jvm_pid: int) -> float:
    return sum(process_cpu(jvm_pid).values())


def jvm_threads(jvm_pid: int) -> dict[int, tuple[str, int]]:
    """tid -> (name, CPU ticks) of every live thread of the JVM."""
    out = {}
    task_dir = f"/proc/{jvm_pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/stat") as f:
                stat = f.read()
        except OSError:  # the thread exited
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        out[int(tid)] = (stat[stat.index("(") + 1:stat.rfind(")")], int(fields[11]) + int(fields[12]))
    return out


def unit_cpu_split(before: tuple[dict, dict], after: tuple[dict, dict]) -> dict[str, float]:
    """CPU seconds of each of ``CPU_PARTS`` between two
    ``(process_cpu, jvm_threads)`` snapshots."""
    (parts0, threads0), (parts1, threads1) = before, after
    hz = os.sysconf("SC_CLK_TCK")
    out = {p: parts1[p] - parts0[p] for p in ("driver", "python_workers")}
    jvm = parts1["jvm"] - parts0["jvm"]
    for kind, prefixes in JVM_THREADS.items():
        out[kind] = sum(ticks - threads0.get(tid, ("", 0))[1]
                        for tid, (name, ticks) in threads1.items()
                        if name.startswith(prefixes)) / hz
    out["jvm_other"] = jvm - sum(out[k] for k in JVM_THREADS)
    return out


def jvm_pid_of(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def stop_session(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to
    exit (it exits when its stdin closes)."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def describe(spark) -> dict:
    return {
        "spark": spark.version,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "session_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
        "graft_env": {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")},
        "load": _host_load(),
    }


def layer_metrics(workload, tracer: Tracer, rec: dict, run_dir: Path, rss: float,
                  cold_cpu: float) -> dict:
    out = dict.fromkeys(PER_LAYER, 0.0)
    out["setup.cold_cpu_s"] = cold_cpu
    out["process.peak_rss_mb"] = rss
    out.update({f"{k}_s": v for k, v in tracer.setup_seconds().items() if f"{k}_s" in out})
    spans = tracer.span_seconds()
    out.update({f"{s}_s": spans[s] for s in TIMED_SPANS if s in spans})
    out.update(tracer.unit_sums([c[:3] for c in tracer.counters]))
    triples, out["trace.unattributed_jobs"] = fold_jobs(
        read_jobs(run_dir / "eventlog"), tracer.spans, FOLD_SPANS, workload.unit_span
    )
    folded = tracer.unit_sums(triples)
    out.update({k: v for k, v in folded.items() if k in out})
    out["dag.jobs"] = folded.get("dag.run.jobs", 0)
    out["dag.tasks"] = folded.get("dag.run.tasks", 0)
    out.update(workload.layers(rec))
    out.update({f"unit.cpu.{p}_s": v for p, v in rec["cpu_parts"].items()})
    out["trace.unit_s"] = rec["wall"]
    out["trace.unattributed_s"] = tracer.self_seconds().get(workload.unit_span, 0.0)
    unknown = set(out) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer figures outside the declared list: {sorted(unknown)}")
    return out


def run(args) -> dict:
    data_dir, run_dir = Path(args.data), Path(args.run_dir)
    tracer = Tracer(enabled=bool(args.trace))
    workload = WORKLOADS[args.workload](data_dir, run_dir, tracer)
    if args.trace:
        install_shims(tracer)

    setups: list[float] = []
    setups_cpu: list[float] = []
    spark = None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        # the first set-up counts from the start of this process
        t0, cpu0 = (T_START, 0.0) if i == 0 else (time.perf_counter(), tree_cpu_s(jvm))
        with tracer.span("session.start"):
            spark = start_session(workload, bool(args.trace), run_dir)
            jvm = jvm_pid_of(spark)
            tracer.spark_context = spark.sparkContext
            noop(spark.range(1))
        # one spelling of the data dir per set-up, so the program's
        # per-dir staging caches miss as they would in a new process
        workload.stage(spark, str(data_dir) + "/." * i)
        setups.append(time.perf_counter() - t0)
        setups_cpu.append(tree_cpu_s(jvm) - cpu0)
    load_before = _host_load()

    # A run measures one unit, whatever --seconds says (it is recorded):
    # a unit lasts longer than the benchmark's run_seconds, and it is the
    # first in its JVM, as in a scheduled job.
    tracer.unit = 0
    steal0 = _host_load().get("steal_jiffies", 0)
    cpu0 = (process_cpu(jvm), jvm_threads(jvm))
    try:
        with tracer.span(workload.unit_span):
            rec = workload.unit(spark)
    finally:
        tracer.unit = None
    rec["cpu_parts"] = unit_cpu_split(cpu0, (process_cpu(jvm), jvm_threads(jvm)))
    rec["cpu_s"] = sum(rec["cpu_parts"].values())
    rec["task_cpu_s"] = rec["cpu_parts"]["jvm_tasks"] + rec["cpu_parts"]["python_workers"]
    stolen = _host_load().get("steal_jiffies", 0) - steal0
    rec["steal_share"] = stolen / (rec["wall"] * os.sysconf("SC_CLK_TCK") * os.cpu_count())
    attempted, failed = rec["ops"], rec["failed"]
    try:
        problems = workload.check(spark, rec)
    except Exception as e:  # noqa: BLE001 - a check that cannot run fails the run
        traceback.print_exc()
        problems = [f"check raised {e!r}"]
    rss = peak_rss_mb(spark)
    host = describe(spark)
    stop_session(spark)

    report = {
        "setup_s": (setups_cpu, "s", "lower"),
        "setup_wall_s": (setups, "s", "lower"),
        "unit_cpu_s": ([rec["cpu_s"]], "s", "lower"),
        "unit_task_cpu_s": ([rec["task_cpu_s"]], "s", "lower"),
        "unit_s": ([rec["wall"]], "s", "lower"),
        **workload.report(rec),
    }
    end_to_end = {"setup_s": median(setups_cpu), "unit_cpu_s": rec["cpu_s"],
                  "unit_task_cpu_s": rec["task_cpu_s"]}
    if args.trace:
        figures = layer_metrics(workload, tracer, rec, run_dir, rss, setups_cpu[0])
        metrics = {k: {"value": figures[k], "unit": _unit(k)} for k in PER_LAYER}
    else:
        metrics = {k: {"value": end_to_end[k], "unit": u} for k, u in END_TO_END.items()}
    for line in report_lines(report, rss, attempted, failed, problems):
        print(line, flush=True)
    print(f"unit CPU by part: { {p: round(v, 2) for p, v in rec['cpu_parts'].items()} }, "
          f"steal share of host CPU: {rec['steal_share']:.3f}", flush=True)
    return {
        "result": {"correct": not problems, "attempted": attempted, "failed": failed,
                   "metrics": metrics},
        "artifact": {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "setups": SETUPS,
            "host": {"cpus": os.cpu_count(), "load_before": load_before,
                     "load_after": host.pop("load")},
            **host,
            "report": {k: {"unit": u, "better": b, **summary(v), "samples": v}
                       for k, (v, u, b) in report.items() if v},
            "peak_rss_mb": rss,
            "checks": problems,
            "unit": rec,
        },
    }


def _unit(name: str) -> str:
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    return "ratio" if name.endswith("write_amp") else "count"


def report_lines(report: dict, rss: float, attempted: int, failed: int, problems: list[str]):
    for name, (values, unit, better) in report.items():
        if not values:
            yield f"{name}: no samples"
            continue
        s = summary(values)
        tail = f" p{s['tail_pct']:.1f}={s['tail']:.4f}" if "tail" in s else ""
        yield f"{name} [{unit}, {better} is better] median={s['median']:.4f} n={s['n']}{tail}"
    yield f"peak_rss_mb [MB, lower is better] {rss:.1f}"
    yield f"failed_ops_ratio {failed}/{attempted} = {failed / attempted:.4f}"
    yield "correct: yes" if not problems else "correct: NO - " + "; ".join(problems)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    out = run(args)
    Path(args.out).write_text(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
