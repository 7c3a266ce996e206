"""Benchmark of oroboro_dw_dbt_spark: one workload, one seed, one run.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The workloads and
metrics are declared in BENCHMARK.json at the root.

The run makes its input tables from the driver's testdata and the seed
(``datagen.py``; cached under ``.perfbench``), starts ``worker.py`` with
the session sized to this host, and stops every process the worker left
when it ends. Human-readable figures come first on standard
output; the last line is the JSON result. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer ones. The full record of
the run (host, versions, session conf, every sample) is written under
``.perfbench/results``; warehouse, stream, spark-local and temp dirs are
removed when the run ends.

Exits non-zero, printing no result, when the program is missing, the
worker fails, or the run exceeds its time limit.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".perfbench"
TIME_LIMIT_S = 150  # of the worker; sampling and stopping fit in the rest of 180 s
BASE_TIME_LIMIT_S = 600  # the first run in a checkout builds the base tables
PR_SET_CHILD_SUBREAPER = 36
PROGRAM = ("oroboro_dw_dbt_spark/session.py", "tools/pipeline_e2e.py",
           "tools/check_correctness.py", "bench.py")

sys.path.insert(0, str(HERE))

import datagen  # noqa: E402


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))


def host_env(run_dir: Path) -> dict[str, str]:
    """The worker's environment: the session sized to this host (all
    usable cores, 40% of RAM for the driver), and every temp, spark-local
    and warehouse dir inside the run dir."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    return {
        **os.environ,
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, int(mem_total_kb() * 0.4 / 1024**2))}g",
        "TMPDIR": str(tmp),
        # every JVM, the spark-submit launcher's too, keeps its temp and
        # perf-data files out of /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "SPARK_LOCAL_DIRS": str(run_dir / "local"),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "TZ": "UTC",
    }


def descendants() -> list[int]:
    """Pids of every process below this one. This process is a child
    subreaper (set in ``main``), so a process whose parent exits moves
    up to it and stays in view: the PySpark daemon, which leaves the
    worker's process group, and anything it leaves behind."""
    parent = {}
    for p in Path("/proc").iterdir():
        if not p.name.isdigit():
            continue
        try:
            stat = (p / "stat").read_text()
        except OSError:
            continue
        parent[int(p.name)] = int(stat[stat.rfind(")") + 2:].split()[1])
    out, frontier = [], {os.getpid()}
    while frontier:
        frontier = {pid for pid, ppid in parent.items() if ppid in frontier}
        out.extend(frontier)
    return out


def reap() -> None:
    """Wait for every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_all() -> None:
    """TERM, then KILL, every process below this one, and wait for each."""
    for sig, wait_s in ((signal.SIGTERM, 10), (signal.SIGKILL, 10)):
        reap()
        pids = descendants()
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while descendants() and time.monotonic() < deadline:
            reap()
            time.sleep(0.1)
    reap()
    if descendants():
        raise RuntimeError(f"processes {descendants()} outlived SIGKILL")


def run_child(cmd: list[str], env: dict[str, str], cwd: Path, limit_s: float) -> int | None:
    """Run ``cmd`` to its end or for ``limit_s``, then stop everything it
    left. Returns its exit code, or None when it ran out of time."""
    proc = subprocess.Popen(cmd, cwd=cwd, env=env)
    try:
        return proc.wait(timeout=max(1.0, limit_s))
    except subprocess.TimeoutExpired:
        print(f"{Path(cmd[1]).name} exceeded {limit_s:.0f} s", file=sys.stderr)
        return None
    finally:
        stop_all()
        proc.wait()


def input_tables(seed: int, run_dir: Path) -> Path:
    """The seed's input tables; the seed-independent base is built the
    first time (a Spark job of its own)."""
    base = WORK / f"base-r{datagen.REPLICAS}"
    if not base.exists():
        tmp = WORK / "base.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        cmd = [sys.executable, str(HERE / "datagen.py"), "base", str(tmp), str(datagen.REPLICAS)]
        rc = run_child(cmd, host_env(run_dir / "base"), run_dir / "base", BASE_TIME_LIMIT_S)
        if rc != 0:
            raise RuntimeError(f"building the base tables failed (exit {rc})")
        tmp.rename(base)
    return datagen.sample(base, WORK / "data" / f"seed{seed}-r{datagen.REPLICAS}", seed)


def git_sha() -> str:
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    return out.stdout.strip() if out.returncode == 0 else "unknown"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in PROGRAM if not (ROOT / p).is_file()]
    if missing:
        print(f"program files missing under {ROOT}: {missing}", file=sys.stderr)
        return 2
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("cannot become a child subreaper", file=sys.stderr)
        return 2

    for old in (WORK / "runs").glob("*"):  # left by a killed run
        if not Path(f"/proc/{old.name.rsplit('-', 1)[1]}").exists():
            shutil.rmtree(old, ignore_errors=True)
    run_dir = WORK / "runs" / f"{args.workload}-{args.seed}-{os.getpid()}"
    try:
        data_dir = input_tables(args.seed, run_dir)
        out_path = run_dir / "result.json"
        cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace), "--data", str(data_dir), "--run-dir", str(run_dir),
               "--out", str(out_path)]
        rc = run_child(cmd, host_env(run_dir), ROOT, TIME_LIMIT_S)
        out = json.loads(out_path.read_text()) if rc == 0 else None
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if out is None:
        print(f"worker failed (exit {rc})", file=sys.stderr)
        return 1

    artifact = {"git_sha": git_sha(), "replicas": datagen.REPLICAS, "keep": datagen.KEEP,
                "mem_total_kb": mem_total_kb(),
                **out["artifact"], "result": out["result"]}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    (results / name).write_text(json.dumps(artifact, indent=1, default=str))
    print(f"record: {results / name}")
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
