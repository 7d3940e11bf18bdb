"""Crawl-engine benchmark: one command for every workload.

    python3 perfbench/run.py --workload <name|all> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Each workload runs in its own fresh
subprocess (fresh interpreter and JVM) at local[<cpus>], with
SPARK_GRAFT_CPUS set explicitly and the checkout on the Python
workers' path. This process samples the peak resident memory (summed
proportional set sizes) of that subprocess's whole process tree (engine
process, JVM, Python workers) from /proc, stops
every process of the tree when the workload ends, and removes the
workload's scratch directory.

A human-readable report goes to stderr. The last line of stdout is one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end metrics, with --trace 1 the
per-layer metrics of the traced run. The exit code is non-zero when an
output differs from its reference or the run could not complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("recrawl-small-batches", "details-bilingual")
# every run must end within 180 s; leave room to stop the tree
CHILD_TIMEOUT_S = 170.0


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is `sid` (the workload was
    started in a new session, so this is its whole process tree)."""
    out = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # fields[0] is the state (field 3 of stat); session is field 6
        if int(fields[3]) == sid and fields[0] != "Z":
            out.append(int(entry))
    return out


def tree_resident_bytes(sid: int) -> int:
    """Resident memory of the process tree: the sum of each process's
    proportional set size, so pages the forked Python workers share
    with their daemon count once."""
    total = 0
    for pid in session_pids(sid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PeakRss(threading.Thread):
    def __init__(self, sid: int, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.sid, self.interval, self.peak = sid, interval, 0
        self._done = threading.Event()

    def run(self) -> None:
        while not self._done.is_set():
            self.peak = max(self.peak, tree_resident_bytes(self.sid))
            self._done.wait(self.interval)

    def stop(self) -> int:
        self._done.set()
        self.join()
        return self.peak


def stop_tree(sid: int, grace_s: float = 10.0) -> None:
    """TERM, then KILL, every process left in the session; return once
    none is alive."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        pids = session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait_s
        while session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
    if session_pids(sid):
        raise RuntimeError(f"processes of session {sid} survived SIGKILL")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def run_workload(name: str, args) -> dict | None:
    """Run one workload in a fresh subprocess; its result dict, or None
    when it failed to produce one."""
    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(out_dir, exist_ok=True)
    result_path = os.path.join(work, "result.json")
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update(
        {
            "SPARK_GRAFT_CPUS": str(cpu_count()),
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "TMPDIR": os.path.join(work, "tmp"),
            # every JVM, the spark-submit launcher's too: temp files in the
            # scratch directory, no /tmp/hsperfdata_<user> entry
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "PYTHONPATH": os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            "SPARK_GRAFT_DRIVER_MEM": env.get("SPARK_GRAFT_DRIVER_MEM", "2g"),
        }
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "workloads.py"),
        "--workload", name,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--scale", str(args.scale),
        "--work", work,
        "--result", result_path,
        "--spans", os.path.join(out_dir, f"spans-{name}-seed{args.seed}.json"),
        "--t0", repr(time.time()),
    ]
    # the workload's own output (progress, Spark logs) goes to stderr
    child = subprocess.Popen(
        cmd, cwd=ROOT, env=env, stdout=sys.stderr.fileno(), start_new_session=True
    )
    rss = PeakRss(child.pid)
    rss.start()
    try:
        try:
            child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"[perfbench] {name}: no result within {CHILD_TIMEOUT_S:.0f} s", file=sys.stderr)
        finally:
            peak = rss.stop()
            stop_tree(child.pid)
            child.wait()
        if child.returncode != 0:
            print(f"[perfbench] {name}: exited with {child.returncode}", file=sys.stderr)
            return None
        with open(result_path) as fh:
            result = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not args.trace:
        result["metrics"]["peak_rss_mb"] = {"value": peak / float(1 << 20), "unit": "MiB"}
    return result


def print_report(name: str, result: dict) -> None:
    err = result["failed"] / result["attempted"]
    lines = [f"[perfbench] {name}"]
    for key, m in result["metrics"].items():
        lines.append(f"  {key:36s} {m['value']:.6g} {m['unit']}")
    for key, value in result["report"].items():
        if key == "span_totals":
            lines.append("  spans (calls, wall s, self s):")
            for span, t in sorted(value.items()):
                lines.append(f"    {span:52s} {t['calls']:4d} {t['wall_s']:9.3f} {t['self_s']:9.3f}")
        else:
            lines.append(f"  {key:36s} {value if isinstance(value, str) else f'{value:.6g}'}")
    lines.append(
        f"  {'error_rate':36s} {err:.6g} ratio ({result['failed']} of {result['attempted']} operations)"
    )
    print("\n".join(lines), file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Crawl-engine benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale", type=float, default=1.0, help="input-size factor (the smoke tests use 0.1)"
    )
    args = ap.parse_args(argv)
    # a terminated benchmark still stops the workload's process tree
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "gepris_spark", "__init__.py")):
        print(f"[perfbench] no engine sources (gepris_spark/) under {ROOT}", file=sys.stderr)
        return 2

    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        result = run_workload(name, args)
        if result is None:
            return 1
        print_report(name, result)
        results[name] = result

    if len(names) == 1:
        metrics = results[names[0]]["metrics"]
    else:
        metrics = {f"{n}.{k}": m for n, r in results.items() for k, m in r["metrics"].items()}
    failed = sum(r["failed"] for r in results.values())
    summary = {
        "correct": failed == 0,
        "attempted": sum(r["attempted"] for r in results.values()),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(summary))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
