"""Benchmark entry point.

    python3 perfbench/run.py --workload {build,ingest,query} --seed N \
        --seconds S --trace {0,1}

Runs one workload in a child process (workloads.py) with the engine at
``local[<cores>]``, samples the resident memory of the child's whole
process tree (driver, JVM, Python workers), stops every process the
child started, and prints:

- ``# name = value unit`` lines: every metric the run measured,
  including the workload-specific ones, and the run environment;
- as the last line, one JSON object with ``correct``, ``attempted``,
  ``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
  per-layer metrics with ``--trace 1``).

All files are written inside the checkout: scratch state under
``.perfbench_work/`` (removed at exit), span files of traced runs
under ``.perfbench_out/``.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
CHILD_LIMIT_S = 170  # the run must end within 180 s


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid → /proc stat fields (from field 3, the state, on) of the
    processes in session ``sid`` (the child leads its own session, and
    the JVM and Python workers it starts inherit it)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[3]) == sid:  # field 6 of stat: session id
            out[int(d)] = fields
    return out


def resident_bytes(pids: list[int]) -> int:
    """Resident memory of the processes, shared pages counted once: the
    sum of their proportional set sizes. (Summed RSS would count the
    pages Spark's forked Python workers share with their daemon once per
    worker, so it moved with how many workers happened to be alive.)"""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler(threading.Thread):
    """Peak resident memory of the session until ``done_marker`` appears: the worker
    creates it when the measured part ends, so the oracle checks that
    follow do not count."""

    def __init__(self, sid: int, done_marker: Path, period_s: float = 0.2):
        super().__init__(daemon=True)
        self.sid, self.done_marker, self.period_s = sid, done_marker, period_s
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set() and not self.done_marker.exists():
            self.peak = max(self.peak, resident_bytes(list(session_stats(self.sid))))
            self._stop_evt.wait(self.period_s)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


def stop_session(sid: int) -> None:
    """SIGKILL whatever is left of the child's session and wait for it."""
    for _ in range(100):
        if not session_stats(sid):
            return
        try:
            os.killpg(sid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "ingest", "query"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    sys.path.insert(0, str(HERE))
    import selfcheck

    for check in selfcheck.CHECKS:  # the plumbing the metrics rest on
        check()

    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".perfbench_out"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    out_dir.mkdir(exist_ok=True)
    env = dict(os.environ)
    # Spark's Python workers import the package from the checkout
    env["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), env.get("PYTHONPATH")) if p)
    env["TMPDIR"] = str(work / "tmp")
    env["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    env.pop("SPARK_GRAFT_CPUS", None)  # the worker sizes from the affinity mask

    cmd = [sys.executable, str(HERE / "workloads.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work), "--out", str(out_dir)]
    log_path = work / "worker.log"
    rc = None
    try:
        with log_path.open("w") as log:
            child = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log, stderr=log,
                                     stdin=subprocess.DEVNULL, start_new_session=True)
            sampler = RssSampler(child.pid, work / "measured")
            sampler.start()
            try:
                rc = child.wait(timeout=CHILD_LIMIT_S)
            except subprocess.TimeoutExpired:
                rc = None
            finally:
                stop_session(child.pid)
                child.wait()
                sampler.stop()
        result_path = work / "result.json"
        if rc != 0 or not result_path.exists():
            tail = log_path.read_text(errors="replace").splitlines()[-40:]
            why = "timed out" if rc is None else f"exited with {rc}"
            print(f"benchmark worker {why}; last log lines:", file=sys.stderr)
            print("\n".join(tail), file=sys.stderr)
            return 1
        result = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    line = result["line"]
    peak_mb = sampler.peak / 1e6
    if not args.trace:
        line["metrics"]["peak_rss_mb"] = {"value": peak_mb, "unit": "MB"}
    for k, v in result["report"].items():
        print(f"# {k} = {v['value']} {v['unit']}")
    print(f"# peak_rss_mb = {peak_mb} MB")
    for k, v in result["env"].items():
        print(f"# env.{k} = {v}")
    for e in result["errors"]:
        print(f"# failure: {e}")
    print(json.dumps(line))
    return 0


if __name__ == "__main__":
    sys.exit(main())
