"""CPG construction benchmark: one command, every metric by name and unit.

    python3 perfbench/run.py --workload bulk_c --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each sample is ``sample.py`` in a fresh
Python process with its own JVM (repeated builds in one session grow the
JVM until it is killed), started as the leader of a new session so that the
whole process tree -- driver, JVM, PySpark workers -- can be found in /proc,
measured and stopped. Samples run until their timed phases add up to
``--seconds``, at least one; each metric is the median over samples.

``--trace 0`` prints the end-to-end metrics: ``setup_s`` (process start to
Spark session ready), ``build_s`` (the timed phase), ``files_per_s``,
``cpu_s`` (user + system CPU of the process tree in the timed phase),
``peak_rss_mb`` (process tree, in the timed phase), ``peak_scratch_mb``
(growth of /dev/shm use plus the sample's Spark scratch dir in the timed
phase) and ``ok_rate`` (input files parsed without error over input files).
``--trace 1`` runs one sample with spans around the layer calls and prints
the per-layer metrics; the spans are kept in ``.perfbench_work/traces/``.

Every sample checks its outputs (no parse errors, one file per input row,
the graph's lineage roll-up equal to one computed from the inputs here); a
failed check makes the result ``"correct": false`` and the exit code 1.
Each sample also prints a line of host-noise context (CPU steal, load,
seed, sizes, code hash, nproc) before the final result line.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

import procfs
from sample import WORKLOADS

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

# Every run exits within 180 s: no sample starts unless the last one's wall
# time still fits before START_BY, and a sample still running at KILL_AT is
# stopped.
START_BY = 150.0
KILL_AT = 170.0
POLL_S = 0.2
# The session's defaults (48g driver heap, Spark scratch on /dev/shm) built
# bulk_c no faster on a 4-vCPU, 16 GB host and took 1.7x the RSS; the heap
# bound keeps a sample from growing into the host's memory, the scratch dir
# keeps Spark's shuffle files inside the checkout.
DRIVER_MEM = "4g"

# row counts a traced sample reports; 0 where its workload has no such step
SIZES = ["parse.rows_out", "typerecovery.rewrites_out", "pipeline.edges_out",
         "scanners_c.findings"]
END_TO_END = {"setup_s": "s", "build_s": "s", "files_per_s": "1/s", "cpu_s": "s",
              "peak_rss_mb": "MB", "peak_scratch_mb": "MB", "ok_rate": "ratio"}


def code_sha() -> str:
    """Hash of the program's sources: the checkout is not a git repository,
    so this stands in for the commit."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "joern_spark")
    for d, dirs, files in os.walk(pkg):
        dirs.sort()
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


class TreeMonitor(threading.Thread):
    """Polls the session's processes and the scratch storage while the
    sample's timed phase runs, between the ``timed.start`` and ``timed.end``
    files the sample makes in its work dir: the peak RSS of the process tree,
    and the peak growth of /dev/shm use plus the sample's Spark scratch dir
    over their size at the start mark."""

    def __init__(self, sid: int, work: str):
        super().__init__(daemon=True)
        self.sid, self.work = sid, work
        self.peak_rss_mb = 0.0
        self.peak_scratch_mb = 0.0
        self.stop = threading.Event()

    def _scratch_mb(self) -> float:
        return procfs.shm_used_mb() + procfs.dir_mb(os.path.join(self.work, "spark-local"))

    def run(self) -> None:
        start = os.path.join(self.work, "timed.start")
        end = os.path.join(self.work, "timed.end")
        scratch0 = None
        while not os.path.exists(end):
            if scratch0 is None and os.path.exists(start):
                scratch0 = self._scratch_mb()
            if scratch0 is not None:
                self.peak_rss_mb = max(self.peak_rss_mb,
                                       procfs.rss_mb(procfs.session_stats(self.sid)))
                self.peak_scratch_mb = max(self.peak_scratch_mb,
                                           self._scratch_mb() - scratch0)
            if self.stop.wait(POLL_S):
                return


def stop_session(sid: int) -> None:
    """SIGTERM, then SIGKILL, every process left in the session; returns once
    none is left."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + grace
        while True:
            pids = list(procfs.session_stats(sid))
            if not pids:
                return
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            if time.monotonic() > deadline:
                break
            time.sleep(0.2)


def run_sample(workload: str, seed: int, trace: bool, index: int,
               kill_at: float) -> dict:
    work = os.path.join(WORK, f"{workload}-{seed}-{os.getpid()}-{index}")
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    out_path = os.path.join(WORK, f"result-{os.getpid()}-{index}.json")
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else ""),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": (env.get("SPARK_SUBMIT_OPTS", "") + f" -Djava.io.tmpdir={tmp}").strip(),
    })
    cmd = [sys.executable, os.path.join(HERE, "sample.py"), "--workload", workload,
           "--seed", str(seed), "--trace", str(int(trace)), "--work", work,
           "--out", out_path]
    steal0, load0 = procfs.steal_s(), procfs.loadavg()
    log_path = os.path.join(WORK, f"log-{os.getpid()}-{index}.txt")
    with open(log_path, "w") as log:
        started = time.time()
        t0 = time.monotonic()
        proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        mon = TreeMonitor(proc.pid, work)
        mon.start()
        try:
            rc = proc.wait(timeout=max(1.0, kill_at - time.monotonic()))
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            mon.stop.set()
            mon.join()
            stop_session(proc.pid)
            proc.wait()
    wall = time.monotonic() - t0
    res = {}
    if os.path.exists(out_path):
        with open(out_path) as f:
            res = json.load(f)
        os.remove(out_path)
    if rc != 0 or "error" in res:
        why = "timed out" if rc is None else f"exit code {rc}"
        res = {"failures": [f"sample {workload} seed {seed} {why}: "
                            + res.get("error", f"see {log_path}")]}
    else:
        os.remove(log_path)
        res["setup_s"] = res.pop("ready_at") - started
        res["peak_rss_mb"] = mon.peak_rss_mb
        res["peak_scratch_mb"] = mon.peak_scratch_mb
    res["wall_s"] = wall
    res["host"] = {"workload": workload, "seed": seed, "sample": index,
                   "trace": int(trace), "files": res.get("files"),
                   "bytes": res.get("bytes"), "code_sha": code_sha(),
                   "nproc": os.cpu_count(), "affinity": len(os.sched_getaffinity(0)),
                   "steal_s": procfs.steal_s() - steal0,
                   "loadavg_start": load0, "loadavg_end": procfs.loadavg(),
                   "wall_s": wall}
    shutil.rmtree(work, ignore_errors=True)
    return res


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="timed seconds to accumulate over samples (at least one sample)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "joern_spark", "plans", "pipeline.py")):
        print(f"no joern_spark package under {ROOT}: run from a checkout of the repo",
              file=sys.stderr)
        return 2

    # SIGTERM unwinds like Ctrl-C, so the running sample's session is stopped
    signal.signal(signal.SIGTERM, signal.default_int_handler)
    t_start = time.monotonic()
    os.makedirs(WORK, exist_ok=True)
    samples: list[dict] = []
    timed = 0.0
    while True:
        s = run_sample(a.workload, a.seed, bool(a.trace), len(samples),
                       t_start + KILL_AT)
        samples.append(s)
        print(json.dumps({"sample": s["host"], "failures": s["failures"]}), flush=True)
        timed += s.get("build_s", 0.0)
        elapsed = time.monotonic() - t_start
        if (a.trace or s["failures"] or timed >= a.seconds
                or elapsed + s["wall_s"] > START_BY):
            break

    failures = [f for s in samples for f in s["failures"]]
    ok = [s for s in samples if "build_s" in s]
    # a sample that crashed or timed out counts as one failed operation
    attempted = sum(s.get("files") or 1 for s in samples)
    failed = sum(s["failed"] if "build_s" in s else 1 for s in samples)
    metrics: dict[str, dict] = {}
    if ok and a.trace:
        s = ok[0]
        layer = dict(s["layers"])
        for name in SIZES:
            layer[name] = s["sizes"].get(name, 0)
        layer["trace.build_s"] = s["build_s"]
        layer["trace.overhead_s"] = s["trace_overhead_s"]
        for name, v in layer.items():
            unit = "s" if name.endswith("_s") else "count"
            metrics[name] = {"value": v, "unit": unit}
        tdir = os.path.join(WORK, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{a.workload}-seed{a.seed}.json"), "w") as f:
            json.dump({"host": s["host"], "spans": s["spans"], "metrics": layer}, f)
    elif ok:
        vals = {
            "setup_s": [s["setup_s"] for s in ok],
            "build_s": [s["build_s"] for s in ok],
            "files_per_s": [s["files"] / s["build_s"] for s in ok],
            "cpu_s": [s["cpu_s"] for s in ok],
            "peak_rss_mb": [s["peak_rss_mb"] for s in ok],
            "peak_scratch_mb": [s["peak_scratch_mb"] for s in ok],
        }
        for name, vs in vals.items():
            metrics[name] = {"value": statistics.median(vs), "unit": END_TO_END[name]}
        metrics["ok_rate"] = {"value": 1.0 - failed / attempted, "unit": "ratio"}
    for f in failures:
        print(f"CHECK FAILED: {f}", file=sys.stderr)
    correct = bool(ok) and not failures
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
