"""Benchmark entry point.

    python3 perfbench/run.py --workload pdf_mixed --seed 1 --seconds 10 --trace 0

Builds (once per workload and seed, cached under .perfbench_cache/) the
seeded corpus and its oracle records, then runs the workload as a
closed loop with one client at local[nproc / 2], each process a fresh
JVM:

- ``--trace 0``: one fresh process times its set-up, then runs timed
  jobs for the window; prints the end-to-end metrics.
- ``--trace 1``: one untraced and one traced process (Spark UI on),
  then the kernel replay; prints the per-layer metrics.  The io layer is
  driven on pdf_mixed and the curate layer on html_pages; the other
  workload reports 0 for them.

Every run checks each capture's output against the oracle (check.py).
The last stdout line is the JSON result.
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
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
HERE = Path(__file__).resolve().parent
CACHE = ROOT / ".perfbench_cache"
PROGRAM = ("ocr_spark/pipeline.py", "ocr_spark/io.py", "jobs/curate_job.py")

WORKLOADS = ("pdf_mixed", "html_pages")
MIN_JOBS = 2
WARMUP_JOBS = 3
# the traced run must also fit the io or curate layer into its time limit;
# its per-layer figures carry no bound
TRACE_WARMUP_JOBS = 1
# the 64g default heap assumes a 125 GB host; these corpora need far less
DRIVER_MEM = "3g"
WORKER_TIMEOUT_S = 150


def _descendants(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of a process and all its descendants (the JVM and
    the Python workers)."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._halt = threading.Event()

    def run(self):
        while not self._halt.wait(0.2):
            pids = [self.pid, *_descendants(self.pid)]
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))

    def stop(self):
        self._halt.set()
        self.join()


def _reap_all() -> None:
    """Wait for every process this run started, orphans included (this
    process is their subreaper); kill what outlives a grace period."""
    deadline = time.time() + 20
    while True:
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        left = _descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def run_worker(args: dict, env: dict) -> tuple[dict, float]:
    """One fresh-JVM worker process -> (its result, peak RSS MB)."""
    args = dict(args, t0=time.time())
    proc = subprocess.Popen(
        [sys.executable, str(HERE / "worker.py"), json.dumps(args)],
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env=env, cwd=ROOT,
    )
    sampler = RssSampler(proc.pid)
    sampler.start()
    try:
        out, err = proc.communicate(timeout=WORKER_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, err = proc.communicate()
    finally:
        sampler.stop()
        _reap_all()
    if proc.returncode != 0:
        sys.stderr.write(err[-4000:])
        raise RuntimeError(f"worker exited {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1]), sampler.peak / 2**20


def docs_per_s(jobs: list[dict]) -> float:
    """Captures committed per second of the timed window."""
    return sum(j["captures"] for j in jobs) / sum(j["seconds"] for j in jobs)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    missing = [p for p in PROGRAM if not (ROOT / p).exists()]
    if missing:
        print(f"program sources missing: {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import check
    import corpus

    # orphaned JVM / Python workers re-parent here, so _reap_all sees them
    ctypes.CDLL(None).prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    corpus_dir = corpus.build(CACHE / "corpus", a.workload, a.seed)
    manifest = json.loads((corpus_dir / "manifest.json").read_text())
    expected = json.loads((corpus_dir / "expected.json").read_text())

    run_dir = CACHE / "runs" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    # each Spark task keeps a JVM thread and a Python worker busy, so
    # nproc / 2 tasks fill the cores without oversubscribing them
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(
            [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])]),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(run_dir / "tmp"),
        TMPDIR=str(run_dir / "tmp"),
        # no /tmp/hsperfdata_* files: every write stays in the checkout
        JAVA_TOOL_OPTIONS="-XX:-UsePerfData",
    )
    base = {
        "workload": a.workload, "corpus": str(corpus_dir), "cores": cores,
        "tmp": str(run_dir / "tmp"), "traced": False, "min_jobs": MIN_JOBS,
        "heap": DRIVER_MEM, "warmup": WARMUP_JOBS,
        "captures": manifest["captures"],
        "check_out": str(run_dir / "output.json"),
        "run_id": f"{a.workload}-{a.seed}-{os.getpid()}",
    }
    try:
        if a.trace:
            metrics, jobs, io_rows = traced_run(a, base, env, run_dir)
        else:
            metrics, jobs = untraced_run(a, base, env)
        verdict = check.compare(
            expected, json.loads(Path(base["check_out"]).read_text()))
        if a.trace and io_rows is not None:
            metrics["io.match_ratio"] = check.compare(
                expected, io_rows)["match_ratio"]
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if not a.trace:
        metrics["match_ratio"] = verdict["match_ratio"]
        metrics["completed_ratio"] = verdict["completed_ratio"]
    print("# job seconds: " + json.dumps([round(j["seconds"], 3)
                                          for j in jobs]))
    print("# check: " + json.dumps(
        {k: v for k, v in verdict.items() if k != "unexpected"}
        | {"unexpected": verdict["unexpected"][:5], "input": manifest}
    ))
    declared = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    names = declared["per_layer" if a.trace else "end_to_end"]
    print(json.dumps({
        "correct": verdict["correct"],
        "attempted": sum(j["captures"] for j in jobs),
        "failed": 0,
        "metrics": {m["name"]: {"value": metrics.get(m["name"], 0.0),
                                "unit": m["unit"]} for m in names},
    }))
    return 0


def untraced_run(a, base, env) -> tuple[dict, list[dict]]:
    res, peak = run_worker(dict(base, seconds=a.seconds), env)
    return {
        "docs_per_s": docs_per_s(res["jobs"]),
        "setup_s": res["setup_s"],
        "peak_rss_mb": peak,
    }, res["jobs"]


def traced_run(a, base, env, run_dir):
    """Untraced then traced process, each an eighth of the window (the
    traced one then drives the io or curate layer), then the kernel
    replay.  Layers a workload does not reach read 0."""
    import kernel_replay

    base = dict(base, seconds=a.seconds / 8, warmup=TRACE_WARMUP_JOBS)
    plain, _ = run_worker(dict(base, check_out=None), env)
    pdf = a.workload == "pdf_mixed"
    traced, _ = run_worker(
        dict(base, traced=True,
             spans_out=str(CACHE / f"spans-{a.workload}-{a.seed}.json"),
             resume_out=str(run_dir / "resume.json") if pdf else None,
             curate=not pdf),
        env,
    )
    jobs = traced["jobs"]
    metrics = dict(traced["layers"])
    metrics.update(kernel_replay.replay(
        kernel_replay.load(base["corpus"] + "/pages")))
    io_rows = None
    if pdf:
        metrics["io.probe_s"] = traced["io"]["probe_s"]
        metrics["io.pass_s"] = traced["io"]["pass_s"]
        metrics["io.noop_pass_s"] = traced["io"]["noop_pass_s"]
        io_rows = json.loads((run_dir / "resume.json").read_text())
    if not pdf:
        summary = traced["curate"]
        for stage, secs in summary["stage_seconds"].items():
            metrics[f"curate.{stage}_s"] = secs
        metrics["curate.kept_docs"] = summary["output_docs"]
    metrics["trace.overhead_ratio"] = (
        docs_per_s(plain["jobs"]) / docs_per_s(jobs))
    return metrics, plain["jobs"] + jobs, io_rows


if __name__ == "__main__":
    sys.exit(main())
