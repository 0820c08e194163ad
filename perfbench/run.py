#!/usr/bin/env python3
"""The repository benchmark. Run from the repository root:

    python3 perfbench/run.py --workload point_serve --seed 1 --seconds 10 --trace 0

Workloads: point_serve, churn, corpus_ingest (see
perfbench/README.md). Each run starts one fresh worker process with its
own working directory under .perfbench_work/, which is removed after the
run; Spark's scratch space, temp files and the warehouse all live there.

Prints one line per metric, then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list;
a traced run also writes its spans to .perfbench_out/.
Exits non-zero, printing no result, when the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("point_serve", "churn", "corpus_ingest")
WORKER_TIMEOUT_S = 170
EXIT_GRACE_S = 20  # how long the JVM may outlive the worker's Python
HEAP = "3g"  # the worker JVM's heap, initial and maximum; see _worker_env


def _tree(pid_root: int) -> dict[int, int]:
    """pid_root and every descendant, each mapped to its parent, from /proc."""
    parent = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            parent[int(name)] = int(fields[1])
        except (OSError, IndexError, ValueError):
            continue
    tree, frontier = {pid_root: parent.get(pid_root, 0)}, {pid_root}
    while frontier:
        kids = {p for p, pp in parent.items() if pp in frontier}
        tree.update((p, parent[p]) for p in kids)
        frontier = kids
    return tree


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def _pss_kb(pid: int) -> int:
    """Proportional resident set: pages shared by forked Spark Python
    workers are split between them, so a tree's sum counts them once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler(threading.Thread):
    """Peak resident memory (sum of Pss) of a process tree — the worker's
    Python, its JVM and Spark's Python workers — sampled every 100 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_kb = pid, 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(0.1):
            tree = _tree(self.pid)
            exe = {p: _exe(p) for p in tree}
            # a child the JVM is spawning shares the JVM's address space
            # until it execs, and smaps would count that space twice
            total = sum(_pss_kb(p) for p, pp in tree.items()
                        if not (exe[p].endswith("/java") and exe.get(pp) == exe[p]))
            self.peak_kb = max(self.peak_kb, total)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _kill_tree(proc: subprocess.Popen) -> None:
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()


def _wait_group_gone(pgid: int) -> None:
    """Block until no process of the worker's group is left (the JVM
    outlives the Python driver by a moment)."""
    end = time.time() + EXIT_GRACE_S
    while time.time() < end:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def _worker_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # A fixed, pre-touched heap, set through the package's own driver
    # memory setting. Left to G1 (the package's 8 GB maximum), the committed
    # heap, and with it the peak resident size, varied by a quarter between
    # runs; a pre-touched 3 GB start under the 8 GB maximum still grew past
    # 3 GB in one corpus_ingest run of four. The workloads need under 2 GB;
    # the JVM's peak heap use, which the worker reports, shows changes
    # below the fixed size.
    java_opts = (f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={work}"
                 f" -Xms{HEAP} -XX:+AlwaysPreTouch")
    env = dict(os.environ)
    env.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYTHONDONTWRITEBYTECODE": "1",
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", "spark.ui.showConsoleProgress=false",
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={work}/warehouse"),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell",
        ]),
    })
    for var in ("SPARK_MASTER", "MASTER", "PYSPARK_GATEWAY_PORT"):
        env.pop(var, None)
    return env


def _fmt(v) -> str:
    return f"{v:.6g}" if isinstance(v, float) else str(v)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "custom_vector_database_spark")):
        print("perfbench: the custom_vector_database_spark package is not "
              f"in {ROOT}; run from a repository checkout", file=sys.stderr)
        return 2
    with open(bench_json) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    spans = None
    if args.trace:
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        spans = os.path.join(out_dir, f"spans-{args.workload}-s{args.seed}.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--result", result_path]
    if spans:
        cmd += ["--spans", spans]
    try:
        env = _worker_env(work)
        env["PERFBENCH_T0"] = repr(time.time())
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    start_new_session=True)
            sampler = RssSampler(proc.pid)
            sampler.start()
            try:
                rc = proc.wait(timeout=WORKER_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                _kill_tree(proc)
                rc = "timeout"
            finally:
                sampler.stop()
                _wait_group_gone(proc.pid)
        if rc != 0 or not os.path.exists(result_path):
            with open(log_path, errors="replace") as f:
                tail = f.readlines()[-40:]
            print(f"perfbench: worker failed ({rc}); log tail:\n"
                  + "".join(tail), file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    measured = dict(res["layers"] if args.trace else res["metrics"])
    if args.trace:
        # a layer the workload never reaches reports 0
        for m in wanted:
            measured.setdefault(m["name"], 0.0)
    else:
        measured["peak_rss_mb"] = sampler.peak_kb / 1024.0
    failed, attempted = int(res["failed"]), int(res["attempted"])
    missing = [m["name"] for m in wanted if m["name"] not in measured
               or not math.isfinite(float(measured[m["name"]]))]
    if missing or attempted < 1:
        print(f"perfbench: metrics missing or not finite: {missing}",
              file=sys.stderr)
        return 1

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}"
          f"  trace {args.trace}")
    print("inputs " + json.dumps(res["info"], sort_keys=True))
    for m in wanted:
        print(f"  {m['name']:<34} {_fmt(measured[m['name']]):>14} {m['unit']}")
    print(f"  {'error_rate':<34} {_fmt(failed / attempted):>14} "
          f"({failed} failed / {attempted} attempted)")
    for k, v in sorted(res["extra"].items()):
        print(f"  {k}: {json.dumps(v)}")
    for e in res["errors"]:
        print(f"  error: {e}")
    out = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(measured[m["name"]]),
                                "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
