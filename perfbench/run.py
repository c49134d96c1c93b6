"""Pipeline benchmark: one command, four workloads, each in a fresh process.

    python3 perfbench/run.py --workload ingest_drain --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 8

A single-workload run generates the inputs from ``--seed`` (a separate
generator process), runs the workload in a fresh worker process, samples
the worker's process tree (driver, JVM, Python workers) for peak memory and
the host's steal time, and prints the result. Its last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``, where
the metrics are the end-to-end ones (``--trace 0``) or the per-layer ones
(``--trace 1``) named in BENCHMARK.json. The lines before it carry the full
report. A crashed, timed-out or missing workload exits non-zero and prints
no result.

``--workload all`` runs every workload untraced and traced, prints one
summary line per workload (with the tracing overhead) and exits non-zero
if any run failed or was incorrect.

Everything the run writes stays under ``.perfbench/`` next to this
directory; the per-run inputs and scratch are deleted when it ends.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import sysstat  # noqa: E402

WORKLOADS = ("ingest_drain", "ingest_paced", "join_drain", "curation_batch")
#: the worker is stopped after this many seconds; the whole run must end within 180
WORKER_TIMEOUT_S = 158.0
#: a run whose steal share exceeds this is flagged as contended
STEAL_FLAG = 0.05
PR_SET_CHILD_SUBREAPER = 36
#: report fields the summary of ``--workload all`` shows next to the metrics
REPORTED = ("error_ratio", "contended", "backlog_end_rows", "gen_lag_p99_ms",
            "fresh_limit_met")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _host_env(work: str) -> dict:
    """Host sizing and run hygiene: cores from the affinity mask, driver
    heap well under host RAM, and every local, warehouse and temp dir
    inside this run's own directory."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    env = dict(os.environ)
    for k in ("OMP_NUM_THREADS", "PYSPARK_SUBMIT_ARGS", "SPARK_CONF_DIR"):
        env.pop(k, None)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEMORY=f"{min(2048, total_mb // 4)}m",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        TMPDIR=tmp,
        # every JVM, the spark-submit launcher included: temp files here,
        # no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # Python workers import the engine from the checkout root
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        PYTHONDONTWRITEBYTECODE="1",
    )
    return env


def _reap_all(grace: float = 8.0) -> None:
    """Wait for every process left below this one (a JVM finishing its
    shutdown hooks), then stop what is still running after ``grace``."""
    me = os.getpid()
    start = time.time()
    while True:
        _wait_children()
        left = [p for p in sysstat.tree(me) if p != me]
        if not left:
            return
        waited = time.time() - start
        if waited > grace:
            sig = signal.SIGKILL if waited > grace + 4 else signal.SIGTERM
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def _wait_children() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


class Sampler(threading.Thread):
    """Peak summed RSS of the worker's process tree, with the per-process
    split at the peak."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak_mb, self.at_peak = pid, 0.0, {}
        self.stop_evt = threading.Event()

    def run(self):
        while not self.stop_evt.wait(0.25):
            split = sysstat.tree_rss_split(self.pid)
            total = sum(split.values())
            if total > self.peak_mb:
                self.peak_mb, self.at_peak = total, split


def run_one(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "runs", f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    env = _host_env(work)
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "make", "--workload",
                        workload, "--seed", str(seed), "--seconds", str(seconds), "--out", data],
                       check=True, env=env, timeout=60)
        result_path = os.path.join(work, "result.json")
        steal0, total0 = sysstat.cpu_ticks()
        env["PERFBENCH_T0"] = repr(time.time())
        worker = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), "--workload", workload,
             "--data", data, "--work", os.path.join(work, "w"), "--result", result_path,
             "--seconds", str(seconds), "--trace", str(trace)],
            env=env, stdout=sys.stderr)
        sampler = Sampler(worker.pid)
        sampler.start()
        try:
            rc = worker.wait(timeout=max(10.0, WORKER_TIMEOUT_S - (time.time() - t0)))
        except subprocess.TimeoutExpired:
            rc = None
        sampler.stop_evt.set()
        sampler.join()
        steal1, total1 = sysstat.cpu_ticks()
        if rc != 0:
            raise RuntimeError(f"worker for {workload} "
                               + ("timed out" if rc is None else f"exited with {rc}"))
        with open(result_path) as fh:
            res = json.load(fh)
        steal = (steal1 - steal0) / max(1, total1 - total0)
        res["e2e"]["peak_rss_mb"] = sampler.peak_mb
        res["report"].update(rss_at_peak_mb=sampler.at_peak, steal_share=steal, contended=steal > STEAL_FLAG,
                             run_wall_s=time.time() - t0)
        stem = os.path.join(out_dir, f"{workload}-s{seed}-t{trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(res, fh, indent=1)
        return res
    finally:
        _reap_all()
        shutil.rmtree(work, ignore_errors=True)


def _fmt(res: dict, names: list[dict], key: str) -> dict:
    metrics = {}
    for m in names:
        if m["name"] not in res[key]:
            raise RuntimeError(f"metric {m['name']} missing from the {key} result")
        metrics[m["name"]] = {"value": float(res[key][m["name"]]), "unit": m["unit"]}
    return metrics


def single(a) -> int:
    spec = _spec()
    try:
        res = run_one(a.workload, a.seed, a.seconds, a.trace)
        metrics = _fmt(res, spec["per_layer"] if a.trace else spec["end_to_end"],
                       "layers" if a.trace else "e2e")
    except Exception as err:  # noqa: BLE001 — any failure means no result
        print(f"perfbench: {a.workload} failed: {err}", file=sys.stderr)
        return 1
    report = {k: v for k, v in res["report"].items() if k != "spans"}
    print("perfbench-report " + json.dumps(
        {"workload": a.workload, "errors": res["errors"], "report": report,
         "e2e": res["e2e"], "layers": res["layers"]}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))
    return 0


def run_all(a) -> int:
    """Every workload, untraced then traced, each in a fresh process."""
    ok = True
    summary = {}
    for w in WORKLOADS:
        rows = {}
        for trace in (0, 1):
            p = subprocess.run([sys.executable, os.path.abspath(__file__), "--workload", w,
                                "--seed", str(a.seed), "--seconds", str(a.seconds),
                                "--trace", str(trace)], capture_output=True, text=True)
            last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            if p.returncode != 0 or not last.startswith("{"):
                print(f"{w} trace={trace}: FAILED (exit {p.returncode})\n{p.stderr[-2000:]}")
                ok = False
                continue
            rows[trace] = json.loads(last)
            rep = [ln for ln in p.stdout.splitlines() if ln.startswith("perfbench-report ")]
            if rep:
                rows[f"report{trace}"] = json.loads(rep[-1][len("perfbench-report "):])
            ok = ok and rows[trace]["correct"]
        if 0 in rows:
            line = {k: f"{v['value']:.4g} {v['unit']}" for k, v in rows[0]["metrics"].items()}
            line["correct"] = rows[0]["correct"]
            rep0 = rows.get("report0", {}).get("report", {})
            line.update({k: rep0[k] for k in REPORTED if k in rep0})
            if "report1" in rows:
                traced = rows["report1"]["e2e"]["rows_per_s"]
                line["trace_overhead"] = f"{1 - traced / rows[0]['metrics']['rows_per_s']['value']:+.1%}"
                selfs = rows["report1"]["report"].get("self_times", {})
                line["self_s"] = {k: round(v["self_s"], 3) for k, v in selfs.items()}
            summary[w] = line
            print(w, json.dumps(line))
            if "report1" in rows:
                print(w, "layers", json.dumps(rows["report1"]["layers"]))
    print(json.dumps({"all_ok": ok, "workloads": summary}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if a.seconds is None:
        a.seconds = _spec()["run_seconds"]
    return run_all(a) if a.workload == "all" else single(a)


if __name__ == "__main__":
    sys.exit(main())
