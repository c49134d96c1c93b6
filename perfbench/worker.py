"""One workload run in a fresh process; ``run.py`` starts it.

The worker drives the engine only through its public entry points
(``parse_pipeline_json``, ``compile_pipeline``/``run_batch``,
``StreamingPipeline.start``, ``ClickHouseSink``, ``DLQWriter``,
``operators.*``, ``resolve_dataop``) and reads Spark's own progress and
event-log reporting. It writes one result JSON: correctness counts,
end-to-end metrics, per-layer metrics (traced runs) and a report.

    python3 perfbench/worker.py --workload W --data DIR --work DIR --result FILE \
        --seconds S --trace 0|1
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import statistics
import subprocess
import sys
import time
from collections import Counter
from datetime import datetime

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import eventlog  # noqa: E402
import gen  # noqa: E402
import sysstat  # noqa: E402
from trace import Tracer, self_times  # noqa: E402

#: every wait in a run ends by this many seconds after launch
DEADLINE_S = 150.0
#: operator-prefix probe of traced ingest_drain runs: backlog files read, repeats per prefix
PREFIX_FILES = 10
PREFIX_REPEATS = 3
PINNED = os.path.join(HERE, "pinned_digests.json")


class BenchError(RuntimeError):
    pass


def wpct(pairs, q: float) -> float:
    """Weighted percentile of (value, weight) pairs."""
    pairs = sorted(p for p in pairs if p[1] > 0)
    if not pairs:
        return 0.0
    tot = sum(w for _, w in pairs)
    acc = 0.0
    for v, w in pairs:
        acc += w
        if acc >= q * tot:
            return v
    return pairs[-1][0]


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def input_rows(q) -> dict[int, int]:
    """Input rows per batch id; an idle progress event may repeat an id
    with 0 rows, so the largest count per id wins."""
    out: dict[int, int] = {}
    for p in progress(q):
        out[p["batchId"]] = max(out.get(p["batchId"], 0), p.get("numInputRows", 0))
    return out


def parquet_rows(path: str, columns=None) -> list[tuple]:
    """All rows of the parquet files under ``path`` (hive-style dirs
    included), read with pyarrow so the check does not use the engine."""
    import pyarrow.parquet as pq

    rows = []
    for root, _, names in os.walk(path):
        for n in sorted(names):
            if n.endswith(".parquet"):
                t = pq.read_table(os.path.join(root, n), columns=columns)
                rows.extend(zip(*[t.column(c).to_pylist() for c in t.column_names]))
    return rows


def committed(ckpt: str) -> set[int]:
    d = os.path.join(ckpt, "commits")
    return {int(n) for n in os.listdir(d) if n.isdigit()} if os.path.isdir(d) else set()


def sink_rows_by_batch(path: str, columns, batch_ids: set[int]) -> dict[int, list[tuple]]:
    out = {}
    if not os.path.isdir(path):
        return out
    for d in os.listdir(path):
        if d.startswith("_batch_id=") and int(d.split("=")[1]) in batch_ids:
            out[int(d.split("=")[1])] = parquet_rows(os.path.join(path, d), columns)
    return out


_ID_RE = re.compile(r'"id": (\d+)')


def dlq_ids(path: str) -> list[int]:
    if not os.path.isdir(path):
        return []
    return [int(_ID_RE.search(p[0]).group(1)) for p in parquet_rows(path, ["payload"])]


def diff(expected, got) -> tuple[int, int]:
    """(lost, extra) between two multisets of rows."""
    e, g = Counter(map(tuple, expected)), Counter(map(tuple, got))
    return sum((e - g).values()), sum((g - e).values())


class TimedDLQ:
    """DLQWriter wrapper that times each write and, when traced, counts the
    rows through an observed metric on the written frame."""

    def __init__(self, inner, run, parent=None):
        self.inner, self.run, self.parent = inner, run, parent
        self.writes: list[dict] = []

    def write(self, df) -> None:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = None
        if self.run.tracer.enabled:
            obs = Observation()
            df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        t = time.time()
        with self.run.tracer.span("dlq.write", parent=self.parent):
            self.inner.write(df)
        self.writes.append({"start": t, "end": time.time(),
                            "rows": obs.get["rows"] if obs is not None else None})


class Stream:
    """One deployed StreamingPipeline with timed sink and DLQ callbacks."""

    def __init__(self, run, name, doc, sources, ts_cols, trigger, with_dlq):
        self.run, self.name = run, name
        self.base = os.path.join(run.work, name)
        self.doc, self.sources, self.ts_cols = doc, sources, ts_cols
        self.trigger, self.with_dlq = trigger, with_dlq
        self.batches: list[dict] = []
        self.span = None
        self.dlq = None

    def start(self):
        from clickhouse_etl_spark.sinks import ClickHouseSink, DLQWriter
        from clickhouse_etl_spark.spec import parse_pipeline_json
        from clickhouse_etl_spark.streaming import StreamingPipeline

        tr = self.run.tracer
        self.t_parse = time.time()
        with tr.span("spec.parse", parent=self.span):
            spec = parse_pipeline_json(json.dumps(self.doc))
        self.sink = ClickHouseSink(table=spec.sink.table,
                                   parquet_fallback_path=os.path.join(self.base, "sink"))
        if self.with_dlq:
            self.dlq = TimedDLQ(DLQWriter(os.path.join(self.base, "dlq")), self.run, self.span)
        self.pipe = StreamingPipeline(spec=spec, checkpoint_dir=os.path.join(self.base, "ckpt"))
        with tr.span("streaming.start", parent=self.span):
            self.q = self.pipe.start(self.run.spark, sources=self.sources(),
                                     ts_cols=self.ts_cols, sink_fn=self._sink_fn,
                                     trigger=self.trigger, dlq_writer=self.dlq)
        return self

    def _sink_fn(self, df, batch_id):
        t = time.time()
        try:
            with self.run.tracer.span("sinks.write_batch", parent=self.span):
                rep = self.sink.write_batch(df, batch_id)
        except Exception:
            self.batches.append({"batch_id": batch_id, "start": t, "end": time.time(),
                                 "rows": -1, "outcome": "retry"})
            raise
        self.batches.append({"batch_id": batch_id, "start": t, "end": time.time(),
                             "rows": rep.rows, "outcome": rep.outcome})

    def queries(self):
        return [self.q] + list(self.pipe.dlq_queries or [])

    def check_alive(self):
        for q in self.queries():
            if q.exception() is not None:
                raise BenchError(f"{self.name}: query failed: {q.exception()}")

    def wait_first_commit(self) -> float:
        while not self.batches:
            self.check_alive()
            if not self.q.isActive:
                raise BenchError(f"{self.name}: query ended before its first commit")
            self.run.check_deadline()
            time.sleep(0.005)
        return self.batches[0]["end"]

    def await_end(self):
        for q in self.queries():
            q.awaitTermination(max(1.0, self.run.remaining()))
            if q.isActive:
                raise BenchError(f"{self.name}: drain did not finish before the deadline")
        self.check_alive()

    def stop(self):
        for q in self.queries():
            q.stop()

    def main_ckpt(self):
        return os.path.join(self.base, "ckpt", "main")


class Run:
    def __init__(self, a):
        self.workload, self.seconds = a.workload, a.seconds
        self.data, self.work = a.data, a.work
        self.tracer = Tracer(bool(a.trace))
        self.t0 = float(os.environ.get("PERFBENCH_T0", time.time()))
        self.manifest = json.load(open(os.path.join(self.data, "manifest.json")))
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.report: dict = {"workload": self.workload, "seed": self.manifest["seed"]}
        self.batch_records: list[dict] = []
        self.errors = Counter()
        self.attempted = 0
        self.setups: list[float] = []
        self.groups: list[str] = []

    def remaining(self) -> float:
        return DEADLINE_S - (time.time() - self.t0)

    def check_deadline(self):
        if self.remaining() <= 0:
            raise BenchError("run exceeded its deadline")

    def start_session(self, cpus: int | None = None):
        from clickhouse_etl_spark.session import get_spark

        self.eventlog_dir = os.path.join(self.work, "eventlog")
        os.makedirs(self.eventlog_dir, exist_ok=True)
        conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.eventlog_dir,
            "spark.eventLog.compress": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        }
        master = f"local[{cpus}]" if cpus else None
        with self.tracer.span("session.start"):
            self.spark = get_spark(app_name=f"perfbench-{self.workload}", master=master,
                                   extra_conf=conf)
        self.session_start_s = time.time() - self.t0
        self.layers["session.start_s"] = self.session_start_s

    # ------------------------------------------------------------ helpers

    def cpu(self) -> float:
        return sysstat.tree_cpu_s(os.getpid())

    def record_setup(self, first_commit: float, t_parse: float):
        """Set-up time ending at a first committed batch. The first set-up
        of the process runs from process launch; later ones add the
        session start to their parse -> first-commit time."""
        if not self.setups:
            s = first_commit - self.t0
            self.report["setup_first_commit_s"] = s
        else:
            s = self.session_start_s + (first_commit - t_parse)
        self.setups.append(s)

    def freshness(self, pairs):
        """pairs: (fresh_ms, rows)."""
        self.e2e["fresh_p50_ms"] = wpct(pairs, 0.5)
        self.e2e["fresh_p90_ms"] = wpct(pairs, 0.9)

    def count_errors(self, label, lost=0, extra=0, misdlq=0, failed_batches=0):
        self.errors[f"{label}.lost"] += lost
        self.errors[f"{label}.extra"] += extra
        self.errors[f"{label}.misdlq"] += misdlq
        self.errors[f"{label}.failed_batches"] += failed_batches

    def failed(self) -> int:
        return sum(self.errors.values())

    def error_ratio(self) -> float:
        """(lost + extra + mis-DLQ'd rows + failed batches) / rows attempted."""
        return self.failed() / max(1, self.attempted)

    def stream_layers(self, st: Stream, join: bool = False):
        """streaming.* / state.* / join.* / sinks.* from the runner's own
        reports and the query's recentProgress."""
        # one progress entry per executed batch (idle events may repeat an id)
        by_batch: dict[int, dict] = {}
        for p in progress(st.q):
            if p.get("numInputRows", 0) >= by_batch.get(p["batchId"], {}).get("numInputRows", 0):
                by_batch[p["batchId"]] = p
        prog = [by_batch[b["batch_id"]] for b in st.batches if b["batch_id"] in by_batch]
        durs = [b["end"] - b["start"] for b in st.batches]
        gaps = [st.batches[i + 1]["start"] - st.batches[i]["end"]
                for i in range(len(st.batches) - 1)]
        L = self.layers
        L["streaming.batches"] = len(st.batches)
        L["streaming.empty_batch_ratio"] = (
            sum(1 for p in prog if p.get("numInputRows", 0) == 0) / len(prog) if prog else 0.0)
        L["streaming.batch_p50_s"] = median(durs)
        L["streaming.batch_tail_s"] = max(durs) if durs else 0.0
        L["streaming.gap_p50_s"] = median(gaps)
        for key, name in (("queryPlanning", "query_planning_ms"), ("walCommit", "wal_commit_ms"),
                          ("commitOffsets", "commit_offsets_ms"),
                          ("latestOffset", "latest_offset_ms"), ("addBatch", "add_batch_ms")):
            L[f"streaming.{name}"] = median(
                p.get("durationMs", {}).get(key, 0) for p in prog if p.get("numInputRows", 0))
        L["sinks.rows_written"] = sum(b["rows"] for b in st.batches if b["outcome"] == "written")
        for outcome in ("written", "dlq", "retry"):
            L[f"sinks.batches_{outcome}"] = sum(1 for b in st.batches if b["outcome"] == outcome)
        files, size = 0, 0
        for root, _, names in os.walk(os.path.join(st.base, "sink")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(root, n))
        L["sinks.files_written"] = files
        L["sinks.bytes_written"] = size
        states = []
        for p in prog:
            ops = p.get("stateOperators") or []
            states.append({
                "rows_total": sum(o.get("numRowsTotal", 0) for o in ops),
                "memory_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                "commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                "dropped": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
                "updated": {o.get("operatorName", "?"): o.get("numRowsUpdated", 0) for o in ops},
            })
        L["state.rows_total"] = states[-1]["rows_total"] if states else 0
        L["state.memory_bytes"] = max((s["memory_bytes"] for s in states), default=0)
        L["state.commit_ms"] = median(s["commit_ms"] for s in states)
        L["state.dropped_by_watermark"] = sum(s["dropped"] for s in states)
        if join:
            L["join.add_batch_s"] = median(
                p.get("durationMs", {}).get("addBatch", 0) / 1000 for p in prog
                if p.get("numInputRows", 0))
            L["join.keys_per_batch"] = median(
                sum(v for k, v in s["updated"].items() if "dedup" not in k.lower())
                for s in states)
        for b in st.batches:
            p = by_batch.get(b["batch_id"], {})
            self.batch_records.append({
                "query": st.name, "batch_id": b["batch_id"],
                "input_rows": p.get("numInputRows"), "output_rows": b["rows"],
                "state_rows": sum(o.get("numRowsTotal", 0) for o in p.get("stateOperators") or []),
                "sink_outcome": b["outcome"], "duration_s": b["end"] - b["start"],
            })
        if st.dlq is not None:
            self._dlq_layers(st)

    def _dlq_layers(self, st: Stream):
        """The DLQ branch is its own query with its own micro-batches: one
        record per DLQ batch, with the rows its writes counted (a write
        belongs to the batch whose trigger interval contains it)."""
        parsed = 0
        for q in st.pipe.dlq_queries:
            for p in progress(q):
                if not p.get("numInputRows"):
                    continue  # a no-data progress event, not a batch
                parsed += p["numInputRows"]
                t0 = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
                t1 = t0 + p.get("durationMs", {}).get("triggerExecution", 0) / 1000
                rows = sum(w["rows"] or 0 for w in st.dlq.writes if t0 <= w["start"] <= t1)
                self.batch_records.append({
                    "query": f"{st.name}.dlq", "batch_id": p["batchId"],
                    "input_rows": p.get("numInputRows"), "dlq_rows": rows})
        dlq_rows = sum(w["rows"] or 0 for w in st.dlq.writes)
        self.layers["dlq.rows"] = dlq_rows
        self.layers["dlq.parse_useful_ratio"] = dlq_rows / parsed if parsed else 0.0

    def exec_layers(self):
        """exec.* from the event log, for the measured job groups."""
        groups = eventlog.fold(self.eventlog_dir)
        tot = eventlog.total(groups, self.groups)
        for k, v in tot.items():
            self.layers[f"exec.{k}"] = v


# ------------------------------------------------------------- workloads

def _ingest_setups(run: Run, doc, paced: bool):
    """Two more set-ups over one batch of fresh input each."""
    for k, s in enumerate(run.manifest["setups"]):
        src = os.path.join(run.data, s["dir"])
        if paced:
            watched = os.path.join(run.work, f"setup{k}-watched")
            _fill_paced(src, watched)
            src = watched
        # paced: None leaves the spec's own max_delay_time trigger
        trig = None if paced else {"availableNow": True}
        st = Stream(run, f"setup{k}", doc,
                    lambda src=src: {"events": run.spark.readStream.option(
                        "maxFilesPerTrigger", gen.INGEST_FILES_PER_BATCH).text(src)},
                    {"events": "ts"}, trig, with_dlq=True).start()
        first = st.wait_first_commit()
        run.record_setup(first, st.t_parse)
        if paced:
            _wait_files(run, st, 1, None)
            st.stop()
        else:
            st.await_end()
        got = sum(len(r) for r in sink_rows_by_batch(
            os.path.join(st.base, "sink"), ["id"], committed(st.main_ckpt())).values())
        n_dlq = len(dlq_ids(os.path.join(st.base, "dlq")))
        lost, extra = max(0, s["ok_rows"] - got), max(0, got - s["ok_rows"])
        run.count_errors("setup", lost=lost, extra=extra, misdlq=abs(n_dlq - s["dlq_rows"]))
        run.attempted += s["ok_rows"] + s["dlq_rows"]


def _fill_paced(src: str, dst: str) -> None:
    """Copy set-up files into a watched dir, stamped as due now. Names get
    a ``warm-`` prefix so the feeder's files never replace one the source
    has already seen."""
    os.makedirs(dst, exist_ok=True)
    due = str(int(time.time() * 1000))
    for n in sorted(os.listdir(src)):
        with open(os.path.join(src, n)) as fh:
            body = fh.read().replace(gen.DUE_PLACEHOLDER, due)
        with open(os.path.join(dst, "warm-" + n), "w") as fh:
            fh.write(body)


def committed_files(ckpt: str) -> set[str]:
    """Input files of the committed batches of one query, from its
    checkpoint: the file source logs each batch's files under
    ``sources/0/<batch>`` (``<batch>.compact`` holds all files up to it)."""
    done = committed(ckpt)
    d = os.path.join(ckpt, "sources", "0")
    files = set()
    for n in os.listdir(d) if os.path.isdir(d) else ():
        if n.split(".")[0].isdigit() and int(n.split(".")[0]) in done:
            with open(os.path.join(d, n)) as fh:
                files.update(json.loads(ln)["path"] for ln in fh.read().splitlines()[1:] if ln)
    return files


def _wait_files(run: Run, st: Stream, n_files: int, timeout_at: float | None) -> bool:
    """Wait until the main and the DLQ query have both committed batches
    covering ``n_files`` input files. (Their numInputRows cannot tell:
    the DLQ branch scans part of each batch twice, once for isEmpty.)"""
    ckpts = [st.main_ckpt()] + [os.path.join(st.base, "ckpt", f"dlq_{src.source_id}")
                                for src in st.pipe.spec.sources if st.pipe.dlq_queries]
    while True:
        st.check_alive()
        if all(len(committed_files(c)) >= n_files for c in ckpts):
            return True
        if timeout_at is not None and time.time() > timeout_at:
            return False
        run.check_deadline()
        time.sleep(0.05)


def _verify_ingest(run: Run, st: Stream, batches: dict[int, list[tuple]], paced_log=None):
    m = run.manifest
    got = [r[:5] for rows in batches.values() for r in rows]
    lost, extra = diff(m["expected_ok"], got)
    exp_dlq, got_dlq = Counter(m["expected_dlq"]), Counter(dlq_ids(os.path.join(st.base, "dlq")))
    misdlq = sum((exp_dlq - got_dlq).values()) + sum((got_dlq - exp_dlq).values())
    failed = sum(1 for b in st.batches if b["outcome"] != "written")
    if paced_log is not None:
        due_by_file = {int(e["file"][5:10]): int(round(e["due"] * 1000)) for e in paced_log}
        wrong_due = sum(1 for rows in batches.values() for r in rows
                        if due_by_file.get(r[0] // m["file_rows"]) != r[5])
        extra += wrong_due
    run.count_errors("main", lost, extra, misdlq, failed)
    run.attempted += m["rows"]


def ingest_drain(run: Run):
    m = run.manifest
    doc = m["spec"]
    backlog = os.path.join(run.data, m["input_dir"])
    run.start_session()
    _ingest_setups(run, doc, paced=False)
    with run.tracer.span("bench.drain") as drain_span:
        st = Stream(run, "drain", doc,
                    lambda: {"events": run.spark.readStream.option(
                        "maxFilesPerTrigger", m["files_per_batch"]).text(backlog)},
                    {"events": "ts"}, {"availableNow": True}, with_dlq=True)
        st.span = drain_span
        cpu0 = run.cpu()
        st.start()
        run.record_setup(st.wait_first_commit(), st.t_parse)
        st.await_end()
        cpu1 = run.cpu()
    _drain_metrics(run, st, cpu1 - cpu0)
    run.groups += [str(q.runId) for q in st.queries()]
    batches = sink_rows_by_batch(os.path.join(st.base, "sink"),
                                 ["id", "user", "cents", "kind", "event_s"],
                                 committed(st.main_ckpt()))
    _verify_ingest(run, st, batches)
    if run.tracer.enabled:
        run.stream_layers(st)
        _operator_prefixes(run, doc, backlog)


def _drain_metrics(run: Run, st: Stream, cpu_s: float):
    """Drain throughput the way the reference measures it: input rows over
    the time from query start to the last commit. The set-up queries that
    ran before the drain are its warm-up. fresh_* runs from the drain
    start (the whole backlog is due then) to each batch's commit."""
    inputs = input_rows(st.q)
    bs = sorted(st.batches, key=lambda b: b["batch_id"])
    if len(bs) < 2:
        raise BenchError("drain needs at least two micro-batches")
    rows = sum(inputs.get(b["batch_id"], 0) for b in bs)
    run.e2e["rows_per_s"] = rows / (bs[-1]["end"] - st.t_parse)
    run.e2e["cpu_s"] = cpu_s
    run.freshness([((b["end"] - st.t_parse) * 1000, inputs.get(b["batch_id"], 0)) for b in bs])
    run.report["drain_batches"] = len(bs)
    run.report["drain_s"] = bs[-1]["end"] - st.t_parse


def _operator_prefixes(run: Run, doc, backlog: str):
    """Marginal batch-path cost of each prefix of the ingest chain:
    read -> validate -> filter -> transform -> mapping, each prefix run
    to a noop sink; plus the expression translation time."""
    from clickhouse_etl_spark.operators.filter import apply_filter
    from clickhouse_etl_spark.operators.mapper import apply_sink_mapping
    from clickhouse_etl_spark.operators.transform import apply_transform
    from clickhouse_etl_spark.operators.validate import validate_json
    from clickhouse_etl_spark.spec import parse_pipeline_json

    spec = parse_pipeline_json(json.dumps(doc))
    src = spec.sources[0]
    files = sorted(os.listdir(backlog))[:PREFIX_FILES]
    raw = run.spark.read.text([os.path.join(backlog, f) for f in files])
    ok = validate_json(raw, src.schema_fields)[0]
    t = time.perf_counter()
    with run.tracer.span("expr.translate"):
        filtered = apply_filter(ok, src.filter)
        transformed = apply_transform(filtered, src.transform)
    run.layers["expr.translate_s"] = time.perf_counter() - t
    mapped = apply_sink_mapping(transformed, spec.sink.mapping)
    prev = 0.0
    for name, frame in (("read", raw), ("validate", ok), ("filter", filtered),
                        ("transform", transformed), ("mapping", mapped)):
        times = []
        for _ in range(PREFIX_REPEATS):
            t = time.perf_counter()
            with run.tracer.span(f"operators.{name}"):
                frame.write.format("noop").mode("overwrite").save()
            times.append(time.perf_counter() - t)
        # fastest of the repeats; a marginal within noise may read below 0
        run.layers[f"operators.{name}_s"] = min(times) - prev
        prev = min(times)


def ingest_paced(run: Run):
    m = run.manifest
    doc = m["spec"]
    watched = os.path.join(run.work, "watched")
    os.makedirs(watched)
    run.start_session()
    _ingest_setups(run, doc, paced=True)
    with run.tracer.span("bench.paced") as span:
        st = Stream(run, "paced", doc,
                    lambda: {"events": run.spark.readStream.text(watched)},
                    {"events": "ts"}, None, with_dlq=True)
        st.span = span
        st.start()
        # warm-up file: the first committed micro-batch ends set-up
        warm = run.manifest["setups"][0]
        _fill_paced(os.path.join(run.data, warm["dir"]), watched)
        run.record_setup(st.wait_first_commit(), st.t_parse)
        _wait_files(run, st, 1, None)
        n_warm_batches = len(st.batches)
        log_path = os.path.join(run.work, "feed-log.json")
        start = time.time() + 1.0
        cpu0 = run.cpu()
        feeder = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "feed",
             "--src", os.path.join(run.data, m["input_dir"]), "--dst", watched,
             "--interval-s", str(gen.PACED_INTERVAL_S), "--start", repr(start),
             "--log", log_path])
        with run.tracer.span("bench.feeder"):
            _, status, ru = os.wait4(feeder.pid, 0)
        feeder.returncode = os.waitstatus_to_exitcode(status)
        if feeder.returncode != 0:
            raise BenchError(f"feeder exited with {feeder.returncode}")
        gen_end = time.time()
        total_rows = warm["ok_rows"] + warm["dlq_rows"] + m["rows"]
        in_by_batch = input_rows(st.q)
        done_by_end = sum(in_by_batch.get(b["batch_id"], 0) for b in st.batches
                          if b["end"] <= gen_end)
        run.report["backlog_end_rows"] = total_rows - done_by_end
        if not _wait_files(run, st, 1 + m["files"], time.time() + 30):
            run.report["drain_timeout"] = True
        cpu1 = run.cpu() - (ru.ru_utime + ru.ru_stime)
        st.stop()
    in_by_batch = input_rows(st.q)
    feed_log = json.load(open(log_path))
    lags = sorted((e["moved"] - e["due"]) * 1000 for e in feed_log)
    run.report["gen_lag_p99_ms"] = lags[min(len(lags) - 1, int(0.99 * len(lags)))]
    run.e2e["cpu_s"] = cpu1 - cpu0
    ok_batches = committed(st.main_ckpt())
    batches = sink_rows_by_batch(os.path.join(st.base, "sink"),
                                 ["id", "user", "cents", "kind", "event_s", "due_ms"], ok_batches)
    end_by_batch = {b["batch_id"]: b["end"] for b in st.batches}
    fresh = []
    for bid, rows in batches.items():
        for r in rows:
            if r[5] >= start * 1000 - 1:  # paced rows; warm-up rows carry an earlier stamp
                fresh.append((end_by_batch[bid] * 1000 - r[5], 1))
    run.freshness(fresh)
    paced_batches = st.batches[n_warm_batches:]
    rows_paced = sum(in_by_batch.get(b["batch_id"], 0) for b in paced_batches)
    last_end = max((b["end"] for b in paced_batches), default=gen_end)
    run.e2e["rows_per_s"] = rows_paced / max(1e-9, last_end - start)
    limit_ms = 3000.0
    run.report.update(
        fresh_limit_ms=limit_ms, fresh_limit_met=run.e2e["fresh_p90_ms"] <= limit_ms,
        paced_batches=len(paced_batches),
        batches_beyond_p90=sum(1 for b in paced_batches
                               if any(r[5] and end_by_batch[b["batch_id"]] * 1000 - r[5]
                                      > run.e2e["fresh_p90_ms"]
                                      for r in batches.get(b["batch_id"], []))),
        offered_rows_per_s=gen.PACED_FILE_ROWS / gen.PACED_INTERVAL_S)
    run.groups += [str(q.runId) for q in st.queries()]
    warm_rows = [r for rows in batches.values() for r in rows if r[5] < start * 1000 - 1]
    main_rows = {bid: [r for r in rows if r[5] >= start * 1000 - 1] for bid, rows in batches.items()}
    lost_w = max(0, warm["ok_rows"] - len(warm_rows))
    run.count_errors("warmup", lost=lost_w, extra=max(0, len(warm_rows) - warm["ok_rows"]))
    run.attempted += warm["ok_rows"] + warm["dlq_rows"]
    # the warm-up file's DLQ rows land in the same DLQ table
    m["expected_dlq"] = m["expected_dlq"] + warm["dlq_ids"]
    _verify_ingest(run, st, main_rows, feed_log)
    if run.tracer.enabled:
        run.stream_layers(st)


def join_drain(run: Run):
    from pyspark.sql import types as T

    m = run.manifest
    doc = m["spec"]
    O = T.StructType([T.StructField("order_id", T.LongType()),
                      T.StructField("user_id", T.StringType()),
                      T.StructField("amount", T.DoubleType()),
                      T.StructField("ots", T.TimestampType())])
    U = T.StructType([T.StructField("user_id", T.StringType()),
                      T.StructField("tier", T.StringType()),
                      T.StructField("region", T.StringType()),
                      T.StructField("uts", T.TimestampType())])

    def sources(base):
        def make():
            rs = run.spark.readStream
            return {"orders": rs.schema(O).option("maxFilesPerTrigger", 1).parquet(
                        os.path.join(base, "orders")),
                    "users": run.spark.readStream.schema(U).option(
                        "maxFilesPerTrigger", 1).parquet(os.path.join(base, "users"))}
        return make

    ts_cols = {"orders": "ots", "users": "uts"}
    run.start_session()
    for k, s in enumerate(m["setups"]):
        su = Stream(run, f"setup{k}", doc, sources(os.path.join(run.data, s["dir"])), ts_cols,
                    {"availableNow": True}, with_dlq=False).start()
        run.record_setup(su.wait_first_commit(), su.t_parse)
        su.await_end()
        n = sum(len(r) for r in sink_rows_by_batch(
            os.path.join(su.base, "sink"), ["order_id"], committed(su.main_ckpt())).values())
        run.count_errors("setup", lost=max(0, s["ok_rows"] - n), extra=max(0, n - s["ok_rows"]))
        run.attempted += s["ok_rows"]
    cols = ["order_id", "user_id", "amount", "tier", "region"]
    with run.tracer.span("bench.drain") as span:
        st = Stream(run, "drain", doc, sources(os.path.join(run.data, "backlog")), ts_cols,
                    {"availableNow": True}, with_dlq=False)
        st.span = span
        cpu0 = run.cpu()
        st.start()
        run.record_setup(st.wait_first_commit(), st.t_parse)
        st.await_end()
        cpu1 = run.cpu()
    _drain_metrics(run, st, cpu1 - cpu0)
    run.groups += [str(q.runId) for q in st.queries()]
    batches = sink_rows_by_batch(os.path.join(st.base, "sink"), cols, committed(st.main_ckpt()))
    got = [r for rows in batches.values() for r in rows]
    lost, extra = diff(m["expected_ok"], got)
    failed = sum(1 for b in st.batches if b["outcome"] != "written")
    run.count_errors("main", lost, extra, 0, failed)
    run.attempted += m["rows"]
    if run.tracer.enabled:
        run.stream_layers(st, join=True)


def curation_batch(run: Run):
    from clickhouse_etl_spark.plans import compile_pipeline
    from clickhouse_etl_spark.spec import parse_pipeline_json

    m = run.manifest
    run.start_session()
    spark = run.spark
    sc = spark.sparkContext
    tr = run.tracer
    corpus = spark.read.parquet(os.path.join(run.data, "corpus"))

    def chain(inputs, tag):
        """parse -> compile -> run_batch (build) -> noop write (exec)."""
        with tr.span("spec.parse"):
            spec = parse_pipeline_json(json.dumps(m["spec"]))
        t = time.perf_counter()
        with tr.span("plans.compile"):
            plan = compile_pipeline(spec)
        t_compile = time.perf_counter() - t
        sc.setJobGroup(f"{tag}.build", tag)
        t = time.perf_counter()
        with tr.span("plans.build"):
            out = plan.run_batch({"documents": inputs})
        t_build = time.perf_counter() - t
        sc.setJobGroup(f"{tag}.exec", tag)
        t = time.perf_counter()
        with tr.span("plans.exec"):
            out.write.format("noop").mode("overwrite").save()
        t_exec = time.perf_counter() - t
        sc.setJobGroup("perfbench.other", "other")
        jobs = lambda g: len(sc.statusTracker().getJobIdsForGroup(g))  # noqa: E731
        return out, {"compile_s": t_compile, "build_s": t_build, "exec_s": t_exec,
                     "build_jobs": jobs(f"{tag}.build"), "exec_jobs": jobs(f"{tag}.exec")}

    # Every chain runs over the whole corpus. The cold first one ends the
    # first set-up; the next two are set-up samples too (session start +
    # chain) and, like all later ones, measured iterations.
    t = time.time()
    with tr.span("bench.chain"):
        chain(corpus, "cold")
    run.record_setup(time.time(), t)
    iters = []
    t_start = time.time()
    while len(iters) < 5 or (time.time() - t_start < run.seconds and len(iters) < 9):
        run.check_deadline()
        tag = f"chain{len(iters)}"
        cpu0 = run.cpu()
        t = time.time()
        with tr.span("bench.chain"):
            out, info = chain(corpus, tag)
        info.update(wall_s=time.time() - t, cpu_s=run.cpu() - cpu0)
        if len(iters) < 2:
            run.record_setup(time.time(), t)
        iters.append(info)
        run.groups += [f"{tag}.build", f"{tag}.exec"]
    walls = [i["wall_s"] for i in iters]
    n = m["rows"]
    run.e2e["rows_per_s"] = median(n / (i["build_s"] + i["exec_s"]) for i in iters)
    run.e2e["cpu_s"] = median(i["cpu_s"] for i in iters)
    run.freshness([(w * 1000, n) for w in walls])
    run.report["iterations"] = len(iters)
    run.report["iteration_walls_s"] = walls
    for key in ("compile_s", "build_s", "exec_s", "build_jobs", "exec_jobs"):
        run.layers[f"plans.{key}"] = median(i[key] for i in iters)
    # correctness, once, outside the timed iterations
    rows = [(r["doc_id"], r["n_lines_kept"], r["text_dedup"])
            for r in out.select("doc_id", "n_lines_kept", "text_dedup").collect()]
    digest = gen.curation_digest(rows)
    ids = Counter(r[0] for r in rows)
    hashes = Counter(hashlib.sha1(r[2].encode()).hexdigest() for r in rows)
    shared_hash = sum(c - 1 for c in hashes.values() if c > 1)
    out_ids = set(ids)
    bad_groups = sum(1 for ids, kept in m["duplicate_groups"]
                     if len(out_ids.intersection(ids)) != kept)
    extra = sum(c - 1 for c in ids.values() if c > 1) + shared_hash
    lost = max(0, m["expected_rows"] - len(out_ids))
    wrong = 0 if digest == m["expected_digest"] else max(1, abs(len(rows) - m["expected_rows"]))
    pinned = json.load(open(PINNED)) if os.path.exists(PINNED) else {}
    key = f"{m['seed']}:{gen.CURATION_DOCS}"
    if key in pinned and pinned[key] != m["expected_digest"]:
        raise BenchError("generator drifted: reference digest differs from the pinned one")
    run.count_errors("main", lost=lost, extra=extra + wrong)
    run.errors["main.duplicate_groups"] += bad_groups
    run.attempted += n
    run.report.update(output_docs=len(rows), digest=digest, digest_pinned=key in pinned,
                      duplicate_groups=len(m["duplicate_groups"]), bad_groups=bad_groups)
    if tr.enabled:
        _dataop_layers(run, corpus)


def _dataop_layers(run: Run, corpus):
    """Each resolved op timed as it is called, with the Spark jobs it
    starts while the frame is built."""
    from clickhouse_etl_spark.plans.compiler import resolve_dataop

    sc = run.spark.sparkContext
    df = corpus
    for op in gen.CURATION_OPS:
        fn = resolve_dataop(op)
        sc.setJobGroup(f"dataops.{op}", op)
        t = time.perf_counter()
        with run.tracer.span(f"dataops.{op}"):
            df = fn(df)
        run.layers[f"dataops.{op}.build_s"] = time.perf_counter() - t
        run.layers[f"dataops.{op}.jobs"] = len(sc.statusTracker().getJobIdsForGroup(
            f"dataops.{op}"))
    sc.setJobGroup("perfbench.other", "other")


#: layer counts that are truly zero on a workload that does not run the layer
ZERO_WHERE_ABSENT = (
    "streaming.batches", "sinks.files_written", "sinks.bytes_written", "state.rows_total",
    "state.memory_bytes", "plans.build_jobs", "plans.exec_jobs",
)

WORKLOADS = {
    "ingest_drain": ingest_drain,
    "ingest_paced": ingest_paced,
    "join_drain": join_drain,
    "curation_batch": curation_batch,
}


def local1_baseline(a) -> int:
    """Single-thread (local[1]) drain of one set-up batch, one file per
    micro-batch, in a fresh process: the baseline the traced ingest_drain
    run reports next to the full-width numbers. The JVM is cold here, so
    the rate is over the batches after the first."""
    run = Run(a)
    run.start_session(cpus=1)
    m = run.manifest
    src = os.path.join(run.data, m["setups"][1]["dir"])
    st = Stream(run, "local1", m["spec"],
                lambda: {"events": run.spark.readStream.option(
                    "maxFilesPerTrigger", 1).text(src)},
                {"events": "ts"}, {"availableNow": True}, with_dlq=True).start()
    st.wait_first_commit()
    st.await_end()
    inputs = input_rows(st.q)
    bs = sorted(st.batches, key=lambda b: b["batch_id"])
    rate = sum(inputs.get(b["batch_id"], 0) for b in bs[1:]) / (bs[-1]["end"] - bs[0]["end"])
    run.spark.stop()
    with open(a.result, "w") as fh:
        json.dump({"rows_per_s": rate}, fh)
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--local1", action="store_true")
    a = ap.parse_args(argv)
    os.makedirs(a.work, exist_ok=True)
    if a.local1:
        return local1_baseline(a)
    run = Run(a)
    wall0 = time.perf_counter()
    WORKLOADS[a.workload](run)
    run.e2e["setup_s"] = median(run.setups)
    run.report["setup_samples_s"] = run.setups
    run.report["wall_s"] = time.perf_counter() - wall0
    run.spark.stop()
    if run.tracer.enabled:
        run.exec_layers()
        if a.workload == "ingest_drain":
            sub = os.path.join(a.work, "local1")
            res = os.path.join(sub, "result.json")
            subprocess.run([sys.executable, __file__, "--workload", a.workload, "--data",
                            a.data, "--work", sub, "--result", res, "--seconds",
                            str(a.seconds), "--local1"], check=True,
                           env=dict(os.environ, PERFBENCH_T0=repr(time.time())),
                           timeout=max(10.0, run.remaining()))
            run.layers["baseline.local1_rows_per_s"] = json.load(open(res))["rows_per_s"]
        for name in ("spec.parse", "streaming.start"):
            durs = [sp["end"] - sp["start"] for sp in run.tracer.spans if sp["name"] == name]
            if durs:
                run.layers[f"{name}_s"] = median(durs)
        for name in ZERO_WHERE_ABSENT:
            run.layers.setdefault(name, 0)
        run.report["self_times"] = self_times(run.tracer.spans)
        run.report["spans"] = run.tracer.spans
    result = {
        "attempted": run.attempted,
        "failed": run.failed(),
        "correct": run.failed() == 0 and run.attempted > 0,
        "errors": {k: v for k, v in run.errors.items() if v},
        "e2e": run.e2e,
        "layers": run.layers,
        "report": dict(run.report, error_ratio=run.error_ratio()),
        "batches": run.batch_records,
    }
    with open(a.result, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
