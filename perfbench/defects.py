"""Reproductions of the engine defects the benchmark works around.

    PYTHONPATH=. python3 perfbench/defects.py

Each check drives a public entry point the way a user would and prints
one JSON line: the defect, whether it still reproduces, and the error.
A check that no longer reproduces means the workaround in NOTES.md can
go (and, for the streaming dedup, the ingest workloads can gain a dedup
stage in a separate benchmark change).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _spark(tmp: str):
    from clickhouse_etl_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    os.environ.setdefault("SPARK_LOCAL_DIRS", os.path.join(tmp, "local"))
    os.environ.setdefault("SPARK_GRAFT_WAREHOUSE", os.path.join(tmp, "warehouse"))
    return get_spark(app_name="perfbench-defects",
                     extra_conf={"spark.ui.showConsoleProgress": "false"})


def _attempt(fn) -> tuple[bool, str]:
    """(reproduced, message): the defect reproduces when ``fn`` raises."""
    try:
        fn()
    except Exception as err:  # noqa: BLE001 — any failure is the reproduction
        return True, f"{type(err).__name__}: {str(err).splitlines()[0][:300]}"
    return False, "ran without error"


def streaming_json_dedup(spark, tmp: str) -> dict:
    """A dedup stage on a streaming JSON source cannot get a timestamp
    event-time column: the payload ``ts`` is a STRING, and the source's
    ``_kafka_ts`` is dropped by validate_json (the runner passes no
    keep_cols)."""
    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.streaming import StreamingPipeline

    doc = gen.ingest_spec(paced=False)
    doc["transforms"].insert(1, {"type": "dedup", "source_id": "events",
                                 "config": {"key": "id", "time_window": "1h"}})
    inp = os.path.join(tmp, "json_in")
    os.makedirs(inp)
    with open(os.path.join(inp, "a.json"), "w") as fh:
        fh.write('{"id": 1, "user": "u1", "amount": 50.0, "kind": "buy", '
                 '"ts": "2024-01-01T00:00:00Z"}\n')
    out = {}
    for label, ts_col in (("payload_ts", "ts"), ("kafka_ts", "_kafka_ts")):
        def run(ts_col=ts_col, label=label):
            src = spark.readStream.text(inp).selectExpr(
                "value", "current_timestamp() AS _kafka_ts")
            pipe = StreamingPipeline(spec=parse_pipeline_json(doc),
                                     checkpoint_dir=os.path.join(tmp, f"ck_{label}"))
            q = pipe.start(spark, sources={"events": src}, ts_cols={"events": ts_col},
                           sink_fn=lambda df, bid: None, trigger={"availableNow": True})
            q.awaitTermination(120)
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
        out[label] = _attempt(run)
    return {"reproduced": all(r for r, _ in out.values()),
            "detail": {k: m for k, (_, m) in out.items()}}


def line_dedup_not_terminal(spark, tmp: str) -> dict:
    """line_dedup (like simhash) returns only (doc_id, n_lines_kept,
    text_dedup), so any op after it that reads ``text`` fails."""
    from clickhouse_etl_spark.plans import compile_pipeline
    from clickhouse_etl_spark.spec import parse_pipeline_json

    doc = gen.curation_spec()
    doc["transforms"] = [{"type": "dataop", "source_id": "documents", "config": {"op": op}}
                         for op in ("line_dedup", "quality_score")]
    docs = spark.createDataFrame([(1, "a line.\nb line."), (2, "a line.")], "doc_id long, text string")

    def run():
        compile_pipeline(parse_pipeline_json(doc)).run_batch({"documents": docs}).collect()

    reproduced, msg = _attempt(run)
    return {"reproduced": reproduced, "detail": msg}


def ntz_event_time(spark, tmp: str) -> dict:
    """Timezone-naive parquet timestamps read as TIMESTAMP_NTZ, which the
    streaming watermark rejects as event time."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from clickhouse_etl_spark.spec import parse_pipeline_json
    from clickhouse_etl_spark.streaming import StreamingPipeline

    for sub, cols in (("orders", {"order_id": pa.array([1], pa.int64()),
                                  "user_id": pa.array(["c1"]),
                                  "amount": pa.array([50.0])}),
                      ("users", {"user_id": pa.array(["c1"]), "tier": pa.array(["pro"]),
                                 "region": pa.array(["eu"])})):
        os.makedirs(os.path.join(tmp, "ntz", sub))
        ts = "ots" if sub == "orders" else "uts"
        cols[ts] = pa.array([gen.BASE_EPOCH * 1_000_000], pa.timestamp("us"))
        pq.write_table(pa.table(cols), os.path.join(tmp, "ntz", sub, "p.parquet"))

    def run():
        srcs = {s: spark.readStream.schema(spark.read.parquet(os.path.join(tmp, "ntz", s)).schema)
                .parquet(os.path.join(tmp, "ntz", s)) for s in ("orders", "users")}
        pipe = StreamingPipeline(spec=parse_pipeline_json(gen.join_spec()),
                                 checkpoint_dir=os.path.join(tmp, "ck_ntz"))
        q = pipe.start(spark, sources=srcs, ts_cols={"orders": "ots", "users": "uts"},
                       sink_fn=lambda df, bid: None, trigger={"availableNow": True})
        q.awaitTermination(120)
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))

    reproduced, msg = _attempt(run)
    return {"reproduced": reproduced, "detail": msg}


_WORKER_IMPORT = r"""
import sys
sys.path.insert(0, sys.argv[1])
from clickhouse_etl_spark.session import get_spark
spark = get_spark(app_name="perfbench-defects-path",
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
def f(batches):
    import clickhouse_etl_spark  # what every Python UDF of the engine does on a worker
    yield from batches
spark.range(1).mapInPandas(f, "id long").collect()
"""


def worker_pythonpath(tmp: str) -> dict:
    """Python workers import the engine; without the repo root on
    PYTHONPATH (a driver-side sys.path entry is not inherited) they fail."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "-c", _WORKER_IMPORT, ROOT], env=env, cwd=tmp,
                       capture_output=True, text=True, timeout=170)
    msg = next((ln for ln in p.stderr.splitlines() if "ModuleNotFoundError" in ln),
               p.stderr.strip().splitlines()[-1] if p.returncode else "ran without error")
    return {"reproduced": p.returncode != 0, "detail": msg[:300]}


def main() -> int:
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as tmp:
        spark = _spark(tmp)
        for name, fn in (("streaming_json_dedup", streaming_json_dedup),
                         ("line_dedup_not_terminal", line_dedup_not_terminal),
                         ("ntz_event_time", ntz_event_time)):
            print(json.dumps({"defect": name, **fn(spark, tmp)}), flush=True)
        spark.stop()
        print(json.dumps({"defect": "worker_pythonpath", **worker_pythonpath(tmp)}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
