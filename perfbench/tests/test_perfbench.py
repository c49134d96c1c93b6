"""Tests of the benchmark itself (not of the engine).

    python3 -m pytest perfbench/tests -q

The workload tests run every workload at its smallest size (``--seconds 1``)
through the same command the benchmark uses, so they take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

PB = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(PB)
sys.path.insert(0, PB)

import gen  # noqa: E402
import worker  # noqa: E402
from trace import Tracer, self_times  # noqa: E402

RUN = [sys.executable, os.path.join(PB, "run.py")]


def _last_json(stdout: str):
    lines = stdout.strip().splitlines()
    if not lines or not lines[-1].startswith("{"):
        return None
    return json.loads(lines[-1])


# ------------------------------------------------------------- generator

def test_generator_is_deterministic_per_seed(tmp_path):
    a = gen.make("ingest_drain", 7, 1, str(tmp_path / "a"))
    b = gen.make("ingest_drain", 7, 1, str(tmp_path / "b"))
    c = gen.make("ingest_drain", 8, 1, str(tmp_path / "c"))
    assert a["expected_ok"] == b["expected_ok"] and a["expected_dlq"] == b["expected_dlq"]
    with open(tmp_path / "a" / "backlog" / "part-00000.json") as fa, \
            open(tmp_path / "b" / "backlog" / "part-00000.json") as fb:
        assert fa.read() == fb.read()
    assert a["expected_ok"] != c["expected_ok"]
    props = a["properties"]
    assert 0.005 < props["malformed_share"] < 0.02
    assert 0.6 < props["filter_selectivity"] < 0.8


def test_join_reference_is_latest_wins():
    orders = [(1, "k", 20.0, 10), (2, "k", 30.0, 30), (3, "q", 40.0, 5)]
    users = [("k", "free", "eu", 5), ("k", "pro", "us", 20), ("k", "team", "eu", 30)]
    out = gen.join_reference(orders, users)
    # order 2 ties with the 'team' profile at t=30: orders process first
    assert sorted(out) == [(1, "k", 20.0, "free", "eu"), (2, "k", 30.0, "pro", "us")]
    # an order waiting for its user's first profile joins that profile
    assert gen.join_reference([(9, "z", 1.0, 1)], [("z", "pro", "eu", 2)]) == [
        (9, "z", 1.0, "pro", "eu")]


def test_curation_reference_dedups_docs_then_lines():
    docs = [(5, "a.\nb."), (2, "a.\nb."), (3, "b.\nc."), (4, "a.")]
    out = gen.curation_reference(docs)
    assert out == [(2, 2, "a.\nb."), (3, 1, "c.")]
    assert gen.duplicate_groups(docs, out) == [[[5, 2], 1]]
    # a copy made only of lines seen earlier is emptied by line_dedup
    docs2 = [(1, "a.\nb."), (7, "b."), (8, "b.")]
    assert gen.duplicate_groups(docs2, gen.curation_reference(docs2)) == [[[7, 8], 0]]
    assert gen.curation_digest(out) == gen.curation_digest(list(reversed(out)))


# ---------------------------------------------------- correctness check

def _fake_run(manifest) -> worker.Run:
    run = object.__new__(worker.Run)
    run.manifest = manifest
    run.errors = worker.Counter()
    run.attempted = 0
    return run


class _FakeStream:
    def __init__(self, base):
        self.base = base
        self.batches = [{"batch_id": 0, "outcome": "written"}]


def _write_sink(base, rows):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = os.path.join(base, "sink", "_batch_id=0")
    os.makedirs(d)
    cols = list(zip(*rows))
    pq.write_table(pa.table({n: list(c) for n, c in zip(
        ["id", "user", "cents", "kind", "event_s"], cols)}), os.path.join(d, "part-0.parquet"))
    return worker.sink_rows_by_batch(os.path.join(base, "sink"),
                                     ["id", "user", "cents", "kind", "event_s"], {0})


@pytest.mark.parametrize("fault,expect", [("none", 0), ("drop", 1), ("dup", 1)])
def test_dropped_or_duplicated_sink_row_raises_error_ratio(tmp_path, fault, expect):
    m = gen.make("ingest_drain", 3, 1, str(tmp_path / "data"))
    rows = [tuple(r) for r in m["expected_ok"]]
    if fault == "drop":
        rows = rows[1:]
    elif fault == "dup":
        rows = rows + rows[:1]
    run = _fake_run(m)
    st = _FakeStream(str(tmp_path / "out"))
    # the DLQ table holds exactly the expected rows
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(st.base, "dlq", "component=ingestor"))
    pq.write_table(pa.table({"payload": ['{"id": %d, ' % i for i in m["expected_dlq"]]}),
                   os.path.join(st.base, "dlq", "component=ingestor", "p.parquet"))
    worker._verify_ingest(run, st, _write_sink(st.base, rows))
    assert run.failed() == expect
    assert (run.error_ratio() > 0) == bool(expect)


def test_misrouted_dlq_row_raises_error_ratio(tmp_path):
    m = gen.make("ingest_drain", 3, 1, str(tmp_path / "data"))
    run = _fake_run(m)
    st = _FakeStream(str(tmp_path / "out"))
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(os.path.join(st.base, "dlq", "component=ingestor"))
    pq.write_table(pa.table({"payload": ['{"id": %d, ' % i for i in m["expected_dlq"][1:]]}),
                   os.path.join(st.base, "dlq", "component=ingestor", "p.parquet"))
    worker._verify_ingest(run, st, _write_sink(st.base, [tuple(r) for r in m["expected_ok"]]))
    assert run.errors["main.misdlq"] == 1 and run.error_ratio() > 0


# --------------------------------------------------------------- tracing

def test_self_time_subtracts_children():
    spans = [
        {"id": 0, "name": "outer", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "child", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "child", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    st = self_times(spans)
    assert st["outer"]["self_s"] == pytest.approx(5.0)
    assert st["child"]["count"] == 2 and st["child"]["total_s"] == pytest.approx(6.0)


def test_disabled_tracer_records_nothing():
    tr = Tracer(False)
    with tr.span("x"):
        pass
    assert tr.spans == []


# ------------------------------------------------------- whole command

def test_missing_engine_exits_nonzero_without_result(tmp_path):
    """A checkout holding only the benchmark cannot run any workload: the
    command fails instead of printing a result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(PB, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "ingest_drain",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert _last_json(p.stdout) is None


def test_unknown_workload_exits_nonzero():
    p = subprocess.run(RUN + ["--workload", "nope", "--seed", "1"], capture_output=True,
                       text=True, timeout=60)
    assert p.returncode != 0 and _last_json(p.stdout) is None


@pytest.mark.parametrize("workload", ["ingest_drain", "ingest_paced", "join_drain",
                                      "curation_batch"])
def test_workload_runs_at_tiny_size(workload):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        names = [m["name"] for m in json.load(fh)["end_to_end"]]
    p = subprocess.run(RUN + ["--workload", workload, "--seed", "2", "--seconds", "1",
                              "--trace", "0"], capture_output=True, text=True, timeout=200)
    assert p.returncode == 0, p.stderr[-3000:]
    res = _last_json(p.stdout)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert sorted(res["metrics"]) == sorted(names)
    assert all(v["value"] > 0 for v in res["metrics"].values())
