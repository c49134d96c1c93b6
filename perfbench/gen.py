"""Seeded input generator and pure-Python reference for the pipeline benchmark.

The generator is its own component: the program under test only ever sees
the files it writes. Each workload's inputs depend on ``--seed`` (and, for
the drain workloads, on ``--seconds``, which sizes the backlog), never on
the speed of the machine.

    python3 perfbench/gen.py make --workload ingest_drain --seed 1 --seconds 8 --out DIR
    python3 perfbench/gen.py feed --src DIR --dst DIR --interval-s 0.1 --start EPOCH --log FILE

``make`` writes the inputs plus ``manifest.json``: the workload's input
properties and the expected outputs, computed here in pure Python. ``feed``
is the open-loop generator of ``ingest_paced``: one process that moves
staged files into the watched directory on a fixed schedule, stamping each
event with its due time and logging how late each move ran.
"""

from __future__ import annotations

import argparse
import bisect
import datetime as dt
import hashlib
import json
import os
import random
import sys
import time
from collections import Counter

# ---------------------------------------------------------------- sizing

#: backlog rows per second of ``--seconds`` for ingest_drain
INGEST_ROWS_PER_S = 25_000
INGEST_FILE_ROWS = 5_000
INGEST_FILES_PER_BATCH = 5
#: ingest_paced: one file of PACED_FILE_ROWS every PACED_INTERVAL_S
PACED_FILE_ROWS = 200
PACED_INTERVAL_S = 0.1
#: join_drain: one event-time slice per file pair, one slice per 2 s of budget
JOIN_S_PER_SLICE = 2
JOIN_ORDERS_PER_SLICE = 2_400
JOIN_USERS_PER_SLICE = 600
JOIN_USERS = 3_000
JOIN_ZIPF_S = 1.1
JOIN_SLICE_S = 20
#: curation_batch corpus size (independent of --seconds; the run repeats it)
CURATION_DOCS = 5_000

BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z
KINDS = ("click", "view", "cart", "buy")
FILTER_MIN_AMOUNT = 30.0  # ingest filter: amount >= 30
JOIN_MIN_AMOUNT = 10.0  # join filter: amount > 10
DUE_PLACEHOLDER = "@DUE@"


def _rng(seed: int, stream: str) -> random.Random:
    """Independent deterministic stream per (seed, purpose)."""
    digest = hashlib.sha256(f"{seed}:{stream}".encode()).digest()
    return random.Random(int.from_bytes(digest[:8], "big"))


def _iso(epoch_s: int) -> str:
    return dt.datetime.fromtimestamp(epoch_s, dt.timezone.utc).strftime("%Y-%m-%dT%H:%M:%SZ")


def _write_lines(path: str, lines: list[str], mtime: float) -> None:
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
        fh.write("\n")
    # the file source orders new files by modification time
    os.utime(path, (mtime, mtime))


# ------------------------------------------------------------ ingest events

def ingest_event(rng: random.Random, eid: int, paced: bool):
    """One JSON line and its expected outcome.

    Outcome is ``("ok", row)``, ``("filtered", None)`` or ``("dlq", kind)``;
    ``row`` is the sink row (id, user, cents, kind, event_s) the spec's
    filter -> transform -> mapping chain must produce.
    """
    user = f"u{rng.randrange(5_000)}"
    amount = f"{rng.random() * 100:.2f}"
    kind = KINDS[rng.randrange(len(KINDS))]
    event_s = BASE_EPOCH + eid // 50
    ts = _iso(event_s)
    due = f', "due_ms": {DUE_PLACEHOLDER}' if paced else ""
    r = rng.random()
    if r < 0.005:  # truncated JSON
        return '{"id": %d, "user": "%s", "amount": ' % (eid, user), ("dlq", "malformed")
    if r < 0.0075:  # missing declared field
        line = '{"id": %d, "user": "%s", "kind": "%s", "ts": "%s"%s}' % (eid, user, kind, ts, due)
        return line, ("dlq", "missing")
    if r < 0.01:  # wrong type
        line = '{"id": %d, "user": "%s", "amount": "n/a", "kind": "%s", "ts": "%s"%s}' % (
            eid, user, kind, ts, due)
        return line, ("dlq", "type")
    line = '{"id": %d, "user": "%s", "amount": %s, "kind": "%s", "ts": "%s"%s}' % (
        eid, user, amount, kind, ts, due)
    value = float(amount)
    if not value >= FILTER_MIN_AMOUNT:
        return line, ("filtered", None)
    return line, ("ok", (eid, user.upper(), int(value * 100), kind, event_s))


def ingest_spec(paced: bool) -> dict:
    """The v3 pipeline document both ingest workloads deploy."""
    fields = [
        {"name": "id", "type": "int64"},
        {"name": "user", "type": "string"},
        {"name": "amount", "type": "float64"},
        {"name": "kind", "type": "string"},
        {"name": "ts", "type": "string"},
    ]
    outputs = [
        {"expression": "id", "output_name": "id", "output_type": "int64"},
        {"expression": "upper(user)", "output_name": "user", "output_type": "string"},
        {"expression": "amount * 100", "output_name": "cents", "output_type": "int64"},
        {"expression": "kind", "output_name": "kind", "output_type": "string"},
        {"expression": "parseISO8601(ts)", "output_name": "event_s", "output_type": "int64"},
    ]
    mapping = [
        {"name": "id", "column_name": "id", "column_type": "Int64"},
        {"name": "user", "column_name": "user", "column_type": "String"},
        {"name": "cents", "column_name": "cents", "column_type": "Int64"},
        {"name": "kind", "column_name": "kind", "column_type": "LowCardinality(String)"},
        {"name": "event_s", "column_name": "event_s", "column_type": "Int64"},
    ]
    if paced:
        fields.append({"name": "due_ms", "type": "int64"})
        outputs.append({"expression": "due_ms", "output_name": "due_ms", "output_type": "int64"})
        mapping.append({"name": "due_ms", "column_name": "due_ms", "column_type": "Int64"})
    return {
        "version": "v3",
        "pipeline_id": "perfbench-ingest",
        "name": "perfbench-ingest",
        "sources": [{"type": "kafka", "source_id": "events", "topic": "events",
                     "schema_fields": fields}],
        "transforms": [
            {"type": "filter", "source_id": "events",
             "config": {"expression": f"amount >= {FILTER_MIN_AMOUNT:g}"}},
            {"type": "stateless", "source_id": "events", "config": {"transforms": outputs}},
        ],
        "sink": {"type": "clickhouse", "table": "events_out",
                 "max_batch_size": INGEST_FILE_ROWS * INGEST_FILES_PER_BATCH,
                 "max_delay_time": "1s", "mapping": mapping},
    }


def _make_ingest_dir(rng, out_dir, first_id, n_files, file_rows, paced, mtime0):
    os.makedirs(out_dir, exist_ok=True)
    ok, dlq, counts = [], [], Counter()
    for f in range(n_files):
        lines = []
        for i in range(file_rows):
            eid = first_id + f * file_rows + i
            line, (outcome, payload) = ingest_event(rng, eid, paced)
            lines.append(line)
            counts[outcome] += 1
            if outcome == "ok":
                ok.append(payload)
            elif outcome == "dlq":
                dlq.append(eid)
                counts[f"dlq_{payload}"] += 1
        _write_lines(os.path.join(out_dir, f"part-{f:05d}.json"), lines, mtime0 + f)
    return ok, dlq, counts


def make_ingest(seed: int, seconds: int, out: str, paced: bool) -> dict:
    rng = _rng(seed, "ingest")
    if paced:
        n_files = int(round(seconds / PACED_INTERVAL_S))
        file_rows = PACED_FILE_ROWS
    else:
        n_files = max(2 * INGEST_FILES_PER_BATCH,
                      INGEST_ROWS_PER_S * seconds // INGEST_FILE_ROWS)
        file_rows = INGEST_FILE_ROWS
    now = time.time() - 3600
    main_dir = os.path.join(out, "staged" if paced else "backlog")
    ok, dlq, counts = _make_ingest_dir(rng, main_dir, 0, n_files, file_rows, paced, now)
    # set-up inputs: one batch of fresh ids per repeated set-up
    setups = []
    setup_files = 1 if paced else INGEST_FILES_PER_BATCH
    for k in range(2):
        first = (n_files + k * setup_files) * file_rows
        s_ok, s_dlq, _ = _make_ingest_dir(
            rng, os.path.join(out, f"setup{k}"), first, setup_files, file_rows, paced, now)
        setups.append({"dir": f"setup{k}", "ok_rows": len(s_ok), "dlq_rows": len(s_dlq),
                       "dlq_ids": s_dlq})
    n = n_files * file_rows
    return {
        "spec": ingest_spec(paced),
        "input_dir": os.path.basename(main_dir),
        "files": n_files,
        "file_rows": file_rows,
        "files_per_batch": INGEST_FILES_PER_BATCH,
        "rows": n,
        "setups": setups,
        "expected_ok": ok,
        "expected_dlq": dlq,
        "properties": {
            "rows": n,
            "malformed_share": counts["dlq"] / n,
            "dlq_kinds": {k[4:]: v for k, v in counts.items() if k.startswith("dlq_")},
            "filter_selectivity": counts["ok"] / max(1, counts["ok"] + counts["filtered"]),
            "key_cardinality": 5_000,
            "key_skew": "uniform",
        },
    }


def feed(src: str, dst: str, interval_s: float, start: float, log_path: str) -> None:
    """Open-loop feeder: file k is due at ``start + k * interval_s``.

    The schedule never waits for the system under test. Each event is
    stamped with its file's due time (epoch ms); the log records when each
    file actually became visible, so generator lateness is measured.
    """
    names = sorted(n for n in os.listdir(src) if n.endswith(".json"))
    tmp_dir = os.path.join(os.path.dirname(os.path.abspath(dst)), ".feed-tmp")
    os.makedirs(tmp_dir, exist_ok=True)
    log = []
    for k, name in enumerate(names):
        due = start + k * interval_s
        with open(os.path.join(src, name)) as fh:
            body = fh.read().replace(DUE_PLACEHOLDER, str(int(round(due * 1000))))
        tmp = os.path.join(tmp_dir, name)
        with open(tmp, "w") as fh:
            fh.write(body)
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        os.rename(tmp, os.path.join(dst, name))
        log.append({"file": name, "due": due, "moved": time.time()})
    with open(log_path, "w") as fh:
        json.dump(log, fh)


# ------------------------------------------------------------- join inputs

def _zipf_cdf(n: int, s: float) -> list[float]:
    acc, cdf = 0.0, []
    for k in range(1, n + 1):
        acc += 1.0 / k ** s
        cdf.append(acc)
    return [c / acc for c in cdf]


def join_spec() -> dict:
    return {
        "version": "v3",
        "pipeline_id": "perfbench-join",
        "name": "perfbench-join",
        "sources": [
            {"type": "kafka", "source_id": "orders", "topic": "orders", "schema_fields": [
                {"name": "order_id", "type": "int64"}, {"name": "user_id", "type": "string"},
                {"name": "amount", "type": "float64"}]},
            {"type": "kafka", "source_id": "users", "topic": "users", "schema_fields": [
                {"name": "user_id", "type": "string"}, {"name": "tier", "type": "string"},
                {"name": "region", "type": "string"}]},
        ],
        "transforms": [
            {"type": "filter", "source_id": "orders",
             "config": {"expression": f"amount > {JOIN_MIN_AMOUNT:g}"}},
            {"type": "dedup", "source_id": "orders",
             "config": {"key": "order_id", "time_window": "1h"}},
        ],
        "join": {
            "enabled": True, "type": "temporal",
            "left_source": {"source_id": "orders", "key": "user_id", "time_window": "1h"},
            "right_source": {"source_id": "users", "key": "user_id", "time_window": "1h"},
            "output_fields": [
                {"source_id": "orders", "name": "order_id"},
                {"source_id": "orders", "name": "user_id"},
                {"source_id": "orders", "name": "amount"},
                {"source_id": "users", "name": "tier"},
                {"source_id": "users", "name": "region"},
            ],
        },
        "sink": {"type": "clickhouse", "table": "orders_enriched", "max_batch_size": 100_000,
                 "max_delay_time": "1s", "mapping": [
                     {"name": "order_id", "column_name": "order_id", "column_type": "Int64"},
                     {"name": "user_id", "column_name": "user_id", "column_type": "String"},
                     {"name": "amount", "column_name": "amount", "column_type": "Float64"},
                     {"name": "tier", "column_name": "tier", "column_type": "String"},
                     {"name": "region", "column_name": "region", "column_type": "String"},
                 ]},
    }


def join_reference(orders: list[tuple], users: list[tuple]) -> list[tuple]:
    """Latest-wins temporal join in global event-time order.

    ``orders``: (order_id, user_id, amount, us) after filter + dedup;
    ``users``: (user_id, tier, region, us). Rows with equal time process
    orders first. An order joins the latest earlier profile of its user,
    or waits for the user's next profile; orders with no later profile
    stay buffered (no output). Windows are 1 h and the data spans less,
    so nothing expires.
    """
    events = [(o[3], 0, o) for o in orders] + [(u[3], 1, u) for u in users]
    events.sort(key=lambda e: (e[0], e[1]))
    latest: dict[str, tuple] = {}
    pending: dict[str, list] = {}
    out = []
    for _, side, row in events:
        if side == 1:
            key = row[0]
            latest[key] = row
            for o in pending.pop(key, ()):
                out.append((o[0], o[1], o[2], row[1], row[2]))
        else:
            key = row[1]
            prof = latest.get(key)
            if prof is None:
                pending.setdefault(key, []).append(row)
            else:
                out.append((row[0], row[1], row[2], prof[1], prof[2]))
    return out


def _join_files(rng, cdf, n_slices, first_order, t0_us):
    """Per-slice (orders rows, users rows); slice i covers event time
    [t0 + i*SLICE, t0 + (i+1)*SLICE). About 5% of orders are re-sent as
    exact copies in the next slice's file (same id, same event time)."""
    slice_us = JOIN_SLICE_S * 1_000_000
    tiers = ("free", "pro", "team", "enterprise")
    regions = ("eu", "us", "apac", "latam")
    orders_by_slice, users_by_slice, dup_count = [], [], 0
    carry: list[tuple] = []
    oid = first_order
    for i in range(n_slices):
        lo = t0_us + i * slice_us
        stamps = rng.sample(range(slice_us), JOIN_ORDERS_PER_SLICE + JOIN_USERS_PER_SLICE)
        o_rows = list(carry)
        carry = []
        for j in range(JOIN_ORDERS_PER_SLICE):
            user = f"c{bisect.bisect_left(cdf, rng.random())}"
            row = (oid, user, round(rng.random() * 100, 2), lo + stamps[j])
            oid += 1
            o_rows.append(row)
            if rng.random() < 0.05:
                carry.append(row)
                dup_count += 1
        u_rows = []
        for j in range(JOIN_USERS_PER_SLICE):
            user = f"c{bisect.bisect_left(cdf, rng.random())}"
            u_rows.append((user, tiers[rng.randrange(4)], regions[rng.randrange(4)],
                           lo + stamps[JOIN_ORDERS_PER_SLICE + j]))
        orders_by_slice.append(o_rows)
        users_by_slice.append(u_rows)
    return orders_by_slice, users_by_slice, dup_count


def _write_join_dir(out_dir, orders_by_slice, users_by_slice, mtime0):
    import pyarrow as pa
    import pyarrow.parquet as pq

    ts_type = pa.timestamp("us", tz="UTC")
    for sub in ("orders", "users"):
        os.makedirs(os.path.join(out_dir, sub), exist_ok=True)
    for i, (o_rows, u_rows) in enumerate(zip(orders_by_slice, users_by_slice)):
        otab = pa.table({
            "order_id": pa.array([r[0] for r in o_rows], pa.int64()),
            "user_id": pa.array([r[1] for r in o_rows], pa.string()),
            "amount": pa.array([r[2] for r in o_rows], pa.float64()),
            "ots": pa.array([r[3] for r in o_rows], ts_type),
        })
        utab = pa.table({
            "user_id": pa.array([r[0] for r in u_rows], pa.string()),
            "tier": pa.array([r[1] for r in u_rows], pa.string()),
            "region": pa.array([r[2] for r in u_rows], pa.string()),
            "uts": pa.array([r[3] for r in u_rows], ts_type),
        })
        for sub, tab in (("orders", otab), ("users", utab)):
            path = os.path.join(out_dir, sub, f"part-{i:05d}.parquet")
            pq.write_table(tab, path)
            os.utime(path, (mtime0 + i, mtime0 + i))


def _join_expected(orders_by_slice, users_by_slice):
    seen, orders = set(), []
    for o_rows in orders_by_slice:
        for r in o_rows:
            if r[0] in seen or not r[2] > JOIN_MIN_AMOUNT:
                continue
            seen.add(r[0])
            orders.append(r)
    users = [u for u_rows in users_by_slice for u in u_rows]
    return join_reference(orders, users)


def make_join(seed: int, seconds: int, out: str) -> dict:
    rng = _rng(seed, "join")
    cdf = _zipf_cdf(JOIN_USERS, JOIN_ZIPF_S)
    n_slices = max(3, seconds // JOIN_S_PER_SLICE)
    t0_us = BASE_EPOCH * 1_000_000
    mtime0 = time.time() - 3600
    o_sl, u_sl, dups = _join_files(rng, cdf, n_slices, 0, t0_us)
    _write_join_dir(os.path.join(out, "backlog"), o_sl, u_sl, mtime0)
    expected = _join_expected(o_sl, u_sl)
    setups = []
    for k in range(2):
        so, su, _ = _join_files(rng, cdf, 1, 10_000_000 * (k + 1), t0_us)
        _write_join_dir(os.path.join(out, f"setup{k}"), so, su, mtime0)
        setups.append({"dir": f"setup{k}", "ok_rows": len(_join_expected(so, su))})
    n_orders = sum(len(s) for s in o_sl)
    keys = Counter(r[1] for s in o_sl for r in s)
    top = keys.most_common(1)[0][1] if keys else 0
    return {
        "spec": join_spec(),
        "files": n_slices,
        "rows": n_orders + sum(len(s) for s in u_sl),
        "setups": setups,
        "expected_ok": expected,
        "properties": {
            "orders": n_orders,
            "users_updates": sum(len(s) for s in u_sl),
            "duplicate_share": dups / max(1, n_orders),
            "filter_selectivity": sum(1 for s in o_sl for r in s if r[2] > JOIN_MIN_AMOUNT)
            / max(1, n_orders),
            "key_cardinality": len(keys),
            "key_skew_top_share": top / max(1, n_orders),
            "zipf_s": JOIN_ZIPF_S,
            "joined_rows": len(expected),
        },
    }


# ---------------------------------------------------------- curation corpus

CURATION_OPS = ("normalize_text", "gopher_rules", "c4_filters", "exact_dedup",
                "quality_score", "line_dedup")

BOILERPLATE = [
    f"{a} {b} to get the latest news and offers from our team every week."
    for a in ("Subscribe", "Sign up", "Register", "Log in", "Click here")
    for b in ("now", "today", "for free", "below", "here", "again")
]


def curation_spec() -> dict:
    return {
        "version": "v3",
        "pipeline_id": "perfbench-curation",
        "name": "perfbench-curation",
        "sources": [{"type": "kafka", "source_id": "documents", "topic": "documents",
                     "schema_fields": [{"name": "doc_id", "type": "int64"},
                                       {"name": "text", "type": "string"}]}],
        "transforms": [{"type": "dataop", "source_id": "documents", "config": {"op": op}}
                       for op in CURATION_OPS],
        "sink": {"type": "clickhouse", "table": "curated", "mapping": []},
    }


def _sentence(rng: random.Random, vocab: list[str], cdf: list[float]) -> str:
    n = rng.randint(6, 16)
    words = [vocab[bisect.bisect_left(cdf, rng.random())] for _ in range(n)]
    words[0] = words[0].capitalize()
    return " ".join(words) + "."


def curation_docs(seed: int, n_docs: int, stream: str):
    """(docs, props): docs are (doc_id, text); about 5% are exact copies of
    another doc, 20% of lines are shared boilerplate, 4% are junk/short."""
    rng = _rng(seed, stream)
    vocab = ["the", "of", "and", "to", "in", "that", "is", "with", "for", "on"] + [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randint(3, 9)))
        for _ in range(3_000)
    ]
    cdf = _zipf_cdf(len(vocab), 1.0)
    texts, n_lines, n_boiler, n_junk, n_copies = [], 0, 0, 0, 0
    for _ in range(n_docs):
        r = rng.random()
        if texts and r < 0.05:
            texts.append(texts[rng.randrange(len(texts))])
            n_copies += 1
            continue
        if r < 0.09:
            texts.append(rng.choice(["ok", "### ### ###", "{} {} {}", "lorem ipsum dolor",
                                     "click here", "..."]) + f" {rng.randrange(10**6)}")
            n_junk += 1
            continue
        lines = []
        for _ in range(rng.randint(3, 10)):
            if rng.random() < 0.2:
                lines.append(rng.choice(BOILERPLATE))
                n_boiler += 1
            else:
                lines.append(" ".join(_sentence(rng, vocab, cdf) for _ in range(rng.randint(1, 3))))
            n_lines += 1
        texts.append("\n".join(lines))
    ids = rng.sample(range(1, 50 * n_docs), n_docs)
    docs = list(zip(ids, texts))
    lengths = sorted(len(t) for t in texts)
    props = {
        "docs": n_docs,
        "duplicate_share": n_copies / n_docs,
        "junk_share": n_junk / n_docs,
        "boilerplate_line_share": n_boiler / max(1, n_lines),
        "doc_chars_p50": lengths[len(lengths) // 2],
        "doc_chars_p90": lengths[int(len(lengths) * 0.9)],
    }
    return docs, props


def curation_reference(docs: list[tuple]) -> list[tuple]:
    """exact_dedup (min doc_id per text) then line_dedup (first corpus
    occurrence of each non-empty line in (doc_id, pos) order). The other
    four ops add columns only and drop no rows."""
    keep: dict[str, int] = {}
    for doc_id, text in docs:
        if text not in keep or doc_id < keep[text]:
            keep[text] = doc_id
    survivors = sorted((doc_id, text) for text, doc_id in keep.items())
    seen, out = set(), []
    for doc_id, text in survivors:
        kept = []
        for line in text.split("\n"):
            if line and line not in seen:
                seen.add(line)
                kept.append(line)
        if kept:
            out.append((doc_id, len(kept), "\n".join(kept)))
    return out


def curation_digest(rows) -> str:
    """Order-independent digest of (doc_id, n_lines_kept, text_dedup) rows."""
    h = hashlib.sha256()
    for line in sorted(f"{d}\t{n}\t{hashlib.sha1(t.encode()).hexdigest()}" for d, n, t in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def duplicate_groups(docs: list[tuple], expected: list[tuple]) -> list[list]:
    """[ids, kept] per group of exact copies: ``kept`` is how many of its
    docs the output holds, 1 unless line_dedup empties the survivor (all
    of its lines appeared earlier in the corpus), then 0."""
    out_ids = {r[0] for r in expected}
    by_text: dict[str, list[int]] = {}
    for doc_id, text in docs:
        by_text.setdefault(text, []).append(doc_id)
    return [[ids, int(min(ids) in out_ids)] for ids in by_text.values() if len(ids) > 1]


def _write_docs(path: str, docs: list[tuple], n_files: int) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    step = -(-len(docs) // n_files)
    for f in range(n_files):
        part = docs[f * step:(f + 1) * step]
        pq.write_table(pa.table({
            "doc_id": pa.array([d[0] for d in part], pa.int64()),
            "text": pa.array([d[1] for d in part], pa.string()),
        }), os.path.join(path, f"part-{f:05d}.parquet"))


def make_curation(seed: int, out: str) -> dict:
    docs, props = curation_docs(seed, CURATION_DOCS, "curation")
    _write_docs(os.path.join(out, "corpus"), docs, 8)
    expected = curation_reference(docs)
    return {
        "spec": curation_spec(),
        "rows": len(docs),
        "expected_digest": curation_digest(expected),
        "expected_rows": len(expected),
        "duplicate_groups": duplicate_groups(docs, expected),
        "properties": dict(props, output_docs=len(expected)),
    }


def make(workload: str, seed: int, seconds: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    if workload in ("ingest_drain", "ingest_paced"):
        manifest = make_ingest(seed, seconds, out, paced=workload == "ingest_paced")
    elif workload == "join_drain":
        manifest = make_join(seed, seconds, out)
    elif workload == "curation_batch":
        manifest = make_curation(seed, out)
    else:
        raise SystemExit(f"unknown workload {workload!r}")
    manifest.update(workload=workload, seed=seed, seconds=seconds)
    with open(os.path.join(out, "manifest.json"), "w") as fh:
        json.dump(manifest, fh)
    return manifest


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    m = sub.add_parser("make")
    m.add_argument("--workload", required=True)
    m.add_argument("--seed", type=int, required=True)
    m.add_argument("--seconds", type=int, required=True)
    m.add_argument("--out", required=True)
    f = sub.add_parser("feed")
    f.add_argument("--src", required=True)
    f.add_argument("--dst", required=True)
    f.add_argument("--interval-s", type=float, required=True)
    f.add_argument("--start", type=float, required=True)
    f.add_argument("--log", required=True)
    a = ap.parse_args(argv)
    if a.cmd == "make":
        make(a.workload, a.seed, a.seconds, a.out)
    else:
        feed(a.src, a.dst, a.interval_s, a.start, a.log)
    return 0


if __name__ == "__main__":
    sys.exit(main())
