"""Shared dataops utilities."""

from __future__ import annotations

from pyspark.sql import DataFrame


def scale_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow-but-compute-heavy input to use the cluster.

    Single-file parquet inputs arrive as one partition (one row group),
    which would serialize expensive per-row expression work (shingle
    hashing, fold hashes, vector math) onto one core. One cheap
    round-robin shuffle of the raw rows buys full parallelism. At real
    scale inputs arrive well-partitioned and this is a no-op.
    """
    if df.isStreaming:
        # micro-batch partitioning is the source's concern (e.g. kafka
        # minPartitions); .rdd is illegal on an unstarted streaming plan
        return df
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    # cheap physical-partition probe: the input RDD of the (lazy) plan —
    # no job runs; at real scale inputs arrive well-partitioned and the
    # branch is never taken
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


#: measured healthy load per shuffle partition for sort/state-heavy
#: operators (dedup_windowed's per-partition sort was the recurring
#: false regression): 100M rows at 256 partitions (~390k rows each)
#: and 1B at 1024 (~980k) both restore the 10M-row per-row cost, while
#: 100M into the 32-partition default (3.1M rows each) reads 2-3x slow
#: purely from sort depth/spill (r8/r9 scale sections).
SHUFFLE_TARGET_ROWS = 500_000


def shuffle_partitions_for(
    n_rows: int,
    target_rows_per_partition: int = SHUFFLE_TARGET_ROWS,
    min_partitions: int = 32,
    max_partitions: int = 8192,
) -> int:
    """Shuffle-partition count sized to the data (VERDICT r9 #7):
    ``ceil(n_rows / target)`` rounded up to a power of two, clamped to
    [min, max]. Sizing ``spark.sql.shuffle.partitions`` this way is
    what keeps per-partition sort depth constant as data scales — the
    decade-scale dedup_windowed reading needed the same manual
    re-attribution three rounds running; this encodes the fix. On a
    real cluster pair it with AQE coalescing (small stages shrink back
    automatically); the power-of-two rounding keeps hash partitioning
    even."""
    import math

    need = max(
        min_partitions,
        math.ceil(max(int(n_rows), 1) / max(int(target_rows_per_partition), 1)),
    )
    return min(max_partitions, 1 << (need - 1).bit_length())


def path_exists(spark, path: str) -> bool:
    """Filesystem-agnostic existence check through the session's Hadoop
    FileSystem (works for local paths in tests and object-store URIs at
    scale) — the pre-write guard the artifact writers use to validate
    an existing geometry sidecar BEFORE touching the key data."""
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(p))


#: every loaded artifact (seen-set bitmap or digest set, streaming
#: digest frame, ANN index), keyed by path, valued (parquet file
#: listing, value) — see :func:`cached_artifact`
_ARTIFACT_CACHE: dict = {}


def cached_artifact(spark, path: str, listing, build):
    """The loaded value of the artifact at ``path``: ``build()`` on the
    first call, then the cached value for as long as the parquet file
    listing of the ``listing`` paths stays the same. Overwrite and
    append both change the listing, so a rewritten artifact is released
    and rebuilt instead of silently probing a stale seen-set. Repeat
    per-wave calls in one session reuse the executor-resident value
    instead of stacking another broadcast; free it with
    :func:`release_artifact_cache`."""
    key = path.rstrip("/")
    sig = tuple(
        sorted(f for p in listing for f in spark.read.parquet(p).inputFiles())
    )
    entry = _ARTIFACT_CACHE.get(key)
    if entry is not None and entry[0] == sig:
        return entry[1]
    release_artifact_cache(key)
    value = build()
    _ARTIFACT_CACHE[key] = (sig, value)
    return value


def release_artifact_cache(path: str | None = None) -> int:
    """Unpersist the cached artifact at ``path`` together with the
    ``/bands`` and ``/buckets`` artifacts under it (or EVERY cached
    artifact when None) — call when an ingest wave completes so retired
    seen-sets don't occupy executor storage for the session lifetime.
    Returns the number released; safe for a path never cached."""
    if path is None:
        keys = list(_ARTIFACT_CACHE)
    else:
        root = path.rstrip("/")
        keys = [root, f"{root}/bands", f"{root}/buckets"]
    released = 0
    for key in keys:
        entry = _ARTIFACT_CACHE.pop(key, None)
        if entry is None:
            continue
        # a value is a broadcast, a cached frame, or a tuple holding one
        value = entry[1]
        for v in value if isinstance(value, tuple) else (value,):
            if hasattr(v, "unpersist"):
                v.unpersist()
        released += 1
    return released


def arrow_key_pass(df: DataFrame, key_col: str, make_fn, added=(), keep=None):
    """ONE row-local ``mapInArrow`` pass driven by one key column — the
    pass every seen-set probe and persisted scorer runs on.

    ``make_fn()`` runs once per task and returns ``fn(keys) -> (idx,
    cols)``: ``keys`` is the batch's ``key_col`` as Python values,
    ``idx`` the surviving row positions in order, ``cols`` one value
    list per ``added`` column for those rows. ``added`` holds (name,
    Spark type) pairs: a name already in the frame replaces that column
    in place, any other is appended. ``keep`` names the input columns
    to pass through (default all).

    The surviving rows are ``take``-n from the original RecordBatch, so
    every passthrough column keeps its own Arrow type and values — an
    Arrow→pandas round trip would turn a nullable bigint into float64
    and round it past 2^53. No join, no shuffle, no state: stream-safe
    under append mode."""
    from pyspark.sql.pandas.types import to_arrow_type
    from pyspark.sql.types import StructField, StructType

    fields = [
        f for f in df.schema.fields if keep is None or f.name in keep
    ]
    names = [f.name for f in fields]
    new = [
        StructField(name, dtype, True)
        for name, dtype in added
        if name not in names
    ]
    schema = StructType(fields + new)
    out_names = [f.name for f in schema.fields]
    arrow_types = {name: to_arrow_type(dtype) for name, dtype in added}

    def gen(batches):
        import pyarrow as pa

        fn = make_fn()
        for rb in batches:
            if not rb.num_rows:
                continue
            idx, cols = fn(rb.column(key_col).to_pylist())
            if not idx:
                continue
            taken = rb.select(names).take(pa.array(idx, pa.int64()))
            arrays = dict(zip(names, taken.columns))
            for (name, _), vals in zip(added, cols):
                typ = (
                    rb.schema.field(name).type if name in names
                    else arrow_types[name]
                )
                arrays[name] = pa.array(vals, type=typ)
            yield pa.RecordBatch.from_arrays(
                [arrays[n] for n in out_names], names=out_names
            )

    return df.mapInArrow(gen, schema)


def per_row(row):
    """Adapt a per-row callback ``row(key) -> None | tuple`` into an
    :func:`arrow_key_pass` batch function: None drops the row, a tuple
    keeps it and holds its ``added`` column values (empty: keep as
    is)."""

    def fn(keys):
        idx, vals = [], []
        for i, x in enumerate(keys):
            r = row(x)
            if r is not None:
                idx.append(i)
                vals.append(r)
        return idx, list(zip(*vals))

    return fn


def check_geometry(spark, path: str, names, values, mode: str) -> bool:
    """Before an ``append`` to the artifact at ``path``: reject a
    geometry other than the one its ``{path}/geometry`` sidecar
    registered, so a mismatched wave fails loud BEFORE any key is
    written. Returns True when appending to an existing artifact."""
    appending = mode == "append" and path_exists(
        spark, f"{path.rstrip('/')}/geometry"
    )
    if appending:
        existing = read_geometry(spark, path, names)
        want = tuple(int(v) for v in values)
        if existing != want:
            raise ValueError(
                f"geometry mismatch appending to {path!r}: artifact "
                f"registered under ({', '.join(names)})={existing}, "
                f"append requested {want} — nothing was written; "
                "rebuild or match the geometry"
            )
    return appending


def write_geometry(spark, path: str, names, values, mode: str) -> None:
    """Write the one-row ``{path}/geometry`` sidecar of a band or
    vector-bucket artifact (int columns ``names``)."""
    (
        spark.createDataFrame(
            [tuple(int(v) for v in values)],
            ", ".join(f"{n} int" for n in names),
        )
        .coalesce(1)
        .write.mode(mode)
        .parquet(f"{path.rstrip('/')}/geometry")
    )


def read_geometry(spark, path: str, names) -> tuple:
    """The ONE geometry registered at ``{path}/geometry`` — probes read
    their parameters FROM the artifact, so there is no probe-side
    parameter to mismatch. Mixed geometries (appends under different
    parameters) fail loud."""
    rows = (
        spark.read.parquet(f"{path.rstrip('/')}/geometry")
        .select(*names)
        .distinct()
        .collect()
    )
    if len(rows) != 1:
        raise ValueError(
            f"artifact at {path!r} holds {len(rows)} distinct geometries "
            f"— every wave must register under the SAME "
            f"({', '.join(names)}); rebuild the artifact"
        )
    return tuple(int(v) for v in rows[0])


class sized_shuffle:
    """Context manager: set ``spark.sql.shuffle.partitions`` via
    :func:`shuffle_partitions_for` for the block, restore on exit —
    the scale sections' way of sizing a decade-up measurement without
    leaking the setting into the next section."""

    def __init__(self, spark, n_rows: int, **kw):
        self.spark = spark
        self.parts = shuffle_partitions_for(n_rows, **kw)

    def __enter__(self):
        self._old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.parts))
        return self.parts

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self._old)
        return False
