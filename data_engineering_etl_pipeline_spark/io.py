"""Sources & sinks (SURVEY.md §2.1 S1-S11).

The reference's IO surface is: parquet scan/sink, JSON config read/write, a
two-tier (local disk + GCS) cache, and an idempotent dated-snapshot sink
(reference: all-etl-pipelines/pipeline_helpers.py:34-102,
derivatives/derivatives_snapshot_etl.py:48-56). This module provides:

- star-schema loaders for the driver testdata (the measurement substrate),
- :class:`TwoTierCache` — the S8/S9 get/put contract re-homed to where a
  cluster has fast storage (session tier = executor block managers via
  ``persist()``; lake tier = durable parquet/JSON on any Hadoop FS),
- an idempotent date-partitioned snapshot sink,
- a REST-records constructor (driver-side rows → DataFrame) mirroring S4-S7.

Scale notes: all readers return lazy DataFrames; sinks use
``partitionBy(date)`` so a 1000-executor job prunes partitions on read and
overwrites only the day it recomputes (dynamic partition overwrite).
"""

from __future__ import annotations

import os
from collections.abc import Mapping
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

STAR_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """S1 parquet scan (reference: pipeline_helpers.py:96). Columnar,
    predicate-pushdown and column-pruning come from Catalyst for free."""
    return spark.read.parquet(path)


def require_utc_session(spark: SparkSession) -> None:
    """Raise unless the session timezone is UTC. The event-time loaders cast
    ``timestamp_ntz`` → ``timestamp``, which reinterprets the stored
    wall-clock in the session zone — correct (epoch-preserving, oracle-
    identical) only under UTC. Failing loudly here beats a silent
    epoch shift in every downstream watermark/epoch computation."""
    # no fallback arg: Spark 4 VALIDATES the fallback string, and the key
    # always resolves (defaults to the JVM zone when unset)
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz not in ("UTC", "Etc/UTC", "GMT", "Z", "+00:00"):
        raise ValueError(
            f"event-time loading requires spark.sql.session.timeZone=UTC "
            f"(got {tz!r}): the ntz→timestamp cast would shift epochs. "
            "Build the session via session.get_spark, or set the conf.")


#: Input-parallelism floor threshold (bytes). A parquet input whose files
#: total LESS than this would scan as a handful of tasks (a single
#: default-sized split, and single-row-group files cannot split at all) —
#: so every map-heavy pipeline above it runs on one core no matter how
#: many the cluster has. Below the threshold, ``load_table`` repartitions
#: to ``defaultParallelism`` right after the read — the guide §2.5 fix
#: ("one huge unsplittable file … repartition immediately after the
#: read"): a sub-128 MB shuffle is microseconds-cheap next to freeing
#: N−1 idle cores for the regex/hash/HOF work the text and embedding
#: operators do per row. At 100 TB every table is past the threshold and
#: this is a structural NO-OP (zero extra exchanges — the scan already
#: has thousands of splits), so it is scale-adaptive, not a local[32]
#: tuning: the floor engages exactly when the input is too small to
#: occupy the cluster, whatever the cluster is. Filters and projections
#: still reach the scan — Catalyst pushes both through Repartition
#: (PushedFilters plan pins re-verified in tests/test_plans.py).
_SCAN_FLOOR_BYTES = 128 * 1024 * 1024

#: Tables the floor applies to: the ones whose consumers do heavy PER-ROW
#: CPU above the scan (regex tokenization, per-shingle hashing, HOF
#: expression folds) — there the raw-row exchange is microseconds against
#: seconds of single-core expression work. Deliberately NOT floored:
#: - the numeric star tables — their consumers are column-pruned scans +
#:   partial aggregation, which collapse the data BEFORE any exchange
#:   (measured: pricing_summary 0.31 s → 0.71 s with lineitem floored);
#: - embeddings — its consumers hand whole Arrow batches to BLAS, which
#:   is already fast; splitting 2000 vectors into 32 tiny batches only
#:   multiplies per-task/per-batch overhead (interleaved same-session
#:   A/B at sf0.1: topk 6.9→8.3 s, near_dup 6.9→7.8 s, semantic
#:   13.5→14.8 s with the floor on — all losses).
_SCAN_FLOOR_TABLES = frozenset({"documents"})


def _input_parallelism_floor(df: DataFrame, spark: SparkSession,
                             path: str, name: str) -> DataFrame:
    if name not in _SCAN_FLOOR_TABLES:
        return df
    try:
        if os.path.isdir(path):
            total = sum(
                os.path.getsize(os.path.join(root, f))
                for root, _, files in os.walk(path) for f in files)
        else:
            total = os.path.getsize(path)
    except OSError:
        return df  # non-local FS: the driver star tables are local files
    if total >= _SCAN_FLOOR_BYTES:
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver star-schema table from ``{sf_dir}/{name}.parquet``.

    Small inputs come back repartitioned to ``defaultParallelism`` (the
    input-parallelism floor above): the driver testdata ships as
    single-row-group parquet, which scans as ONE task and would serialize
    the whole map-heavy text/embedding family onto one core.

    ``events.ts`` is normalized to session-zoned TIMESTAMP at this single
    boundary, whatever the parquet file stores:

    - TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong`` it
      arrives as a nanos long and is truncated to a microsecond timestamp
      (the same thing DuckDB's reader does, so oracle parity holds). The
      conf is set at read time (runtime-settable) so the loader works in
      ANY session, and the PREVIOUS value is restored afterwards — the
      session-global conf is not mutated as a side effect of this read
      (the schema is resolved while the conf is in force).
    - TIMESTAMP(MICROS, isAdjustedToUTC=false) → ``timestamp_ntz``: cast to
      TIMESTAMP. The cast reads the wall-clock in the SESSION timezone, so
      it preserves epoch values only under UTC — ``require_utc_session``
      asserts that instead of silently shifting instants in a caller-built
      non-UTC session (``get_spark`` pins UTC; a custom session must too).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name != "events":
        return _input_parallelism_floor(spark.read.parquet(path), spark,
                                        path, name)
    require_utc_session(spark)
    conf_key = "spark.sql.legacy.parquet.nanosAsLong"
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, "true")
    try:
        df = normalize_event_ts(spark.read.parquet(path))
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)
    return _input_parallelism_floor(df, spark, path, name)


def normalize_event_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an events frame's ``ts`` to session-zoned TIMESTAMP,
    whatever the parquet physical type delivered (nanos-as-long → micros
    truncation, ntz → cast). ONE implementation shared by the batch loader
    and the streaming source, so ``streaming.stream_events`` cannot
    silently diverge from the batch oracle's normalization."""
    ts_type = dict(df.dtypes).get(ts_col)
    if ts_type == "bigint":
        df = df.withColumn(ts_col,
                           F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    elif ts_type == "timestamp_ntz":
        df = df.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    return df


def write_parquet(df: DataFrame, path: str) -> None:
    """S2 parquet sink, overwriting ``path`` (reference:
    pipeline_helpers.py:81 et al.)."""
    df.write.mode("overwrite").parquet(path)


def _hadoop_fs(spark: SparkSession, path: str):
    """Resolve (FileSystem, Path) for any Hadoop-supported scheme."""
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, jpath


def _list_part_files(spark, path: str) -> list[str]:
    """All committed data files under ``path`` (recursive), skipping
    hidden/underscore entries (_SUCCESS, _temporary, .crc). O(files) driver
    listing — the same cost every parquet scan's file index pays."""
    fs, jpath = _hadoop_fs(spark, path)
    if not fs.exists(jpath):
        return []
    out = []
    it = fs.listFiles(jpath, True)
    while it.hasNext():
        p = it.next().getPath()
        name = p.getName()
        if not (name.startswith("_") or name.startswith(".")):
            out.append(p.toString())
    return out


def _manifest_versions(spark, root: str) -> list[tuple[int, str]]:
    """Sorted (version_number, dir_name) under a manifest root."""
    fs, jroot = _hadoop_fs(spark, root)
    if not fs.exists(jroot):
        return []
    out = []
    for st in fs.listStatus(jroot):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("v-"):
            try:
                out.append((int(name[2:]), name))
            except ValueError:
                pass
    return sorted(out)


def _publish_manifest(manifest: DataFrame, root: str) -> str:
    """Versioned manifest publish (no delete→rename absence window):
    write ``<root>/v-<n+1>`` as a fresh
    parquet dir (committed atomically by the _SUCCESS marker), then flip
    the ``LATEST`` pointer FILE via create-temp → delete → rename. A
    reader that hits the (file-sized) pointer gap falls back to the
    highest _SUCCESS-committed version — which at that instant IS the new
    manifest — so at every moment some complete manifest is readable
    (concurrent-reader unit-pinned). Old versions are pruned down to the
    previous one (a reader that resolved the pointer just before the flip
    can still finish its scan); legacy flat-layout files at the root are
    cleaned up once on first versioned publish."""
    spark = manifest.sparkSession
    versions = _manifest_versions(spark, root)
    n = versions[-1][0] + 1 if versions else 1
    vname = f"v-{n:08d}"
    manifest.coalesce(1).write.mode("overwrite").parquet(f"{root}/{vname}")

    fs, jroot = _hadoop_fs(spark, root)
    jpath = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    tmp, latest = jpath(root, "LATEST.tmp"), jpath(root, "LATEST")
    stream = fs.create(tmp, True)
    stream.write(bytearray(vname.encode("utf-8")))
    stream.close()
    fs.delete(latest, False)
    if not fs.rename(tmp, latest):
        raise IOError(f"manifest publish failed: rename {tmp} -> {latest}")
    # prune: superseded versions older than the previous, plus legacy flat
    # parquet files from the pre-versioned layout (best-effort — a failed
    # delete only leaks disk, never correctness)
    for v, name in versions[:-1]:
        fs.delete(jpath(root, name), True)
    for st in fs.listStatus(jroot):
        nm = st.getPath().getName()
        if st.isFile() and nm not in ("LATEST",):
            fs.delete(st.getPath(), False)
    return vname


def read_shard_manifest(spark: SparkSession, path: str,
                        schema: StructType | None = None) -> DataFrame:
    """Resolve the CURRENT manifest of a :func:`write_training_shards`
    directory: follow the ``LATEST`` pointer; if a publish is mid-flip (or
    the pointed-at version was pruned under a very slow reader), fall back
    to the highest _SUCCESS-committed version; pre-versioned layouts read
    the flat root directly. ``schema``, when the caller knows it (the sink
    that just published), skips the parquet schema-inference job."""
    root = path.rstrip("/") + "_manifest"
    reader = spark.read.schema(schema) if schema is not None else spark.read
    fs, _ = _hadoop_fs(spark, root)
    jvm = spark.sparkContext._jvm
    jpath = jvm.org.apache.hadoop.fs.Path
    latest = jpath(root, "LATEST")
    if fs.exists(latest):
        pointer = jvm.java.io.BufferedReader(
            jvm.java.io.InputStreamReader(fs.open(latest), "UTF-8"))
        vname = pointer.readLine()
        pointer.close()
        if vname and fs.exists(jpath(root, vname)):
            return reader.parquet(f"{root}/{vname}")
    committed = [name for _, name in reversed(_manifest_versions(spark, root))
                 if fs.exists(jpath(root, f"{name}/_SUCCESS"))]
    if committed:
        return reader.parquet(f"{root}/{committed[0]}")
    # legacy flat (unversioned) layout, or no manifest at all — let the
    # reader surface Spark's own path error in the latter case
    return reader.parquet(root)


# the directory name Spark's writer gives a NULL (or empty-string)
# partition value, and reads back as NULL
_NULL_PARTITION_DIR = "__HIVE_DEFAULT_PARTITION__"


def _files_per_partition(files: list[str], col: str) -> dict[str, int]:
    """Data-file count per ``col=<value>`` directory of a single-level
    partitioned write, keyed by the unescaped directory value."""
    out: dict[str, int] = {}
    prefix = f"{col}="
    for f in files:
        d = f.rsplit("/", 2)[-2]
        if d.startswith(prefix):
            v = unquote(d[len(prefix):])
            out[v] = out.get(v, 0) + 1
    return out


def write_training_shards(df: DataFrame, path: str,
                          shard_col: str = "shard") -> DataFrame:
    """Training-shard sink: overwrite ``path`` with ``df`` partitioned by
    ``shard_col`` (the deterministic hash shard that
    ``corpus.pack_sequences`` assigns), one directory per shard, and return
    a shard MANIFEST DataFrame ``(shard, n_rows, n_files, n_tokens)`` — the
    sidecar a training loader reads (via :func:`read_shard_manifest`) to
    plan epoch mixing without listing or scanning the shards.

    Scale shape: ``partitionBy(shard_col)`` keeps the write map-only when
    the upstream already clusters by shard (pack_sequences' window has
    just sorted within shards, so it does).

    Every count in the manifest comes from the WRITTEN FILES, never from
    ``df``'s lineage (a recomputed nondeterministic upstream could diverge
    counts from disk): ``n_rows`` and ``n_tokens`` from one
    map-side-combinable group-by over a column-pruned scan of the written
    directory, ``n_files`` from the committed-file listing. The scan and
    the returned manifest are read with the schemas already known here,
    so neither pays a schema-inference job, and counting files from the
    listing keeps the aggregate at one shuffle (a distinct count of
    ``input_file_name()`` would add a second). Publish is versioned +
    pointer-flip (:func:`_publish_manifest`): readers never observe a
    missing or torn manifest. Single-writer is assumed (concurrent writers
    need an external lock)."""
    spark = df.sparkSession
    root = path.rstrip("/") + "_manifest"
    df.write.mode("overwrite").partitionBy(shard_col).parquet(path)

    tokens = ["n_tokens"] if "n_tokens" in df.columns else []
    counts = (spark.read.schema(df.schema).parquet(path)
              .groupBy(shard_col)
              .agg(F.count(F.lit(1)).alias("n_rows"),
                   *[F.sum(c).cast("long").alias(c) for c in tokens]))
    # a partition value cast to string is its directory name, unescaped
    files = _files_per_partition(_list_part_files(spark, path), shard_col)
    dir_value = F.coalesce(F.col(shard_col).cast("string"),
                           F.lit(_NULL_PARTITION_DIR))
    n_files = (F.create_map(*[F.lit(x) for kv in files.items() for x in kv])
               [dir_value] if files else F.lit(None))
    manifest = counts.select(shard_col, "n_rows",
                             n_files.cast("long").alias("n_files"), *tokens)
    _publish_manifest(manifest, root)
    return read_shard_manifest(spark, path, manifest.schema)


_PARTITION_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^') | {
    chr(c) for c in range(0x20)} | {chr(0x7F)}


def _escape_partition_value(value: str) -> str:
    """Spark's ``escapePathName`` for partition directory names: characters
    outside the safe set become ``%XX``. Without this, an existence probe
    for e.g. a timestamp value ('2024-01-02 00:00:00') checks the unescaped
    path while the writer created 'snapshot_date=2024-01-02 00%3A00%3A00' —
    the probe always misses and the idempotent sink rewrites every run."""
    return "".join(f"%{ord(ch):02X}" if ch in _PARTITION_ESCAPE_CHARS else ch
                   for ch in value)


def snapshot_exists(spark: SparkSession, root: str, date_str: str,
                    partition_col: str = "snapshot_date") -> bool:
    """S10 idempotency probe: is today's partition already materialized?

    Mirrors the reference's existence check before writing the daily
    derivatives snapshot (reference: derivatives_snapshot_etl.py:48-56), but
    as a partition-directory check so it works on any Hadoop filesystem.
    The partition value is escaped exactly as Spark's writer escapes it.
    """
    escaped = _escape_partition_value(date_str)
    fs, path = _hadoop_fs(spark, f"{root}/{partition_col}={escaped}")
    return bool(fs.exists(path))


def write_daily_snapshot(df: DataFrame, root: str, date_col: str = "snapshot_date",
                         skip_if_exists: bool = True) -> bool:
    """S10 idempotent daily-snapshot sink.

    Appends exactly the partitions present in ``df``; with
    ``skip_if_exists`` the write is a no-op when every partition already
    exists — the reference's "already ran today, skipping" behavior
    (derivatives_snapshot_etl.py:48-56). Returns True iff data was written.
    At scale: dynamic partition overwrite keeps re-runs exactly-once per day.
    """
    spark = df.sparkSession
    if skip_if_exists:
        dates = [r[0] for r in df.select(F.col(date_col).cast("string")).distinct().collect()]
        missing = [d for d in dates if not snapshot_exists(spark, root, d, date_col)]
        if not missing:
            return False
        df = df.filter(F.col(date_col).cast("string").isin(missing))
    # save/restore: leaking dynamic mode session-wide would silently turn
    # every LATER partitioned mode='overwrite' write into a partial
    # overwrite that leaves stale partitions on disk (same conf hygiene
    # as load_table's nanosAsLong handling)
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "dynamic")
    try:
        df.write.mode("overwrite").partitionBy(date_col).parquet(root)
    finally:
        spark.conf.set(key, prev) if prev else spark.conf.unset(key)
    return True


class TwoTierCache:
    """S8/S9 two-tier cache get/put (reference: ``DataPersistenceLayer``,
    pipeline_helpers.py:34-102; test signature
    test_caching_infrastructure.py:44-49).

    The reference tiers are local disk (fast, per-machine) and GCS
    (durable, shared). The Spark-idiomatic mapping keeps both tiers but
    re-homes the fast one where a cluster actually has fast storage:

    - **tier 1 — session tier**: ``df.persist()`` in the executors' block
      managers (memory, spilling to executor-local disk). A ``get`` hit
      here costs no scan at all; this is what the reference's local-disk
      read bought on one machine, generalized to N executors.
    - **tier 2 — lake tier**: ``{lake_dir}/{name}.parquet`` (DataFrames)
      or ``{name}.json`` (small config dicts, e.g. the PIT universe map)
      on any Hadoop filesystem (``file:``, ``hdfs:``, ``gs:`` — existence
      and JSON IO go through the Hadoop FS API, never ``os.path``).

    ``get(name)`` returns a DataFrame, a dict, or None (miss) — the
    reference's contract. A lake DataFrame hit is promoted into the
    session tier so repeated gets are scan-free. ``set(name, data)``
    writes through: durable lake write + session-tier persist.

    Scale notes: the lake write is a distributed parquet sink (never a
    driver collect); promotion is lazy (``persist`` materializes on first
    action, per-executor, in parallel). JSON stays driver-side by design —
    it carries KB-scale config, same as the reference's ``dict`` branch.
    """

    def __init__(self, spark: SparkSession, lake_dir: str) -> None:
        self.spark = spark
        self.lake_dir = lake_dir.rstrip("/")
        self._session: dict[str, DataFrame] = {}

    def _paths(self, name: str) -> tuple[str, str]:
        return (f"{self.lake_dir}/{name}.parquet",
                f"{self.lake_dir}/{name}.json")

    def _exists(self, path: str) -> bool:
        fs, jpath = _hadoop_fs(self.spark, path)
        return bool(fs.exists(jpath))

    def get(self, name: str):
        """Session tier → lake tier → None (reference get(), :55-70)."""
        if name in self._session:
            return self._session[name]
        pq_path, js_path = self._paths(name)
        if self._exists(pq_path):
            df = self.spark.read.parquet(pq_path).persist()
            self._session[name] = df
            return df
        if self._exists(js_path):
            return self._read_json(js_path)
        return None

    def set(self, name: str, data) -> None:
        """Write-through put (reference set(), :72-91): durable lake write
        plus session-tier persist. Dicts → JSON, DataFrames → parquet."""
        pq_path, js_path = self._paths(name)
        if isinstance(data, DataFrame):
            data.write.mode("overwrite").parquet(pq_path)
            # re-read so the session tier caches the durable bytes
            # (and later gets dedupe with the lake representation)
            self.invalidate(name)
            df = self.spark.read.parquet(pq_path).persist()
            self._session[name] = df
        elif isinstance(data, Mapping):
            import json

            # A type-switching set must not leave a stale shadow: drop the
            # session-tier entry AND any parquet of the same name — get()
            # probes parquet before json, so an old DataFrame value would
            # otherwise keep winning ('get returns what was last set' is
            # the write-through contract).
            self.invalidate(name)
            pq_fs, pq_jpath = _hadoop_fs(self.spark, pq_path)
            if pq_fs.exists(pq_jpath):
                pq_fs.delete(pq_jpath, True)
            fs, jpath = _hadoop_fs(self.spark, js_path)
            out = fs.create(jpath, True)
            try:
                out.write(bytearray(json.dumps(data).encode()))
            finally:
                out.close()
        else:
            raise TypeError(
                f"TwoTierCache.set supports DataFrame or Mapping, "
                f"got {type(data).__name__}")

    def _read_json(self, path: str) -> dict:
        import json

        fs, jpath = _hadoop_fs(self.spark, path)
        stream = fs.open(jpath)
        try:
            # IOUtils drains the Hadoop input stream JVM-side
            jvm = self.spark.sparkContext._jvm
            data = jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
        finally:
            stream.close()
        return json.loads(bytes(data).decode())

    def invalidate(self, name: str) -> None:
        """Drop the session-tier entry (lake copy stays durable)."""
        df = self._session.pop(name, None)
        if df is not None:
            df.unpersist()

    def clear(self) -> None:
        for name in list(self._session):
            self.invalidate(name)
