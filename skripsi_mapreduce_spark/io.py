"""Dataset catalog / IO helpers.

The reference pipes Avro container files between jobs through hard-coded
HDFS paths (SURVEY.md §1.1; JobExtractTransform.java:67-71,
JobExtractFeature.java:164-174). The engine replaces that with a tiny
catalog: named parquet tables under a scale-factor directory, loaded
lazily. Parquet is the native format (columnar, predicate pushdown,
column pruning); Avro read/write is kept for parity IO where the
spark-avro package is available.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` across ``defaultParallelism`` partitions when
    running in LOCAL mode (or when ``spark.skripsi.spreadSmallScans`` is
    explicitly true); the identity on cluster masters (or when the conf
    is explicitly false).

    Purpose: the local test tables are single-file, single-row-group
    parquet, so their scan is ONE partition and downstream tokenize/
    explode work would pin a single core — maxPartitionBytes cannot split
    a lone row group. On one machine the spread is always safe (the
    "shuffle" is in-process). At cluster scale a 100 TB scan already has
    ~1e5 splits, and an unconditional ``repartition`` here would be a
    full corpus-text shuffle for nothing — so on yarn/k8s/standalone
    masters this is the identity unless explicitly opted in. The
    master-based default (instead of probing
    ``df.rdd.getNumPartitions()``, ~1s of plan->RDD conversion per call)
    also covers externally-built default sessions, e.g. the correctness
    driver's."""
    spark = df.sparkSession
    try:
        conf = str(spark.conf.get("spark.skripsi.spreadSmallScans", "")).lower()
    except Exception:  # pragma: no cover - defensive for exotic sessions
        conf = ""
    if conf == "false":
        return df
    if conf != "true" and not spark.sparkContext.master.startswith("local"):
        return df
    return df.repartition(spark.sparkContext.defaultParallelism)


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """Arrow-backed local DataFrame for bounded driver-side row sets
    (seed/centroid tables, dense dictionaries, probe batches).

    ``createDataFrame(list_of_tuples)`` ships PICKLED rows that executor
    tasks deserialize through Python workers — measured 6.4s of
    executorRunTime (32 no-IO tasks) for a 4096-row dictionary, twice
    per consuming query because the broadcast build re-evaluates the
    RDD. Routing the same rows through pandas turns them into Arrow
    batches decoded JVM-side: ~3x faster to build and to consume
    (guide §4 — the Python boundary crossed as Arrow, not pickle).

    Only used for simple column types (ints/longs/strings/doubles/
    binary/arrays thereof); falls back to the plain path when pandas is
    unavailable or the conversion raises, so behavior never changes —
    values are identical either way (no None-typed coercion sites)."""
    if rows and isinstance(rows[0], (tuple, list)):  # not dict-shaped rows
        try:
            import pandas as pd
            from pyspark.sql import types as T

            sch = T._parse_datatype_string(schema) if isinstance(schema, str) else schema
            pdf = pd.DataFrame(
                [tuple(r) for r in rows], columns=[f.name for f in sch.fields]
            )
            return spark.createDataFrame(pdf, schema=sch)
        except Exception:
            pass
    return spark.createDataFrame(rows, schema=schema)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table as a DataFrame (columnar parquet scan).

    Timestamp normalization: the generated ``events.ts`` has shipped both as
    parquet TIMESTAMP(NANOS) (which Spark's vectorized reader only accepts as
    a long) and as TIMESTAMP(MICROS) without the UTC flag (which Spark reads
    as TIMESTAMP_NTZ, a type ``unix_micros``/``unix_timestamp`` reject).
    Canonicalize every variant to plain TIMESTAMP: the session timezone is
    pinned to UTC (session.py), so NTZ→LTZ keeps the wall-clock instant and
    matches DuckDB's epoch semantics for naive timestamps.
    """
    if name == "events":
        # Must be set on whichever session calls us (incl. the driver's own):
        # without it the scan fails outright on a NANOS column.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        # NANOS-as-long → integer-divide (no double precision loss at ~1.7e18)
        # down to microseconds, matching DuckDB's own ns→us truncation.
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    for col, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(col, F.col(col).cast("timestamp"))
    return df


def table_row_count(sf_dir: str, name: str) -> int | None:
    """Exact row count of a catalog table from parquet FOOTER metadata —
    a driver-side pyarrow read of the file footers, no Spark job at all.
    The reference publishes its document count N through a counter + a
    WebHDFS side file (App.java:70-91, O12/O14); parquet footers carry
    the same scalar for free. Returns None when the table is not plain
    parquet on a local filesystem (caller falls back to ``df.count()``).
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            # mirror Spark's file-selection rule exactly: skip HIDDEN
            # entries (names starting with '_' or '.', e.g. _SUCCESS,
            # _temporary staging trees) and read every other data file
            # regardless of extension — a divergence here would feed a
            # silently wrong N into the TF-IDF chain instead of the
            # loud df.count() fallback
            total = 0
            for root, dirs, files in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                for f in files:
                    if f.startswith(("_", ".")) or f.endswith(".crc"):
                        continue
                    total += pq.ParquetFile(os.path.join(root, f)).metadata.num_rows
            return total
    except Exception:
        return None
    return None


def table_column_max(sf_dir: str, name: str, column: str) -> int | None:
    """Exact MAX of an integer column from parquet ROW-GROUP statistics —
    a driver-side pyarrow footer read, no Spark job (the column-stats
    twin of :func:`table_row_count`; the incremental-ingest entries use
    it for their id-offset scalar). Returns None — caller falls back to
    ``df.agg(max(...))`` — when the table is not plain local parquet,
    the column is absent, or ANY row group lacks trustworthy min/max
    stats (a None here can only cost a Spark job, never a wrong
    scalar)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        import pyarrow.parquet as pq

        if os.path.isfile(path):
            files = [path]
        elif os.path.isdir(path):
            files = []
            for root, dirs, fnames in os.walk(path):
                dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
                files.extend(
                    os.path.join(root, f)
                    for f in fnames
                    if not f.startswith(("_", ".")) and not f.endswith(".crc")
                )
        else:
            return None
        mx = None
        for f in files:
            md = pq.ParquetFile(f).metadata
            try:
                ci = md.schema.to_arrow_schema().get_field_index(column)
            except Exception:
                return None
            if ci < 0:
                return None
            for g in range(md.num_row_groups):
                st = md.row_group(g).column(ci).statistics
                if st is None or not st.has_min_max:
                    return None
                mx = st.max if mx is None else max(mx, st.max)
        return mx
    except Exception:
        return None


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every catalog table as a temp view for the SQL surface."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Overwrite-mode parquet sink (replaces the reference's delete-then-write
    output-dir handling, JobExtractTransform.java:55-57 — O39)."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_bucketed(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed-table sink: later equi-joins/aggregations on
    ``bucket_cols`` read co-located buckets and skip the shuffle entirely
    — the 100 TB answer to repeatedly joining on the same key (e.g.
    features by doc_id across K-Means iterations, dedup candidates by
    band hash)."""
    w = df.write.mode("overwrite").bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(table_name)


def write_avro(df: DataFrame, path: str) -> None:
    """Avro sink for reference-parity IO (JobExtractTransform.java:66-71 —
    O13). With spark-avro on the classpath this is the native avro+snappy
    sink; without it (this container) the engine's pure-Python container
    codec (sources/avro_python.py) writes spec-conformant deflate files —
    readable by any Avro implementation including the reference's Hadoop
    stack (snappy specifically needs python-snappy; deflate is the
    offline-safe codec). The classpath check runs UP FRONT so genuine
    write failures propagate unchanged."""
    from .sources.readers import avro_available

    if avro_available(df.sparkSession):
        df.write.mode("overwrite").format("avro").option("compression", "snappy").save(path)
        return
    from .sources.avro_python import write_avro_python

    write_avro_python(df, path, codec="deflate")


def write_sharded(
    df: DataFrame,
    path: str,
    rows_per_shard: int = 1_000_000,
    order_by: list[str] | None = None,
    fmt: str = "parquet",
) -> dict:
    """Training-data export: write ``df`` as size-bounded shards plus a
    ``_manifest.json`` (per-file row counts, total, schema; the
    underscore prefix keeps Spark/Hadoop readers from treating it as
    data) — the
    last-mile contract a downstream training loader needs (deterministic
    shard membership, known counts, no surprise 40 GB files).

    Shard bound via ``maxRecordsPerFile`` (task-local row cap, no extra
    shuffle); ``order_by`` optionally range-partitions first so shard
    files carry contiguous key ranges (resumable / seekable exports).
    The manifest is written by the driver AFTER the files commit, from
    the file-system listing + parquet footers — counts come from
    metadata, not a second scan.

    Scale: the write is the same distributed sink as write_parquet; the
    manifest step reads #files footers (driver, bounded by shard count).
    Returns the manifest dict."""
    import json
    import os

    import pyarrow.parquet as pq_mod

    if fmt != "parquet":
        raise NotImplementedError("sharded export currently writes parquet")
    w = df
    if order_by:
        w = w.repartitionByRange(*order_by).sortWithinPartitions(*order_by)
    (
        w.write.mode("overwrite")
        .option("maxRecordsPerFile", rows_per_shard)
        .parquet(path)
    )
    files = sorted(
        f for f in os.listdir(path) if f.endswith(".parquet") and not f.startswith("_")
    )
    shards = []
    total = 0
    for f in files:
        md = pq_mod.ParquetFile(os.path.join(path, f)).metadata
        shards.append({"file": f, "rows": md.num_rows})
        total += md.num_rows
    manifest = {
        "format": "parquet",
        "total_rows": total,
        "n_shards": len(shards),
        "rows_per_shard": rows_per_shard,
        "schema": [f"{fld.name}:{fld.dataType.simpleString()}" for fld in df.schema.fields],
        "shards": shards,
    }
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(manifest, fh, indent=1, sort_keys=True)
    return manifest


def write_versioned(df: DataFrame, path: str) -> int:
    """Snapshot-versioned sink (poor-man's time travel): each call
    writes a NEW immutable version directory ``path/v=N`` and then
    atomically repoints ``path/_latest`` — readers never observe a
    half-written version because the pointer moves only after the files
    commit (the same commit-then-publish order every table format
    uses). Returns the new version number.

    Pairs with the CDC family: keep the changelog (cdc.apply_changes
    maintains state), snapshot with write_versioned at checkpoints, and
    cdc_scd2-style history queries read any past version via
    :func:`read_versioned`. Single-writer contract (documented): two
    concurrent writers could allocate the same N — serialize snapshot
    jobs or add a lock service, exactly as with any manifest pointer."""
    import os

    os.makedirs(path, exist_ok=True)
    # Allocate past every v=N directory, committed or not — a partial
    # dir left by a crashed writer must not collide with the next write.
    n = max(_version_dirs(path, committed_only=False), default=0) + 1
    df.write.mode("errorifexists").parquet(os.path.join(path, f"v={n}"))
    # Own commit witness, written driver-side AFTER the job returns:
    # jobs configured with
    # mapreduce.fileoutputcommitter.marksuccessfuljobs=false emit no
    # _SUCCESS, and a version must not become invisible because of a
    # committer setting. Underscore-prefixed, so scans ignore it.
    # SCOPE: the witness (like _latest.tmp's os.replace below) is a
    # driver-LOCAL file write, so it covers local-filesystem roots only —
    # an object-store root (s3://...) would need the marker routed
    # through the Hadoop FileSystem API instead of open().
    with open(os.path.join(path, f"v={n}", "_committed"), "w") as fh:
        fh.write("1")
    tmp = os.path.join(path, "_latest.tmp")
    with open(tmp, "w") as fh:
        fh.write(str(n))
    os.replace(tmp, os.path.join(path, "_latest"))
    return n


def _version_dirs(path: str, committed_only: bool) -> list[int]:
    """The ONE parse of ``v=N`` directory names, shared by the allocator
    (committed_only=False: a partial dir must still block its number)
    and the readers (committed_only=True: only ``_SUCCESS``-marked dirs
    exist) — two copies of this loop would let the two sides drift."""
    import os

    if not os.path.isdir(path):
        return []
    out = []
    for d in os.listdir(path):
        if d.startswith("v=") and d[2:].isdigit():
            # Either witness commits a version: Spark's _SUCCESS marker,
            # or write_versioned's own _committed sidecar (written after
            # the job returns — survives clusters configured with
            # marksuccessfuljobs=false, where _SUCCESS never appears).
            if committed_only and not (
                os.path.exists(os.path.join(path, d, "_SUCCESS"))
                or os.path.exists(os.path.join(path, d, "_committed"))
            ):
                continue
            out.append(int(d[2:]))
    return sorted(out)


def list_versions(path: str) -> list[int]:
    """Committed version numbers under a :func:`write_versioned` root.

    A version counts as committed once EITHER marker exists inside
    ``v=N``: Spark's ``_SUCCESS``, or write_versioned's own
    ``_committed`` sidecar (so versions stay visible on clusters whose
    cloud committer disables _SUCCESS). A crashed or in-flight writer
    leaves a partial directory with neither, and
    :func:`read_versioned` (explicit ``version=N`` included) will not
    observe it — though the next :func:`write_versioned` still
    allocates past it."""
    return _version_dirs(path, committed_only=True)


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read one committed version (default: the ``_latest`` pointer) —
    time travel over :func:`write_versioned` snapshots."""
    import os

    if version is None:
        with open(os.path.join(path, "_latest")) as fh:
            version = int(fh.read().strip())
    if version not in list_versions(path):
        raise FileNotFoundError(f"version {version} not committed under {path}")
    return spark.read.parquet(os.path.join(path, f"v={version}"))
