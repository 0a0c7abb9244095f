"""Batch table loaders over the driver parquet fixtures (TESTDATA.md).

The reference reads its dimension via a JDBC snapshot with manual column
pruning (stream-processor.py:254-266); in our engine the same operator is a
parquet scan and pruning/pushdown is left to Catalyst (SURVEY.md §4) — a
``.select``/``.filter`` downstream reaches the scan as ReadSchema /
PushedFilters. JDBC remains a drop-in alternative behind the same call.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
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


def _parquet_has_nanos_ts(path: str, column: str = "ts") -> bool:
    """True iff the parquet file/dir stores ``column`` as TIMESTAMP(NANOS).

    Footer-only pyarrow probe (no data pages read) so the Spark-side
    ``nanosAsLong`` legacy conf is touched ONLY for files that need it —
    there is no per-read datasource option for it in Spark 4.x
    (ParquetOptions: mergeSchema/compression/rebase modes only)."""
    try:
        import pyarrow.dataset as ds
        import pyarrow as pa

        field = ds.dataset(path, format="parquet").schema.field(column)
        return pa.types.is_timestamp(field.type) and field.type.unit == "ns"
    except Exception:
        # unknown layout/column: leave session conf untouched; the plain
        # read below surfaces any real incompatibility
        return False


# Per-session DataFrame memo (optimization r15). Building a fixture
# DataFrame costs a JVM round-trip + parquet footer read (~0.05-0.15 s,
# measured) and repeats for EVERY query invocation — a real application
# reads a table once per session and reuses the plan. The memo stores
# the unresolved plan only: every action still scans the parquet input
# in full (this is plan reuse, not result caching). Keyed by the
# session's applicationId AND the file's (size, mtime_ns) stat, so a
# new session, a regenerated fixture, or a different sf_dir can never
# be served a stale plan.
_TABLE_MEMO: dict[tuple, DataFrame] = {}
_VIEWS_MEMO: dict[str, tuple] = {}


# Artifact-readability memo (optimization r15): every index/codebook
# builder re-probed its on-disk artifact with 1-3 ``limit(1)`` Spark
# jobs on EVERY serving call. Artifact roots already encode fixture
# identity (path fingerprints) and are never hand-deleted (verify
# skill contract) — once a root has been probed readable (or freshly
# built) in this session, later calls skip the probe. Content reads
# are untouched: every query still reads the artifact parquet itself.
_ARTIFACT_OK: set[tuple] = set()


def _artifact_stamp(root: str) -> tuple | None:
    """Layout fingerprint of an artifact root: (size, mtime) of the root
    directory and of EVERY entry below it, at any depth. Artifacts nest
    to different depths (root/component-dir/part-*.parquet, and the
    incremental indexes' root/postings/batch_id=N/part-*.parquet), so
    the walk recurses through every directory: create/delete/rename
    anywhere moves a parent mtime, and an IN-PLACE overwrite or
    truncation of any part file — which moves no directory mtime
    (ADVICE r15) — changes that file's own (size, mtime) entry. A
    memoized verification can therefore never survive the manipulations
    the rebuild-on-doubt probes exist to catch (pinned by the
    corrupted-artifact battery and tests/test_artifact_stamp.py).
    Artifact trees are small (tens of files), so the walk is cheap.
    Non-path keys (bucketed catalog tables) stamp as None — their
    existence is already re-checked via the catalog on every call."""
    try:
        st = os.stat(root)
    except OSError:
        return None
    kids = []

    def _scan(base: str, prefix: str) -> None:
        try:
            entries = sorted(os.listdir(base))
        except OSError:
            return
        for e in entries:
            p = os.path.join(base, e)
            try:
                est = os.stat(p)
            except OSError:
                kids.append((prefix + e, -1, -1))
                continue
            kids.append((prefix + e, est.st_size, est.st_mtime_ns))
            if os.path.isdir(p):
                _scan(p, prefix + e + "/")

    _scan(root, "")
    return (st.st_mtime_ns, tuple(kids))


def _evict_other_apps(app: str) -> None:
    """Drop memo entries from other (stopped) sessions (VERDICT r15 #3:
    the memos are keyed by applicationId but nothing ever removed dead
    sessions' DataFrame handles, so a long test process that creates
    many sessions accumulated them). Only one SparkContext — hence one
    applicationId — is live per process, so seeing a new app id means
    every other app's entries are dead; evicting them costs a rebuild
    at worst, never correctness."""
    for k in [k for k in _TABLE_MEMO if k[0] != app]:
        del _TABLE_MEMO[k]
    for k in [k for k in _ARTIFACT_OK if k[0] != app]:
        _ARTIFACT_OK.discard(k)
    for k in [k for k in _VIEWS_MEMO if k != app]:
        del _VIEWS_MEMO[k]


def artifact_verified(spark: SparkSession, root: str) -> bool:
    key = (
        spark.sparkContext.applicationId,
        root,
        _artifact_stamp(root) if os.path.sep in root else None,
    )
    return key in _ARTIFACT_OK


def mark_artifact_verified(spark: SparkSession, root: str) -> None:
    app = spark.sparkContext.applicationId
    _evict_other_apps(app)
    _ARTIFACT_OK.add(
        (
            app,
            root,
            _artifact_stamp(root) if os.path.sep in root else None,
        )
    )


def _memo_key(
    spark: SparkSession, path: str, name: str
) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (
        spark.sparkContext.applicationId,
        name,
        os.path.abspath(path),
        st.st_size,
        st.st_mtime_ns,
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Columnar parquet scan; Catalyst prunes.

    ``events.parquet`` fixtures have shipped with three different physical
    encodings of ``ts`` across driver generations, and every downstream
    operator assumes a session-TZ ``TimestampType`` (``unix_micros`` etc.
    reject TIMESTAMP_NTZ):

    - TIMESTAMP(NANOS): Spark's vectorized reader rejects it by default; we
      read nanos as long (``nanosAsLong``) and convert with integer ``div``
      — the same truncation DuckDB applies — keeping the scan vectorized.
      The legacy conf has no read-option-scoped form, so it is latched on
      the session — but only after a footer probe proves this file actually
      stores nanos (a micros-encoded load never mutates session state).
      Engine-built sessions pin the conf at build time (session.py); the
      latch here covers vanilla sessions such as the driver's.
    - TIMESTAMP_MICROS(isAdjustedToUTC=false): Spark 4.x reads this as
      TIMESTAMP_NTZ; we cast to ``timestamp``. The session TZ is pinned UTC
      (session.py), so wall-clock values — and all DuckDB oracles — are
      unchanged.
    - TIMESTAMP_MICROS(isAdjustedToUTC=true): already session-TZ
      TimestampType; passes through untouched."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = _memo_key(spark, path, name)
    if key is not None and key in _TABLE_MEMO:
        return _TABLE_MEMO[key]
    df = _load_table_uncached(spark, path, name)
    if key is not None:
        _evict_other_apps(key[0])
        _TABLE_MEMO[key] = df
    return df


def _load_table_uncached(
    spark: SparkSession, path: str, name: str
) -> DataFrame:
    if name == "events":
        if _parquet_has_nanos_ts(path):
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        ts_type = dict(df.dtypes).get("ts")
        from pyspark.sql import functions as F

        if ts_type == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql() use.

    Memoized per session on the LAST registered fixture identity
    (optimization r15: ~1 s per call measured — 10 plan builds + 10
    catalog round-trips — repeated by every spark.sql-spelled query):
    re-registering the same unchanged sf_dir is a no-op; a different
    sf_dir, or any fixture file whose (size, mtime) changed, always
    re-registers. Semantics are unchanged because the views are
    name-bound plans — execution still scans the current parquet.

    Fixture view names are owned EXCLUSIVELY by register_views (ADVICE
    r15): session code must not drop or shadow temp views named after
    fixture tables, or a memo-honoring call would leave the foreign
    binding in place. Nothing in the engine or its tests does; callers
    embedding the engine keep the same contract."""
    app = spark.sparkContext.applicationId
    ident = tuple(
        _memo_key(spark, os.path.join(sf_dir, f"{n}.parquet"), n)
        for n in TABLE_NAMES
    )
    if _VIEWS_MEMO.get(app) == ident:
        return
    for name in TABLE_NAMES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    _evict_other_apps(app)
    _VIEWS_MEMO[app] = ident


def load_jdbc_dim(
    spark: SparkSession,
    url: str,
    table: str,
    user: str,
    password: str,
    num_partitions: int = 4,
    fetchsize: int = 10_000,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    driver: str | None = None,
) -> DataFrame:
    """JDBC dimension snapshot — same options as the reference
    (stream-processor.py:254-263: fetchsize=10000, numPartitions=4).

    NOTE the reference quirk its options hide: Spark's JDBC source
    ignores ``numPartitions`` on read unless ``partitionColumn`` +
    bounds are also given — the reference's snapshot is actually a
    single-partition read. Pass ``partition_column``/``lower_bound``/
    ``upper_bound`` for the genuinely parallel scan (N range-split
    queries); tested end-to-end against the embedded Derby engine
    bundled with Spark (tests/test_jdbc_source.py), so this leg is no
    longer environment-gated."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("user", user)
        .option("password", password)
        .option("fetchsize", str(fetchsize))
        .option("numPartitions", str(num_partitions))
    )
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()
