"""SparkSession bootstrap and catalog registration.

Replaces the reference's hand-rolled site bring-up
(SiteRpcServer/Program.cs:17-52) and its implicit "catalog" — the
hardcoded fragmentation map in QueryService.asmx.cs:310-427 — with a
SparkSession plus temp views over parquet. Placement, exchange, and
parallelism are owned by Spark's scheduler instead of per-node Site
tags (reference RPC.cs:102).

Scale notes (100 TB design intent):
- AQE on: runtime partition coalescing, skew-join splitting, and
  dynamic join-strategy switching replace any static plan choice.
  (`service.serve` turns it off on the session it serves from.)
- shuffle.partitions is a local-mode default only; on a real cluster
  AQE's coalescing makes the initial number far less sensitive.
- Timezone pinned UTC so timestamp semantics are portable (and match
  the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def get_spark(app_name: str = "distributedqueryengine-spark") -> SparkSession:
    """Build (or reuse) a SparkSession tuned for local correctness runs.

    Every config here is also the right default at cluster scale except
    `master` and `shuffle.partitions`, which a deployment overrides via
    spark-submit; nothing in the engine assumes local mode.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Size-based coalescing, not parallelism-first: small shuffle
        # stages collapse to few tasks instead of always fanning out to
        # the full partition count (per-task overhead dominates tiny
        # stages; at scale the 64MB advisory size governs anyway).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.default.parallelism", cpus)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # UI off for tests/bench (port + thread overhead); tools that
        # read stage metrics over the REST API opt in via env var (the
        # shuffle-bytes figures frozen in SCALE_PROBE_r1*.json were
        # read that way).
        .config("spark.ui.enabled", os.environ.get("SPARK_GRAFT_UI", "false"))
        # events.parquet stores TIMESTAMP(NANOS); Spark has no nanos
        # timestamp type, so read as long and convert in load_table.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reliable checkpoint() dirs (pipeline._stage on a cluster) are
        # deleted once their RDD is garbage-collected, not left behind.
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
    )
    if not os.environ.get("SPARK_GRAFT_ON_CLUSTER"):
        builder = builder.master(f"local[{cpus}]")
    return builder.getOrCreate()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar parquet scan — Catalyst pushes filters/projections into it.

    `events.ts` is parquet TIMESTAMP(NANOS) — read as long nanos
    (nanosAsLong) and converted to a microsecond timestamp with exact
    integer arithmetic (DIV, not double math: nanos-epoch exceeds 2^53),
    matching DuckDB's nanos→micros truncation so oracles agree.

    The two semantics-critical confs are (re)set here at runtime so the
    engine behaves identically under an externally-created
    SparkSession (e.g. the verification driver's), not only one built
    by `get_spark`.
    """
    # Per-session memo: the fixture parquet is immutable, so the
    # DataFrame (an immutable logical plan) is built once per
    # (sf_dir, table) and reused — repeated load_table calls otherwise
    # pay a footer/schema read (~0.1 s locally) every time, which
    # multiplies across multi-branch suite queries. Confs are set once
    # on the cache miss; a hit means they are already in place.
    cache: dict = spark.__dict__.setdefault("_graft_table_cache", {})
    key = (os.path.abspath(sf_dir), name)
    if key in cache:
        return cache[key]
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        # Fixture generations vary: TIMESTAMP(MICROS, isAdjustedToUTC=
        # false) reads as NTZ, which streaming watermarks reject
        # (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE). Session TZ is pinned
        # UTC above, so the cast reinterprets the same wall-clock
        # instant — values match DuckDB's naive-timestamp read exactly.
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    cache[key] = df
    return df


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register the fixture tables as temp views (the engine's catalog).

    The reference resolved table names against per-site MySQL databases
    at scan time (RPC.cs:311-329); here the catalog is explicit and the
    scan is a parquet columnar read with pushdown.

    Idempotent per (session, sf_dir): views persist in the session
    catalog, so a repeat call for the SAME sf_dir is a no-op (several
    SQL-front-end queries each ensure registration; only the first
    pays). A call with a DIFFERENT sf_dir re-registers, since the view
    names are session-global.
    """
    registered = spark.__dict__.setdefault("_graft_registered_views", {})
    key = os.path.abspath(sf_dir)
    if registered.get("sf_dir") == key:
        return registered["dfs"]
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    registered["sf_dir"] = key
    registered["dfs"] = dfs
    return dfs


def ensure_parallelism(df: DataFrame, min_fraction: int = 4) -> DataFrame:
    """Round-robin repartition a DataFrame whose scan yields far fewer
    partitions than the cluster has cores (single-file / single-row-
    group local fixtures read as ONE task, serializing every downstream
    narrow transformation until the first shuffle).

    Guarded: a real multi-file dataset already scans wide, so this is a
    no-op there — the repartition (and its full-row shuffle) only fires
    when input width < parallelism/min_fraction. Apply before
    explode-heavy per-row work (shingling, winnowing), where the
    narrow-stage CPU dwarfs one extra shuffle of the input rows.

    Width is probed from input-level signals (inputFiles) first — the
    RDD fallback forces a plan→RDD conversion and does not exist under
    Spark Connect, so it is last and failure-tolerant.
    """
    spark = df.sparkSession
    try:
        target = int(spark.sparkContext.defaultParallelism)
    except Exception:  # Spark Connect: no SparkContext on the client
        target = int(spark.conf.get("spark.sql.shuffle.partitions"))
    try:
        width = len(df.inputFiles())
    except Exception:
        width = 0
    if width == 0:
        try:
            width = df.rdd.getNumPartitions()
        except Exception:
            return df  # Connect + non-file source: leave the plan alone
    if width < max(2, target // min_fraction):
        return df.repartition(target)
    return df
