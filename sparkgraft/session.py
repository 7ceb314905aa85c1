"""SparkSession factory with scale-minded defaults.

Reference parity: the reference builds ``SparkSession.builder.master("local[*]")
.enableHiveSupport()`` per entry point (reference
transformer/DataLoadTransformer.scala:23-28) and sets
``spark.sql.sources.partitionOverwriteMode=dynamic`` at write time
(connector/hive/HiveConnector.scala:48). We centralize session construction
and bake in the configs that matter at 100 TB:

- AQE (coalesce shuffle partitions, skew-join splitting) — the reference's
  ``Window.partitionBy(user_id)`` and exact COUNT(DISTINCT) are skew-prone.
- UTC session timezone so timestamp semantics are deterministic and match
  the DuckDB oracle (naive == UTC).
- Dynamic partition overwrite as the idempotent-backfill mechanism.
- nanosAsLong so nanosecond-precision parquet timestamps are readable
  (converted to timestamps by ``sparkgraft.io.readers``).
- A codegen cache sized to the engine's working set
  (``spark.sql.codegen.cache.maxEntries``), so a repeated query mix
  reuses its compiled classes instead of recompiling them every pass.
  It is a static conf: it takes effect only in the session that starts
  the JVM, and sessions built without ``get_spark`` keep Spark's 100.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"))

#: the engine's parquet codec: the session default and every table writer
#: in ``catalog`` read it (see the conf comment in ``get_spark``)
PARQUET_CODEC = "zstd"

#: directory holding the ``sparkgraft`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _default_master() -> str:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")


def get_spark(
    app_name: str = "sparkgraft",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    hive: bool = False,
    warehouse_dir: str | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    ``hive=True`` enables Hive metastore support (embedded Derby locally;
    external metastore on a real cluster) for the catalog layer.
    """
    builder = SparkSession.builder.appName(app_name).master(master or _default_master())

    conf = {
        # Determinism / oracle parity
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # Idempotent partition backfill (reference HiveConnector.scala:48)
        "spark.sql.sources.partitionOverwriteMode": "dynamic",
        # Adaptive execution: runtime re-plan, shuffle coalesce, skew split.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # At 100 TB the static number is a starting point only; AQE coalesces.
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        # Columnar output + compression.  The reference pins snappy
        # (HiveConnector.scala:22-23); we depart from it.  The curated
        # table's session_id is a 64-char hex SHA-256 (4 bits of
        # information per 8-bit char), 58% of the table's bytes under
        # snappy, which has no entropy coding.  zstd entropy-codes it:
        # session_id 2.01 -> 1.05 MB over 3 months x 20k rows, and the
        # table 0.81x -> 0.51x its source CSV, with the same load CPU
        # (perfbench etl_backfill, 10 interleaved pairs).
        "spark.sql.parquet.compression.codec": PARQUET_CODEC,
        # Whole-stage codegen cache (static: read once per JVM).  Spark's
        # 100 entries is below the working set of a repeating query mix,
        # and an LRU cache smaller than a cycle misses on every access:
        # each perfbench olap_mix pass recompiled ~100 classes (Janino on
        # the driver, then C1/C2 JIT of the fresh class).  One pass over
        # the 209 batch registry lanes at sf0.001 compiles ~2,400 distinct
        # classes; at 4096 a second pass compiles 3,464 -> 73 and olap_mix
        # cpu_s_per_op fell 3.19 -> 2.69 s (10 interleaved pairs), with the
        # same plans and results.  The cost is memory: after two registry
        # passes the retained heap is 180 -> 252 MB, Metaspace 220 -> 239 MB.
        "spark.sql.codegen.cache.maxEntries": "4096",
        # Arrow for any pandas-UDF path (ext/ modules) — batch, not per-row.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Small-dim broadcast: 32 MB is safe at 128 GiB executors; dims like
        # region/nation/customer stay broadcast even at sf1000.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        "spark.ui.enabled": "false",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    }
    # Scan-split sizing: the default 128 MB split reads each small-to-mid
    # parquet file as ONE task, serializing the scan stage on a many-core
    # local box (measured 2x on the bench set). 8 MB keeps every core fed
    # locally; on a real cluster raise via env — 128-256 MB amortizes task
    # overhead at 100 TB where files are properly sized.
    resolved_master = master or _default_master()
    if resolved_master.startswith("local"):
        conf["spark.sql.files.maxPartitionBytes"] = os.environ.get(
            "SPARK_GRAFT_MAX_PARTITION_BYTES", str(8 * 1024 * 1024)
        )
    if warehouse_dir:
        conf["spark.sql.warehouse.dir"] = warehouse_dir
        # only spark.hadoop.*-prefixed keys reach the Hive/Hadoop config;
        # without the prefix Derby would land in cwd/metastore_db
        conf["spark.hadoop.javax.jdo.option.ConnectionURL"] = (
            f"jdbc:derby:;databaseName={warehouse_dir}/metastore_db;create=true"
        )
    if extra_conf:
        conf.update(extra_conf)
    # Python workers unpickle functions defined in this package (the Arrow
    # codec lanes); put the package's root on their path, after any
    # caller-provided entries, so a session started from any working
    # directory can run them.  Spark merges it with its own worker path.
    conf["spark.executorEnv.PYTHONPATH"] = os.pathsep.join(
        p for p in (conf.get("spark.executorEnv.PYTHONPATH"), _PACKAGE_ROOT) if p
    )

    for k, v in conf.items():
        builder = builder.config(k, v)
    if hive:
        builder = builder.enableHiveSupport()
    return builder.getOrCreate()
