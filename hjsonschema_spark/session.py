"""SparkSession construction with scale-oriented defaults.

All engine entry points accept an existing SparkSession; this builder is
for tests / bench / CLI use. Defaults are chosen for the sandbox
(local[N], single JVM) but every knob matters identically on a real
cluster: AQE for runtime re-planning + skew-join splitting, Arrow for
the pandas-UDF boundary, shuffle partitions sized to the core count.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Iceberg is the north-rule target catalog; the sandbox has no Iceberg
# runtime jar, so we detect and fall back to Parquet for storage-layer
# tests (see sources/tables.py). Detection is cheap and cached.
_ICEBERG_AVAILABLE: bool | None = None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def _local_dir() -> str:
    if "SPARK_LOCAL_DIRS" in os.environ:
        return os.environ["SPARK_LOCAL_DIRS"]
    shm = "/dev/shm/spark_local"
    try:
        os.makedirs(shm, exist_ok=True)
        probe = os.path.join(shm, ".probe")
        open(probe, "w").close()
        os.remove(probe)
        return shm
    except OSError:
        return "/tmp"


def get_spark(
    app_name: str = "hjsonschema_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``cores`` pins ``local[cores]`` — used by bench.py to measure the
    N-vs-4N scaling efficiency required by the north rule.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(cores * 2, 32)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        # AQE: runtime coalescing of small shuffle partitions and
        # skew-join splitting — the explicit skew story for skewed
        # conv_id distributions (north rule).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow: every pandas-UDF boundary is vectorized.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Timestamps in the transcript model are instants (UTC).
        .config("spark.sql.session.timeZone", "UTC")
        # local mode = ONE JVM: the driver heap is the entire executor
        # memory pool; size it so 32 concurrent tasks don't spill/GC-thrash
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        # shuffle spill dir: this sandbox has ONE shared disk, so disk
        # shuffle IO is a serial term that caps multi-core scaling; on a
        # real cluster shuffle disks scale with nodes, so tmpfs is the
        # faithful proxy (cluster deployments override via SPARK_LOCAL_DIRS)
        .config("spark.local.dir", _local_dir())
        # managed-table home (bucketed fingerprint stores etc.) — keep
        # it on scratch space, never the working directory; production
        # deployments point this at the real catalog/warehouse
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", os.path.join(_local_dir(), "warehouse")
            ),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


_LOCAL_DF_MEMO: dict = {}


def cached_local_df(spark: SparkSession, rows: tuple, schema: str):
    """A SMALL STATIC local relation (check id lists, literal
    vocabularies) as a JVM ``LocalRelation``: it plans as a
    LocalTableScan — no job, no Python worker — where createDataFrame
    over a list plans as a PythonRDD scan that starts Python-worker
    tasks in every job reading it (a ref-join broadcast, a verdict
    union). Same column names and types as ``createDataFrame(rows,
    schema)``, every column nullable, zero rows allowed.

    Memoized: building the relation costs a parse and analysis, and
    bench/production loops rebuild the identical relation every run.
    Keyed on the session OBJECT (not its id — holding the reference
    also prevents id reuse after gc), so a new session never sees a
    stale frame. Plan-construction memo only: rows must be static
    configuration, never data-derived — build anything else with
    ``local_df``."""
    key = (spark, schema, rows)
    df = _LOCAL_DF_MEMO.get(key)
    if df is None:
        if len(_LOCAL_DF_MEMO) >= 256:
            _LOCAL_DF_MEMO.clear()
        df = _LOCAL_DF_MEMO[key] = local_df(spark, rows, schema)
    return df


def _sql_literal(v, type_sql: str) -> str:
    if v is None:
        return f"CAST(NULL AS {type_sql})"
    text = str(v).replace("\\", "\\\\").replace("'", "\\'")
    return f"CAST('{text}' AS {type_sql})"


def local_df(spark: SparkSession, rows: tuple, schema: str):
    """Inline ``VALUES`` table of ``rows`` typed by the DDL ``schema``
    (unmemoized ``cached_local_df``).
    A trailing all-NULL sentinel row makes every column nullable (as
    createDataFrame's DDL schema does) and gives the zero-row case a
    typed row; ``limit`` drops it, folded into the LocalRelation at
    optimization."""
    from pyspark.sql.types import DataType

    fields = DataType.fromDDL(schema).fields
    types = [f.dataType.simpleString() for f in fields]
    tuples = [
        "(" + ", ".join(_sql_literal(v, t) for v, t in zip(row, types, strict=True)) + ")"
        for row in (*rows, (None,) * len(fields))
    ]
    names = ", ".join("`" + f.name.replace("`", "``") + "`" for f in fields)
    return spark.sql(f"SELECT * FROM VALUES {', '.join(tuples)} AS t({names})").limit(len(rows))


def iceberg_available(spark: SparkSession) -> bool:
    """True if the Iceberg Spark runtime is on the classpath."""
    global _ICEBERG_AVAILABLE
    if _ICEBERG_AVAILABLE is None:
        try:
            spark._jvm.java.lang.Class.forName(  # type: ignore[union-attr]
                "org.apache.iceberg.spark.source.IcebergSource"
            )
            _ICEBERG_AVAILABLE = True
        except Exception:
            _ICEBERG_AVAILABLE = False
    return _ICEBERG_AVAILABLE
