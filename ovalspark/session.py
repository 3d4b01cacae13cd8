"""SparkSession construction with scale-appropriate defaults.

Defaults chosen for the validation workload: AQE on (runtime skew-join +
partition coalescing), Arrow on (all our Python crossings are pandas/Arrow
batched), UTC timestamps (DuckDB-oracle comparability).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "ovalspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (fallback local[*]);
    ``shuffle_partitions`` defaults to the parallelism level so small-scale
    runs don't fan out into 200 empty reducers while cluster runs can
    override upward.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    # Make the package importable in every Python process Spark spawns —
    # executor workers AND the streaming data-source runner (a driver-side
    # subprocess that unpickles DataSource classes by reference). Those
    # processes see env PYTHONPATH, not the driver's sys.path, so a driver
    # that found ovalspark via cwd or sys.path.insert would otherwise
    # strand them. Must happen BEFORE the JVM launches (it snapshots env).
    # No-op when the package arrived via --py-files (not a real dir — the
    # same mechanism already feeds the spawned processes).
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(os.path.join(pkg_parent, "ovalspark")):
        cur = os.environ.get("PYTHONPATH", "")
        if pkg_parent not in cur.split(os.pathsep):
            os.environ["PYTHONPATH"] = pkg_parent + (os.pathsep + cur if cur else "")
    extra_conf = dict(extra_conf or {})
    # local mode: shuffle scratch on tmpfs when available — this box's
    # virtio disk convoys concurrent shuffle writers (measured 10x
    # slowdowns at 32 threads; see BASELINE.md). Clusters configure
    # spark.local.dir themselves; extra_conf overrides.
    if master.startswith("local") and "spark.local.dir" not in extra_conf and os.path.isdir("/dev/shm"):
        d = "/dev/shm/ovalspark-local"
        os.makedirs(d, exist_ok=True)
        extra_conf["spark.local.dir"] = d
    # local mode: throughput GC. JDK17's default G1 collapses at high thread
    # counts under this workload's allocation rate (span validator at
    # local[32]: 36.4s G1 vs 13.7s ParallelGC, identical at local[8] —
    # BASELINE.md round 2). A batch engine wants throughput collection, not
    # G1's pause targets; clusters set executor JVM opts themselves.
    if master.startswith("local") and "spark.driver.extraJavaOptions" not in extra_conf:
        extra_conf["spark.driver.extraJavaOptions"] = "-XX:+UseParallelGC"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Join strategy (optimization guide §3.1/§9): allow shuffled hash
        # join where it fits (skips both sort passes of a sort-merge
        # join), and let AQE rewrite a planned sort-merge join to
        # shuffled-hash when every post-shuffle partition is below the
        # local-map threshold. Both are size-guarded by Spark itself, so
        # they hold at scale (an SHJ build partition that can't fit was
        # never eligible). Measured at sf1: the 5-way-join q03 2.08 →
        # 1.25 s, everything else flat. Raising
        # spark.sql.autoBroadcastJoinThreshold was measured and REJECTED:
        # planning-time file-size estimates then broadcast 1.5M-row
        # relations, whose single-threaded build quadrupled q02/q03.
        # Override per deployment via OVALSPARK_SHJ_LOCAL_MAP_THRESHOLD.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("OVALSPARK_SHJ_LOCAL_MAP_THRESHOLD", "128m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python data source pushdown (the snapshot format routes these
        # into two-level manifest pruning — sources/stream_source.py)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("OVALSPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or _default_parallelism(master)))
    )
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _default_parallelism(master: str) -> int:
    if master.startswith("local["):
        inner = master[6:-1]
        if inner == "*":
            return os.cpu_count() or 8
        try:
            return int(inner)
        except ValueError:
            return 8
    return 200  # cluster default; callers override per data size


def _empty(spark: SparkSession, schema: StructType | str) -> DataFrame:
    """An empty frame of ``schema`` (a StructType or DDL string) as a JVM
    local relation. ``spark.createDataFrame([], schema)`` builds a Python
    RDD instead, so every action over it starts Python workers (~1 s of
    CPU); an action over this one runs no Spark job at all."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    js = spark._jsparkSession
    return DataFrame(js.createDataFrame(spark._jvm.java.util.ArrayList(), js.parseDataType(schema.json())), spark)


def _one_row(spark: SparkSession) -> DataFrame:
    """One row of no columns as a JVM local relation: a select of
    constants over it is folded by the optimizer, so collecting it runs
    no Spark job (over ``spark.range(1)`` it runs one)."""
    jvm, js = spark._jvm, spark._jsparkSession
    rows = jvm.java.util.ArrayList()
    rows.add(jvm.org.apache.spark.sql.RowFactory.create(spark._sc._gateway.new_array(jvm.java.lang.Object, 0)))
    return DataFrame(js.createDataFrame(rows, js.parseDataType(StructType([]).json())), spark)
