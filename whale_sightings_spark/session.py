"""SparkSession factory with scale-minded defaults.

Local runs use ``local[N]`` with N from :func:`host_cpus`; on a real
cluster the same conf applies minus the master override. Settings
chosen for the 100 TB design point:

- AQE on (runtime partition coalescing + skew-join splitting);
- shuffle partitions sized to cores locally (the 200 default is wrong
  in both directions — override per-deploy on a cluster);
- Arrow enabled for every pandas interchange (vectorized UDF path);
- session timezone pinned to UTC so timestamp semantics match the
  DuckDB oracle and are deploy-independent;
- constraint propagation off: inferring constraints under a deep
  projection (the ingest's inlined validation array and date cascade)
  cost seconds of ``PruneFilters`` per optimisation (SCALE.md);
- exact-string JSON parsing off: it re-reads a multiLine document for
  every number parsed into a string field (SCALE.md);
- the driver heap (in local mode also the executor heap) sized to the
  host by :func:`driver_memory`.

:func:`barrier` is the one lineage-truncation primitive.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def host_cpus() -> int:
    """``$SPARK_GRAFT_CPUS`` if set, else the cores this process may run
    on."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """``$SPARK_GRAFT_DRIVER_MEM`` if set, else half the host's physical
    RAM in whole GiB: a single local JVM holds every task's working set,
    and a heap larger than RAM gets the process OOM-killed on a host
    without swap."""
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1, round(ram / 2**31))}g"


def get_spark(
    app_name: str = "whale_sightings_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    ``master=None`` defers to an existing session / spark-submit conf,
    falling back to ``local[host_cpus()]``.
    """
    cpus = host_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.constraintPropagation.enabled", "false")
        .config("spark.sql.json.enableExactStringParsing", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", driver_memory())
        # long sessions run hundreds of plans: reclaim shuffle files,
        # broadcasts, and accumulators continuously instead of at the
        # 30-min default, so late queries aren't billed for early ones
        .config("spark.cleaner.periodicGC.interval", "2min")
    )
    if master:
        builder = builder.master(master)
    elif not SparkSession.getActiveSession():
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    from whale_sightings_spark.deploy import ship_package

    ship_package(spark)
    return spark


# plan nodes whose output comes off an exchange (distinct and
# dropDuplicates optimise to Aggregate; a join plans as a sort-merge
# join, which shuffles both sides, or a broadcast join, whose build
# side is collected once)
_EXCHANGE_NODES = frozenset(
    ("Aggregate", "Window", "Repartition", "RepartitionByExpression", "Sort", "Join")
)


def barrier(df: DataFrame) -> DataFrame:
    """``df`` behind a ``localCheckpoint``: its lineage runs once and
    every consumer reads the materialized blocks. The form comes from
    ``df``'s optimized plan, looking through the row-local
    Project/Filter/Generate:

    - lazy when that node comes off an exchange (Aggregate, Window,
      Repartition, Sort, Join) and the plan is deterministic: consumers
      that race to fill the checkpoint share the exchange's output, so
      they repeat only the work above it and agree on its rows;
    - eager otherwise: narrow lineage over an expensive generator would
      run once per racing consumer, and a nondeterministic plan (e.g.
      ``monotonically_increasing_id``) must be pinned before anyone
      reads it.

    The storage level is the default (memory and disk, deserialized).
    A lost executor loses its blocks for good; SCALE.md "Barriers" says
    where a cluster deploy swaps in a reliable ``checkpoint()``."""
    plan = df._jdf.queryExecution().optimizedPlan()
    node = plan
    while node.nodeName() in ("Project", "Filter", "Generate"):
        node = node.child()
    lazy = node.nodeName() in _EXCHANGE_NODES and plan.deterministic()
    return df.localCheckpoint(eager=not lazy)
