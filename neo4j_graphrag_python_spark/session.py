"""SparkSession construction with scale-appropriate defaults.

Single place where engine-level tuning lives so tests, bench.py and
spark-submit entrypoints agree:

* AQE on (runtime re-plan, skew-join splitting) — the transcripts workload
  is conv_id-skewed by construction;
* Arrow on — every Python crossing is an Arrow batch (pandas UDFs only);
* shuffle partitions sized to cores locally; on a real cluster the caller
  overrides to ~2-3× total executor cores;
* the compiled-codegen cache (``spark.sql.codegen.cache.maxEntries``,
  default 100) sized to the pipeline's working set: one warm ``batch``
  operation of the benchmark (pipeline, triples view, fuzzy resolve,
  minhash dedup) needs ~250 distinct generated classes and one stream
  trigger ~315, so under the default LRU every class is evicted before
  its next use and each operation recompiles all of them with Janino
  (~2 s) and JIT-compiles the replacements.  The conf is static: it
  takes effect only when ``build_spark`` starts the JVM, not on a
  session that already exists — the stock-session oracle harness
  (``ORACLE_STOCK_SESSION=1``) keeps Spark's default on purpose.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: compiled generated classes Spark keeps per JVM: room for one ``batch``
#: operation plus both stream-trigger plan shapes (~250 + ~360) with margin
CODEGEN_CACHE_ENTRIES = 2000


def build_spark(
    app_name: str = "neo4j-graphrag-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        if master.startswith("local["):
            inner = master[len("local[") : -1]
            shuffle_partitions = os.cpu_count() if inner == "*" else int(inner)
        else:
            shuffle_partitions = 200
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # scan splits: fixtures compress heavily (50k-row groups, ~1MB
        # each); default 128MB maxPartitionBytes would give single-digit
        # scan tasks and cap scan parallelism
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.session.timeZone", "UTC")
        # local mode: executors live in the driver JVM — size it for
        # task-thread count × cached stage boundaries
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
