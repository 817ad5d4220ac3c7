"""SparkSession factory with scale-minded defaults.

Local testing runs on ``local[N]``; the configs below are chosen so the
same code is correct and fast on a 1000-executor cluster:

- AQE on (runtime re-plan: coalesce shuffle partitions, skew-join
  splitting, broadcast-join demotion/promotion at runtime);
- Arrow on (any Pandas-UDF path ships columnar batches, not pickled rows);
- shuffle partitions sized by ``SPARK_GRAFT_CPUS`` locally; on a real
  cluster AQE coalescing makes the static number mostly irrelevant as
  long as it is an upper bound, so we leave the knob overridable;
- Tungsten pages of 2 MiB (``spark.buffer.pageSize``). Unset, Spark
  derives the page size from driver memory and cores: 64 MiB for an 8g
  driver on 4 cores. Every hash relation and aggregation map takes at
  least one page, and an executed plan that stays reachable (a
  persisted frame's plan in an operator memo) keeps its pages. After
  five dedup ops on each of two 300-document corpora, 408 MB of a
  477 MiB live heap was ``long[]`` pages, while the persisted blocks
  were 2-421 KiB each; a 300-row build side now costs 2 MiB instead of
  64 MiB. The limit: a task addresses at most 8192 pages, so 2 MiB
  pages cap page memory at 16 GiB per task. A record larger than a page
  still gets a page of its own size. 1 MiB pages retained only ~8 MiB
  less on the curation benchmark (4 local cores) and would halve that
  cap. ``extra_conf`` overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "mini-sql-engine-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet scans: split large files, keep partition size bounded so a
        # partition always fits executor memory at any scale factor
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # events.ts is parquet TIMESTAMP(NANOS) which Spark cannot read
        # natively; read as long nanos, catalog.load_table converts to a
        # microsecond TimestampType column
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # let the native format("minisql") reader absorb integer
        # comparison predicates (MiniSQLReader.pushFilters)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # small Tungsten pages: see the module docstring
        .config("spark.buffer.pageSize", "2m")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
