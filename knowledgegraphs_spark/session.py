"""SparkSession factory tuned for this engine, and the hand-off of
driver-computed rows back to Spark (:func:`driver_frame`).

Local-mode testing config; on a real cluster the same builder is driven by
spark-submit conf. AQE + skew-join splitting stay on everywhere — the
matching/canonicalization joins have head-entity skew by construction.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType, _parse_datatype_string


def _java_opts(driver_mem: str) -> str:
    opts = f"-XX:+UseParallelGC -Xms{driver_mem}"
    if os.environ.get("SPARK_GRAFT_PRETOUCH", "0") == "1":
        opts += " -XX:+AlwaysPreTouch"
    return opts


# Engine-required SQL confs, independent of deployment: shared by
# :func:`get_spark` (local/test sessions) and :func:`submit_session` (the
# spark-submit jobs, where master/memory/parallelism come from the submit
# command and must NOT be overridden here).
ENGINE_SQL_CONFS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # zstd: half the bytes of snappy on long repetitive URI strings at
    # equal wall time (BENCH/BASELINE.md) — at 100 TB the triples table
    # size is the cost driver.
    "spark.sql.parquet.compression.codec": "zstd",
    # Generated-code cache (static: set before the context starts). The
    # default 100 entries is smaller than one maintenance cycle: a
    # bootstrap build uses 64 distinct generated classes, a warm
    # batch-batch-compaction cycle 146. The cache evicts least recently
    # used first, so at 100 every class was gone before its next use and
    # each cycle ran Janino again (43, 23 and 10 compiles for the two
    # batches and the compaction, every cycle) and handed the JIT fresh
    # classes. At 1024 a warm cycle compiles nothing.
    "spark.sql.codegen.cache.maxEntries": "1024",
}


def get_spark(
    app_name: str = "knowledgegraphs_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g")
    if shuffle_partitions is None:
        # match parallelism, not the 200 default: tiny data over-parallelized
        # wastes task-launch time, huge data under-parallelized spills.
        n = master.split("[")[-1].rstrip("]") if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(map=dict(ENGINE_SQL_CONFS))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # throughput GC: G1 collapses (observed 17×) on generate-heavy plans
        # (explode of array<struct> — our single-pass triple emission) with a
        # large heap and many task threads; ParallelGC sustains the
        # allocation rate. On a real cluster apply to executors too.
        #
        # -Xms = -Xmx: spark.driver.memory only sets -Xmx, so the heap
        # starts at the JVM default and ParallelGC full-GCs its way up
        # through every expansion. Measured on the 2.5 M-turn pipeline
        # build (local[32]): default heap 107 s first build / ~9.6 s
        # steady; -Xms pinned 95 s first / 6.7 s steady (the first build
        # still page-faults through the heap lazily); -Xms +
        # AlwaysPreTouch 17.6 s first / 6.5 s steady. PreTouch moves the
        # fault cost to session startup (~2 min for 48 GB on this box's
        # ~1 GB/s zeroing path), so it is env-gated: benchmarks turn it on
        # for clean timed reps, tests keep lazy faulting — they only touch
        # the pages they use. Same flags a real cluster sets on executors:
        # allocate the container's memory once, up front.
        .config("spark.driver.extraJavaOptions", _java_opts(driver_mem))
        .config("spark.executor.extraJavaOptions", _java_opts(driver_mem))
    )
    # shuffle spill dir: tmpfs when available — on this sandbox /tmp is a
    # spinning-ish vdisk whose writeback throttling dominates and distorts
    # measurements; on a real cluster spark.local.dir is node-local NVMe.
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        builder = builder.config("spark.local.dir", os.environ["SPARK_GRAFT_LOCAL_DIR"])
    elif os.path.isdir("/dev/shm"):
        scratch = tempfile.mkdtemp(prefix="spark-local-", dir="/dev/shm")
        builder = builder.config("spark.local.dir", scratch)
        # tmpfs scratch counts against RAM: a killed JVM leaves its spills
        # behind and the next big job OOMs on memory the box doesn't have
        # (measured: 104 leaked dirs / 75 GB after a long test session).
        # Best-effort removal at interpreter exit; a clean spark.stop()
        # already empties the dir, this reaps the dir itself + crash debris.
        import atexit
        import shutil

        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def submit_session(app_name: str) -> SparkSession:
    """A spark-submit job's session: the engine's SQL confs only — master,
    memory, executor topology and parallelism belong to the submit command."""
    return SparkSession.builder.appName(app_name).config(map=dict(ENGINE_SQL_CONFS)).getOrCreate()


def driver_frame(spark: SparkSession, rows: list[tuple], schema: str | StructType) -> DataFrame:
    """A DataFrame over rows computed on the driver, handed to the JVM as
    one Arrow table.

    ``spark.createDataFrame(list)`` pickles the rows into a Python RDD that
    Python workers re-run on every evaluation of the frame (an
    ``ExistingRDD`` scan). An Arrow table becomes a JVM ``LocalRelation``
    (an RDD of Arrow batches above ``arrowLocalRelationThreshold``): no
    Python worker ever touches it again."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, StructType) else _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
