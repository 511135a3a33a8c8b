"""SparkSession factory with the engine's tuned configuration.

Scale posture (100 TB / 1000-executor design, tested on local[N]):
AQE on (skew-join splitting + partition coalescing), Arrow enabled for
every pandas UDF boundary, broadcast threshold sized for dimension
(polygon) tables.  Shuffle partition count defaults to 2x cores
locally; on a real cluster set it ~2-3x total executor cores or rely
on AQE coalescing from a higher initial value.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession

ENGINE_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # one Arrow batch per UDF call: big enough to amortize the JVM<->Python
    # hop and batch-boundary bookkeeping (measured on the flagship:
    # 65536 cuts both JVM scan time and refine increment vs 10000; the
    # PIP kernel chunks internally to stay cache-resident, so large
    # Arrow batches don't hurt the numpy side)
    "spark.sql.execution.arrow.maxRecordsPerBatch": "65536",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.session.timeZone": "UTC",
}


def get_spark(app_name: str = "gdal_boots_spark", master: str | None = None,
              shuffle_partitions: int | None = None) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % os.environ.get("SPARK_GRAFT_CPUS", "32")
    b = SparkSession.builder.appName(app_name).master(master)
    for k, v in ENGINE_CONF.items():
        b = b.config(k, v)
    if shuffle_partitions is None:
        # local[N] -> N; a real cluster passes an explicit value
        n = master[master.find("[") + 1 : master.find("]")] if "[" in master else "32"
        shuffle_partitions = 32 if n == "*" else max(8, int(n))
    b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    b = b.config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    return b.getOrCreate()


def local_df(spark: SparkSession, rows, schema: str) -> DataFrame:
    """Driver-resident rows (tuples in ``schema`` column order) + a DDL
    schema -> a DataFrame planned as a ``LocalRelation``.

    For driver-built DIMENSION tables (cell covers, contribution pairs,
    offsets).  ``createDataFrame(list)`` plans a LogicalRDD over
    ``parallelize``: every job that broadcasts it re-runs the rows
    through Python workers, and its statistics are unknown.  A pyarrow
    Table instead ships once, as Arrow batches, into a LocalRelation:
    broadcasting it is a driver-side LocalTableScan and the optimizer
    sees its real size.  The Table is built directly — not via pandas,
    whose Arrow conversion silently falls back to the list path when a
    column fails to convert — so a value that does not fit its column
    type raises here instead."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow_schema = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow_schema)], schema=arrow_schema
    )
    return spark.createDataFrame(table, struct)


# entries one SparkContext's memo keeps; the oldest is evicted first
MEMO_ENTRIES = 64
_MEMO_LOCK = threading.Lock()


def memo(spark: SparkSession, key: tuple, build, on_evict=None):
    """``build()`` once per ``key`` and SparkContext; later calls with
    the same key return the stored value.  For plan-build work that
    costs a Spark job or ships data to the JVM: dimension collects,
    sampling probes, driver-built dims, base relations, broadcasts.

    The contract, stated once for every caller:

    * Entries are READ-ONLY.  Every hit returns the stored object
      itself; mutating it corrupts every later hit.
    * Entries are keyed by their INPUT FILES.  A key derived from a
      DataFrame includes ``plan_key(df)``, a key derived from a path
      includes the path's mtime, and any other key holds the values
      the entry is a pure function of.  A rewritten table therefore
      gets a new key and is never served stale; nothing is ever
      cleared by hand.  Each caller starts its key with its own tag.

    The store is an attribute of the SparkContext object, so a new
    context starts empty and a stopped one's entries are freed with
    it (entries reference their context, which a weak-keyed dict
    could never release).  At most MEMO_ENTRIES entries are kept;
    evicting one calls its ``on_evict(value)``, e.g. to unpersist a
    Broadcast."""
    sc = spark.sparkContext
    with _MEMO_LOCK:
        store = sc.__dict__.setdefault("_gdal_boots_memo", {})
        hit = store.get(key)
    if hit is not None:
        return hit[0]
    # built outside the lock: a build runs Spark jobs.  Two threads
    # racing on one key both build; the first store wins and the
    # loser's value is evicted at once.
    value = build()
    evicted = []
    with _MEMO_LOCK:
        hit = store.get(key)
        if hit is None:
            while len(store) >= MEMO_ENTRIES:
                evicted.append(store.pop(next(iter(store))))
            store[key] = (value, on_evict)
        else:
            evicted.append((value, on_evict))
    for old_value, old_evict in evicted:
        if old_evict is not None:
            old_evict(old_value)
    return value if hit is None else hit[0]


def plan_key(df: DataFrame) -> tuple:
    """Memo key of a DataFrame's inputs: the semantic hash of its plan
    plus the files it reads.  The hash alone is equal for two reads of
    one path, but Spark names every written part file uniquely, so a
    rewritten table gets a new key.  A LocalRelation (``local_df``)
    reads no files; its hash covers its rows."""
    return (df.semanticHash(), tuple(sorted(df.inputFiles())))
