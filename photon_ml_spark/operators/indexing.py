"""Dense sequential id assignment, entirely JVM-side.

The one device shared by every "give each distinct key a contiguous
ordinal" consumer (feature dictionaries, shingle vocabularies):
``ROW_NUMBER() OVER (ORDER BY key)`` computed WITHOUT a
single-partition window and WITHOUT leaving Tungsten — the
zipWithIndex two-job trick (count partitions, then number within
each) expressed as DataFrame ops:

1. ``repartitionByRange`` + ``sortWithinPartitions`` on the order
   columns — a full range-partitioned sort, so partition p holds keys
   strictly below partition p+1 and each partition is internally
   sorted;
2. ``localCheckpoint`` (SERIALIZED storage) — range boundaries come
   from sampling, and the stats job and the id job MUST read the same
   partitioning (re-execution could legally resample); checkpointing
   AFTER the local sort also means the sort is paid exactly once, not
   once per downstream job;
3. one tiny collect of per-partition (count, min record-number) stats
   (n_partitions rows, never data rows) → driver prefix sum → each
   partition's id delta;
4. ids from ``monotonically_increasing_id`` (record number within the
   cached, already-sorted partition) plus a **broadcast-joined**
   (pid, delta) relation — ONE long add per row, no window. The
   earlier ``row_number() OVER (PARTITION BY pid)`` variant forced a
   second full shuffle of the data (Catalyst cannot know
   hashpartitioning(pid) is already satisfied by the range exchange):
   measured 10.9x wall for 3.3x keys at 100M before this change, the
   shuffle-everything-twice tax exactly where SURVEY §7 hazard (4)
   predicts it hurts.

Determinism: the checkpoint pins partition contents; record numbers
within a cached partition are assigned in scan order, which the
pre-checkpoint sort fixes. The per-partition min/count stats are
permutation-invariant, so the stats job and the id job agree even
though they are separate Spark jobs.

The reference needed PalDB off-heap stores above ~200k features
(FeatureIndexingDriver.scala:41-42) because its index map lived on
the driver; here the vocabulary never leaves the executors and the
only driver traffic is the n_partitions-row stats collect, so the
same code path serves 100 features and 100M.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, functions as F


def release_local_checkpoint(df: DataFrame) -> None:
    """Release the cached blocks behind a ``localCheckpoint``-ed frame.

    ``DataFrame.unpersist()`` is a no-op here: checkpoint blocks are
    RDD-level storage, not CacheManager entries, so they otherwise
    linger until the JVM garbage-collects the RDD handle — at corpus
    scale that is stale MEMORY_AND_DISK storage competing with live
    caches. Only call this once nothing will read the frame again:
    the checkpoint truncated lineage, so the data is unrecoverable
    after release. Best-effort (reaches through py4j internals);
    failure degrades to the old wait-for-GC behavior.
    """
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def local_checkpoint_fits_broadcast(df: DataFrame) -> bool:
    """True when ``df`` is a fully materialized ``localCheckpoint`` whose
    stored blocks fit under the session's broadcast-join threshold.

    Catalyst cannot tell this itself: a checkpoint keeps the size
    estimate of the plan it was cut from, and that estimate multiplies
    through every join upstream — a per-entity table fitted on a joined
    frame reads as gigabytes and is sort-merge joined. The stored block
    size is the real figure. Best-effort (reaches through py4j
    internals, like ``release_local_checkpoint``); anything else —
    including a frame that is not a checkpoint — reads as False.
    """
    try:
        rdd_id = df._jdf.queryExecution().analyzed().rdd().id()
        jss = df.sparkSession._jsparkSession
        limit = jss.sessionState().conf().autoBroadcastJoinThreshold()
        for info in jss.sparkContext().getRDDStorageInfo():
            if info.id() == rdd_id:
                return (
                    info.numCachedPartitions() == info.numPartitions()
                    and info.memSize() + info.diskSize() <= limit
                )
    except Exception:
        pass
    return False


def zip_with_index(
    df: DataFrame,
    order_cols: str | list[str],
    id_col: str = "idx",
    start: int = 0,
    n_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Attach a dense sequential long ``id_col`` in ``order_cols``
    order (ids = start, start+1, ...). Returns ``(frame, total_count)``
    — the count is free (it is the prefix-sum total), so callers never
    pay a second ``count()`` job to learn the dictionary size.

    Equivalent to ``ROW_NUMBER() OVER (ORDER BY order_cols) - 1 +
    start`` with no single-partition bottleneck: the sort is
    range-partitioned across ``n_partitions`` (default cluster
    parallelism), each partition numbers its own rows, and the whole
    job runs exactly ONE shuffle of the data (the range exchange).
    Ties in ``order_cols`` get arbitrary distinct ids (same contract
    as the window formulation).
    """
    if isinstance(order_cols, str):
        order_cols = [order_cols]
    # Spark resolves names case-insensitively by default, so "__PID"
    # would collide with the internal "__pid" just as silently — lower
    # both sides before intersecting.
    reserved = {"__pid", "__mid", "__off"} & (
        {c.lower() for c in df.columns} | {id_col.lower()}
    )
    if reserved:
        raise ValueError(
            f"zip_with_index reserves column name(s) {sorted(reserved)}; "
            "rename them before indexing (as input columns they would "
            "be silently overwritten and dropped; as id_col the id "
            "itself would be dropped)"
        )
    spark = df.sparkSession
    n_parts = n_partitions or spark.sparkContext.defaultParallelism
    # SERIALIZED storage for the checkpoint (MEMORY_AND_DISK in
    # PySpark 4 = serialized; the localCheckpoint default is the
    # DESERIALIZED level): a 100M-key vocabulary as deserialized Java
    # objects is ~5x its Tungsten size and OOMed a 24g heap at 100M
    # keys in the round-8 stress run — serialized it fits, and what
    # does not fit spills to disk instead of dying.
    ranged = (
        df.repartitionByRange(n_parts, *order_cols)
        .sortWithinPartitions(*order_cols)
        .localCheckpoint(storageLevel=StorageLevel.MEMORY_AND_DISK)
    )
    # __mid is nondeterministic to Catalyst, so it is never reordered
    # across the checkpoint scan; its value is (partition index << 33)
    # + record number, and record numbers follow the pinned sorted
    # order. min(__mid) per partition is the record-number base the
    # per-row subtraction needs — folded into the broadcast delta so
    # the hot path is one add.
    base = ranged.withColumn("__pid", F.spark_partition_id()).withColumn(
        "__mid", F.monotonically_increasing_id()
    )
    stats = {
        r["__pid"]: (r["cnt"], r["lo"])
        for r in base.groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("cnt"), F.min("__mid").alias("lo"))
        .collect()
    }
    total = sum(cnt for cnt, _ in stats.values())
    if not stats:  # empty input: no join
        return base.drop("__pid", "__mid").withColumn(
            id_col, F.lit(start).cast("long")
        ).limit(0), 0
    # range partitions hold ascending key ranges in ascending pid
    # order, so the prefix sum over sorted pids IS the global ordinal
    deltas, acc = [], 0
    for pid in sorted(stats):
        cnt, lo = stats[pid]
        deltas.append((pid, acc - lo + start))
        acc += cnt
    # JVM literal construction (inline over a struct array) instead of
    # createDataFrame: keeps the whole job free of Scan ExistingRDD /
    # Python row serialization — the plan-probe tests assert this.
    off_df = spark.range(1).select(
        F.inline(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).cast("int").alias("__pid"),
                        F.lit(delta).cast("long").alias("__off"),
                    )
                    for pid, delta in deltas
                ]
            )
        )
    )
    out = (
        base.join(F.broadcast(off_df), "__pid")
        .withColumn(id_col, F.col("__mid") + F.col("__off"))
        .drop("__pid", "__mid", "__off")
    )
    return out, total
