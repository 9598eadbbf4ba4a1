"""Deterministic dense doc-id assignment.

The reference allocates dense sequential ulong ids starting at 1 in
insertion order (FullTextIndexBuilder.cs:25-26,35). A distributed
engine needs ids that are dense, deterministic, and reproducible across
cluster sizes (rank-identity ties break on doc_id ⇒ transitively on
url). `monotonically_increasing_id` is neither dense nor stable, so:

1. range-repartition (into :func:`build_width` partitions) + sort
   within partitions by the (unique) order column — a global sort
   order;
2. persist, count rows per physical partition (one cheap job);
3. id = partition offset + the row's local index within its cached
   partition, read off `monotonically_increasing_id`'s low 33 bits
   (its documented layout: partition id in the high bits, a
   consecutive 0-based record number per partition in the low 33).

Step 3 is NARROW — no window function. A
`Window.partitionBy(spark_partition_id())` variant re-shuffles the
cached data into `spark.sql.shuffle.partitions` hash partitions
(measured: 32 cached partitions collapsed to 8 skewed tasks, and every
downstream stage — the Python tokenize pass above all — inherited that
width). At 10^12 rows the only global data movement is the one range
shuffle a global sort needs anyway.

The width of that shuffle is the build's width: the tokenize pass
inherits it from the persisted id'd frame, and the block shuffle uses
the same count. :func:`build_width` derives it from the optimizer's
size estimate of the input (no Spark job), so a small append runs a
few full Python tasks instead of ``defaultParallelism * 4`` near-empty
ones, while a large build keeps the cap.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark import StorageLevel

# Input bytes (the optimizer's estimate of the column-pruned pages) one
# build task should own. A Python task pays a fixed worker round-trip,
# so a small input runs as few full tasks; chosen from a serve sweep
# (CHANGES.md). An input above TARGET_BYTES_PER_TASK * cap (64 MiB on
# 32 cores; bench.py's 250k docs are estimated at ~105 MB) gets the cap.
TARGET_BYTES_PER_TASK = 512 << 10


def width_for_bytes(size_bytes: int, parallelism: int) -> int:
    """ceil(size_bytes / TARGET_BYTES_PER_TASK), clamped to
    [1, parallelism * 4]. The cap is the width for large inputs: a few
    task waves per core, so no straggler idles the other cores."""
    cap = parallelism * 4
    return max(1, min(cap, -(-size_bytes // TARGET_BYTES_PER_TASK)))


def build_width(df: DataFrame) -> tuple[int, int]:
    """(partition count, input bytes estimate) for a build over ``df``.
    The estimate is the optimizer's ``sizeInBytes`` — no Spark job. An
    input Spark cannot size (a Python ``createDataFrame``, an RDD)
    reports ``Long.MaxValue`` (scaled by any projection above it), so
    it gets the cap."""
    size = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    sc = df.sparkSession.sparkContext
    return width_for_bytes(size, sc.defaultParallelism), size


def assign_dense_ids(
    df: DataFrame,
    order_col: str = "url",
    id_col: str = "doc_id",
    start: int = 1,
    num_partitions: int | None = None,
) -> DataFrame:
    """Add a dense id column ordered by ``order_col`` (must be unique).

    Returns a *persisted* DataFrame — the caller should unpersist after
    materializing downstream outputs.
    """
    out, _ = assign_dense_ids_with_counts(
        df, order_col, id_col, start, num_partitions
    )
    return out


def assign_dense_ids_with_counts(
    df: DataFrame,
    order_col: str = "url",
    id_col: str = "doc_id",
    start: int = 1,
    num_partitions: int | None = None,
) -> tuple[DataFrame, dict[int, int]]:
    """Like :func:`assign_dense_ids` but also returns the per-physical-
    partition row counts ({partition_id: rows}) that the assignment
    already had to collect — callers (segment lineage, manifest doc
    counts) reuse them instead of running a second counting job."""
    if not num_partitions:
        # explicit count: an un-sized repartitionByRange gets
        # AQE-coalesced to a handful of partitions at moderate sizes,
        # and every downstream stage that reads the persisted result
        # (the Python tokenize pass above all) inherits that width —
        # measured: 5 tasks on 8 cores, a 14 s straggler tail. The
        # size-derived width gives a large input the cap (several
        # waves per core) and a small one only as many tasks as it fills.
        num_partitions, _ = build_width(df)
    ordered = df.repartitionByRange(num_partitions, order_col)
    ordered = (
        ordered.sortWithinPartitions(order_col)
        .withColumn("_pid", F.spark_partition_id())
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    counts = {
        r["_pid"]: r["n"]
        for r in ordered.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, start
    for pid in sorted(counts):
        offsets[pid] = acc
        acc += counts[pid]
    # typed: with no rows the map is empty and would type as map<void,void>
    offset_col = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ).cast("map<int,bigint>")[F.col("_pid")]
    # rows in the cached partition are already in order_col order
    # (sortWithinPartitions above); the local record number is the low
    # 33 bits of monotonically_increasing_id — no window, no exchange
    local_idx = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    out = ordered.withColumn(
        id_col, (offset_col + local_idx).cast("long")
    ).drop("_pid")
    return out, counts


def validate_dense_ids(
    df: DataFrame, id_col: str = "doc_id", start: int = 1
) -> None:
    """Assert the assignment produced EXACTLY start..start+n-1.

    `assign_dense_ids` reads monotonically_increasing_id's bit layout
    (partition id high bits, consecutive record number in the low 33),
    which Spark documents only as "the current implementation". This
    check makes a silent layout change in a future Spark version fail
    loudly instead of mis-assigning every doc id engine-wide. One cheap
    aggregate job — run it in tests/debug builds (test_ids_and_resume)
    and after Spark upgrades, not per build.
    """
    r = df.agg(
        F.count("*").alias("n"),
        F.min(id_col).alias("lo"),
        F.max(id_col).alias("hi"),
        F.count_distinct(id_col).alias("nd"),
    ).collect()[0]
    n = int(r["n"])
    ok = (
        n == int(r["nd"])
        and (n == 0 or (int(r["lo"]) == start and int(r["hi"]) == start + n - 1))
    )
    if not ok:
        raise AssertionError(
            "dense id invariant violated (monotonically_increasing_id "
            f"layout change?): n={n} distinct={r['nd']} "
            f"range=[{r['lo']},{r['hi']}] expected [{start},{start + n - 1}]"
        )
