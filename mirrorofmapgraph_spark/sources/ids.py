"""Dense vertex-id dictionary encoding (string key -> long id 0..n-1).

The reference assumes dense 0-based int vertex ids (the market parser
converts 1-based ids, b40c/graph/builder/market.cuh:124-125). Our input
keys are strings (``repo`` or ``repo/path``); we dictionary-encode them to
dense longs.

Scale note: the naive ``row_number() OVER (ORDER BY key)`` forces a single
partition — unusable at 10^12 keys. Instead we range-partition the distinct
keys, count rows per partition on the driver, and add
``offset[partition] + local_index`` as one JVM Column expression. One sort
shuffle total, fully parallel, ids dense and deterministic (= rank in key
sort order).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: low 33 bits of monotonically_increasing_id(): the row index within a
#: partition (the upper 31 bits hold the partition id)
_ROW_MASK = (1 << 33) - 1


def assign_dense_ids(
    keys: DataFrame, key_col: str = "key", id_col: str = "id", num_partitions: int | None = None
) -> DataFrame:
    """Map each distinct ``key_col`` value to a dense long id in
    [0, n) ordered by key. Returns DataFrame(key_col, id_col).
    """
    spark = keys.sparkSession
    if num_partitions is None:
        # explicit count so AQE cannot re-plan a different partitioning
        # between the offsets job and the assignment job
        num_partitions = int(spark.conf.get("spark.sql.shuffle.partitions"))
    distinct = (
        keys.select(key_col)
        .distinct()
        .repartitionByRange(num_partitions, key_col)
        .sortWithinPartitions(key_col)
        # materialize ONCE: repartitionByRange samples range boundaries per
        # RDD instantiation, so without pinning, the offsets job and the
        # assignment job could each sample different boundaries and the
        # pid->offset map would silently mis-assign ids
        .localCheckpoint(eager=True)
    )

    # Per-partition row counts -> exclusive prefix offsets (tiny; collected
    # to the driver — the analogue of the reference's 4-byte frontier-size
    # readback per superstep, enactor_vertex_centric.cuh:2866-2869).
    sizes = dict(
        distinct.groupBy(F.spark_partition_id().alias("pid")).count().collect()
    )
    biggest = max(sizes.values(), default=0)
    if biggest > _ROW_MASK:
        raise ValueError(
            f"a dense-id partition holds {biggest} keys; "
            f"monotonically_increasing_id indexes at most {_ROW_MASK + 1} "
            f"rows per partition (use more than {num_partitions} partitions)"
        )
    # a range partitioner may yield fewer partitions than asked for; no row
    # lives past the last non-empty one
    offsets, acc = [], 0
    for pid in range(max(sizes, default=0) + 1):
        offsets.append(acc)
        acc += sizes.get(pid, 0)

    # monotonically_increasing_id() = (partition id << 33) + row index within
    # the partition; the row index follows the pinned sorted order, so
    # offset + index is the key's rank. Offsets travel as a literal array.
    local_index = F.monotonically_increasing_id().bitwiseAND(F.lit(_ROW_MASK))
    offsets_lit = F.array(*[F.lit(o).cast("long") for o in offsets])
    offset = offsets_lit[F.spark_partition_id()]
    return distinct.select(key_col, (offset + local_index).alias(id_col))


def encode_edges(
    raw_edges: DataFrame,
    src_key: str = "src_key",
    dst_key: str = "dst_key",
    weight_col: str | None = "w",
    ids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Encode a (src_key, dst_key[, w]) string-keyed edge list into
    (edges(src long, dst long, w double), vertices(id long, key string)).

    Both joins shuffle on the key; when the dictionary is small AQE
    switches to broadcast at runtime (we don't force it — at 10^12-file
    scale the dictionary itself is huge and must shuffle-join).
    """
    if ids is None:
        all_keys = (
            raw_edges.select(F.col(src_key).alias("key"))
            .unionByName(raw_edges.select(F.col(dst_key).alias("key")))
        )
        ids = assign_dense_ids(all_keys, "key", "id")
    w_expr = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    edges = (
        raw_edges.withColumn("_w", w_expr)
        .join(ids.withColumnRenamed("key", src_key), on=src_key)
        .withColumnRenamed("id", "src")
        .join(
            ids.withColumnRenamed("id", "dst").withColumnRenamed("key", dst_key),
            on=dst_key,
        )
        .select("src", "dst", F.col("_w").alias("w"))
    )
    vertices = ids.select(F.col("id"), F.col("key"))
    return edges, vertices
