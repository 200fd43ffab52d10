"""B1 — OSM PBF ingestion (complete, dependency-free).

The reference never parses PBF itself: it downloads a geofabrik
extract and lets osm2pgsql (C++) stream it
(/root/reference/osm_etl.py:54-56, README.md:97). For a Spark-native
engine the idiomatic split is:

1. **Ingest once** (this module): PBF → three element tables
   (nodes / ways / relations, schemas per SURVEY.md §1.1). PBF is a
   blocked format (~8k-element Blob blocks), so the scalable ingest
   is: list the blob offsets on the driver (header-only scan, bytes
   ∝ block count), pack consecutive blobs into byte-range decode
   splits sized like Spark's own file splits, decode each split in
   an executor task (`mapInPandas` over a one-row-per-split
   DataFrame), write Parquet partitioned by element type + region.
2. **Query forever after** on the columnar element tables — every
   operator in the engine works on those.

No protobuf wheel exists in this image, so the block decoder is a
pure-Python wire-format reader (sources/pbf_wire.py) — the protobuf
encoding and the OSM PBF messages are both small public specs. A
planet file (~70 GB) is ~80k independent blobs, packed into ~128 MB
splits: the unit of parallelism is the split, and decode throughput
scales linearly with executors. pbf_wire.write_pbf is the matching
sink.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osm_airflow_spark.sources import pbf_wire

NODE_SCHEMA = T.StructType(
    [
        T.StructField("node_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

WAY_SCHEMA = T.StructType(
    [
        T.StructField("way_id", T.LongType(), False),
        T.StructField("node_refs", T.ArrayType(T.LongType()), True),  # ordered
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

RELATION_SCHEMA = T.StructType(
    [
        T.StructField("rel_id", T.LongType(), False),
        T.StructField(
            "members",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("mtype", T.StringType()),
                        T.StructField("ref", T.LongType()),
                        T.StructField("role", T.StringType()),
                    ]
                )
            ),
            True,
        ),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

# One decode pass emits every element kind at once; the union schema
# carries a kind discriminator plus the superset of per-kind columns
# (unused ones null). Splitting back to the three typed tables is a
# filter + rename — pure metadata, no second decode.
UNION_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType(), False),
        T.StructField("elem_id", T.LongType(), False),
        T.StructField("lat", T.DoubleType(), True),
        T.StructField("lon", T.DoubleType(), True),
        T.StructField("node_refs", T.ArrayType(T.LongType()), True),
        T.StructField(
            "members",
            RELATION_SCHEMA["members"].dataType,
            True,
        ),
        T.StructField("tags", T.MapType(T.StringType(), T.StringType()), True),
    ]
)
_UNION_COLS = [f.name for f in UNION_SCHEMA.fields]


def decode_blob(blob_bytes: bytes) -> dict:
    """Decode one PBF Blob into element row dicts (pure function —
    runs on executors). See pbf_wire for the wire-level decode."""
    return pbf_wire.decode_blob(blob_bytes)


# Read-back schemas of what ingest_pbf writes: the staged union
# (``kind`` comes back as its partition column) and the typed tables.
INGESTED_SCHEMAS = {
    "union": UNION_SCHEMA,
    "nodes": NODE_SCHEMA,
    "ways": WAY_SCHEMA,
    "relations": RELATION_SCHEMA,
}


def read_ingested(spark: SparkSession, path: str, table: str) -> DataFrame:
    """Read back a table ingest_pbf wrote ("union" for the staged
    union, else "nodes"/"ways"/"relations") with its declared schema.
    Without one, every Parquet read runs a footer-reading Spark job
    just to infer the schema this module already knows."""
    return spark.read.schema(INGESTED_SCHEMAS[table]).parquet(path)


def split_limits(spark: SparkSession) -> tuple[int, int, int]:
    """(maxPartitionBytes, openCostInBytes, minimum partitions) as
    Spark's file scans resolve them for this session:
    ``spark.sql.files.maxPartitionBytes``,
    ``spark.sql.files.openCostInBytes`` and
    ``spark.sql.files.minPartitionNum``, which falls back to the leaf
    node default parallelism (``defaultParallelism``)."""
    jspark = spark._jsparkSession
    conf = jspark.sessionState().conf()
    min_parts = conf.filesMinPartitionNum()
    return (
        conf.filesMaxPartitionBytes(),
        conf.filesOpenCostInBytes(),
        min_parts.get() if min_parts.isDefined() else jspark.leafNodeDefaultParallelism(),
    )


def pack_splits(
    blobs: list[tuple[int, int]],
    file_bytes: int,
    max_partition_bytes: int,
    open_cost: int,
    min_partitions: int,
) -> list[tuple[int, int]]:
    """Pack consecutive OSMData blobs ``(start, length)`` into decode
    splits: byte ranges ``(start, length)`` of whole fileblocks that
    tile the file from offset 0 to the last blob's end. The target
    size is Spark's file-split rule with the open cost charged once
    for the file: ``min(maxPartitionBytes, max(openCost, (fileBytes +
    openCost) / minPartitions))``. A split closes before the blob
    that would take it past the target, so a blob larger than the
    target gets a split of its own. A KB extract is one split; a
    70 GB planet is ~550 splits of 128 MB at any parallelism up to
    ~550."""
    target = min(
        max_partition_bytes,
        max(open_cost, (file_bytes + open_cost) // min_partitions),
    )
    splits: list[tuple[int, int]] = []
    begin = end = 0
    for start, length in blobs:
        if end > begin and start + length - begin > target:
            splits.append((begin, end - begin))
            begin = end
        end = start + length
    if end > begin:
        splits.append((begin, end - begin))
    return splits


def decode_splits(
    pbf_path: str, limits: tuple[int, int, int]
) -> list[tuple[int, int]]:
    """The decode splits of one file under ``limits`` (split_limits),
    the planning step both entry points share (read_pbf_elements and
    the osm_pbf Data Source). validated_data_offsets checks every
    OSMHeader's required_features BEFORE fanning out (r10): a file
    this decoder can't interpret correctly — e.g. a full-history dump
    declaring HistoricalInformation, whose deleted elements would
    silently read as live — is rejected here, not half-ingested."""
    return pack_splits(
        pbf_wire.validated_data_offsets(pbf_path),
        os.path.getsize(pbf_path),
        *limits,
    )


def _splits_df(spark: SparkSession, pbf_path: str) -> DataFrame:
    """One row ``(path, start, length)`` per decode split, each in a
    partition of its own. ``spark.range`` makes exactly one row per
    partition in the JVM: no shuffle to spread the rows, no Python
    task to ship them (``createDataFrame(list)`` needs both) and no
    empty partition, which would still start a Python worker in the
    decode stage. The split bounds ride as two small array literals
    (one entry per split, not per blob)."""
    splits = decode_splits(pbf_path, split_limits(spark))
    idx = F.col("id").cast("int")
    return spark.range(len(splits), numPartitions=max(1, len(splits))).select(
        F.lit(pbf_path).alias("path"),
        F.lit([s for s, _ in splits]).cast("array<bigint>")[idx].alias("start"),
        F.lit([n for _, n in splits]).cast("array<bigint>")[idx].alias("length"),
    )


def _decode_union(iterator):
    """mapInPandas body: each blob is read + decompressed + parsed
    exactly ONCE, emitting all three element kinds from that single
    pass (a planet blob mixes kinds across its PrimitiveGroups).

    Emission is COLUMNAR and PER-BLOB (r14, found by the 239 MB
    volume probe — tools/pbf_volume_probe.py). The previous form
    accumulated one python tuple per element across ALL the
    partition's blobs before building a single object-dtype
    DataFrame: at 1,128 blobs that meant ~1.75M tuples per task,
    ~1 GB worker RSS, and 52M scalar PyObject conversions on the
    Arrow boundary — the decode itself fanned out fine (18.6 s) but
    the full pass took 271 s. Per-blob numpy-backed frames bound
    worker memory to one blob's rows and let Arrow copy primitive
    columns without boxing: 271 s → 28 s for the same file."""
    for pdf in iterator:
        for path, start, length in pdf.itertuples(index=False):
            for blob in pbf_wire.iter_data_blobs(path, start, length):
                yield from _union_frames(pbf_wire.decode_blob_columnar(blob))


def _union_frames(chunks):
    """One blob's columnar chunks → union-schema pandas frames."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    for kind, payload in chunks:
        if kind == "dense":
            yield pd.DataFrame({
                _UNION_COLS[0]: "node",
                _UNION_COLS[1]: payload["node_id"],
                _UNION_COLS[2]: payload["lat"],
                _UNION_COLS[3]: payload["lon"],
                _UNION_COLS[4]: None,
                _UNION_COLS[5]: None,
                _UNION_COLS[6]: pd.Series(
                    payload["tags"], dtype=object
                ),
            })
        elif kind == "nodes":
            n = payload
            yield pd.DataFrame({
                _UNION_COLS[0]: "node",
                _UNION_COLS[1]: np.fromiter(
                    (x["node_id"] for x in n), dtype="int64",
                    count=len(n),
                ),
                _UNION_COLS[2]: np.fromiter(
                    (x["lat"] for x in n), dtype="float64",
                    count=len(n),
                ),
                _UNION_COLS[3]: np.fromiter(
                    (x["lon"] for x in n), dtype="float64",
                    count=len(n),
                ),
                _UNION_COLS[4]: None,
                _UNION_COLS[5]: None,
                _UNION_COLS[6]: pd.Series(
                    [x["tags"] for x in n], dtype=object
                ),
            })
        elif kind == "ways":
            w = payload
            yield pd.DataFrame({
                _UNION_COLS[0]: "way",
                _UNION_COLS[1]: np.fromiter(
                    (x["way_id"] for x in w), dtype="int64",
                    count=len(w),
                ),
                _UNION_COLS[2]: None,
                _UNION_COLS[3]: None,
                _UNION_COLS[4]: pd.Series(
                    [x["node_refs"] for x in w], dtype=object
                ),
                _UNION_COLS[5]: None,
                _UNION_COLS[6]: pd.Series(
                    [x["tags"] for x in w], dtype=object
                ),
            })
        else:
            r = payload
            yield pd.DataFrame({
                _UNION_COLS[0]: "relation",
                _UNION_COLS[1]: np.fromiter(
                    (x["rel_id"] for x in r), dtype="int64",
                    count=len(r),
                ),
                _UNION_COLS[2]: None,
                _UNION_COLS[3]: None,
                _UNION_COLS[4]: None,
                _UNION_COLS[5]: pd.Series(
                    [x["members"] for x in r], dtype=object
                ),
                _UNION_COLS[6]: pd.Series(
                    [x["tags"] for x in r], dtype=object
                ),
            })


def read_pbf_elements(spark: SparkSession, pbf_path: str) -> DataFrame:
    """PBF → ONE unioned element DataFrame (kind-discriminated), one
    task per decode split (see pack_splits). Each executor task opens
    the file at its own byte range — no driver-side decode, no
    full-file broadcast, and each blob is decoded once per action
    (not once per element kind)."""
    return _splits_df(spark, pbf_path).mapInPandas(_decode_union, UNION_SCHEMA)


def split_elements(union: DataFrame) -> dict[str, DataFrame]:
    """Kind-discriminated union → the three typed element tables.
    Pure filter + rename — evaluating all three against a *staged or
    persisted* union costs one decode total."""
    return {
        "nodes": union.where(union.kind == "node").select(
            union.elem_id.alias("node_id"), "lat", "lon", "tags"
        ),
        "ways": union.where(union.kind == "way").select(
            union.elem_id.alias("way_id"), "node_refs", "tags"
        ),
        "relations": union.where(union.kind == "relation").select(
            union.elem_id.alias("rel_id"), "members", "tags"
        ),
    }


def read_pbf(spark: SparkSession, pbf_path: str) -> dict[str, DataFrame]:
    """PBF → {nodes, ways, relations} DataFrames derived from the
    single-pass union scan. Lazy caveat: running separate actions on
    all three re-decodes (Spark re-executes the shared scan per
    action) — the ingest-once path (``ingest_pbf``) stages the union
    to Parquet first so the expensive decode happens exactly once."""
    return split_elements(read_pbf_elements(spark, pbf_path))


def ingest_pbf(
    spark: SparkSession, pbf_path: str, out_dir: str, region: str
) -> dict[str, str]:
    """PBF → element Parquet, the ingest-once step.

    Two passes: (1) the decode pass writes the kind-partitioned union
    Parquet — every blob decompressed + parsed exactly once; (2) a
    columnar pass per kind reads back only its partition directory
    (partition-pruned) and lays down the typed table. Pass 2 touches
    already-columnar data, so total decode cost is 1× (the previous
    design paid 3×). At planet scale (~70 GB PBF / ~80k blobs) pass 1
    is embarrassingly parallel; the final layout (type dir + region
    partition) is what SCALE.md's layout contract expects downstream."""
    staged = f"{out_dir}/_staged_elements/region={region}"
    read_pbf_elements(spark, pbf_path).write.mode("overwrite").partitionBy(
        "kind"
    ).parquet(staged)
    union = read_ingested(spark, staged, "union")
    paths = {}
    for kind, df in split_elements(union).items():
        path = f"{out_dir}/{kind}/region={region}"
        df.write.mode("overwrite").parquet(path)
        paths[kind] = path
    # The staging union roughly doubles ingest storage at planet scale
    # — drop it once every typed write has landed. Hadoop FS delete so
    # the same code works on HDFS/S3A paths, not just local; only THIS
    # region's staging goes (a concurrent ingest of another region may
    # still be mid-flight under the same _staged_elements root).
    jvm = spark.sparkContext._jvm
    staged_path = jvm.org.apache.hadoop.fs.Path(staged)
    fs = staged_path.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    fs.delete(staged_path, True)
    root = jvm.org.apache.hadoop.fs.Path(f"{out_dir}/_staged_elements")
    try:
        if fs.exists(root) and len(fs.listStatus(root)) == 0:
            fs.delete(root, False)  # non-recursive: refuses if racing
    except Exception:
        pass  # another region's ingest owns the root right now
    return paths
