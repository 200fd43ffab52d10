"""OSM PBF as a first-class Spark data source (Python Data Source
API, Spark 4): ``spark.read.format("osm_pbf").load(path)``.

The reference hands ``.osm.pbf`` files to osm2pgsql
(/root/reference/osm_etl.py:54-56); here the same wire format plugs
into Spark's own source abstraction instead of a helper function.
Planning is metadata-only on the driver — ``decode_splits`` walks
BlobHeaders (a few KB each) without reading blob payloads — and each
decode split (consecutive blobs packed by Spark's file-split rule)
becomes one ``InputPartition``. So the source fans out exactly like
``read_pbf_elements``: a KB extract is one task, a planet file (~80k
blobs) ~550 tasks of 128 MB, with no driver decode and no full-file
broadcast, but discoverable through the standard reader API
(``.format(...)`` composes with the rest of a user's pipeline, shows
up in the plan as a scan, and needs no import of this package's
internals at call sites).

Rows use the same kind-discriminated union schema as sources/pbf.py
(one decode pass per blob emits nodes, ways, and relations
together). Each task reads exactly its [start, start+length) byte
range, one blob at a time.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from osm_airflow_spark.sources import pbf_wire
from osm_airflow_spark.sources.pbf import UNION_SCHEMA, decode_splits, split_limits


class PbfSplitPartition(InputPartition):
    def __init__(self, path: str, start: int, length: int):
        self.path = path
        self.start = start
        self.length = length


class OsmPbfReader(DataSourceReader):
    def __init__(self, options: dict, limits: tuple[int, int, int]):
        path = options.get("path")
        if not path:
            raise ValueError(
                "osm_pbf: pass the file via .load(path) or .option('path', ...)"
            )
        self.path = path
        self.limits = limits

    def partitions(self):
        # decode_splits also checks OSMHeader required_features — the
        # Data Source must refuse unsupported files exactly like
        # read_pbf (r10 review)
        return [
            PbfSplitPartition(self.path, start, length)
            for start, length in decode_splits(self.path, self.limits)
        ]

    def read(self, partition: PbfSplitPartition):
        for blob in pbf_wire.iter_data_blobs(
            partition.path, partition.start, partition.length
        ):
            dec = pbf_wire.decode_blob(blob)
            for r in dec["nodes"]:
                yield ("node", r["node_id"], r["lat"], r["lon"], None, None, r["tags"])
            for r in dec["ways"]:
                yield ("way", r["way_id"], None, None, r["node_refs"], None, r["tags"])
            for r in dec["relations"]:
                members = [
                    (m["mtype"], m["ref"], m["role"]) for m in r["members"]
                ]
                yield ("relation", r["rel_id"], None, None, None, members, r["tags"])


class OsmPbfDataSource(DataSource):
    # split_limits() of the session that registered the source: the
    # planner process that calls partitions() has no session to ask
    limits: tuple[int, int, int]

    @classmethod
    def name(cls) -> str:
        return "osm_pbf"

    def schema(self):
        return UNION_SCHEMA

    def reader(self, schema) -> OsmPbfReader:
        return OsmPbfReader(self.options, self.limits)


def register_pbf_source(spark) -> None:
    """Idempotent format registration; after this,
    ``spark.read.format("osm_pbf").load(path)`` works anywhere in
    the session. The source packs blobs with this session's file-split
    settings as they are now; register again after changing them."""

    class SessionOsmPbfDataSource(OsmPbfDataSource):
        limits = split_limits(spark)

    spark.dataSource.register(SessionOsmPbfDataSource)
