"""Seeded OSM region extracts for the weekly ETL workload.

Each region is one ``.osm.pbf`` file: an OSMHeader blob, then
DenseNodes blobs and way blobs of at most ``BLOB_ELEMENTS`` elements,
so the decode fans out one task per blob the way a real extract does.
Ways are mostly ``highway=*`` and reference runs of nearby nodes; every
reference resolves, so the highway layer holds exactly one row per
highway way. Same seed gives byte-identical files.
"""

from __future__ import annotations

import os

import numpy as np

from osm_airflow_spark.sources.pbf_wire import encode_fileblock, encode_primitive_block

BLOB_ELEMENTS = 8000
HIGHWAY_CLASSES = ["residential", "service", "tertiary", "secondary", "primary", "footway"]
HIGHWAY_SHARE = 0.9
ID_STRIDE = 100_000_000  # region r owns ids [r * ID_STRIDE, (r + 1) * ID_STRIDE)


def region_elements(seed: int, region: int, n_nodes: int, n_ways: int) -> tuple[list, list]:
    """Node and way rows for one region, as ``pbf_wire`` encodes them."""
    rng = np.random.default_rng([seed, region])
    base = region * ID_STRIDE
    # one 1.5° x 1.0° box per region, far enough apart not to overlap
    lon = np.round(-120.0 + 25.0 * region + rng.random(n_nodes) * 1.5, 7)
    lat = np.round(30.0 + 5.0 * region + rng.random(n_nodes) * 1.0, 7)
    node_tag = rng.random(n_nodes)
    nodes = []
    for i in range(n_nodes):
        tags = {}
        if node_tag[i] < 0.03:
            tags = {"highway": "traffic_signals"}
        elif node_tag[i] < 0.05:
            tags = {"amenity": "cafe"}
        nodes.append({"node_id": base + i, "lat": float(lat[i]), "lon": float(lon[i]), "tags": tags})

    kind = rng.random(n_ways)
    cls = rng.integers(0, len(HIGHWAY_CLASSES), n_ways)
    named = rng.random(n_ways) < 0.5
    speed = rng.integers(2, 13, n_ways) * 10
    n_refs = rng.integers(2, 11, n_ways)
    start = rng.integers(0, n_nodes - 10, n_ways)
    ways = []
    for w in range(n_ways):
        if kind[w] < HIGHWAY_SHARE:
            tags = {"highway": HIGHWAY_CLASSES[cls[w]]}
            if named[w]:
                tags["name"] = f"Street {w % 997}"
            if kind[w] < 0.3:
                tags["maxspeed"] = str(int(speed[w]))
        else:
            tags = {"building": "yes"}
        refs = [base + int(start[w]) + k for k in range(int(n_refs[w]))]
        ways.append({"way_id": base + w, "node_refs": refs, "tags": tags})
    return nodes, ways


def encode_extract(nodes: list, ways: list) -> bytes:
    out = [encode_fileblock(encode_primitive_block(), "OSMHeader")]
    for i in range(0, len(nodes), BLOB_ELEMENTS):
        out.append(encode_fileblock(encode_primitive_block(nodes=nodes[i : i + BLOB_ELEMENTS])))
    for i in range(0, len(ways), BLOB_ELEMENTS):
        out.append(encode_fileblock(encode_primitive_block(ways=ways[i : i + BLOB_ELEMENTS])))
    return b"".join(out)


def write_extracts(
    out_dir: str, seed: int, subregions: list[str], n_nodes: int, n_ways: int
) -> dict:
    """Write ``<subregion>.osm.pbf`` per region under ``out_dir`` (reused
    when a complete copy is there) and return what the output check
    needs: the highway way ids per region, element and byte counts."""
    os.makedirs(out_dir, exist_ok=True)
    expected: dict = {"highway_ids": {}, "elements": 0, "pbf_bytes": 0}
    for r, sub in enumerate(subregions):
        nodes, ways = region_elements(seed, r, n_nodes, n_ways)
        path = os.path.join(out_dir, f"{sub}.osm.pbf")
        if not os.path.exists(path):
            tmp = path + ".tmp"
            with open(tmp, "wb") as fh:
                fh.write(encode_extract(nodes, ways))
            os.replace(tmp, path)
        expected["highway_ids"][sub] = sorted(w["way_id"] for w in ways if "highway" in w["tags"])
        expected["elements"] += n_nodes + n_ways
        expected["pbf_bytes"] += os.path.getsize(path)
    return expected
