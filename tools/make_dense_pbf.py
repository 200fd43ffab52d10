"""Dense-planet PBF generator for the VOLUME proof (VERDICT r13 #5).

No geofabrik extract can reach this sandbox (network blocked), so the
decode fan-out had only ever seen KB-scale fixtures. This generator
synthesizes the next best thing: a multi-hundred-MB `.osm.pbf` whose
shape matches what the reference's entry point downloads
(/root/reference/osm_etl.py:54-56) — hundreds of zlib blobs, each one
PrimitiveBlock of ~50k DenseNodes (with DenseInfo metadata and a
realistic ~10% tag density) plus a tail of way blocks, so
``read_pbf_elements`` packs real-sized blobs (~1 MB compressed /
~4 MB inflated, inside the spec's 16 MB SHOULD bound) into its
byte-sized decode splits.

Built on the INDEPENDENT wire primitives of tools/make_golden_pbf.py
(zero code shared with the decoder under test), like the adversarial
generator. Generation cost matters (bench runs per round), so the
node payload is encoded ONCE as template byte-runs and each blob only
re-prefixes the three leading packed deltas (id/lat/lon base — delta
coding makes everything after the first value position-independent)
before its own zlib pass: ~20 s for 300 MB instead of minutes of
per-varint Python.

Element ids are globally unique across blobs (the per-blob base id
advances past the previous blob's range); coordinates walk a
deterministic hash-derived path so the payload is not trivially
compressible. Ways reference in-file node ids in 25-ref runs.

Usage: python tools/make_dense_pbf.py /tmp/dense.osm.pbf [target_mb]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.make_golden_pbf import (  # noqa: E402
    fileblock,
    ld,
    packed,
    string_table,
    uv,
    vi,
    zz,
)

NODES_PER_BLOB = 50_000
ID_STEP = 2
WAYS_PER_BLOB = 8_000
REFS_PER_WAY = 25

_STRINGS = [
    "",  # index 0 is reserved (dense kv terminator semantics)
    "highway",
    "residential",
    "name",
    "Main Street",
    "amenity",
    "cafe",
    "building",
    "yes",
    "oneway",
]


def _mix(i: int) -> int:
    """Deterministic 64-bit mix (splitmix64 finalizer) — hash-derived
    coordinate noise, no random module (CLAUDE.md: no rand())."""
    z = (i + 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
    z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
    return z ^ (z >> 31)


def _node_template() -> dict:
    """Template byte-runs for one dense blob: everything EXCEPT the
    first id/lat/lon delta, which carries the per-blob base."""
    id_rest = b"".join(uv(zz(ID_STEP)) for _ in range(NODES_PER_BLOB - 1))

    # coordinate walk: bounded steps, nanodegree granularity 100
    lat_steps, lon_steps = [], []
    for i in range(1, NODES_PER_BLOB):
        h = _mix(i)
        lat_steps.append((h & 0xFFFF) - 0x8000)
        lon_steps.append(((h >> 16) & 0xFFFF) - 0x8000)
    lat_rest = b"".join(uv(zz(s)) for s in lat_steps)
    lon_rest = b"".join(uv(zz(s)) for s in lon_steps)

    # ~10% of nodes tagged with one kv pair; kv stream is
    # [k, v, 0] or [0] per node, indices into the string table
    kv = bytearray()
    for i in range(NODES_PER_BLOB):
        if i % 10 == 0:
            if i % 20 == 0:
                kv += uv(1) + uv(2)  # highway=residential
            else:
                kv += uv(5) + uv(6)  # amenity=cafe
        kv += uv(0)
    kv_bytes = bytes(kv)

    # DenseInfo (field 5): versions + delta-coded timestamps /
    # changesets / uids / user_sids — present in every real planet
    # file; the decoder must skip them without desyncing
    info = (
        packed(1, [1] * NODES_PER_BLOB)
        + packed(2, [zz(1_600_000_000)] + [zz(1)] * (NODES_PER_BLOB - 1))
        + packed(3, [zz(1)] + [zz(0)] * (NODES_PER_BLOB - 1))
        + packed(4, [zz(7)] + [zz(0)] * (NODES_PER_BLOB - 1))
        + packed(5, [zz(0)] * NODES_PER_BLOB)
    )
    return {
        "st": ld(1, string_table(_STRINGS)),
        "id_rest": id_rest,
        "lat_rest": lat_rest,
        "lon_rest": lon_rest,
        "kv": kv_bytes,
        "info": info,
    }


def _node_block(tpl: dict, base_id: int, lat0: int, lon0: int) -> bytes:
    ids = uv(zz(base_id)) + tpl["id_rest"]
    lats = uv(zz(lat0)) + tpl["lat_rest"]
    lons = uv(zz(lon0)) + tpl["lon_rest"]
    dense = (
        ld(1, ids)
        + ld(5, tpl["info"])
        + ld(8, lats)
        + ld(9, lons)
        + ld(10, tpl["kv"])
    )
    return tpl["st"] + ld(2, ld(2, dense))


def _way_block(first_way_id: int, first_ref_base: int) -> bytes:
    """One blob of WAYS_PER_BLOB ways, each referencing REFS_PER_WAY
    consecutive template nodes. Way messages carry absolute ids, so
    each way is assembled individually — but at 8k ways/blob (vs 50k
    nodes) the cost stays small."""
    tags = packed(2, [7]) + packed(3, [8])
    ref_rest = b"".join(uv(zz(ID_STEP)) for _ in range(REFS_PER_WAY - 1))
    ways = bytearray()
    for w in range(WAYS_PER_BLOB):
        base = first_ref_base + w * REFS_PER_WAY * ID_STEP
        refs = uv(zz(base)) + ref_rest
        way = vi(1, first_way_id + w) + tags + ld(8, refs)
        ways += ld(3, way)
    return ld(1, string_table(_STRINGS)) + ld(2, bytes(ways))


def build(path: str, target_mb: int = 256) -> dict:
    """Write a dense file of ~target_mb; return layout facts."""
    tpl = _node_template()
    header_msg = ld(4, b"OsmSchema-V0.6") + ld(4, b"DenseNodes") + ld(
        16, b"dense-volume-generator"
    )
    header = fileblock("OSMHeader", header_msg, compress=True)

    # measure one compressed blob to size the file
    probe = fileblock("OSMData", _node_block(tpl, 1, 450_000_000, 90_000_000), True)
    per_blob = len(probe)
    n_node_blobs = max(1, int(target_mb * 1024 * 1024 * 0.92) // per_blob)

    node_span = NODES_PER_BLOB * ID_STEP
    n_way_blobs = max(1, n_node_blobs // 12)

    nodes = ways = 0
    with open(path, "wb") as fh:
        fh.write(header)
        for b in range(n_node_blobs):
            base_id = 1 + b * node_span
            h = _mix(b)
            lat0 = 450_000_000 + (h & 0xFFFFFF)
            lon0 = 90_000_000 + ((h >> 24) & 0xFFFFFF)
            fh.write(fileblock("OSMData", _node_block(tpl, base_id, lat0, lon0), True))
            nodes += NODES_PER_BLOB
        way_id = 10_000_000_000
        for b in range(n_way_blobs):
            ref_base = 1 + (b % n_node_blobs) * node_span
            fh.write(fileblock("OSMData", _way_block(way_id, ref_base), True))
            way_id += WAYS_PER_BLOB
            ways += WAYS_PER_BLOB
    return {
        "bytes": os.path.getsize(path),
        "blobs": n_node_blobs + n_way_blobs,
        "node_blobs": n_node_blobs,
        "way_blobs": n_way_blobs,
        "nodes": nodes,
        "ways": ways,
    }


if __name__ == "__main__":
    out = sys.argv[1] if len(sys.argv) > 1 else "/tmp/dense.osm.pbf"
    mb = int(sys.argv[2]) if len(sys.argv) > 2 else 256
    import time

    t0 = time.time()
    facts = build(out, mb)
    facts["gen_s"] = round(time.time() - t0, 2)
    import json

    print(json.dumps(facts))
