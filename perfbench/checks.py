"""Output checks, run untimed after the timed passes.

* oracled registry keys: Spark rows against the key's DuckDB oracle on
  the same Parquet files, canonicalised by ``tools/check.py``;
* rows-only keys: row count and an order-insensitive digest, equal
  between the engine's shuffle-partition setting and a second,
  different one (the registry's partition-independence contract);
* the ETL publish: per region, exactly the generator's highway way ids,
  under the snapshot date.
"""

from __future__ import annotations

import hashlib
import json
import os

import duckdb
import pyarrow.dataset as ds

from osm_airflow_spark import registry, session
from osm_airflow_spark.io import TABLES
from tools.check import canon, complex_columns

ALT_SHUFFLE_PARTITIONS = 7


def digest(pdf) -> tuple[int, str]:
    """(row count, sha256 of the sorted canonical rows)."""
    cols, rows = canon(pdf)
    h = hashlib.sha256(json.dumps(cols).encode())
    for row in rows:
        h.update(json.dumps(row).encode())
    return len(rows), h.hexdigest()[:16]


def check_registry(spark, queries, oracles, keys, sf_dir) -> dict[str, str]:
    """Return {key: reason} for every key whose output is wrong."""
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    failures = {}
    for key in keys:
        try:
            df = queries[key](spark, sf_dir)
            if key in oracles:
                hazard = complex_columns(df)
                if hazard:
                    failures[key] = f"complex top-level columns {hazard}"
                    continue
                got, want = canon(df.toPandas()), canon(con.sql(oracles[key]).df())
                if got != want:
                    failures[key] = f"differs from oracle ({len(got[1])} vs {len(want[1])} rows)"
                continue
            first = digest(df.toPandas())
            again = _digest_repartitioned(spark, queries[key], sf_dir)
            if first != again:
                failures[key] = f"partition-dependent output {first} vs {again}"
        except Exception as exc:  # noqa: BLE001 — a failing key is a result
            failures[key] = f"{type(exc).__name__}: {exc}"[:300]
    con.close()
    return failures


def _digest_repartitioned(spark, fn, sf_dir) -> tuple[int, str]:
    """Rebuild and run ``fn`` with a different shuffle partition count.
    The registry wrapper applies ``session.DEFAULT_SHUFFLE_PARTITIONS``
    on every call, so that is what is swapped for the rebuild."""
    default = session.DEFAULT_SHUFFLE_PARTITIONS
    session.DEFAULT_SHUFFLE_PARTITIONS = ALT_SHUFFLE_PARTITIONS
    registry.clear_plan_cache()
    try:
        return digest(fn(spark, sf_dir).toPandas())
    finally:
        session.DEFAULT_SHUFFLE_PARTITIONS = default
        registry.clear_plan_cache()
        spark.conf.set("spark.sql.shuffle.partitions", str(default))


def check_publish(layer_dir: str, snapshot_date: str, highway_ids: dict) -> dict[str, str]:
    """Return {subregion: reason} for every region whose published
    highway layer differs from the generator's way ids."""
    if not os.path.isdir(layer_dir):
        return dict.fromkeys(highway_ids, "no highway layer published")
    table = ds.dataset(layer_dir, format="parquet", partitioning="hive").to_table(
        columns=["way_id", "region", "pgosm_date"]
    )
    dates = set(table.column("pgosm_date").to_pylist())
    rows = table.select(["region", "way_id"]).to_pylist()
    by_region: dict[str, list[int]] = {}
    for r in rows:
        by_region.setdefault(str(r["region"]), []).append(r["way_id"])
    failures = {}
    for sub, ids in highway_ids.items():
        got = sorted(by_region.get(sub, []))
        if got != ids:
            failures[sub] = f"{len(got)} layer rows, expected {len(ids)}"
        elif dates != {snapshot_date}:
            failures[sub] = f"snapshot dates {sorted(map(str, dates))}"
    return failures
