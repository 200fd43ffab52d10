"""The benchmark's workloads: how each prepares its inputs, runs one
pass of operations and checks its outputs.

A pass returns one record per operation. Untraced passes time each
operation only; traced passes also record spans around every call into
a layer and read Spark's counters after each operation (registry
workloads) or after the pass (the multi-threaded ETL workload).
``check_pass`` checks what one pass left behind, ``check`` what every
pass computes; both run untimed.
"""

from __future__ import annotations

import os
import random
import shutil
import threading
import time

from perfbench import checks
from perfbench.counters import SparkCounters, planning_phases
from perfbench.spans import Tracer, covered

# bench.py's HEADLINE keys: the staples behind its cross-round `value`
ANALYTICS_KEYS = [
    "flagship_revenue_by_region",
    "pipeline_pricing_summary",
    "pipeline_shipping_priority",
    "pipeline_local_supplier_volume",
    "pipeline_top_returning_customers",
    "join_multiway",
    "agg_groupby",
    "agg_collect_ordered",
    "win_dedup_latest",
    "win_topk_group",
    "join_asof",
    "set_union_distinct",
    "win_time_session",
    "llm_dedup_exact",
    "llm_dedup_near",
    "llm_sim_topk",
    "llm_text_stats",
]
LLM_KEYS = [
    "llm_eval_chrf",
    "llm_dedup_embed_lsh",
    "llm_sim_ann_multiprobe",
    "llm_sim_ann_lsh",
    "llm_embed_covariance",
    "llm_sim_ann_graph",
]
# registry workloads: keys, table scale factor, documents, embeddings
REGISTRY_WORKLOADS = {
    "analytics_staples": (ANALYTICS_KEYS, 0.001, 500, 500),
    "llm_corpus": (LLM_KEYS, 0.001, 256, 256),
}
ETL_NODES, ETL_WAYS = 24_000, 6_000  # per region


def _executor_totals(jobs: list[dict], stages: list[dict]) -> dict[str, float]:
    spans = [(j["submit"], j["end"]) for j in jobs if j["submit"] and j["end"]]
    lo = min((a for a, _ in spans), default=0.0)
    hi = max((b for _, b in spans), default=0.0)
    return {
        "executor.s": covered(spans, lo, hi),
        "executor.jobs": len(jobs),
        "executor.stages": len(stages),
        "executor.tasks": sum(s["tasks"] for s in stages),
        "executor.task_run_s": sum(s["run_s"] for s in stages),
        "executor.task_cpu_s": sum(s["cpu_s"] for s in stages),
        "executor.gc_s": sum(s["gc_s"] for s in stages),
        "executor.shuffle_read_mb": sum(s["shuffle_read_mb"] for s in stages),
        "executor.shuffle_write_mb": sum(s["shuffle_write_mb"] for s in stages),
        "executor.spill_mb": sum(s["spill_mb"] for s in stages),
        "executor.failed_tasks": sum(s["failed_tasks"] for s in stages),
        "executor.stage_retries": sum(1 for s in stages if s["attempt"] > 0),
    }


class RegistryWorkload:
    """Registry keys built and materialized one after another by one
    client, each through the noop sink (every output column)."""

    # steady warm operations a run needs, so that p80 has 10 beyond it
    # (analytics_staples: its 3 steady passes hold 51)
    steady_ops = 50

    def __init__(self, name: str, spark, root: str, seed: int, codegen_log: str) -> None:
        from osm_airflow_spark import registry

        from perfbench.gen_tables import write_tables

        keys, sf, docs, vecs = REGISTRY_WORKLOADS[name]
        self.spark, self.registry = spark, registry
        self.keys = list(keys)
        self.queries = registry.all_queries()
        self.oracles = registry.all_oracles()
        self.sf_dir = write_tables(
            os.path.join(root, "data", f"tables-seed{seed}-sf{sf}-d{docs}-v{vecs}"),
            seed, sf, docs, vecs,
        )
        self.order = random.Random(seed)
        self.codegen_log = codegen_log
        self.counters: SparkCounters | None = None

    def run_pass(self, idx: int, tracer: Tracer) -> list[dict]:
        self.registry.clear_plan_cache()
        traced = tracer.enabled
        if traced:
            if self.counters is None:
                self.counters = SparkCounters(self.spark, self.codegen_log)
            self.counters.drain()
        keys = list(self.keys)
        self.order.shuffle(keys)
        return [self._op(f"p{idx}:{key}", key, tracer, traced) for key in keys]

    def _op(self, op: str, key: str, tracer: Tracer, traced: bool) -> dict:
        rec: dict = {"op": op, "key": key, "failed": False}
        c = self.counters
        if traced:
            cg0 = c.codegen_snapshot()
        t0 = time.perf_counter()
        try:
            with tracer.span("registry.build", op) as build:
                df = self.queries[key](self.spark, self.sf_dir)
            if traced:
                build_jobs = c.new_jobs()
                with tracer.span("catalyst", op):
                    rec.update(planning_phases(df))
            with tracer.span("execute", op):
                df.write.format("noop").mode("overwrite").save()
        except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
            rec["failed"] = True
            rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
        rec["wall_s"] = time.perf_counter() - t0
        if traced and not rec["failed"]:
            jobs = build_jobs + c.new_jobs()
            cg1 = c.codegen_snapshot()
            rec["registry.build_s"] = build.duration
            rec["registry.build_jobs"] = len(build_jobs)
            rec["registry.build_job_s"] = sum(j["end"] - j["submit"] for j in build_jobs if j["end"])
            rec["codegen.compiles"] = cg1[0] - cg0[0]
            rec["codegen.compile_s"] = cg1[1] - cg0[1]
            rec.update(_executor_totals(jobs, c.new_stages()))
            rec.update(c.new_python_metrics())
        return rec

    def check_pass(self, idx: int) -> dict[str, str]:
        """A pass leaves nothing behind; its keys are checked by ``check``."""
        return {}

    def check(self) -> dict[str, str]:
        """{key: reason} for every key whose output is wrong. The same
        plan on the same inputs every pass, so one check per key."""
        self.registry.clear_plan_cache()
        return checks.check_registry(self.spark, self.queries, self.oracles, self.keys, self.sf_dir)


class EtlWorkload:
    """The DAG's weekly job: every region's ingest → transform → publish
    chain, fanned out by ``run_local`` on one thread per core."""

    # 4 chains a pass: too few for a percentile, so the tail is per pass
    steady_ops = 0

    def __init__(self, spark, root: str, seed: int, cpus: int, codegen_log: str) -> None:
        from dags import osm_spark_dag

        from perfbench.gen_osm import write_extracts

        self.spark, self.dag, self.cpus = spark, osm_spark_dag, cpus
        self.subregions = [r["subregion"] for r in osm_spark_dag.REGIONS]
        nodes, ways = ETL_NODES, ETL_WAYS
        self.extract_dir = os.path.join(root, "data", f"osm-seed{seed}-n{nodes}-w{ways}")
        self.expected = write_extracts(self.extract_dir, seed, self.subregions, nodes, ways)
        self.work_root = os.path.join(root, "work")
        self.work_dir = ""
        self.codegen_log = codegen_log
        self.counters: SparkCounters | None = None

    def _fresh_work_dir(self, idx: int) -> str:
        shutil.rmtree(self.work_root, ignore_errors=True)
        work = os.path.join(self.work_root, f"p{idx}")
        os.makedirs(work)
        for sub in self.subregions:
            os.link(os.path.join(self.extract_dir, f"{sub}.osm.pbf"), os.path.join(work, f"{sub}.osm.pbf"))
        return work

    def _instrument(self, idx: int, tracer: Tracer, starts: dict, ends: dict, blobs: list) -> list:
        """Wrap the layer entry points ``run_local`` reaches through
        module attributes; returns what to restore. ``blobs`` gathers the
        blob count of every extract the decoder indexed."""
        from osm_airflow_spark import io
        from osm_airflow_spark.plans import osm
        from osm_airflow_spark.sources import pbf, pbf_wire

        lock = threading.Lock()

        def region_op(fn, span_name, first):
            def wrapper(region, subregion, *a, **kw):
                op = f"p{idx}:{subregion}"
                if first:
                    with lock:
                        starts[subregion] = time.perf_counter()
                with tracer.span(span_name, op):
                    out = fn(region, subregion, *a, **kw)
                if not first:
                    with lock:
                        ends[subregion] = time.perf_counter()
                return out
            return wrapper

        def layer(fn, span_name):
            def wrapper(*a, **kw):
                with tracer.span(span_name):
                    return fn(*a, **kw)
            return wrapper

        def blob_index(fn):
            def wrapper(*a, **kw):
                offsets = fn(*a, **kw)
                with lock:
                    blobs.append(len(offsets))
                return offsets
            return wrapper

        patches = [
            (self.dag, "ingest_region", region_op(self.dag.ingest_region, "dags.ingest_region", True)),
            (self.dag, "transform_region", region_op(self.dag.transform_region, "dags.transform_region", False)),
        ]
        if tracer.enabled:
            patches += [
                (pbf, "ingest_pbf", layer(pbf.ingest_pbf, "sources.pbf.ingest_pbf")),
                (osm, "build_highway_layer", layer(osm.build_highway_layer, "plans.osm.build_highway_layer")),
                (io, "write_snapshot", layer(io.write_snapshot, "io.write_snapshot")),
                (pbf_wire, "validated_data_offsets", blob_index(pbf_wire.validated_data_offsets)),
            ]
        restore = []
        for mod, name, wrapper in patches:
            restore.append((mod, name, getattr(mod, name)))
            setattr(mod, name, wrapper)
        return restore

    def run_pass(self, idx: int, tracer: Tracer) -> list[dict]:
        if tracer.enabled:
            if self.counters is None:
                self.counters = SparkCounters(self.spark, self.codegen_log)
            self.counters.drain()
        self.work_dir = self._fresh_work_dir(idx)
        starts: dict[str, float] = {}
        ends: dict[str, float] = {}
        blobs: list[int] = []
        restore = self._instrument(idx, tracer, starts, ends, blobs)
        n_spans = len(tracer.spans)
        if tracer.enabled:
            cg0 = self.counters.codegen_snapshot()
        t0 = time.perf_counter()
        try:
            with tracer.span("dags.run_local", f"p{idx}"):
                self.dag.run_local(self.work_dir, max_workers=self.cpus)
            error = ""
        except RuntimeError as exc:  # the publish gate names the failed regions
            error = str(exc)[:300]
        finally:
            for mod, name, orig in restore:
                setattr(mod, name, orig)
        wall = time.perf_counter() - t0
        recs = []
        for sub in self.subregions:
            done = sub in ends
            recs.append({
                "op": f"p{idx}:{sub}", "region": sub, "failed": not done,
                "wall_s": ends[sub] - starts[sub] if done else wall,
                **({} if done else {"error": error}),
            })
        if tracer.enabled:
            layers = self._pass_layers(tracer.spans[n_spans:], sum(blobs))
            cg1 = self.counters.codegen_snapshot()
            layers["codegen.compiles"] = cg1[0] - cg0[0]
            layers["codegen.compile_s"] = cg1[1] - cg0[1]
            layers["busy_s"] = wall
            recs[0]["pass"] = layers
        return recs

    def _pass_layers(self, spans: list, blobs: int) -> dict[str, float]:
        """Per-pass layer numbers: executor counters cannot be split by
        region while the chains share the JVM, so they are per pass."""
        c = self.counters
        stages = c.new_stages()
        out = _executor_totals(c.new_jobs(), stages)
        out.update(c.new_python_metrics())
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)
        total = lambda name: sum(s.duration for s in by_name.get(name, []))  # noqa: E731
        scans = [(s.start, s.end) for s in by_name.get("sources.pbf.ingest_pbf", [])]
        scan_wall = covered(scans, min(a for a, _ in scans), max(b for _, b in scans)) if scans else 0.0
        files, size = 0, 0
        for dirpath, _, names in os.walk(os.path.join(self.work_dir, "layers", "highway")):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        written_mb = sum(s["output_mb"] for s in stages)
        out.update({
            "dags.ingest_region_s": total("dags.ingest_region"),
            "dags.transform_region_s": total("dags.transform_region"),
            "sources.pbf.scan_s": total("sources.pbf.ingest_pbf"),
            "sources.pbf.blobs": blobs,
            "sources.pbf.elements_per_s": self.expected["elements"] / scan_wall if scan_wall else 0.0,
            "io.write_snapshot_s": total("io.write_snapshot"),
            "io.publish_files": files,
            "io.publish_mb": size / (1024 * 1024),
            "io.write_amp": written_mb * 1024 * 1024 / self.expected["pbf_bytes"],
        })
        return out

    def check_pass(self, idx: int) -> dict[str, str]:
        """{region: reason} for every region pass ``idx`` published
        wrong; run before the next pass clears the work directory."""
        return checks.check_publish(
            os.path.join(self.work_dir, "layers", "highway"),
            self.dag.SNAPSHOT_DATE,
            self.expected["highway_ids"],
        )

    def check(self) -> dict[str, str]:
        """Every pass's publish was checked by ``check_pass``."""
        return {}
