"""End-to-end benchmark for the engine: seeded workloads, batch-time
metrics, per-layer attribution from Spark's own counters. Run with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root."""
