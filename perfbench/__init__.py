"""The repository benchmark: four seeded closed-loop workloads over the
``eodal_spark`` layers, with per-layer tracing.  Run it with
``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>``; see ``BENCHMARK.json`` and ``perfbench/layers.json``."""
