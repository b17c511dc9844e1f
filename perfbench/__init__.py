"""CDC ingest benchmark: two workloads driven through the public
``canal_spark`` API, end-to-end metrics untraced, per-layer metrics from a
separate traced run. Entry point: ``python3 perfbench/run.py``."""
