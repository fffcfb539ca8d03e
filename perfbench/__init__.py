"""Repository benchmark: two seeded workloads over the rdf_tabular_spark
package, one command (``python3 perfbench/run.py``), an untraced run for
the end-to-end metrics and a traced run for the per-layer metrics.
``BENCHMARK.json`` at the repository root documents the metrics."""
