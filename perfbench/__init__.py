"""Repository benchmark: the CNPJ pipeline end to end, repeated QUERY_FINAL,
and a registry plan mix, with per-layer counters from Spark's status store.

Run from the repository root::

    python3 perfbench/run.py --workload cnpj_e2e --seed 1 --seconds 10 --trace 0

``BENCHMARK.json`` lists the workloads and metrics; ``perfbench/spec.json``
pins the environment and maps each per-layer metric to the end-to-end metric
it should move.
"""
