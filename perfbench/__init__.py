"""Repository benchmark: seeded extraction workloads, end-to-end metrics
with an output check on every timed job, and a traced layer table.

Run ``python3 perfbench/run.py --help`` from the repository root; see
``perfbench/README.md`` for the workloads and the metrics.
"""
