"""End-to-end and per-layer benchmark of the healthcare lakehouse.

Run ``python3 perfbench/run.py --workload <name> --seed <n>`` from the
repository root; see ``perfbench/README.md``.
"""
