"""kgforge benchmark harness (see perfbench/README.md).

Run from the repository root:

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0
"""
