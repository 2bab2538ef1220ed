"""Closed-loop benchmark for batch percolation and the positional BM25 index.

Entry point: ``python3 perfbench/run.py --workload <name> --seed <n>
--seconds <s> --trace <0|1>`` from the repository root. See NOTES.md.
"""
