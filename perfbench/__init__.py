"""The repository's benchmark: workloads, input generators and tracing.

Run ``python3 perfbench/run.py --help`` from the root of a checkout.
"""
