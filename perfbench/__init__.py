"""Repository benchmark: seeded corpus-validation and JSON infer/normalise
workloads, their output oracles, and an event-log layer tracer.

Run ``python3 perfbench/run.py --help``; ``perfbench/README.md`` lists
the workloads and metrics.
"""
