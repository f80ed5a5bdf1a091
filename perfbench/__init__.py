"""The repository benchmark: seeded closed-loop workloads that drive the
engine through its public functions and time each call from outside.

Run one workload with ``python3 perfbench/run.py --workload <name> --seed
<n> --seconds <s> --trace <0|1>``; see ``perfbench/README.md``.
"""
