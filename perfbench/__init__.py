"""Repository benchmark: Hive-dump re-import into PostgreSQL plus the
relational and LLM-dedup query passes, timed layer by layer.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s>
--trace <0|1>`` from the repository root; see ``perfbench/README.md``.
"""
