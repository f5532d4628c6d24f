"""Layer-attributed benchmark of the battery entries in ``native_sql_engine_spark``.

Run ``python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>``
from the repository root; ``python3 perfbench/run.py --all`` runs every workload.
"""
