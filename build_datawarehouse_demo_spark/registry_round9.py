# Kept only because perfbench/workloads.py imports this name from here.
from build_datawarehouse_demo_spark.registry_common import neardup_full_chain_sql  # noqa: F401
