# Kept only because perfbench/workloads.py imports these names from here.
from build_datawarehouse_demo_spark.registry_star import (  # noqa: F401
    _STAR_ORACLE,
    _summarize_warehouse,
    _yelp_fixture_from_driver_tables,
)
