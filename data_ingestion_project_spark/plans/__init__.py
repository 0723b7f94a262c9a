"""Plan inspection helpers (the ".explain and iterate" loop)."""

from data_ingestion_project_spark.plans.explain import (  # noqa: F401
    executed_plan,
    formatted_plan,
    plan_census,
    scan_info,
)
