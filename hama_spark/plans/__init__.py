from hama_spark.plans.audit import (
    PlanAuditError,
    assert_scalable_plan,
    audit_broadcast_sizes,
    audit_plan,
    plan_text,
    scan_report,
    suggest_shuffle_partitions,
)
from hama_spark.plans.pregel import PregelContext, pregel
from hama_spark.plans.randbench import rand_bench

__all__ = [
    "pregel",
    "PregelContext",
    "rand_bench",
    "audit_plan",
    "audit_broadcast_sizes",
    "assert_scalable_plan",
    "plan_text",
    "scan_report",
    "suggest_shuffle_partitions",
    "PlanAuditError",
]
