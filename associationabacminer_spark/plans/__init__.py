from associationabacminer_spark.plans.lineage import run_with_lineage, read_ledger

__all__ = ["run_with_lineage", "read_ledger"]
