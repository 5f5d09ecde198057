from typical_spark.plans.validation import ValidationPlan

__all__ = ["ValidationPlan"]
