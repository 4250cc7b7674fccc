from rclabsapi_spark.operators import aggregates, joins, relational, windows

__all__ = ["aggregates", "joins", "relational", "windows"]
