from epss_spark.functions.scalars import parse_date

__all__ = ["parse_date"]
