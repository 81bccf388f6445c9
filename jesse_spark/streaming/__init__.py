from jesse_spark.streaming.stateful import violation_streaks_batch

__all__ = ["violation_streaks_batch"]
