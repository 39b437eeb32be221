from k8stream_spark.sources.fixtures import load_table

__all__ = ["load_table"]
