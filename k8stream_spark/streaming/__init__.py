from k8stream_spark.streaming.pipeline import (
    project_enriched_l9,
    run_pipeline,
    sink_foreach_batch,
)

__all__ = [
    "project_enriched_l9",
    "run_pipeline",
    "sink_foreach_batch",
]
