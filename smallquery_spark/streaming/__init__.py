from smallquery_spark.streaming.runner import (
    drain,
    epoch_committed,
    events_stream,
    ingest_epochs,
    run_to_df,
    stage_slices,
    state_partitions_for,
    unload_state_stores,
)

__all__ = [
    "drain",
    "epoch_committed",
    "events_stream",
    "ingest_epochs",
    "run_to_df",
    "stage_slices",
    "state_partitions_for",
    "unload_state_stores",
]
