from smallquery_spark.streaming.runner import (
    drain,
    epoch_committed,
    events_stream,
    run_to_df,
    state_partitions_for,
    unload_state_stores,
)

__all__ = [
    "drain",
    "epoch_committed",
    "events_stream",
    "run_to_df",
    "state_partitions_for",
    "unload_state_stores",
]
