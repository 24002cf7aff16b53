from minarrow_spark.streaming.ann import (
    batch_twin as ann_batch_twin,
    neighbors as ann_neighbors,
    streaming_ann,
)
from minarrow_spark.streaming.dedup import (
    batch_twin as dedup_batch_twin,
    compact_state as compact_dedup_state,
    streaming_dedup,
    verdicts as dedup_verdicts,
)
from minarrow_spark.streaming.ingest import (
    read_event_stream,
    replay_dir,
    replay_frame_dir,
    run_to_memory,
)
from minarrow_spark.streaming.rollup import (
    compact_rollup,
    continuous_rollup,
    rollup_batch_twin,
    rollup_view,
    rollup_writer,
)
from minarrow_spark.streaming.windows import (
    dedup_within_watermark,
    running_totals_per_user,
    stream_pair_join,
    windowed_counts,
)

__all__ = [
    "read_event_stream", "replay_dir", "replay_frame_dir", "run_to_memory",
    "dedup_batch_twin", "compact_dedup_state", "streaming_dedup",
    "dedup_verdicts",
    "ann_batch_twin", "ann_neighbors", "streaming_ann",
    "compact_rollup", "continuous_rollup", "rollup_batch_twin", "rollup_view",
    "rollup_writer",
    "dedup_within_watermark", "running_totals_per_user", "stream_pair_join",
    "windowed_counts",
]
