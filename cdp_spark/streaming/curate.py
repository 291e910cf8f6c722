"""Streaming corpus curation: run the batch curation operators over a
document stream, one micro-batch at a time.

``foreachBatch`` is the idiomatic bridge: the eval side of
decontamination is STATIC (benchmark suites change rarely), so each
micro-batch replays the same broadcast probe the batch operator uses —
no streaming state, no watermark bookkeeping, and exact batch/stream
semantic parity (asserted in tests/test_streaming_curate.py).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from ..datapipe.curate import filter_contaminated
from .runner import start_foreach_batch


def curate_stream(
    stream_docs: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    text_col: str,
    sink: Callable[[DataFrame, int], None],
    n: int = 8,
    available_now: bool = True,
    checkpoint: str | None = None,
) -> StreamingQuery:
    """Decontaminate a document stream against a static eval set and
    hand each micro-batch of CLEAN documents to ``sink(batch, epoch)``.

    ``available_now=True`` drains everything currently available and
    stops (catch-up/backfill mode); ``False`` runs continuously.
    """

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sink(filter_contaminated(batch_df, eval_set, id_col, text_col, n), epoch_id)

    return start_foreach_batch(stream_docs, process, checkpoint, available_now)
