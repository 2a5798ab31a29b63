"""The one start-and-wait path for ``availableNow`` stages.

Every chained streaming pipeline here runs as a sequence of
``availableNow`` queries: a stage drains all input present at start,
then the next stage reads its handoff.  A stage that is still running
when the caller moves on leaves a half-written handoff behind, so the
wait's outcome is part of the contract: a finished stage returns, a
failed stage raises its failure, and a stage that outlives the wait is
stopped and raises ``TimeoutError``.
"""

from __future__ import annotations

from pyspark.sql.streaming import DataStreamWriter, StreamingQuery


def run_available_now(
    writer: DataStreamWriter, checkpoint: str, timeout_s: float = 300
) -> StreamingQuery:
    """Start ``writer`` with ``trigger(availableNow=True)`` checkpointed
    at ``checkpoint`` and wait until it has drained its input.  Returns
    the terminated query (its ``recentProgress`` stays readable); raises
    the query's failure, or stops it and raises ``TimeoutError`` once
    ``timeout_s`` seconds pass."""
    q = writer.option("checkpointLocation", checkpoint).trigger(availableNow=True).start()
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(
            f"availableNow query {q.id} did not finish within {timeout_s} s "
            f"(checkpoint {checkpoint})"
        )
    return q
