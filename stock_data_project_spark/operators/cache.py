"""Session-hygiene helper for multi-consumer persisted frames.

The persist-leak class (r12 verdict, finding 1): a plan function that
``persist()``s a multi-consumer frame and returns a LAZY result
referencing it pins the cached blocks in the session's cache registry
for the session's lifetime — a long-lived driver session (the bench
harness runs 250+ keys in one JVM) accumulates them until
``clearCache()``, and the r12 driver bench showed the matching
correlated-slowdown signature on memory-heavy keys.

The recipe (operators/dedup.py ``edit_prefix_candidates``,
plans/llm_next9.py ``_final_assignment``): materialize the
BOUNDED output via ``localCheckpoint(eager=True)``, then unpersist the
intermediates before returning. Stored blocks shrink from the (large)
intermediate frames to the (small) output, and the checkpoint blocks —
unlike persist blocks — are released by the ContextCleaner as soon as
the caller drops the result DataFrame (they are lineage-owned, not
cache-registry-owned; CLAUDE.md cache-accounting note).

Trade-off made consciously: the query executes EAGERLY at plan-build
time, so ``.explain`` on the returned frame shows a checkpoint scan,
not the full plan. Plan-shape guards for these operators therefore
live against the underlying operator (tests/test_rank.py,
test_plan_snapshots.py) rather than the plan key. Only use this on
outputs that are bounded (aggregates, top-k, per-key rollups) — never
on a frame proportional to the raw fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def checkpoint_release(out: DataFrame, *intermediates: DataFrame) -> DataFrame:
    """Materialize ``out`` now, then unpersist every frame in
    ``intermediates``; returns the checkpointed (lineage-truncated)
    output. See module docstring for when this is the right call."""
    out = out.localCheckpoint(eager=True)
    for f in intermediates:
        f.unpersist()
    return out
