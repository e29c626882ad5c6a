"""Checkpoint policy for iterative DataFrame loops.

Every iterative operator (NN-Descent, PageRank, connected
components, k-core peel, graph beam search) must truncate its
logical plan each round (CLAUDE.md: plan growth is ~k^rounds through
Catalyst re-analysis). Locally the cheap truncation is
``localCheckpoint`` — executor-memory/disk blocks with no fault
tolerance. On a real cluster a lost executor mid-loop kills every
later round, because a localCheckpoint block has no lineage to
recompute from; the recovery-safe variant is reliable
``checkpoint()`` to the configured checkpoint directory (HDFS/object
store), at the cost of a write+read per round.

``loop_checkpoint`` makes that a DEPLOYMENT POLICY, not a rewrite
(r13 verdict item 7): local default unchanged (localCheckpoint);
set ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` to switch every loop site
to reliable checkpoints. When the switch is on and no checkpoint
directory is configured, a local fallback under the driver's temp
dir (``tempfile.gettempdir()``) is installed so the mode is testable
without a cluster — real deployments must point
``spark.sparkContext.setCheckpointDir`` at shared storage (a
driver-local fallback is NOT executor-loss-safe).

Scope: the ITERATIVE loop sites only. Single-shot materializations
(rank.py's ranged frame, cache.checkpoint_release, the dedup
signature frames) stay on localCheckpoint unconditionally — losing
one is recovered by re-running the query; the loop case is where a
mid-recursion loss wedges minutes of progress.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame

_ENV = "SPARK_GRAFT_RELIABLE_CHECKPOINT"


def reliable_mode() -> bool:
    return os.environ.get(_ENV, "") == "1"


def loop_checkpoint(df: DataFrame, eager: bool = True) -> DataFrame:
    """Plan-truncating checkpoint for one round of an iterative loop.

    localCheckpoint (default) or reliable checkpoint() when
    $SPARK_GRAFT_RELIABLE_CHECKPOINT=1. ``eager`` semantics follow
    the call site's materialization decision rule (CLAUDE.md r13):
    both variants accept it.
    """
    if not reliable_mode():
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isEmpty():
        # testable-without-a-cluster fallback; deployments must set a
        # shared-storage dir themselves (see module docstring)
        sc.setCheckpointDir(
            os.path.join(
                tempfile.gettempdir(), f"spark-reliable-ckpt-{sc.applicationId}"
            )
        )
    return df.checkpoint(eager=eager)
