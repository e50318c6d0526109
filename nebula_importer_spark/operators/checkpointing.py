"""Plan materialization with a reliable-checkpoint knob.

Several operators cut lineage on small intermediate relations (candidate
pair lists, MinHash signatures, PageRank ranks, CC labels) so that

* a relation consumed by parallel branches of ONE job is computed once
  (``persist`` alone cannot dedupe concurrent in-job branches — the stages
  race before the cache exists), and
* iterative plans stay O(1) deep instead of doubling per round.

``localCheckpoint`` stores the blocks on executors only: losing an executor
mid-job fails the query instead of recomputing (the blocks are gone and the
lineage was truncated). That trade is right for this sandbox and for short
interactive jobs, but a 1000-executor run wants the *reliable* variant —
``DataFrame.checkpoint()`` writes the blocks to the checkpoint directory
(HDFS/S3), surviving executor loss at the cost of one distributed write.

:func:`materialize` picks automatically: if the session has a checkpoint
directory configured (``spark.sparkContext.setCheckpointDir(...)`` — the
cluster-run knob), it uses the reliable form; otherwise it falls back to
``localCheckpoint``. Every lineage cut whose result outlives one query
routes through here, so one driver-side line flips the whole engine to
fault-tolerant checkpoints for cluster runs. A cut used only inside one
query (multiprobe LSH in ``operators/similarity.py``, the signature cut of
``operators/dedup.minhash_lsh_pairs``) stays a ``localCheckpoint``: a
reliable one would leave its files behind per call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def materialize(df: DataFrame) -> DataFrame:
    """Cut lineage and compute now; reliable iff a checkpoint dir is
    configured on the session, executor-local otherwise."""
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
