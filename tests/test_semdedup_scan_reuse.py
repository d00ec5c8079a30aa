"""Focused pin for the r12 semdedup scan-reuse fix.

dedup_semantic_clusters runs its own inline Lloyd loop; r12
(OPTIMIZATION_r12.md item 10) materialized the projected corpus once
-- the same one-line transfer kmeans_assign got -- so the ITERS update
rounds and the final assignment read the truncated checkpoint instead
of re-scanning parquet and re-running the string->double-array
conversion every round.
"""

from ushas_spark import durability
from ushas_spark.operators.clustering import ITERS, dedup_semantic_clusters


def test_semdedup_scans_embeddings_parquet_exactly_once(spark, sf_dir):
    """Exactly ONE audited segment may scan the embeddings parquet;
    every Lloyd round and the assignment must read the materialized
    projection (the pre-r12 shape paid ITERS + 1 = {n} corpus
    scans).""".format(n=ITERS + 1)
    with durability.segments() as segments:
        df = dedup_semantic_clusters(spark, sf_dir)
    plans = [seg.pre for seg in segments] + [
        df._jdf.queryExecution().executedPlan().toString()
    ]
    scans = sum("embeddings" in p for p in plans)
    assert scans == 1, f"{scans} segments scan the embeddings parquet"
