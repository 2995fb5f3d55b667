"""Tracked-persist registry (novlake_spark.cache): operators persist at
reuse points, callers hand the cache back after their action."""

import pyspark.sql.functions as F

from novlake_spark.cache import _LIVE, release_tracked, track


def test_track_returns_df_and_release_unpersists(spark):
    df = track(spark.range(100).select((F.col("id") * 2).alias("x")).persist())
    assert df.count() == 100  # materialize the cache
    assert df.storageLevel.useMemory
    n = release_tracked()
    assert n >= 1
    assert not df.storageLevel.useMemory  # actually unpersisted
    assert not _LIVE


def test_release_is_idempotent_and_safe_when_empty(spark):
    assert release_tracked() == 0
    assert release_tracked() == 0


def test_released_lazy_plan_still_computes(spark):
    """A plan released BEFORE its action re-computes correctly — the
    contract that makes release safe to call at any boundary."""
    df = track(spark.range(50).selectExpr("sum(id) AS s").persist())
    release_tracked()
    assert df.collect()[0].s == 49 * 50 // 2


def test_graph_and_lm_operators_register_their_persists(spark):
    from novlake_spark.operators.graph import pagerank_int
    from novlake_spark.operators.lm import kn_perplexity_scores

    e = spark.createDataFrame([(0, 1), (1, 2), (2, 0)], "a long, b long")
    pagerank_int(e, iters=1).count()
    docs = spark.createDataFrame(
        [(1, "a b a c"), (2, "b c a b")], "doc_id long, text string"
    )
    kn_perplexity_scores(docs).count()
    assert release_tracked() >= 3  # sym + out (graph) and doc_bg (lm)
    assert release_tracked() == 0
