"""Cache-hygiene pins of the corpus operators.

Each test clears the session's cache manager before it runs the operator,
so it cannot share a module with a cached fixture: ``clearCache`` would
silently uncache it for every later test there. This module has none.
"""

from shortcut_spark.operators import dedup
from tests.test_operators import _planted_corpus


def test_clean_corpus_pins_no_cached_relation(spark):
    """``clean_corpus`` materializes its intermediates with lazy local
    checkpoints, which the session reclaims, never with ``persist``."""
    from shortcut_spark.operators.pipeline import clean_corpus

    df = spark.createDataFrame(_planted_corpus(200, 5), "doc_id long, text string")
    spark.catalog.clearCache()
    assert clean_corpus(df).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cross_corpus_near_dups_pins_no_cached_relation(spark):
    """``cross_corpus_near_dups`` materializes its shingle arrays with lazy
    local checkpoints, never with ``persist``."""
    rows = _planted_corpus(40, 9)
    new = spark.createDataFrame(rows[:20], "doc_id long, text string")
    ref = spark.createDataFrame(rows[20:], "doc_id long, text string")
    spark.catalog.clearCache()
    dedup.cross_corpus_near_dups(new, ref, "doc_id", "text").collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
