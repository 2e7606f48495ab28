from __future__ import annotations

import pytest

from bigtrees_spark.session import get_spark
from bigtrees_spark.sources.fixtures import corpus_to_spark, generate_corpus


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cores=8, app_name="bigtrees_spark_tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus():
    # 250-doc planted corpus: exact/near/substring groups, skew site, edges
    return generate_corpus(250, seed=42)


@pytest.fixture(scope="session")
def pages(spark, corpus):
    df = corpus_to_spark(spark, corpus.pages).cache()
    df.count()
    return df


@pytest.fixture()
def cache_state(spark):
    """Start from an empty Dataset cache and no persistent RDDs (stale
    checkpoints of finished tests included); returns a probe of
    (Dataset cache empty, persistent-RDD count)."""
    spark.catalog.clearCache()
    rdds = spark.sparkContext._jsc.getPersistentRDDs
    for rdd in list(rdds().values()):
        rdd.unpersist(False)
    cm = spark._jsparkSession.sharedState().cacheManager()

    def probe():
        return cm.isEmpty(), rdds().size()

    assert probe() == (True, 0)
    return probe
