import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from lucene_solr_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    # the job-count tests read stage infos from the status tracker; keep
    # every job and stage of the session there (by default Spark trims its
    # status store to the last 1,000 of each)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        + os.environ.get("PYSPARK_SUBMIT_ARGS", "pyspark-shell")
    )
    spark = get_spark("lucene_solr_spark-tests", cpus=4)
    yield spark


@pytest.fixture(scope="session")
def small_corpus():
    """FIXTURES.md unit scale: N_conv=200 (~1.5k turns), seed 42."""
    from lucene_solr_spark.datagen import generate_transcripts

    return generate_transcripts(200)


@pytest.fixture(scope="session")
def small_index(spark, small_corpus, tmp_path_factory):
    from lucene_solr_spark.index.build import build_index

    index_dir = str(tmp_path_factory.mktemp("index") / "idx")
    sdf = spark.createDataFrame(small_corpus)
    manifest = build_index(spark, sdf, index_dir, n_segments=4)
    return index_dir, manifest.toPandas()


@pytest.fixture(scope="session")
def oracle(small_corpus):
    from lucene_solr_spark.search.oracle import BruteForceOracle

    return BruteForceOracle(small_corpus)
