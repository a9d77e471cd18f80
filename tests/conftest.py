"""Shared fixtures: one local Spark session + one built index per run.

Mirrors the reference's test discipline (live single-node backend,
deterministic fixtures, golden assertions —
/root/reference/tests/conftest.py:13-99) with the corpus re-based onto
the input_hint code-table shape (FIXTURES.md).
"""
from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")

# Fixture docs embedding the reference test motifs (FIXTURES.md §1):
# named phrases, non-Latin, ZWJ annotations, HTML, bool/proximity targets.
ZWJ = "‍"
FIXTURE_DOCS = [
    ("r1", "a/banana.txt", "c1", "txt", "Banana ba Nana is a fruit stand"),
    ("r1", "a/kwazulu.txt", "c1", "txt",
     "the KwaZulu Natal province of South Africa"),
    ("r1", "a/igumnov.md", "c1", "md",
     "Vladimir Igumnov was seen with Wladimir Igumnow"),
    ("r1", "a/jane.py", "c1", "py",
     f"Jane{ZWJ}__PER__{ZWJ}__doejane__ Doe{ZWJ}__PER__{ZWJ}__doejane__ "
     "committed no crime at all"),
    ("r2", "b/manafort.js", "c1", "js",
     "Paul Manafort, former chairman, proclaimed innocence. "
     "Mr. Trump proclaimed as well."),
    ("r2", "b/felix.html", "c1", "txt",
     "hello <h1 class='foo'>Félix!</h1> café visitor"),
    ("r2", "b/putin.txt", "c1", "txt",
     "Владимир "
     "Владимирович "
     "Путин"),
    ("r2", "b/crime.go", "c2", "go",
     "banana crime syndicate reported a banana crime wave of banana"),
    ("r3", "c/long.rs", "c1", "rs",
     " ".join(["token%d" % (i % 97) for i in range(900)]) + " kwazulu"),
    ("r3", "c/empty.txt", "c1", "txt", ""),
]


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession
    s = (SparkSession.builder.master("local[4]")
         .appName("openaleph-search-spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.ui.showConsoleProgress", "false")
         .getOrCreate())
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``jobs(fn)`` → (fn(), [[tasks per stage] per job]): the Spark
    jobs ``fn`` ran, read from the public status tracker through a
    job group."""
    import uuid
    sc = spark.sparkContext

    def jobs(fn):
        group = f"spark-jobs-probe-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        st = sc.statusTracker()
        return out, [[st.getStageInfo(s).numTasks
                      for s in st.getJobInfo(j).stageIds]
                     for j in sorted(st.getJobIdsForGroup(group))]
    return jobs


@pytest.fixture(scope="session")
def fixture_docs_df(spark):
    return spark.createDataFrame(
        FIXTURE_DOCS, "repo string, path string, commit string, "
                      "lang string, content string")


@pytest.fixture(scope="session")
def fixture_index(spark, fixture_docs_df, tmp_path_factory):
    from openaleph_search_spark.index.build import build_index
    out = str(tmp_path_factory.mktemp("idx_fixture"))
    build_index(spark, fixture_docs_df, out, num_partitions=4, num_shards=2)
    return out


@pytest.fixture(scope="session")
def fixture_engine(spark, fixture_index):
    from openaleph_search_spark.query.engine import Engine
    return Engine(spark, fixture_index)


@pytest.fixture(scope="session")
def fixture_oracle():
    from tests.oracle import OracleIndex
    # doc ids must match the engine's deterministic assignment; tests
    # resolve ids via path → doc_id from doc_meta instead of guessing.
    return OracleIndex


@pytest.fixture(scope="session")
def sf_docs_df(spark):
    from openaleph_search_spark.sources.code_table import load_docs
    return load_docs(spark, SF_DIR)


@pytest.fixture(scope="session")
def sf_index(spark, sf_docs_df, tmp_path_factory):
    from openaleph_search_spark.index.build import build_index
    out = str(tmp_path_factory.mktemp("idx_sf"))
    build_index(spark, sf_docs_df, out, num_partitions=6, num_shards=3)
    return out


@pytest.fixture(scope="session")
def sf_engine(spark, sf_index):
    from openaleph_search_spark.query.engine import Engine
    return Engine(spark, sf_index)
