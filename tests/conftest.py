import os

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# every test marked ``slow`` (skipped in the fast profile). A test may
# only join the skipped set by being named here, so a new multi-minute
# test cannot silently drop out of the fast profile (ADVICE r13 #2)
SLOW_TESTS = frozenset({
    "tests/test_contract_types.py::test_head_entries_have_hash_safe_schemas",
    "tests/test_example_pipeline.py::test_curation_pipeline_end_to_end",
    "tests/test_fuzz_differential.py::"
    "test_scalar_expression_matches_reference_eval",
    "tests/test_fuzz_paths.py::test_path_pairs_match_reference_eval",
    "tests/test_fuzz_service.py::test_bind_join_matches_plain_service",
    "tests/test_fuzz_streaming.py::test_stream_corpus_clean_matches_batch",
    "tests/test_fuzz_temporal.py::TestSaltedEquivalence::"
    "test_asof_salted_matches_plain",
    "tests/test_fuzz_update.py::test_update_sequences_match_set_model",
    "tests/test_golden_httpd.py::test_reference_httpd_scripts",
    "tests/test_golden_query.py::test_reference_golden_scripts",
    "tests/test_update.py::test_commit_is_o_delta_for_additive_writes",
    "tests/test_w3c_manifest.py::test_w3c_suite_all_green",
})


def pytest_collection_modifyitems(config, items):
    """Fast default profile (r13): the full suite outgrew the verify
    budget (~41 min at r11 -> 58-107 min at r12 by wall record; the r12
    driver verify was cut off mid-run at ~59%). Tests marked ``slow``
    — the dozen multi-minute conformance replays / e2e pipelines /
    deepest fuzz arms, 2431 -> ~1150 s of measured call time — are
    SKIPPED unless FOURSTORE_FULL_TESTS=1. Nothing is deleted: every
    test still collects, and the round's closing verification runs the
    full profile."""
    slow = [item for item in items if "slow" in item.keywords]
    unlisted = sorted(
        item.nodeid for item in slow if item.nodeid not in SLOW_TESTS
    )
    if unlisted:
        raise pytest.UsageError(
            "tests marked slow but missing from conftest.SLOW_TESTS: "
            + ", ".join(unlisted)
        )
    if os.environ.get("FOURSTORE_FULL_TESTS"):
        return
    skip = pytest.mark.skip(
        reason="slow profile (set FOURSTORE_FULL_TESTS=1 to run)"
    )
    for item in slow:
        item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = (
        SparkSession.builder.master("local[4]")
        .appName("fourstore-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        # 8g: deep fuzz runs broadcast ~3 MB task binaries per generated
        # expression tower; at FUZZ_EXAMPLES=500 the context cleaner
        # lags the allocation rate on a 4g heap
        .config("spark.driver.memory", "8g")
        # the SQL status listener retains plan-description STRINGS for up
        # to 1000 executions even with the UI off — machine-generated
        # expression towers make those MB-scale, and deep fuzz runs
        # (FUZZ_EXAMPLES=500) OOM the heap on retained plans alone
        .config("spark.sql.ui.retainedExecutions", "10")
        .config("spark.ui.retainedJobs", "50")
        .config("spark.ui.retainedStages", "50")
        .config("spark.ui.retainedTasks", "500")
        .getOrCreate()
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def quads(spark, sf_dir):
    from fourstore_spark.sources.relational import quads_from_sf_dir

    return quads_from_sf_dir(spark, sf_dir).cache()


@pytest.fixture(scope="session")
def engine(spark, quads):
    from fourstore_spark.sparql.engine import SparqlEngine

    return SparqlEngine(spark, quads)
