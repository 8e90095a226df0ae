"""Shared pytest fixtures: one local SparkSession per test session.

SPARK_GRAFT_TEST_SF_DIR overrides the default sf0.001 fixture dir (use
sf0.01 to mirror the driver's correctness gate exactly; sf0.001 keeps
the suite fast for the inner loop).
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from etl_tpch_spark.session import get_spark  # noqa: E402

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_addoption(parser):
    parser.addoption(
        "--run-slow",
        action="store_true",
        default=False,
        help="run @pytest.mark.slow lifecycle/property gates (the full "
        "tier; also enabled by RUN_SLOW=1)",
    )


def pytest_collection_modifyitems(config, items):
    """Default gate skips the slow tier (VERDICT r7 #5) — the tests
    stay collected and visibly skipped, so the total count is the same
    across tiers; `--run-slow` (or RUN_SLOW=1) runs everything."""
    if config.getoption("--run-slow") or os.environ.get("RUN_SLOW"):
        return
    skip = pytest.mark.skip(reason="slow tier: run with --run-slow")
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "etl_tpch_spark-tests",
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "4g",
            # parallelize()/createDataFrame default to one partition
            # per core (32); test frames are tiny, and the scheduling
            # overhead of 32-slice empty/near-empty stages dominates
            # several suites (an empty cross join alone scheduled ~1k
            # no-op tasks).  8 matches shuffle_partitions; real files
            # still split by maxPartitionBytes, unaffected.
            "spark.default.parallelism": "8",
            # literal frames (createDataFrame/range) plan as ONE
            # partition: lifecycle suites append dozens of tiny
            # literal frames to TxTables — at the default (one slice
            # per core) every such append lands 8+ near-empty parquet
            # files that every later snapshot read reopens.  Real
            # file sources are unaffected.  Operators must be
            # partitioning-agnostic anyway (pinned by the
            # invariant-to-batching property tests).
            "spark.sql.leafNodeDefaultParallelism": "1",
        },
    )
    # Several tests assert that an index path appears in the rendered
    # plan; FileScan truncates its Location metadata at 100 chars
    # (spark.sql.maxMetadataStringLength), so a long pytest tmp_path
    # (the tmpdir counter rolling to 3 digits) silently clips the path
    # out of the string.  Widen it so plan-audit assertions see the
    # full file list.
    s.conf.set("spark.sql.maxMetadataStringLength", "2000")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def crawl_lake(spark, sf_dir, tmp_path_factory):
    """Days 0 and 1 (doc_id % 3) drained by two crawl_day_tick calls
    on one lake (tests/crawl_lake.py); day 2 is left for
    test_crawl_drain's wiped-checkpoint test, which mutates the lake
    and so requests ``crawl_replay`` first."""
    from .crawl_lake import build_lake

    return build_lake(spark, sf_dir, tmp_path_factory.mktemp("drain"))


@pytest.fixture(scope="session")
def crawl_replay(spark, crawl_lake):
    """Store states around a same-checkpoint re-run and a wiped
    checkpoint's re-drain of day 0 (tests/crawl_lake.py ``replay``)."""
    from .crawl_lake import replay

    return replay(spark, crawl_lake)
