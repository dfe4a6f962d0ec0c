import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from horizon_etl_spark.session import build_session


@pytest.fixture(scope="session")
def spark():
    s = build_session(
        app_name="horizon-etl-spark-tests",
        master=os.environ.get("SPARK_TEST_MASTER", "local[4]"),
        shuffle_partitions=8,
    )
    yield s
    s.stop()


@pytest.fixture()
def tmp_table_dir(tmp_path):
    return str(tmp_path)


SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


def assert_disjoint_bucket_ranges(table, require_split=False):
    """Every bucket's files must hold pairwise-disjoint, ordered key
    ranges — the clustered-compaction layout contract.  With
    ``require_split`` at least one bucket must actually hold >1 file
    (the rewrite really range-split something)."""
    from horizon_etl_spark.tables.lake import FileEntry

    by_bucket = {}
    for f in (FileEntry.from_json(j) for j in table.snapshot()["files"]):
        by_bucket.setdefault(f.bucket, []).append(f)
    if require_split:
        assert any(len(fs) > 1 for fs in by_bucket.values())
    for fs in by_bucket.values():
        fs.sort(key=lambda f: f.min_key)
        for a, b in zip(fs, fs[1:]):
            assert a.max_key < b.min_key
    return by_bucket


def sql_clock_ms(spark) -> int:
    """The JVM's wall clock in ms, the clock SQL executions are stamped
    with: take it before a call, then pass it to :func:`plans_since`."""
    return int(spark._jvm.System.currentTimeMillis())


def plans_since(spark, since_ms: int, needle: str) -> list[str]:
    """Executed-plan texts of the SQL executions submitted at or after
    ``since_ms`` whose plan mentions ``needle``, newest first.  The walk
    starts at the newest execution in the SQL status store and stops at
    the first one older than ``since_ms``: late in a session the store
    retains ~1,000 executions, and fetching each plan over Py4J costs
    tens of seconds per call."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    plans = []
    for i in reversed(range(store.executionsCount())):
        e = store.executionsList(i, 1).apply(0)
        if e.submissionTime() < since_ms:
            break
        plan = e.physicalPlanDescription()
        if needle in plan:
            plans.append(plan)
    return plans


def final_plan_nodes(plan: str) -> list[str]:
    """Node names of an executed plan's tree, skipping every AQE
    ``Initial Plan`` section (it repeats the pre-optimization plan)."""
    nodes, skip_from = [], None
    for line in plan.split("\n\n", 1)[0].splitlines()[1:]:
        name = line.lstrip(" :+-|")
        indent = len(line) - len(name)
        if skip_from is not None and indent >= skip_from:
            continue
        skip_from = None
        if name.startswith("== Initial Plan =="):
            skip_from = indent
        elif not name.startswith("=="):
            nodes.append(name)
    return nodes
