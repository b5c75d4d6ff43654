import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from shapefile_rs_spark.session import get_spark

    spark = get_spark(
        app_name="tests",
        master="local[4]",
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": "4g", "spark.sql.session.timeZone": "UTC"},
    )
    yield spark


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def join_fixture_dir(tmp_path_factory):
    from shapefile_rs_spark.fixtures import write_join_fixture

    d = tmp_path_factory.mktemp("joinfx")
    write_join_fixture(str(d))
    return str(d)


@pytest.fixture
def executed_plans(spark):
    """``executed_plans(call)`` → ``(call(), plans)``: the result of
    ``call`` and the physical plan of every SQL execution it ran, read
    from Spark's SQL status store — one string per execution joining its
    plan-graph node descriptions (which include the plans cached frames
    were built from).  An operator that materializes its intermediates
    returns a frame whose own plan no longer shows how they were
    computed."""
    sc = spark.sparkContext._jsc.sc()
    store = spark._jsparkSession.sharedState().statusStore()
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters

    def execution_ids():
        sc.listenerBus().waitUntilEmpty()
        return {e.executionId() for e in conv.asJava(store.executionsList())}

    def run(call):
        before = execution_ids()
        out = call()
        return out, [
            "\n".join(n.desc() for n in conv.asJava(store.planGraph(i).allNodes()))
            for i in sorted(execution_ids() - before)
        ]

    return run
