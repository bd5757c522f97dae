"""Engine session defaults: the plain-local master predicate, the driver
heap override, driver-side partition discovery and the codegen cache."""

import pytest

from cdk_datalake_ingest_spark import session
from cdk_datalake_ingest_spark.operators.table import ManagedTable
from cdk_datalake_ingest_spark.session import default_driver_memory, is_plain_local


@pytest.mark.parametrize(
    "master", ["local", "local[1]", "local[4]", "local[*]", "local[4,2]",
               "local[*,3]", "local[4, 2]"],
)
def test_plain_local_masters(master):
    assert is_plain_local(master)


@pytest.mark.parametrize(
    "master", ["local-cluster[2,1,1024]", "localhost", "local[]", "local[x]",
               "yarn", "spark://host:7077", "k8s://https://host:443",
               "local[4]x"],
)
def test_non_plain_local_masters(master):
    assert not is_plain_local(master)


def test_driver_memory_keeps_a_deployment_heap(monkeypatch, tmp_path):
    for var in ("SPARK_GRAFT_DRIVER_MEM", "SPARK_DRIVER_MEMORY"):
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setattr(session, "default_parallelism", lambda: 64)
    assert default_driver_memory() is not None  # the slot formula applies

    (tmp_path / "spark-defaults.conf").write_text(
        "# heap\nspark.driver.memory   6g\n"
    )
    assert default_driver_memory() is None

    (tmp_path / "spark-defaults.conf").write_text("spark.executor.memory 6g\n")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "6g")
    assert default_driver_memory() is None

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert default_driver_memory() == "3g"


def _jobs_in_group(spark, group, action):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        action()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_partitioned_snapshot_read_lists_on_the_driver(spark, tmp_path):
    path = str(tmp_path / "t")
    ManagedTable(spark, path).write(
        spark.range(48).selectExpr("id", "id % 48 AS part"),
        partition_by=["part"],
    )
    # partition discovery runs when the DataFrame is created
    assert _jobs_in_group(
        spark, "snapshot-read-listing", lambda: ManagedTable(spark, path).read()
    ) == []


def test_codegen_cache_holds_more_than_100_plans(spark):
    assert spark.sparkContext.getConf().get(
        "spark.sql.codegen.cache.maxEntries"
    ) == session.STATIC_CONF["spark.sql.codegen.cache.maxEntries"]
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()

    def plan(i):
        # the literal is inlined into the generated class, so every i
        # compiles a distinct one
        return spark.range(4).selectExpr(f"id * {i + 7} + {i} AS v").collect()

    first = plan(0)
    before = compiles.getCount()
    for i in range(1, 121):
        plan(i)
    assert compiles.getCount() - before > 100
    before = compiles.getCount()
    assert plan(0) == first
    assert compiles.getCount() == before
