import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[4]")
        .appName("bufr2geojson_spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "8g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture
def assert_same_tiles():
    """Check two stage-A tile tables hold the same (level, cell) rows at
    levels 14/10/6: n_obs, min_val and max_val exact, sum_val to 1e-9
    relative (its last ulp depends on the combine order)."""
    def check(got, want):
        g = {(r["level"], r["cell"]): r for r in got.collect()}
        w = {(r["level"], r["cell"]): r for r in want.collect()}
        assert set(g) == set(w)
        assert {level for level, _ in w} == {14, 10, 6}
        for k, r in w.items():
            assert g[k]["n_obs"] == r["n_obs"]
            assert g[k]["min_val"] == r["min_val"]
            assert g[k]["max_val"] == r["max_val"]
            assert g[k]["sum_val"] == pytest.approx(r["sum_val"], rel=1e-9)
    return check


@pytest.fixture
def default_fs_elsewhere(spark, tmp_path):
    """``fs.defaultFS`` set to a Hadoop view filesystem whose ``/work`` is
    ``tmp_path``, so a path without a scheme leaves the driver's local disk,
    as on a cluster whose default filesystem is ``hdfs://``. The authority
    is fresh each time, because Hadoop caches a filesystem by it."""
    conf = spark._jsc.hadoopConfiguration()
    old = conf.get("fs.defaultFS")
    authority = f"work{uuid.uuid4().hex[:8]}"
    link = f"fs.viewfs.mounttable.{authority}.link./work"
    conf.set(link, tmp_path.as_uri())
    conf.set("fs.defaultFS", f"viewfs://{authority}/")
    try:
        yield authority
    finally:
        conf.set("fs.defaultFS", old)
        conf.unset(link)
