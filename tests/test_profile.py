"""profile_table semantics."""

import pytest
from pyspark.sql import functions as F

from bufr2geojson_spark.operators.profile import profile_table


class TestProfileTable:
    def test_metrics(self, spark):
        df = spark.createDataFrame(
            [(1, "a", 1.0), (2, "a", None), (3, None, 4.0), (3, "b", 7.0)],
            "k int, s string, v double",
        )
        out = {r["col_name"]: r for r in profile_table(df).collect()}
        assert out["k"]["n_rows"] == 4
        assert out["k"]["n_null"] == 0 and out["k"]["n_distinct"] == 3
        assert out["s"]["n_null"] == 1 and out["s"]["n_distinct"] == 2
        assert out["v"]["n_null"] == 1
        assert out["v"]["mean"] == pytest.approx(4.0)
        assert out["s"]["mean"] is None
        assert out["k"]["min_str"] == "1" and out["k"]["max_str"] == "3"
        assert out["s"]["min_str"] == "a" and out["s"]["max_str"] == "b"

    def test_single_pass_plan(self, spark):
        df = spark.createDataFrame([(1, "a", 1.0)], "k int, s string, v double")
        plan = (profile_table(df)._jdf.queryExecution().executedPlan()
                .toString())
        # exact countDistinct on 3 columns -> one Expand, still one scan
        assert plan.count("Scan ExistingRDD") <= 1

    def test_approx_mode_close(self, spark):
        df = spark.range(5000).selectExpr(
            "id AS k", "CAST(id % 37 AS STRING) AS s", "CAST(id AS DOUBLE) AS v")
        out = {r["col_name"]: r
               for r in profile_table(df, approx_rsd=0.02).collect()}
        assert abs(out["k"]["n_distinct"] - 5000) <= 5000 * 0.06
        assert abs(out["s"]["n_distinct"] - 37) <= 4


class TestProfileWeirdNames:
    def test_hostile_column_names(self, spark):
        df = spark.createDataFrame(
            [(1, "x"), (2, None)], ["event type", "o'clock"])
        out = {r["col_name"]: r for r in profile_table(df).collect()}
        assert out["event type"]["n_null"] == 0
        assert out["o'clock"]["n_null"] == 1
