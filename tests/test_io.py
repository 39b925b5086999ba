"""The one scalar-attach idiom: ``io.attach_scalar`` plans as a single
uncorrelated scalar subquery (no join, no key) and Spark enforces its
one-row contract."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crm_etl_pipeline_spark.io import attach_scalar


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_attach_scalar_contract(spark):
    probe = spark.range(50).withColumn("v", F.col("id") * 3)
    scalar = probe.agg(
        F.count(F.lit(1)).alias("n"), F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    out = attach_scalar(probe, scalar)

    # three columns, one subquery, no join of any kind
    optimized = out._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("scalar-subquery#") == 1
    assert "Join" not in optimized
    assert "BroadcastNestedLoopJoin" not in _formatted(out)
    assert out.columns == ["id", "v", "n", "lo", "hi"]
    rows = out.collect()
    assert len(rows) == 50
    assert {(r.n, r.lo, r.hi) for r in rows} == {(50, 0, 147)}

    # a second scalar row is an error, never a silent fan-out
    with pytest.raises(Exception, match="SCALAR_SUBQUERY_TOO_MANY_ROWS"):
        attach_scalar(probe, probe.select("v").limit(2)).collect()

    # an empty scalar keeps every probe row and attaches NULLs
    none = probe.filter(F.col("id") < 0).select(F.col("v").alias("w"), "v")
    empty = attach_scalar(probe.select("id"), none).collect()
    assert len(empty) == 50
    assert all(r.w is None and r.v is None for r in empty)
