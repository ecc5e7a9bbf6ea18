"""StageCheckpointer: a stage costs its write, serving it costs nothing."""

from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from pboh_spark.checkpoint import StageCheckpointer


def _frame(spark):
    return (
        spark.range(0, 2000, numPartitions=4)
        .withColumn("k", (F.col("id") % 13).cast("int"))
        .groupBy("k")
        .agg(F.count("*").alias("n"), F.collect_list("id").alias("ids"))
    )


def test_stage_write_is_the_only_job(spark, tmp_path, jobs_in_group):
    """A fresh stage launches exactly the jobs of a bare parquet write of
    the same frame; a resumed stage launches none."""
    with jobs_in_group("ck_bare") as bare:
        _frame(spark).write.parquet(str(tmp_path / "bare"))
    ck = StageCheckpointer(spark, str(tmp_path / "ck"))
    with jobs_in_group("ck_fresh") as fresh:
        ck.run_stage("s", lambda: _frame(spark))
    with jobs_in_group("ck_resumed") as resumed:
        out = StageCheckpointer(spark, str(tmp_path / "ck")).run_stage(
            "s", lambda: _frame(spark)
        )
    assert len(bare) >= 1
    assert len(fresh) == len(bare)
    assert resumed == []
    assert out.schema == spark.read.parquet(str(tmp_path / "ck/s/data")).schema
    m = ck.load_metrics("s")
    assert m["rows"] == 13 == out.count()
    assert m["schema"] == "struct<k:int,n:bigint,ids:array<bigint>>"


def test_read_requires_spark_footer_schema(spark, tmp_path):
    """A part file without Spark's schema in its footer is refused, not
    inferred."""
    ck = StageCheckpointer(spark, str(tmp_path))
    data = Path(tmp_path, "s", "data")
    data.mkdir(parents=True)
    pq.write_table(pa.table({"a": [1, 2]}), data / "part-00000-x-c000.parquet")
    with pytest.raises(ValueError, match="org.apache.spark.sql.parquet.row.metadata"):
        ck.read("s")


def test_resumed_stage_observes_from_metrics(spark, tmp_path, jobs_in_group):
    """A resumed stage serves what its write observed with no job; an
    ``observe`` name its metrics.json lacks is aggregated once from the
    stage's data, and metrics.json is left as written."""
    total = {"n_total": F.sum("n")}
    ck = StageCheckpointer(spark, str(tmp_path))
    ck.run_stage("s", lambda: _frame(spark), observe=total)
    written = (tmp_path / "s" / "metrics.json").read_text()
    with jobs_in_group("ck_observed") as resumed:
        ck2 = StageCheckpointer(spark, str(tmp_path))
        ck2.run_stage("s", lambda: _frame(spark), observe=total)
    assert resumed == [] and ck2.observed("s") == {"n_total": 2000}
    with jobs_in_group("ck_missing") as filled:
        ck3 = StageCheckpointer(spark, str(tmp_path))
        ck3.run_stage("s", lambda: _frame(spark),
                      observe={**total, "k_max": F.max("k")})
    assert len(filled) >= 1
    assert ck3.observed("s") == {"n_total": 2000, "k_max": 12}
    assert (tmp_path / "s" / "metrics.json").read_text() == written
