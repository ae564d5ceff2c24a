"""The lineage table's metadata work stays on the driver: a commit costs one
Spark job after the data write, reads list partition dirs without a Spark
job, and lineage logs written by the older Spark-side commit and by the
driver-side append read back interchangeably."""

from __future__ import annotations

import json
import os
import sys
import time
import uuid

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest
from pyspark.sql.readwriter import DataFrameWriter

from ot_spark import lineage

N_BUCKETS = 64


def _jobs(spark, group: str) -> list[str]:
    """Descriptions of the jobs Spark ran under ``group``."""
    store = spark.sparkContext._jsc.sc().statusStore()
    out = []
    for j in sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group)):
        desc = store.job(j).description()
        out.append(desc.get() if desc.isDefined() else "")
    return out


def _frame(spark, n: int = 20000):
    """Rows spread over all 64 buckets plus the NULL-cell bucket -1."""
    return spark.range(n).select(
        F.concat(F.lit("u"), F.col("id").cast("string")).alias("url"),
        F.when(F.col("id") % 50 == 0, None)
        .otherwise(F.col("id") * 7919 % 100003)
        .alias("grid_cell"),
        F.lit("text").alias("text"),
    )


def _table_hash(df):
    r = df.select(
        F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64("url")).alias("h")
    ).first()
    return r.n, r.h


def test_commit_runs_one_job_after_the_data_write(spark, tmp_path, monkeypatch):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    group = f"commit-{uuid.uuid4().hex}"
    sc = spark.sparkContext
    write = DataFrameWriter.parquet

    def parquet(self, path, *args, **kwargs):
        result = write(self, path, *args, **kwargs)
        if path == out:  # the data write is done: count from here on
            sc.setJobGroup(group, group)
        return result

    monkeypatch.setattr(DataFrameWriter, "parquet", parquet)
    try:
        info = lineage.write_with_lineage(
            _frame(spark), out, lin, ["url"], n_buckets=N_BUCKETS
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert info["buckets_written"] == N_BUCKETS + 1
    assert len(_jobs(spark, group)) == 1


def test_read_current_lists_bucket_dirs_on_the_driver(spark, tmp_path):
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    df = _frame(spark)
    lineage.write_with_lineage(df, out, lin, ["url"], n_buckets=N_BUCKETS)
    dirs = [d for d in os.listdir(out) if d.startswith(lineage.BUCKET_COL)]
    assert len(dirs) == N_BUCKETS + 1
    group = f"read-{uuid.uuid4().hex}"
    spark.sparkContext.setJobGroup(group, group)
    try:
        got = _table_hash(lineage.read_current(spark, out, lin))
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setLocalProperty("spark.job.description", None)
    assert got == _table_hash(df)
    jobs = _jobs(spark, group)
    assert jobs and not [d for d in jobs if d.startswith("Listing leaf files")]


def _legacy_commit(spark, df, out, lin, run_id, key_cols):
    """The earlier commit path, kept here to produce an old-generation
    lineage file: Spark-side aggregate of the landed files, appended with
    ``coalesce(1).write``."""
    lineage.with_bucket(df, n_buckets=N_BUCKETS).repartition(
        lineage.BUCKET_COL
    ).withColumn(lineage.RUN_COL, F.lit(run_id)).write.partitionBy(
        lineage.BUCKET_COL, lineage.RUN_COL
    ).mode("append").parquet(out)
    landed = (
        spark.read.option("basePath", out)
        .parquet(f"{out}/{lineage.BUCKET_COL}=*/{lineage.RUN_COL}={run_id}")
        .select("*", F.col("_metadata.file_path").alias("__file"))
    )
    landed.groupBy(lineage.BUCKET_COL).agg(
        F.min("grid_cell").alias("cell_min"),
        F.max("grid_cell").alias("cell_max"),
        F.count(F.lit(1)).alias("row_count"),
        F.bit_xor(F.xxhash64(*key_cols)).alias("checksum"),
        F.collect_set(F.col("__file")).alias("files"),
    ).withColumn("run_id", F.lit(run_id)).withColumn(
        "ts", F.lit(int(time.time() * 1000))
    ).coalesce(1).write.mode("append").parquet(lin)


def test_mixed_generation_lineage_log(spark, tmp_path):
    """One lineage file from the Spark-side commit, one from the driver-side
    append: every reader of the log accepts both, and a resume across the
    upgrade skips exactly the buckets the old commit recorded."""
    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    df = _frame(spark)
    old = lineage.with_bucket(df, n_buckets=N_BUCKETS).where(
        f"{lineage.BUCKET_COL} < 20"
    ).drop(lineage.BUCKET_COL)
    _legacy_commit(spark, old, out, lin, "oldrun", ["url"])
    old_buckets = lineage._completed_bucket_list(spark, lin)
    assert old_buckets == list(range(-1, 20))

    info = lineage.write_with_lineage(df, out, lin, ["url"], n_buckets=N_BUCKETS)
    assert info["buckets_skipped"] == len(old_buckets)
    assert info["buckets_written"] == N_BUCKETS - 20

    files = sorted(f for f in os.listdir(lin) if f.endswith(".parquet"))
    assert len(files) == 2
    schemas = [pq.read_schema(os.path.join(lin, f)) for f in files]
    assert schemas[0].remove_metadata() == schemas[1].remove_metadata()

    log = spark.read.parquet(lin)
    assert log.count() == N_BUCKETS + 1
    assert dict(log.dtypes)["files"] == "array<string>"
    assert lineage._completed_bucket_list(spark, lin) == list(range(-1, N_BUCKETS))

    dest = str(tmp_path / "manifest")
    lineage._copy_manifest(spark, lin, dest)
    man = spark.read.parquet(dest)
    assert man.count() == N_BUCKETS + 1
    assert {r.run_id for r in man.select("run_id").distinct().collect()} == {
        "oldrun", info["run_id"],
    }

    assert lineage.orphan_files(spark, out, lin) == []
    assert lineage.verify_against_lineage(spark, out, lin, ["url"]).count() == 0
    assert _table_hash(lineage.read_current(spark, out, lin)) == _table_hash(df)


def test_corrupt_properties_sidecar_raises(spark, tmp_path):
    """Only an ABSENT sidecar reads as "no properties"; an unreadable one
    raises instead of silently dropping them."""
    d = str(tmp_path / "t")
    assert lineage.read_table_properties(spark, d) == {}
    lineage.write_table_properties(spark, d, {"k": "v"})
    assert lineage.read_table_properties(spark, d) == {"k": "v"}
    side = os.path.join(d, lineage.PROPS_SUBDIR)
    (part,) = [f for f in os.listdir(side) if f.endswith(".parquet")]
    with open(os.path.join(side, part), "wb") as fh:
        fh.write(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        lineage.read_table_properties(spark, d)


def test_submit_main_on_fixture_pages(spark, fixture_dir, tmp_path, monkeypatch, capsys):
    """The CLI builds its session through get_spark and commits the same
    lineage-tracked table ``Pipeline.run`` does."""
    import submit

    out, lin = str(tmp_path / "out"), str(tmp_path / "lin")
    monkeypatch.setattr(sys, "argv", [
        "submit.py",
        "--pages", f"{fixture_dir}/pages.parquet",
        "--links", f"{fixture_dir}/links.parquet",
        "--polygons", f"{fixture_dir}/admin_polygons.parquet",
        "--rasters", f"{fixture_dir}/raster_tiles.parquet",
        "--index-cache", str(tmp_path / "area_index.parquet"),
        "--out", out, "--lineage", lin, "--n-buckets", "8",
    ])
    submit.main()
    info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert info["buckets_written"] > 0 and info["buckets_skipped"] == 0
    rows = info["metrics"]["output"]["rows"]
    assert 0 < rows < info["metrics"]["input"]["rows"]
    assert lineage.read_current(spark, out, lin).count() == rows
    assert lineage.verify_against_lineage(spark, out, lin, ["url"]).count() == 0
    assert spark.conf.get(
        "spark.sql.sources.parallelPartitionDiscovery.threshold"
    ) == "4096"


def test_get_spark_keeps_the_spark_submit_master(spark, monkeypatch):
    """Under spark-submit the Python driver attaches to a running JVM whose
    ``spark.master`` system property carries ``--master``; get_spark keeps
    it instead of forcing local mode."""
    from ot_spark import session

    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert session._submitted_master() is None
    system = spark.sparkContext._jvm.System
    before = system.getProperty("spark.master")
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "0")  # gateway already up
    system.setProperty("spark.master", "spark://cluster:7077")
    try:
        assert session._submitted_master() == "spark://cluster:7077"
    finally:
        if before is None:
            system.clearProperty("spark.master")
        else:
            system.setProperty("spark.master", before)
