"""Checkpoint/resume tests: kill-and-rerun semantics, fingerprint
invalidation, per-partition lineage counters read from parquet footers,
skew report, local-root guard."""

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from nobletools_spark.pipeline.checkpoint import (CheckpointManager,
                                                  fingerprint,
                                                  run_checkpointed_pipeline)
from nobletools_spark.pipeline.documents import generate_documents
from nobletools_spark.terminology.fixture import fixture_dictionary


@pytest.fixture()
def corpus(spark):
    return generate_documents(spark, 30, seed=5, partitions=3)


class TestStageCheckpoint:
    def test_compute_then_resume(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        calls = []

        def compute():
            calls.append(1)
            return spark.range(100).withColumn("v", F.col("id") * 2)

        r1 = cm.run_stage("s1", "fp-a", compute)
        assert not r1.resumed and r1.rows == 100 and calls == [1]
        r2 = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        assert r2.resumed and r2.rows == 100 and calls == [1]  # no recompute
        assert sorted(x["rows_out"] for x in r2.lineage) == \
            sorted(x["rows_out"] for x in r1.lineage)

    def test_resumed_schema_matches_fresh(self, spark, tmp_path):
        # ADVICE r1: resumed stages leaked the internal _pid lineage column
        compute = lambda: spark.range(50).withColumn("v", F.col("id") + 1)
        r1 = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        r2 = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        assert r2.resumed
        assert r2.df.columns == r1.df.columns
        assert "_pid" not in r2.df.columns

    def test_fingerprint_change_invalidates(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        calls = []

        def compute():
            calls.append(1)
            return spark.range(10)

        cm.run_stage("s1", "fp-a", compute)
        r = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-b", compute)
        assert not r.resumed and calls == [1, 1]

    def test_half_written_checkpoint_reruns(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        cm.run_stage("s1", "fp-a", lambda: spark.range(10))
        # simulate a kill between data write and manifest write
        os.remove(tmp_path / "s1" / "_manifest.json")
        calls = []
        r = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", lambda: (calls.append(1), spark.range(10))[1])
        assert not r.resumed and calls == [1]

    def test_lineage_counters_sum_to_rows(self, spark, tmp_path):
        cm = CheckpointManager(spark, str(tmp_path))
        r = cm.run_stage("s1", "fp", lambda: spark.range(1000).repartition(7))
        assert sum(x["rows_out"] for x in r.lineage) == 1000
        assert len(r.lineage) == 7
        rep = r.skew()
        assert rep["partitions"] == 7 and rep["skew_ratio"] >= 1.0


class TestFooterLineage:
    """The manifest's per-partition lineage is read from the written
    parquet footers; it must equal a spark_partition_id() count of the
    same frame."""

    @staticmethod
    def pid_counts(df):
        rows = (df.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count(F.lit(1)).alias("n")).collect())
        return [{"partition_id": r.pid, "rows_out": r.n}
                for r in sorted(rows)]

    def test_repartitioned_frame(self, spark, tmp_path):
        df = spark.range(1000).repartition(7)
        r = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp", lambda: df)
        assert r.lineage == self.pid_counts(df)
        assert r.rows == 1000 and len(r.lineage) == 7

    def test_empty_frame(self, spark, tmp_path):
        df = spark.range(1000).repartition(7).where("id < 0")
        r = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp", lambda: df)
        assert r.lineage == [] and r.rows == 0
        assert r.df.count() == 0

    def test_several_files_per_partition(self, spark, tmp_path):
        df = spark.range(1000).repartition(7)
        key = "spark.sql.files.maxRecordsPerFile"
        old = spark.conf.get(key)
        spark.conf.set(key, "40")
        try:
            r = CheckpointManager(spark, str(tmp_path)).run_stage(
                "s1", "fp", lambda: df)
        finally:
            spark.conf.set(key, old)
        files = [f for f in os.listdir(tmp_path / "s1" / "data")
                 if f.startswith("part-")]
        assert len(files) > 7
        assert r.lineage == self.pid_counts(df)
        assert r.rows == 1000

    def test_no_pid_column_written(self, spark, tmp_path, corpus):
        import pyarrow.parquet as pq
        root = tmp_path / "ckpt"
        run_checkpointed_pipeline(spark, corpus, fixture_dictionary(),
                                  str(root))
        files = list(root.glob("*/data/*.parquet"))
        assert files
        for f in files:
            assert "_pid" not in pq.read_schema(f).names

    def test_old_pid_checkpoint_resumes_with_fresh_schema(self, spark,
                                                          tmp_path):
        compute = lambda: spark.range(50).withColumn("v", F.col("id") + 1)
        fresh = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        # rewrite the data the way older versions did: a _pid column
        data = str(tmp_path / "s1" / "data")
        old = compute().withColumn("_pid", F.spark_partition_id())
        old.write.mode("overwrite").parquet(data)
        r = CheckpointManager(spark, str(tmp_path)).run_stage(
            "s1", "fp-a", compute)
        assert r.resumed
        assert r.df.schema == fresh.df.schema
        assert r.df.count() == 50


def test_object_store_root_rejected(spark, tmp_path, monkeypatch, corpus):
    """Manifests are local files and lineage comes from local footers: an
    s3:// root must fail before any Spark job, not land in a local
    directory named "s3:"."""
    monkeypatch.chdir(tmp_path)
    with pytest.raises(ValueError, match="local filesystem path"):
        run_checkpointed_pipeline(spark, corpus, fixture_dictionary(),
                                  "s3://b/ckpt")
    assert not (tmp_path / "s3:").exists()


class TestPipelineResume:
    def test_kill_and_rerun_skips_completed_stages(self, spark, tmp_path, corpus):
        root = str(tmp_path / "ckpt")
        res1 = run_checkpointed_pipeline(
            spark, corpus, fixture_dictionary(), root, "best-match")
        assert not any(r.resumed for r in res1.values())
        triples1 = {tuple(r) for r in res1["triples"].df.collect()}

        # simulate kill after mentions completed: drop only the last stage
        shutil.rmtree(os.path.join(root, "triples"))
        res2 = run_checkpointed_pipeline(
            spark, corpus, fixture_dictionary(), root, "best-match")
        assert res2["sentences"].resumed
        assert res2["mentions"].resumed
        assert not res2["triples"].resumed
        triples2 = {tuple(r) for r in res2["triples"].df.collect()}
        assert triples1 == triples2

    def test_config_change_invalidates_downstream_only(self, spark, tmp_path, corpus):
        root = str(tmp_path / "ckpt")
        run_checkpointed_pipeline(spark, corpus, fixture_dictionary(), root,
                                  "best-match")
        res = run_checkpointed_pipeline(spark, corpus, fixture_dictionary(),
                                        root, "all-match")
        assert res["sentences"].resumed          # upstream untouched
        assert not res["mentions"].resumed       # method changed
        assert not res["triples"].resumed        # downstream of mentions

    def test_manifest_contents(self, spark, tmp_path, corpus):
        root = str(tmp_path / "ckpt")
        run_checkpointed_pipeline(spark, corpus, fixture_dictionary(), root)
        with open(os.path.join(root, "mentions", "_manifest.json")) as f:
            m = json.load(f)
        assert m["stage"] == "mentions"
        assert m["rows"] == sum(x["rows_out"] for x in m["lineage"])
        assert all({"partition_id", "rows_out"} <= set(x) for x in m["lineage"])


def test_fingerprint_stable():
    assert fingerprint("a", "b") == fingerprint("a", "b")
    assert fingerprint("a", "b") != fingerprint("ab")
