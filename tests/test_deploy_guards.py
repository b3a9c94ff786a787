"""Deploy-hardening guards (r2 advice): URI workdirs route through the
Hadoop FileSystem API instead of os.*, persisted signature state is
stamped with its hash-family identity and fails loudly on mismatch, and
/dev/shm is only elected as spark.local.dir when it can hold a shuffle.
"""

import json
import logging
import os

import pytest
from pyspark.sql import functions as F

from frizbee_spark.operators.dedup import DedupConfig
from frizbee_spark.pipeline import CheckpointStore, NearDupPipeline, PipelineConfig
from frizbee_spark.sources.corpus import write_corpus

CFG = DedupConfig(span_min_len=100, span_shingle_k=24, winnow_window=16)


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus_guards"))
    write_corpus(d, 120)
    return d


@pytest.mark.spark
class TestUriWorkdir:
    """file:// deliberately takes the non-local (Hadoop FS) branch, so the
    code path an hdfs:// or s3a:// deployment would hit runs in CI."""

    def test_store_roundtrip_via_hadoop_fs(self, spark, tmp_path):
        store = CheckpointStore(f"file://{tmp_path}/store", spark)
        assert not store.is_local
        assert not store.is_complete("s1")
        store.write("s1", spark.range(5).toDF("doc_id"))
        assert store.is_complete("s1")
        assert store.read(spark, "s1").count() == 5
        assert store.footer_stats("s1") is None  # remote: no footer reads
        store.write_text("s1/_meta.json", '{"x": 1}')
        assert json.loads(store.read_text("s1/_meta.json")) == {"x": 1}
        assert store.read_text("s1/_nope.json") is None
        store.invalidate("s1")
        assert not store.is_complete("s1")

    def test_pipeline_on_uri_workdir(self, spark, corpus_dir, tmp_path):
        """Full run + resume on a file:// workdir: metrics fall back to
        Spark-side counts, lineage is skipped, nothing touches os.listdir
        (the r2 crash)."""
        work = f"file://{tmp_path}/work_uri"
        pipe = NearDupPipeline(spark, PipelineConfig(workdir=work, dedup=CFG))
        out = pipe.run(input_path=corpus_dir)
        n = out["clusters"].count()
        assert n > 0
        rows = pipe.metrics().collect()
        assert any(r["stage"] == "signatures" and r["rows_out"] > 0
                   for r in rows)  # count fallback fired
        # resume path reads _SUCCESS through the Hadoop FS (metrics are
        # append-only, so run 2 ADDS resumed=True rows beside run 1's)
        pipe2 = NearDupPipeline(spark, PipelineConfig(workdir=work, dedup=CFG))
        out2 = pipe2.run(input_path=corpus_dir)
        assert any(r["stage"] == "signatures" and r["resumed"]
                   for r in pipe2.metrics().collect())
        assert out2["clusters"].count() == n


@pytest.mark.spark
class TestSignatureFamilyStamp:
    def test_pipeline_resume_with_changed_family_fails(self, spark, corpus_dir,
                                                       tmp_path):
        work = str(tmp_path / "stamped")
        NearDupPipeline(spark, PipelineConfig(workdir=work, dedup=CFG)).run(
            input_path=corpus_dir, until="signatures"
        )
        assert os.path.exists(os.path.join(work, "signatures", "_meta.json"))
        other = DedupConfig(span_min_len=100, span_shingle_k=24,
                            winnow_window=16, num_perm=64, bands=16)
        with pytest.raises(RuntimeError, match="incompatible"):
            NearDupPipeline(spark, PipelineConfig(workdir=work, dedup=other)).run(
                input_path=corpus_dir, until="signatures"
            )
        # same config resumes fine
        NearDupPipeline(spark, PipelineConfig(workdir=work, dedup=CFG)).run(
            input_path=corpus_dir, until="signatures"
        )

    def test_streaming_state_with_changed_family_fails(self, spark, corpus_dir,
                                                       tmp_path):
        from frizbee_spark.streaming.incremental import make_batch_processor

        docs = spark.read.parquet(corpus_dir + "/documents.parquet").select(
            "url", "text"
        )
        state = str(tmp_path / "stream_state")
        make_batch_processor(spark, state, CFG)(docs.limit(40), 0)
        other = DedupConfig(span_min_len=100, span_shingle_k=24,
                            winnow_window=16, shingle_k=8)
        bad = make_batch_processor(spark, state, other)
        with pytest.raises(RuntimeError, match="incompatible"):
            bad(docs.limit(40), 1)
        # original family continues
        make_batch_processor(spark, state, CFG)(docs.limit(40), 1)

    def test_unstamped_pipeline_checkpoint_logs_warning(self, spark, corpus_dir,
                                                        tmp_path, caplog):
        work = str(tmp_path / "unstamped")
        cfg = PipelineConfig(workdir=work, dedup=CFG)
        NearDupPipeline(spark, cfg).run(input_path=corpus_dir, until="signatures")
        os.remove(os.path.join(work, "signatures", "_meta.json"))
        with caplog.at_level(logging.WARNING, logger="frizbee_spark.pipeline"):
            NearDupPipeline(spark, cfg).run(input_path=corpus_dir, until="signatures")
        assert [r.levelno for r in caplog.records
                if "unstamped 'signatures'" in r.getMessage()] == [logging.WARNING]

    def test_unstamped_streaming_state_logs_warning(self, spark, corpus_dir,
                                                    tmp_path, caplog):
        from frizbee_spark.streaming.incremental import make_batch_processor

        docs = spark.read.parquet(corpus_dir + "/documents.parquet").select(
            "url", "text"
        )
        state = str(tmp_path / "stream_state")
        make_batch_processor(spark, state, CFG)(docs.limit(40), 0)
        os.remove(os.path.join(state, "_sigmeta.json"))
        with caplog.at_level(logging.WARNING,
                             logger="frizbee_spark.streaming.incremental"):
            make_batch_processor(spark, state, CFG)(docs.limit(40), 1)
        assert any("unstamped streaming state" in r.getMessage()
                   for r in caplog.records)
        # the resumed state is stamped again
        assert os.path.exists(os.path.join(state, "_sigmeta.json"))


class TestShmElection:
    def test_floor_respected(self, monkeypatch, tmp_path):
        from frizbee_spark.session import choose_local_dir

        monkeypatch.delenv("SPARK_LOCAL_DIRS", raising=False)
        # absurd floor -> /dev/shm rejected
        monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_BYTES", str(1 << 60))
        assert choose_local_dir() is None
        # zero floor -> elected (when the dir exists)
        monkeypatch.setenv("SPARK_GRAFT_SHM_MIN_BYTES", "0")
        if os.path.isdir("/dev/shm"):
            assert choose_local_dir() == "/dev/shm/spark-local"
        # missing dir -> None
        assert choose_local_dir(shm=str(tmp_path / "nope")) is None
        # explicit env always wins
        monkeypatch.setenv("SPARK_LOCAL_DIRS", "/x")
        assert choose_local_dir() == "/x"


class TestDriverHeap:
    def test_default_heap_fits_host(self, monkeypatch):
        # the heap is pre-touched whole at JVM start, so the default must
        # fit physical memory: a quarter of it, within 1g..16g
        from frizbee_spark import session

        page = 4096
        for ram, want in ((15 << 30, "3840m"), (256 << 30, "16384m"),
                          (2 << 30, "1024m")):
            monkeypatch.setattr(
                session.os, "sysconf",
                lambda name, ram=ram: page if name == "SC_PAGE_SIZE"
                else ram // page)
            assert session.default_driver_memory() == want
