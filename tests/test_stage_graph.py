"""One stage graph: batch, checkpointed and incremental runs share the
pipeline's stage functions, so they agree row for row; the checkpoint
format version guards stores written by older encodings; the
spark-submit entry resumes through the same checkpointed path."""

import json
import os
import subprocess
import sys
from pathlib import Path

import pyspark.sql.functions as F

from sketchy_spark.checkpoint import STAGES, CheckpointStore, run_pipeline_checkpointed
from sketchy_spark.config import SketchConfig
from sketchy_spark.corpus import corpus_df
from sketchy_spark.pipeline import run_pipeline
from sketchy_spark.streaming.incremental import IncrementalDedup

CFG = SketchConfig()
REPO = Path(__file__).resolve().parents[1]


def _rows(df, *cols):
    return {tuple(r[c] for c in cols) for r in df.collect()}


def _clusters(df):
    return _rows(df, "file_id", "cluster_id")


def _containment(df):
    return _rows(df, "small_id", "big_id", "containment", "overlap_chars")


def test_batch_checkpointed_incremental_identical_rows(spark, tmp_path):
    files = corpus_df(spark, 600).cache()
    batch = run_pipeline(files, CFG)
    want = _clusters(batch.clusters)
    want_cont = _containment(batch.containment)
    assert len(want) == 600 and want_cont

    store = CheckpointStore(str(tmp_path / "ckpt"), CFG.config_hash)
    fresh = run_pipeline_checkpointed(files, CFG, store)
    assert fresh["resumed"] == {s: False for s in STAGES}
    assert _clusters(fresh["clusters"]) == want
    assert _containment(fresh["containment"]) == want_cont
    resumed = run_pipeline_checkpointed(files, CFG, store)
    assert resumed["resumed"] == {s: True for s in STAGES}
    assert _clusters(resumed["clusters"]) == want
    assert _containment(resumed["containment"]) == want_cont

    inc = IncrementalDedup(
        spark, CheckpointStore(str(tmp_path / "inc"), CFG.config_hash), CFG
    )
    batched = files.withColumn(
        "batch", F.abs(F.hash(F.concat_ws("/", "repo", "path"))) % 5
    ).cache()
    for b in range(5):
        inc.ingest_batch(b, batched.where(F.col("batch") == b).drop("batch"))
    assert _clusters(inc.clusters()) == want
    batch.unpersist()
    batched.unpersist()
    files.unpersist()


def test_format_2_store_is_not_resumed(spark, tmp_path, monkeypatch):
    """A store written by the string-keyed encoding (format 2) is
    recomputed, not read back as fid edges and slim signatures."""
    import sketchy_spark.config as C

    files = corpus_df(spark, 200)
    root = str(tmp_path / "ckpt")
    monkeypatch.setattr(C, "SIG_FORMAT_VERSION", 2)
    v2_hash = CFG.config_hash
    run_pipeline_checkpointed(files, CFG, CheckpointStore(root, v2_hash))
    monkeypatch.undo()

    assert C.SIG_FORMAT_VERSION == 3 and CFG.config_hash != v2_hash
    store = CheckpointStore(root, CFG.config_hash)
    assert not any(store.is_complete(s) for s in STAGES)
    res = run_pipeline_checkpointed(files, CFG, store)
    assert res["resumed"] == {s: False for s in STAGES}


def test_cli_checkpoint_run_resumes(tmp_path):
    """``cli.py --checkpoint`` twice, each in its own process (``main()``
    stops its session): the second run resumes every stage."""
    cmd = [
        sys.executable, str(REPO / "sketchy_spark" / "cli.py"),
        "--synthetic", "200", "--master", "local[2]",
        "--checkpoint", str(tmp_path / "ckpt"),
        "--output", str(tmp_path / "out"),
    ]
    env = {**os.environ, "SKETCHY_DRIVER_MEM": "1g"}
    for expect in (False, True):
        proc = subprocess.run(
            cmd, capture_output=True, text=True, env=env, timeout=900
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        summary = json.loads(proc.stdout.strip().splitlines()[-1])
        assert summary["rows"] == 200
        assert summary["resumed"] == {s: expect for s in STAGES}
