"""The benchmark's workloads: input generation, staging, one timed run and
one traced run each. The engine receives only the generated
``(repo, path, commit, lang, content)`` table, staged as parquet.

Both workloads render the FIXTURES.md planted corpus
(``sketchy_spark.corpus.render_rows``) from the benchmark's ``--seed``:
per 200-row block 60% singletons, 15% exact, 15% near, 5% containment
and 5% boilerplate rows. Sizes are set so one warm run takes about 10 s
on a 4-core host; the README gives the reasons.
"""

from __future__ import annotations

import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

from sketchy_spark.checkpoint import CheckpointStore
from sketchy_spark.config import DEFAULT_CONFIG
from sketchy_spark.corpus import FILES_COLUMNS, render_rows
from sketchy_spark.operators.cluster import (
    DRIVER_UNION_FIND_MAX_EDGES,
    assign_clusters_fid,
)
from sketchy_spark.operators.lsh import (
    band_table,
    candidate_pairs_fid,
    exact_dup_edges_fid,
    hot_band_keys,
    with_fid,
)
from sketchy_spark.operators.sketch import sketch_files
from sketchy_spark.operators.verify import (
    containment_candidates,
    containment_verified,
    verified_pairs_cascade,
)
from sketchy_spark.pipeline import run_pipeline
from sketchy_spark.streaming.incremental import IncrementalDedup
from spans import TimedStore, Tracer

CFG = DEFAULT_CONFIG
# run_pipeline's candidate threshold for the containment pass
MIN_CONTAINMENT = min(0.25, CFG.containment_threshold)


@dataclass
class RunOutput:
    wall_s: float
    batch_s: list[float]  # one entry per unit of work a caller submits
    clusters: pd.DataFrame  # (file_id, cluster_id)
    sha: pd.DataFrame  # (file_id, sha256) from the run's signatures
    containment: pd.DataFrame | None  # None: the path has no such pass
    leaked: int = 0  # cached frames left after the run released its own
    counts: dict = field(default_factory=dict)  # traced runs only


def clear_cache(spark) -> int:
    """Count the cached (materialized) frames still held, then drop every
    one, so no run reuses another run's frames. Returns the count."""
    jsc = spark.sparkContext._jsc
    leaked = len(jsc.getPersistentRDDs())
    spark.catalog.clearCache()
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    return leaked


def _write(spark, rows: pd.DataFrame, path: Path) -> str:
    spark.createDataFrame(rows[FILES_COLUMNS]).write.mode(
        "overwrite"
    ).parquet(str(path))
    return str(path)


class Containment:
    """``run_pipeline`` with its default containment pass."""

    name = "containment"
    n_files = 1000

    def generate(self, seed: int) -> pd.DataFrame:
        return render_rows(np.arange(self.n_files), seed)

    def stage(self, spark, rows: pd.DataFrame, root: Path) -> list[str]:
        return [_write(spark, rows, root / "files")]

    def run(self, spark, staged: list[str], workdir: Path) -> RunOutput:
        files = spark.read.parquet(staged[0])
        t0 = time.perf_counter()
        r = run_pipeline(files)
        clusters = r.clusters.toPandas()
        cont = r.containment.toPandas()
        wall = time.perf_counter() - t0
        sha = r.signatures.select("file_id", "sha256").toPandas()
        r.unpersist()
        leaked = clear_cache(spark)
        return RunOutput(wall, [wall], clusters, sha, cont, leaked)

    def run_traced(
        self, spark, staged: list[str], workdir: Path, tr: Tracer
    ) -> RunOutput:
        """``run_pipeline``'s stages in its order, through the same public
        stage functions, each output materialized at its layer boundary.
        Keep in step with ``sketchy_spark/pipeline.py``."""
        files = spark.read.parquet(staged[0])
        internal: list = []
        t0 = time.perf_counter()
        with tr.span("run_pipeline", "pipeline"):
            with tr.span("sketch_files", "sketch"):
                signatures = with_fid(
                    sketch_files(files, CFG, with_sig=False, with_fp=True)
                ).cache()
                n_files = signatures.count()
            with tr.span("candidate_pairs_fid", "lsh"):
                cand = candidate_pairs_fid(signatures, CFG, persisted=internal)
            with tr.span("verified_pairs_cascade", "verify"):
                verified = verified_pairs_cascade(
                    cand, signatures, CFG, files=files, n_files=n_files,
                    attach_ids=False, persisted=internal,
                ).persist()
                verified.count()
            with tr.span("assign_clusters_fid", "cluster"):
                edges = (
                    exact_dup_edges_fid(signatures)
                    .unionByName(verified.select("a_fid", "b_fid"))
                    .distinct()
                    .persist()
                )
                clusters = assign_clusters_fid(signatures, edges).toPandas()
            with tr.span("containment_verified", "containment"):
                cont = containment_verified(
                    containment_candidates(
                        signatures, CFG, min_containment=MIN_CONTAINMENT
                    ),
                    files,
                    CFG,
                ).toPandas()
        wall = time.perf_counter() - t0
        # counts, outside every span
        n_edges = edges.count()
        counts = {
            "lsh.candidate_pairs": cand.count(),
            "lsh.hot_band_keys": hot_band_keys(
                band_table(signatures, CFG, id_col="fid"), CFG.band_skew_cap
            ).count(),
            "verify.verified_pairs": verified.count(),
            "cluster.edges": n_edges,
            "cluster.strategy_distributed": int(
                n_edges > DRIVER_UNION_FIND_MAX_EDGES
            ),
            "containment.candidate_pairs": containment_candidates(
                signatures, CFG, min_containment=MIN_CONTAINMENT
            ).count(),
            "containment.verified_pairs": len(cont),
        }
        sha = signatures.select("file_id", "sha256").toPandas()
        for df in (signatures, verified, edges, *internal):
            df.unpersist()
        clear_cache(spark)
        return RunOutput(wall, [wall], clusters, sha, cont, counts=counts)


class Incremental:
    """The corpus split into arriving batches (row id mod ``n_batches``,
    as FIXTURES.md section 3), fed to ``IncrementalDedup.ingest_batch``
    over a fresh ``CheckpointStore``, then ``clusters()``."""

    name = "incremental"
    n_files = 2000
    n_batches = 2

    def generate(self, seed: int) -> pd.DataFrame:
        return render_rows(np.arange(self.n_files), seed)

    def stage(self, spark, rows: pd.DataFrame, root: Path) -> list[str]:
        return [
            _write(spark, rows[rows["row_id"] % self.n_batches == b],
                   root / f"batch_{b}")
            for b in range(self.n_batches)
        ]

    def _store(self, workdir: Path, tr: Tracer | None):
        root = workdir / "checkpoint"
        shutil.rmtree(root, ignore_errors=True)
        if tr is None:
            return CheckpointStore(str(root), CFG.config_hash)
        return TimedStore(str(root), CFG.config_hash, tr)

    def _run(self, spark, staged, workdir, tr: Tracer | None) -> RunOutput:
        batches = [spark.read.parquet(p) for p in staged]
        store = self._store(workdir, tr)
        inc = IncrementalDedup(spark, store, CFG)
        lat = []
        t0 = time.perf_counter()
        with _maybe_span(tr, "incremental", "pipeline"):
            for b, files in enumerate(batches):
                tb = time.perf_counter()
                with _maybe_span(tr, f"ingest_batch:{b}", "incremental"):
                    inc.ingest_batch(b, files)
                lat.append(time.perf_counter() - tb)
            with _maybe_span(tr, "clusters", "cluster"):
                clusters = inc.clusters().toPandas()
        wall = time.perf_counter() - t0
        counts = {}
        if tr is not None:
            n_edges = inc.n_edges()
            counts = {
                "cluster.edges": n_edges,
                "cluster.strategy_distributed": int(
                    n_edges > DRIVER_UNION_FIND_MAX_EDGES
                ),
                "checkpoint.bytes_written": store.bytes_written,
            }
        sha = inc.signatures().select("file_id", "sha256").toPandas()
        leaked = clear_cache(spark)
        return RunOutput(wall, lat, clusters, sha, None, leaked, counts)

    def run(self, spark, staged, workdir) -> RunOutput:
        return self._run(spark, staged, workdir, None)

    def run_traced(self, spark, staged, workdir, tr: Tracer) -> RunOutput:
        return self._run(spark, staged, workdir, tr)


def _maybe_span(tr: Tracer | None, name: str, layer: str):
    return tr.span(name, layer) if tr is not None else nullcontext()


WORKLOADS = {w.name: w for w in (Containment(), Incremental())}
