"""End-to-end dedup pipeline: the stage graph, defined once.

files(repo, path, commit, lang, content)
  -> signatures   sketch (mapInPandas, the only UDF stage), slim, + fid
  -> edges        exact (sha256) edges + LSH candidates -> verify cascade
  -> clusters     connected components over the fid edges
  -> containment  fingerprint candidates -> instr / run verification

One function per stage, over fid frames. :func:`run_pipeline` chains
them with in-memory persists; ``checkpoint.run_pipeline_checkpointed``
chains the same functions through a checkpoint store, and the
incremental path (streaming/incremental.py) reuses the verification and
cluster operators around its new-vs-all band join.

The Spark re-expression of `sketchy predict` end-to-end (SURVEY §3.1),
with the all-pairs kernel replaced by LSH (G1) and ranking replaced by
clustering (the dedup graft's goal).
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from sketchy_spark.config import DEFAULT_CONFIG, SketchConfig
from sketchy_spark.operators.cluster import assign_clusters_fid
from sketchy_spark.operators.lsh import (
    attach_file_ids,
    candidate_pairs_fid,
    exact_dup_edges_fid,
    with_fid,
)
from sketchy_spark.operators.sketch import sketch_files
from sketchy_spark.operators.verify import (
    containment_candidates,
    containment_verified,
    verified_pairs_cascade,
)


def signatures_stage(
    files: DataFrame, cfg: SketchConfig, with_fp: bool = True
) -> DataFrame:
    """Slim signatures with ``fid``. The bottom-s sig column (8 KB/row) is
    only ever read for borderline pairs, which the cascade re-sketches on
    demand — the working set stays ~2 KB/row. ``with_fp=False`` skips the
    winnow fingerprints, which only the containment stage reads."""
    return with_fid(
        sketch_files(files, cfg, with_sig=False, with_fp=with_fp)
    )


def verified_stage(
    signatures: DataFrame, files: DataFrame, cfg: SketchConfig,
    persisted: list, n_files: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """(candidates, verified): LSH candidate pairs and the cascade's
    verified pairs, both fid-keyed. Every frame the two operators persist
    is appended to ``persisted`` for the caller to release. Without
    ``n_files`` the cascade counts ``signatures`` after the candidate
    stage's first action has populated any signature cache."""
    candidates = candidate_pairs_fid(signatures, cfg, persisted=persisted)
    verified = verified_pairs_cascade(
        candidates, signatures, cfg, files=files, n_files=n_files,
        attach_ids=False, persisted=persisted,
    )
    return candidates, verified


def edges_stage(signatures: DataFrame, verified: DataFrame) -> DataFrame:
    """Distinct (a_fid, b_fid) edges: sha-identical stars + verified pairs."""
    return (
        exact_dup_edges_fid(signatures)
        .unionByName(verified.select("a_fid", "b_fid"))
        .distinct()
    )


def containment_stage(
    signatures: DataFrame, files: DataFrame, cfg: SketchConfig
) -> DataFrame:
    """(small_id, big_id, containment, overlap_chars) verified pairs."""
    # candidate threshold drops to a quarter of the small side's
    # fingerprints: partial verbatim overlaps (a shared block that is
    # NOT a whole-file embedding) must reach the run-verify kernel
    return containment_verified(
        containment_candidates(
            signatures, cfg,
            min_containment=min(0.25, cfg.containment_threshold),
        ),
        files,
        cfg,
    )


@dataclass
class PipelineResult:
    signatures: DataFrame
    candidates: DataFrame
    verified: DataFrame
    clusters: DataFrame
    containment: DataFrame
    edges: DataFrame | None = None
    persisted: tuple = ()  # internal fid frames to release on unpersist

    def unpersist(self) -> None:
        """Release every frame the pipeline persisted (bench hygiene)."""
        for df in (self.signatures, self.edges, *self.persisted):
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass


def run_pipeline(
    files: DataFrame,
    cfg: SketchConfig = DEFAULT_CONFIG,
    with_containment: bool = True,
    cache_signatures: bool = True,
    range_partition: bool = False,
) -> PipelineResult:
    """Run the full dedup pipeline lazily; materialization points are the
    caller's choice (tests collect; bench writes; checkpointed runs go
    through checkpoint.run_pipeline_checkpointed).

    ``range_partition=True`` inserts ``repartitionByRange('lang','repo')``
    at ingest (north-star partitioning): co-locates same-language/repo
    files so the cached signature table — and every map-side stage over
    it — clusters near-duplicate-dense neighborhoods together, which
    raises map-side combine hit rates in the band groupBy and keeps
    per-task working sets coherent. Off by default in local mode (a
    content-width shuffle only pays for itself on multi-executor runs
    where locality persists across stages).
    """
    if range_partition:
        files = files.repartitionByRange("lang", "repo")
    signatures = signatures_stage(files, cfg, with_fp=with_containment)
    if cache_signatures:
        # signatures feed 3+ downstream stages; recomputing the UDF stage
        # per consumer would triple the dominant cost. The cache is
        # populated by candidate_pairs_fid's hot-key collect — the FIRST
        # action below — in the same job that shuffles the band table, so
        # no separate eager count pass runs (one barrier fewer); the
        # cascade's n_files count that follows is a memory scan.
        signatures = signatures.cache()

    # The whole pair/edge flow stays in fid longs (16-byte shuffle keys,
    # operators/lsh.py); file_id strings attach once, to final outputs.
    # ``internal`` collects every frame the stages persist (band cache,
    # candidate pairs, coarse estimates) so unpersist() can release them.
    internal: list[DataFrame] = []
    fid_candidates, verified_fid = verified_stage(
        signatures, files, cfg, internal
    )
    verified_fid = verified_fid.persist()  # edges AND .verified read it
    # connected components probes the edges' size, then labels them
    edges = edges_stage(signatures, verified_fid).persist()
    clusters = assign_clusters_fid(signatures, edges)

    # public result keeps the string pair contract (lazy attachment)
    candidates = attach_file_ids(fid_candidates, signatures).select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
    )
    verified = attach_file_ids(verified_fid, signatures).select(
        F.least("a_id", "b_id").alias("a_id"),
        F.greatest("a_id", "b_id").alias("b_id"),
        "jaccard",
        "hamming",
    )

    if with_containment:
        cont = containment_stage(signatures, files, cfg)
    else:
        cont = (
            signatures.sparkSession.createDataFrame(
                [],
                "small_id string, big_id string, containment double, "
                "overlap_chars long",
            )
        )
    return PipelineResult(
        signatures, candidates, verified, clusters, cont, edges,
        persisted=(verified_fid, *internal),
    )


def cluster_consensus(
    clusters: DataFrame, signatures: DataFrame
) -> DataFrame:
    """Per-cluster majority metadata (the 'genotype' of a cluster, SURVEY
    §1.4): majority lang + member count + representative (min file_id)."""
    joined = clusters.join(
        signatures.select("file_id", "lang", "repo"), "file_id"
    )
    lang_counts = joined.groupBy("cluster_id", "lang").agg(
        F.count("*").alias("cnt")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("cnt"), F.asc("lang")
    )
    majority = (
        lang_counts.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .select("cluster_id", F.col("lang").alias("majority_lang"))
    )
    sizes = clusters.groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.min("file_id").alias("representative"),
    )
    return sizes.join(majority, "cluster_id")
