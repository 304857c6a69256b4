"""Incremental-arrival dedup (the reference's streaming analogue).

The reference's stream mode re-ranks after every read with a running
sum-of-shared state vector (``/root/reference/src/sketchy.rs:317-356``).
The dedup graft models incremental arrival as snapshot-increment batches
(SURVEY §1.5, §2.7 R38): each new batch is sketched, banded against the
*accumulated* signature store (new x all — never all x all), verified,
and the edge set grows monotonically; clusters are recomputed from the
full edge set (cheap: edges ≪ files). Everything is fid-keyed, and the
verification and cluster operators are the batch pipeline's
(pipeline.py), so after N batches the clusters — rows and labels — equal
the single-shot run on the union (FIXTURES §3). Batch signatures keep
the bottom-s ``sig`` column: an earlier batch's content is gone by the
time a later batch pairs with it, so it cannot be re-sketched.

Write I/O is O(batch), not O(corpus): every batch APPENDS two immutable
stages — ``sig_batch_NNNNN`` and ``edges_batch_NNNNN`` — and the rolling
views (:meth:`IncrementalDedup.signatures` / :meth:`edges`) read the
newest ``*_compact_NNNNN`` snapshot plus the batch tail after it
(``compact_every`` bounds the tail; see the class docstring — without
compaction the union fan-in grows with every ingest). Nothing is ever
rewritten, and batch completion
has ONE terminal marker (the edges stage manifest), so a run killed at
any point resumes idempotently: re-ingesting a finished batch is a no-op,
and a batch that died between its two writes recomputes edges from its
already-stored signatures without duplicating rows (the r1 crash-window
bug: promoting a rewritten sig_all before the edges marker permanently
double-counted the batch).

True sub-second streaming would swap the batch source for
``readStream`` + ``applyInPandasWithState``; the north rule requires
resumable incremental batches, which is what this is.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from sketchy_spark.checkpoint import CheckpointStore
from sketchy_spark.config import SketchConfig
from sketchy_spark.operators.cluster import assign_clusters_fid
from sketchy_spark.operators.lsh import band_table, hot_band_keys, with_fid
from sketchy_spark.operators.sketch import sketch_files
from sketchy_spark.operators.verify import verified_pairs_cascade


def _new_vs_all_candidates(
    new_sigs: DataFrame,
    all_sigs: DataFrame,
    cfg: SketchConfig,
    prev_sigs: DataFrame | None = None,
) -> DataFrame:
    """(a_fid, b_fid) band join restricted to pairs touching a new file:
    the incremental form of G1. Work is O(|new| x collision) instead of
    O(|all|²).

    Hot band keys (> cap members in the accumulated corpus) are excluded
    from the all-pairs join and handled like the batch path's salted
    stars (operators/lsh.py): each NEW member of a hot band pairs with
    the band's hub, so an over-cap near-dup clique keeps absorbing
    arrivals through its hub instead of silently dropping them —
    O(|new|) extra candidates.

    The hub MUST come from the pre-batch corpus when the band has prior
    members: taking min(fid) over the accumulated bands (old bug) let a
    new arrival that sorts below all existing members become the hub
    itself — it then matched the ``fid != hub`` filter nowhere,
    got zero edges, and every other new member linked only to it,
    splitting the clique from its previously-ingested component. With a
    pre-batch hub every new member (including a new global minimum)
    links into the existing component; the batch-local minimum is the
    hub only for bands with no prior members at all.
    """
    new_bands = band_table(new_sigs, cfg, id_col="fid")
    all_bands = band_table(all_sigs, cfg, id_col="fid")
    hot = hot_band_keys(all_bands, cfg.band_skew_cap)
    new_cold = new_bands.join(F.broadcast(hot), "band_key", "left_anti")
    all_cold = all_bands.join(F.broadcast(hot), "band_key", "left_anti")
    n = new_cold.select(F.col("fid").alias("n_fid"), "band_key")
    m = all_cold.select(F.col("fid").alias("m_fid"), "band_key")
    pairs = (
        n.join(m, "band_key")
        .where(F.col("n_fid") != F.col("m_fid"))
        .select(
            F.least("n_fid", "m_fid").alias("a_fid"),
            F.greatest("n_fid", "m_fid").alias("b_fid"),
        )
    )
    batch_hub = (
        new_bands.join(F.broadcast(hot), "band_key", "left_semi")
        .groupBy("band_key")
        .agg(F.min("fid").alias("bhub"))
    )
    if prev_sigs is not None:
        prev_hub = (
            band_table(prev_sigs, cfg, id_col="fid")
            .join(F.broadcast(hot), "band_key", "left_semi")
            .groupBy("band_key")
            .agg(F.min("fid").alias("phub"))
        )
        hubs = batch_hub.join(prev_hub, "band_key", "left").select(
            "band_key", F.coalesce("phub", "bhub").alias("hub")
        )
    else:
        hubs = batch_hub.select("band_key", F.col("bhub").alias("hub"))
    hot_star = (
        new_bands.join(F.broadcast(hubs), "band_key")
        .where(F.col("fid") != F.col("hub"))
        .select(
            F.least("fid", "hub").alias("a_fid"),
            F.greatest("fid", "hub").alias("b_fid"),
        )
    )
    return pairs.unionByName(hot_star).distinct()


def _incremental_exact_edges(
    new_sigs: DataFrame, prev_sigs: DataFrame | None
) -> DataFrame:
    """Sha-identical (a_fid, b_fid) edges touching the new batch only,
    O(|new|) output.

    Each new file links to its sha-group's anchor: the group minimum of
    the PREVIOUS corpus when the sha was already seen (keeps the new
    member connected to the existing component), else the batch-local
    minimum. Connectivity is what connected components needs — the edge
    sets differ from the single-shot run, the clusters do not.
    """
    batch_min = new_sigs.groupBy("sha256").agg(F.min("fid").alias("bhub"))
    if prev_sigs is not None:
        prev_min = prev_sigs.groupBy("sha256").agg(
            F.min("fid").alias("phub")
        )
        anchors = batch_min.join(prev_min, "sha256", "left").select(
            "sha256", F.coalesce("phub", "bhub").alias("hub")
        )
    else:
        anchors = batch_min.select("sha256", F.col("bhub").alias("hub"))
    return (
        new_sigs.select("sha256", "fid")
        .join(anchors, "sha256")
        .where(F.col("fid") != F.col("hub"))
        .select(F.col("hub").alias("a_fid"), F.col("fid").alias("b_fid"))
    )


def _stage_id(stage: str) -> int:
    return int(stage.rsplit("_", 1)[1])


class IncrementalDedup:
    """Accumulates signatures and verified edges across arriving batches
    through a CheckpointStore, so a killed run resumes at the last batch.

    ``compact_every``: after that many batch stages accumulate beyond the
    last compaction, fold them into one ``*_compact_NNNNN`` stage (the
    Iceberg-snapshot analogue). Without compaction the rolling views are
    an N-way unionByName of every batch ever ingested — N directory
    listings + N scan legs per read, unbounded over the job's lifetime.
    With it, a view reads 1 compact + <= compact_every tail stages.
    Compaction appends (never rewrites): raw batch stages stay on disk,
    so ``signatures(before=b)`` for b below the compact point still
    resolves from them, and a compaction killed mid-write is simply
    retried (its terminal marker is the edges_compact manifest)."""

    def __init__(self, spark: SparkSession, store: CheckpointStore,
                 cfg: SketchConfig, compact_every: int | None = None):
        self.spark = spark
        self.store = store
        self.cfg = cfg
        self.compact_every = compact_every

    # -- rolling views (compact snapshot + immutable batch tail) --------
    def _completed(self, prefix: str) -> list[str]:
        return sorted(
            m["stage"]
            for m in self.store.manifests()
            if m["stage"].startswith(prefix)
            and m["status"] == "complete"
            and m["config_hash"] == self.store.config_hash
        )

    def _union(self, stages: list[str]) -> DataFrame | None:
        # a catalog-owning store serves reads through its own session
        # (checkpoint.py get_or_compute has the same resolution)
        rs = getattr(self.store, "spark", None) or self.spark
        dfs = [self.store.read_stage(rs, s) for s in stages]
        if not dfs:
            return None
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d)
        return out

    def _compacts(self, kind: str) -> list[tuple[int, set[int], str]]:
        """Completed compacts of ``kind`` as (fold_max, folded_ids, stage).

        ``folded_ids`` comes from the compact manifest's meta (written by
        :meth:`compact`); a pre-meta compact (older store) folded exactly
        the contiguous terminal-marked prefix, i.e. every completed batch
        id <= its fold_max — reconstructed here for back-compat."""
        batch_ids = {_stage_id(s) for s in self._completed(f"{kind}_batch_")}
        out = []
        for m in self.store.manifests():
            s = m["stage"]
            if not s.startswith(f"{kind}_compact_"):
                continue
            if (
                m["status"] != "complete"
                or m["config_hash"] != self.store.config_hash
            ):
                continue
            c = _stage_id(s)
            folded = (m.get("meta") or {}).get("folded")
            folded = (
                set(folded)
                if folded is not None
                else {i for i in batch_ids if i <= c}
            )
            out.append((c, folded, s))
        return out

    def view_stages(self, kind: str, before: int | None = None) -> list[str]:
        """Stages a rolling view reads: the newest usable compact plus
        every completed batch NOT folded into it. kind: 'sig' | 'edges'.

        Usable (given ``before``) means the compact folds only batches
        < ``before``; the tail is the completed batches outside the
        compact's folded set — which keeps a BACKFILLED batch (id below
        the compact's fold_max, ingested after it) visible in every view
        until a later compact folds it."""
        batches = self._completed(f"{kind}_batch_")
        if before is not None:
            batches = [s for s in batches if _stage_id(s) < before]
        usable = [
            (c, folded, s)
            for c, folded, s in self._compacts(kind)
            if before is None or all(i < before for i in folded)
        ]
        if not usable:
            return batches
        c, folded, stage = max(usable, key=lambda t: t[0])
        return [stage] + [s for s in batches if _stage_id(s) not in folded]

    def signatures(self, before: int | None = None) -> DataFrame | None:
        return self._union(self.view_stages("sig", before))

    def edges(self) -> DataFrame | None:
        """Distinct verified + exact (a_fid, b_fid) edges across every
        ingested batch.

        The distinct is load-bearing for EXTERNAL consumers (ADVICE r4):
        a batch retried after a LATER batch already landed re-emits the
        same cross-batch pairs in its own stage (each stage's internal
        distinct cannot see across stages), so the raw union may contain
        duplicate pairs. Connected components is insensitive to them
        (it deduplicates its symmetrized edge table anyway — see
        _distributed_components / union-find), which is why
        :meth:`clusters` and the ingest pairing read the raw stages;
        the public view pays one edge-sized shuffle for set semantics.
        """
        raw = self._union(self.view_stages("edges"))
        return raw.distinct() if raw is not None else None

    def n_edges(self) -> int:
        """Edge-count UPPER BOUND from manifests alone (VERDICT r4 #7):
        the sum of every edge stage's recorded row count — no Spark
        action. Cross-stage retry duplicates may inflate it slightly
        (see :meth:`edges`), which only ever pushes the CC strategy
        choice toward 'distributed', the safe direction."""
        by_stage = {m["stage"]: m["rows"] for m in self.store.manifests()}
        return sum(by_stage[s] for s in self.view_stages("edges"))

    # -- compaction ------------------------------------------------------
    def compact(self) -> bool:
        """Fold batches into one compact stage pair; returns True when a
        new compaction was written. Append-only and idempotent: the
        edges_compact manifest is the terminal marker, a half-written
        compaction (sig stored, edges missing) is finished on retry from
        the folded set recorded in the sig compact's manifest meta, and
        raw batch stages are never deleted.

        The folded set is EXPLICIT: each compact's manifest meta records
        ``{"fold_max": c, "folded": [ids]}`` where c = the largest
        terminal-marked (edges-complete) batch id and folded = the
        previous compact's set plus every newly terminal-marked batch.
        Batch ids therefore need no contiguity — date-shaped ids
        (20240101, 20240103, ...) compact normally, and a BACKFILLED
        batch below an existing fold_max is folded by the next compact
        rather than silently dropped (it stays in the rolling tail until
        then: view_stages keeps every completed batch outside the folded
        set visible). The one deferral: a backfill arriving when no new
        batch has raised c keeps the same stage name ``*_compact_c`` —
        stages are immutable, so that compaction is skipped until a
        higher c exists. A half-ingested batch (sig stored, edges marker
        missing) is never folded — folding it double-counted its rows in
        every view (compact contained them AND the tail re-appended the
        batch)."""
        edge_ids = {_stage_id(s) for s in self._completed("edges_batch_")}
        sig_ids = {_stage_id(s) for s in self._completed("sig_batch_")}
        done_ids = edge_ids & sig_ids  # edges is terminal; & is belt+braces

        # Crash-retry first: a sig_compact_k whose edges_compact_k never
        # landed is finished from ITS OWN recorded folded set (not from
        # current state, which may have moved on). Raw batch stages are
        # never deleted, so the union is rebuildable verbatim.
        for k, folded, _s in sorted(
            self._compacts("sig"), key=lambda t: t[0]
        ):
            stage_edge = f"edges_compact_{k:05d}"
            if not self.store.is_complete(stage_edge):
                self.store.write_stage(
                    stage_edge,
                    self._union(
                        [f"edges_batch_{i:05d}" for i in sorted(folded)]
                    ),
                    meta={"fold_max": k, "folded": sorted(folded)},
                )
                return True

        if not done_ids:
            return False
        c = max(done_ids)
        prev = self._compacts("edges")
        prev_folded: set[int] = (
            max(prev, key=lambda t: t[0])[1] if prev else set()
        )
        to_fold = done_ids - prev_folded
        stage_sig = f"sig_compact_{c:05d}"
        stage_edge = f"edges_compact_{c:05d}"
        if self.store.is_complete(stage_edge):
            return False  # name collision: backfill with unchanged c waits
        if not prev and len(to_fold) < 2:
            return False  # nothing to fold
        if not to_fold:
            return False
        folded = prev_folded | to_fold
        meta = {"fold_max": c, "folded": sorted(folded)}
        prev_sig = (
            [max(self._compacts("sig"), key=lambda t: t[0])[2]]
            if prev
            else []
        )
        prev_edge = [max(prev, key=lambda t: t[0])[2]] if prev else []
        self.store.write_stage(
            stage_sig,
            self._union(
                prev_sig
                + [f"sig_batch_{i:05d}" for i in sorted(to_fold)]
            ),
            meta=meta,
        )
        self.store.write_stage(
            stage_edge,
            self._union(
                prev_edge
                + [f"edges_batch_{i:05d}" for i in sorted(to_fold)]
            ),
            meta=meta,
        )
        return True

    # -- ingest ----------------------------------------------------------
    def ingest_batch(self, batch_id: int, files: DataFrame) -> None:
        """Sketch + band-join one arriving batch against the store.

        Idempotent: the batch's edges stage is the single completion
        marker; a finished batch returns immediately, a half-finished one
        (signatures stored, edges missing) recomputes edges from the
        stored signatures — no rolling table is ever rewritten.
        """
        stage_sig = f"sig_batch_{batch_id:05d}"
        stage_edge = f"edges_batch_{batch_id:05d}"
        if self.store.is_complete(stage_edge):
            return  # terminal marker present -> fully ingested

        new_sigs, _ = self.store.get_or_compute(
            self.spark, stage_sig,
            lambda: with_fid(sketch_files(files, self.cfg)),
        )
        # "prev" = every OTHER ingested batch, by INGEST-TIME order, not
        # id order: an out-of-order BACKFILL (id below already-ingested
        # ids) must still pair against the higher-id batches already in
        # the store — with id-ordered prev (signatures(before=batch_id),
        # the r4-early bug) a backfill's cross-batch pairs to higher ids
        # were never generated by either side. Every pair (x, y) is
        # covered by whichever batch ingests later. The new batch's own
        # sig stage is excluded by name; it can never hide inside a
        # compact here because compaction folds only terminal-marked
        # (edges-complete) batches and this batch's edges marker does
        # not exist yet.
        prev_stages = [
            s for s in self.view_stages("sig") if s != stage_sig
        ]
        prev_sigs = self._union(prev_stages)
        all_sigs = (
            prev_sigs.unionByName(new_sigs)
            if prev_sigs is not None
            else new_sigs
        )
        cand = _new_vs_all_candidates(
            new_sigs, all_sigs, self.cfg, prev_sigs=prev_sigs
        )
        held: list[DataFrame] = []
        ver = verified_pairs_cascade(
            cand, all_sigs, self.cfg, attach_ids=False, persisted=held
        ).select("a_fid", "b_fid")
        exact = _incremental_exact_edges(new_sigs, prev_sigs)
        self.store.write_stage(
            stage_edge, ver.unionByName(exact).distinct()
        )
        for df in held:
            df.unpersist()
        if self.compact_every:
            tail = [
                s for s in self.view_stages("edges") if "_batch_" in s
            ]
            if len(tail) >= self.compact_every:
                self.compact()

    def clusters(self) -> DataFrame:
        sigs = self.signatures()
        if sigs is None:
            raise ValueError("no ingested batches")
        # raw stage union, not the public edges() view: CC dedupes its own
        # edge table, so the view's distinct shuffle would be paid twice.
        # n_edges comes from the stage manifests' recorded row counts —
        # one fewer driver-blocking count() per clusters() call
        # (VERDICT r4 #7); the manifest sum is an upper bound under
        # cross-stage retry duplicates, which can only shift the strategy
        # cutoff toward the distributed (always-correct) path.
        edges = self._union(self.view_stages("edges"))
        return assign_clusters_fid(sigs, edges, n_edges=self.n_edges())
