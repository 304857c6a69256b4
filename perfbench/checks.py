"""Correctness checks run on every pipeline run the benchmark makes.

Each check compares one run's collected outputs with the planted truth of
the generated corpus (``sketchy_spark.corpus``). Checks run outside the
timed region. The gates match the repository's hard invariants:

- planted dup-pair recall >= 0.99 (ROADMAP, BASELINE.json);
- dup-pair precision >= 0.95 (tests/test_pipeline_e2e.py);
- clusters form a partition of the input file ids;
- the ``sha256`` column equals ``hashlib.sha256(content)`` on every row;
- planted containment recall >= 0.95, where the path has a containment
  pass (tests/test_pipeline_e2e.py). The engine misses a whole-file
  embedding whose small side is only a few hundred bytes: the
  ``instr`` tier of ``containment_verified`` passes the column name
  ``small_c`` as a literal string, so every pair goes to the partial
  kernel and its 512-byte minimum. On seeds 1-60 at 1000 files it
  missed one pair of 25, on seed 30 (a 564-byte file); the missed pairs
  are returned and printed.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import pandas as pd

from sketchy_spark.corpus import truth_containment_pairs, truth_dup_pairs

RECALL_GATE = 0.99
PRECISION_GATE = 0.95
CONTAINMENT_RECALL_GATE = 0.95


@dataclass(frozen=True)
class Truth:
    """Expected outputs for one generated corpus."""

    file_ids: frozenset
    dup_pairs: frozenset  # (a, b) with a < b
    containment_pairs: frozenset  # (small_id, big_id)
    sha256: dict  # file_id -> hex digest, computed here with hashlib

    @classmethod
    def from_rows(cls, rows: pd.DataFrame) -> "Truth":
        """``rows`` is ``corpus.render_rows`` output for the whole corpus."""
        file_id = rows["repo"] + "/" + rows["path"]
        labels = pd.DataFrame(
            {"file_id": file_id, "cluster_id": rows["cluster_id"],
             "kind": rows["kind"]}
        )
        return cls(
            file_ids=frozenset(file_id),
            dup_pairs=frozenset(truth_dup_pairs(labels)),
            containment_pairs=frozenset(truth_containment_pairs(labels)),
            sha256={
                f: hashlib.sha256(c.encode("utf-8")).hexdigest()
                for f, c in zip(file_id, rows["content"])
            },
        )


def _cluster_pairs(clusters: pd.DataFrame) -> set[tuple[str, str]]:
    pairs = set()
    for _, members in clusters.groupby("cluster_id")["file_id"]:
        ids = sorted(members)
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                pairs.add((ids[i], ids[j]))
    return pairs


def check_run(
    truth: Truth,
    clusters: pd.DataFrame,
    sha: pd.DataFrame,
    containment: pd.DataFrame | None,
) -> dict:
    """Check one run. ``clusters`` is (file_id, cluster_id), ``sha`` is
    (file_id, sha256) from the run's signatures, ``containment`` is
    (small_id, big_id, ...) or None on a path without a containment pass.

    Returns every check value plus ``ok`` (all gates hold) and
    ``failures`` (the names of the gates that do not)."""
    found = _cluster_pairs(clusters)
    hit = len(truth.dup_pairs & found)
    recall = hit / max(1, len(truth.dup_pairs))
    precision = hit / max(1, len(found))
    ids = clusters["file_id"]
    partition_ok = ids.is_unique and set(ids) == truth.file_ids
    sha_ok = len(sha) == len(truth.sha256) and all(
        truth.sha256.get(f) == h for f, h in zip(sha["file_id"], sha["sha256"])
    )
    out = {
        "dup_pair_recall": recall,
        "dup_pair_precision": precision,
        "cluster_partition_ok": partition_ok,
        "sha256_ok": sha_ok,
        "containment_recall": None,
        "containment_missed": [],
    }
    failures = []
    if recall < RECALL_GATE:
        failures.append("dup_pair_recall")
    if precision < PRECISION_GATE:
        failures.append("dup_pair_precision")
    if not partition_ok:
        failures.append("cluster_partition_ok")
    if not sha_ok:
        failures.append("sha256_ok")
    if containment is not None:
        got = set(zip(containment["small_id"], containment["big_id"]))
        missed = truth.containment_pairs - got
        c_recall = 1 - len(missed) / max(1, len(truth.containment_pairs))
        out["containment_recall"] = c_recall
        out["containment_missed"] = sorted(missed)
        if c_recall < CONTAINMENT_RECALL_GATE:
            failures.append("containment_recall")
    out["failures"] = failures
    out["ok"] = not failures
    return out
