"""Spark-free microbenchmark of the ``hashing`` layer's kernels.

Runs in the benchmark process, on one core, before the Spark session
starts, over the workload's generated content. Each kernel's rate is the
content bytes it covers divided by its median time over ``REPEATS``
passes. The kernels are timed separately, over per-document inputs
prepared beforehand:

- ``murmur_fold``: ``fold_shingle_hashes`` (shingle + murmur3) with a
  consumer that does nothing;
- ``bottom_s``: ``np.unique`` of a document's positional hashes then
  ``bottom_s`` (the bottom-s sketch);
- ``oph``: ``oph_minhash`` over the distinct hashes;
- ``simhash``: ``simhash64`` over the distinct hashes;
- ``winnow``: ``winnow`` over the positional hashes.

:func:`sketch_columns` gives the same kernels' outputs in the encoding of
the sketch stage's columns, for the bit-identity check against
``sketch_files`` on a sample.
"""

from __future__ import annotations

import statistics
import time

import numpy as np

from sketchy_spark.config import SketchConfig
from sketchy_spark.hashing import (
    bottom_s,
    fold_shingle_hashes,
    oph_minhash,
    simhash64,
    u64_to_i64,
    winnow,
)

REPEATS = 5


def _positional(contents: list[bytes], cfg: SketchConfig) -> list[np.ndarray]:
    segs: list[np.ndarray] = [None] * len(contents)

    def keep(i: int, seg: np.ndarray) -> None:
        segs[i] = seg.copy()  # seg aliases a reused buffer

    fold_shingle_hashes(contents, cfg.k, cfg.seed, keep)
    return segs


def _median_s(fn) -> float:
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def kernel_rates(contents: list[bytes], cfg: SketchConfig) -> dict[str, float]:
    """MB/s (10^6 content bytes per second) per kernel."""
    mb = sum(len(c) for c in contents) / 1e6
    segs = _positional(contents, cfg)
    distinct = [np.unique(s) for s in segs]
    timings = {
        "murmur_fold": _median_s(
            lambda: fold_shingle_hashes(
                contents, cfg.k, cfg.seed, lambda i, s: None
            )
        ),
        "bottom_s": _median_s(
            lambda: [bottom_s(np.unique(s), cfg.s) for s in segs]
        ),
        "oph": _median_s(
            lambda: [oph_minhash(d, cfg.num_perm) for d in distinct]
        ),
        "simhash": _median_s(lambda: [simhash64(d) for d in distinct]),
        "winnow": _median_s(
            lambda: [winnow(s, cfg.winnow_window) for s in segs]
        ),
    }
    return {k: mb / t for k, t in timings.items()}


def sketch_columns(content: bytes, cfg: SketchConfig) -> dict:
    """One document's ``sig``, ``sig_perm``, ``simhash`` and
    ``fingerprints`` in the sketch stage's column encoding (bottom-s mode,
    the default config)."""
    seg = _positional([content], cfg)[0]
    distinct = np.unique(seg)
    return {
        "sig": u64_to_i64(bottom_s(distinct, cfg.s)).tolist(),
        "sig_perm": oph_minhash(distinct, cfg.num_perm)
        .astype(np.uint32).view(np.int32).tolist(),
        "simhash": int(
            u64_to_i64(np.array([simhash64(distinct)], dtype=np.uint64))[0]
        ),
        "fingerprints": u64_to_i64(winnow(seg, cfg.winnow_window)).tolist(),
    }
