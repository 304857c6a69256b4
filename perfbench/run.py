#!/usr/bin/env python3
"""Benchmark of the sketchy_spark dedup engine.

    python3 perfbench/run.py --workload containment --seed 1 --seconds 14 --trace 0

Run from the root of a checkout. ``--workload all`` runs every workload
of BENCHMARK.json, one process each.

``--trace 0`` sets up (session, input generation, parquet staging; see
``setup_s``), then repeats the workload untraced for ``--seconds`` and
prints every end-to-end metric. ``--trace 1`` first times the Spark-free
hashing kernels, then runs the workload untraced for ``--seconds``, then
once more with a span around each call into a layer, prints every
per-layer metric and writes the spans to
``.perfbench/spans/<workload>-seed<seed>.json``.

Every run's outputs are checked against the planted truth outside the
timed region. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 1
when a run raised or failed a check, 2 when the engine cannot be
imported.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SETUP_REPEATS = 3
LAYERS = ("sketch", "lsh", "verify", "containment", "cluster")
KERNELS = ("murmur_fold", "oph", "bottom_s", "simhash", "winnow")


def _spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def _host() -> tuple[int, int]:
    """(usable cores, driver heap GiB): the heap stays at a quarter of
    physical RAM, at most 2 GiB, so the JVM, its Python workers and this
    process fit the host."""
    nproc = len(os.sched_getaffinity(0))
    ram_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return nproc, max(1, min(2, int(ram_gib // 4)))


def start_session(workdir: Path):
    """A local session sized to the host, writing only under ``workdir``."""
    from sketchy_spark.session import get_spark

    nproc, heap = _host()
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    # every JVM, the spark-submit launcher's too: no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    )
    os.environ["SKETCHY_LOCAL_DIR"] = str(workdir / "spark-local")
    os.environ["SKETCHY_DRIVER_MEM"] = f"{heap}g"
    os.environ["SKETCHY_EXECUTOR_MEM"] = f"{heap}g"
    spark = get_spark(
        "perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            # a fixed heap: RSS does not depend on when G1 grows it
            "spark.driver.extraJavaOptions": f"-Xms{heap}g",
            # the traced run reads its jobs back from the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.codegen.cache.maxEntries": "5000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class RssSampler:
    """Peak summed RSS of this process's descendants: the JVM and its
    Python workers."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()

    def _loop(self) -> None:
        page = os.sysconf("SC_PAGE_SIZE")
        while True:
            self.peak_mb = max(self.peak_mb, _tree_rss(os.getpid(), page))
            if self._stop.wait(self.interval_s):
                return


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            stat = Path(f"/proc/{d}/stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def _tree_rss(root: int, page: int) -> float:
    total = 0
    for pid in _descendants(root):
        try:
            total += int(Path(f"/proc/{pid}/statm").read_text().split()[1])
        except OSError:
            continue
    return total * page / 2**20


def _alive(pid: int) -> bool:
    try:
        state = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1]
    except OSError:
        return False
    return state.split()[0] != "Z"


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait until the JVM and the
    Python workers it started have exited."""
    from pyspark import SparkContext

    pids = _descendants(os.getpid())
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gateway.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gateway.proc.kill()
            gateway.proc.wait()
    deadline = time.monotonic() + 60
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in pids:  # still running after a minute: kill it
        if _alive(pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass


class Runner:
    """Runs one workload and keeps every run's check results."""

    def __init__(self, wl, truth, workdir: Path):
        self.wl = wl
        self.truth = truth
        self.workdir = workdir
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.leaked: list[int] = []

    def run(self, spark, staged, tracer=None):
        """One checked run; returns its RunOutput, or None if it raised or
        failed a check."""
        from checks import check_run
        from workloads import clear_cache

        self.attempted += 1
        try:
            if tracer is None:
                out = self.wl.run(spark, staged, self.workdir)
                self.leaked.append(out.leaked)
            else:
                out = self.wl.run_traced(spark, staged, self.workdir, tracer)
            chk = check_run(self.truth, out.clusters, out.sha, out.containment)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            clear_cache(spark)
            return None
        self.checks.append(chk)
        print(f"run {self.attempted}: {out.wall_s:.3f} s, batches "
              + " ".join(f"{b:.3f}" for b in out.batch_s), file=sys.stderr)
        if chk["containment_missed"]:
            print(f"run {self.attempted} missed containment pairs: "
                  f"{chk['containment_missed']}", file=sys.stderr)
        if not chk["ok"]:
            print(f"run {self.attempted} failed checks: {chk['failures']}",
                  file=sys.stderr)
            self.failed += 1
            return None
        return out

    def measure(self, spark, staged, seconds: float) -> list:
        """Start untraced runs until ``seconds`` have passed; at least
        one run."""
        outs = []
        t0 = time.perf_counter()
        while not outs or time.perf_counter() - t0 < seconds:
            out = self.run(spark, staged)
            if out is not None:
                outs.append(out)
            elif self.failed > 3:
                break
        return outs


def _setup(wl, seed: int, workdir: Path, repeats: int):
    """Start the session, generate and stage the inputs ``repeats`` times
    (each time stopping the previous session). Returns the session, the
    staged paths and the median of the repeats' times."""
    times, spark = [], None
    for _ in range(repeats):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = start_session(workdir)
        staged = wl.stage(spark, wl.generate(seed), workdir / "input")
        times.append(time.perf_counter() - t0)
    return spark, staged, statistics.median(times)


def _metric(names_units: dict, name: str, value) -> dict:
    return {"value": float(value), "unit": names_units[name]}


def bench(args, spec: dict) -> int:
    from checks import Truth
    from sketchy_spark.config import DEFAULT_CONFIG
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload]
    workdir = ROOT / ".perfbench" / f"run-{args.workload}-{os.getpid()}"
    shutil.rmtree(workdir, ignore_errors=True)
    rows = wl.generate(args.seed)
    truth = Truth.from_rows(rows)
    runner = Runner(wl, truth, workdir)
    spark = None
    try:
        if args.trace:
            from kernels import kernel_rates

            rates = kernel_rates(
                [c.encode("utf-8") for c in rows["content"]], DEFAULT_CONFIG
            )
            spark, staged, _ = _setup(wl, args.seed, workdir, 1)
            runner.run(spark, staged)  # warm run
            untraced = runner.measure(spark, staged, args.seconds)
            metrics, correct = _traced(
                args, spec, spark, staged, runner, rows, rates, untraced
            )
        else:
            spark, staged, setup_s = _setup(
                wl, args.seed, workdir, SETUP_REPEATS
            )
            warm = runner.run(spark, staged)
            with RssSampler() as rss:
                outs = runner.measure(spark, staged, args.seconds)
            correct = warm is not None and bool(outs)
            metrics = _end_to_end(
                spec, wl, runner, outs, setup_s + warm.wall_s, rss.peak_mb
            ) if correct else {}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)
    correct = correct and runner.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


def _end_to_end(spec, wl, runner, outs, setup_s, peak_mb) -> dict:
    units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    walls = [o.wall_s for o in outs]
    batches = [b for o in outs for b in o.batch_s]
    values = {
        "files_per_s": wl.n_files / statistics.median(walls),
        "batch_latency_p50_s": float(np.percentile(batches, 50)),
        "batch_latency_p90_s": float(np.percentile(batches, 90)),
        "dup_pair_recall": min(c["dup_pair_recall"] for c in runner.checks),
        "dup_pair_precision": min(
            c["dup_pair_precision"] for c in runner.checks
        ),
        "peak_rss_mb": peak_mb,
        "setup_s": setup_s,
    }
    print(f"workload {wl.name}: {wl.n_files} files, {len(outs)} timed runs "
          f"(medians over them), {runner.attempted} runs checked")
    for name, v in values.items():
        print(f"  {name:28s} {v:14.4f} {units[name]}")
    c_recall = [c["containment_recall"] for c in runner.checks
                if c["containment_recall"] is not None]
    print(f"  {'containment_recall':28s} "
          + (f"{min(c_recall):14.4f} ratio" if c_recall
             else f"{'n/a':>14s} (no containment pass on this path)"))
    for name in ("cluster_partition_ok", "sha256_ok"):
        ok = all(c[name] for c in runner.checks)
        print(f"  {name:28s} {int(ok):14d} bool")
    print(f"  {'failed_runs':28s} {runner.failed:14d} of "
          f"{runner.attempted} runs")
    return {n: _metric(units, n, values[n]) for n in units}


def _traced(args, spec, spark, staged, runner, rows, rates, untraced):
    from spans import STAGE_METRICS, Tracer

    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    tracer = Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
    out = runner.run(spark, staged, tracer)
    if out is None or not untraced:
        return {}, False
    layers = tracer.layer_metrics(LAYERS + ("checkpoint", "incremental"))
    values = {f"hashing.{k}_mb_s": rates[k] for k in KERNELS}
    for layer in LAYERS:
        for m in STAGE_METRICS:
            values[f"{layer}.{m}"] = layers[layer][m]
    counts = {
        "lsh.candidate_pairs": 0, "lsh.hot_band_keys": 0,
        "verify.verified_pairs": 0, "containment.candidate_pairs": 0,
        "containment.verified_pairs": 0, "checkpoint.bytes_written": 0,
        **out.counts,
    }
    values.update(counts)
    values["verify.accept_ratio"] = (
        counts["verify.verified_pairs"] / counts["lsh.candidate_pairs"]
        if counts["lsh.candidate_pairs"] else 0.0
    )
    values["cluster.clusters"] = out.clusters["cluster_id"].nunique()
    values["checkpoint.write_s"] = _span_total(tracer, "checkpoint.write")
    values["checkpoint.read_s"] = _span_total(tracer, "checkpoint.read")
    values["incremental.ingest_s"] = layers["incremental"]["wall_s"]
    untraced_s = statistics.median(o.wall_s for o in untraced)
    values["pipeline.cached_frames_after_unpersist"] = max(runner.leaked)
    values["pipeline.trace_overhead_s"] = out.wall_s - untraced_s
    correct = _kernels_match(spark, rows)

    selft = tracer.self_times()
    print(f"workload {args.workload}: traced run {out.wall_s:.3f} s, "
          f"untraced median {untraced_s:.3f} s over {len(untraced)} runs")
    print(f"  self time by layer (sums to the traced run): " + ", ".join(
        f"{layer} {sum(selft[s['id']] for s in tracer.spans if s['layer'] == layer):.3f} s"
        for layer in sorted({s["layer"] for s in tracer.spans})
    ))
    print(f"  hashing kernels bit-identical to sketch_files: {correct}")
    for name in units:
        print(f"  {name:42s} {values[name]:16.4f} {units[name]}")
    tracer.write(ROOT / ".perfbench" / "spans"
                 / f"{args.workload}-seed{args.seed}.json")
    return {n: _metric(units, n, values[n]) for n in units}, correct


def _span_total(tracer, prefix: str) -> float:
    return sum(s["end"] - s["start"] for s in tracer.spans
               if s["name"].startswith(prefix))


def _kernels_match(spark, rows, n: int = 64) -> bool:
    """The kernels' outputs equal the sketch stage's columns on a sample
    of ``n`` documents."""
    from kernels import sketch_columns
    from sketchy_spark.config import DEFAULT_CONFIG
    from sketchy_spark.corpus import FILES_COLUMNS
    from sketchy_spark.operators.sketch import sketch_files

    sample = rows.iloc[:: max(1, len(rows) // n)][FILES_COLUMNS]
    got = sketch_files(spark.createDataFrame(sample), DEFAULT_CONFIG).select(
        "file_id", "sig", "sig_perm", "simhash", "fingerprints"
    ).toPandas().set_index("file_id")
    for _, r in sample.iterrows():
        want = sketch_columns(r["content"].encode("utf-8"), DEFAULT_CONFIG)
        have = got.loc[f"{r['repo']}/{r['path']}"]
        if any(list(have[k]) != want[k] for k in ("sig", "sig_perm",
                                                   "fingerprints")):
            return False
        if int(have["simhash"]) != want["simhash"]:
            return False
    return True


def run_all(args, spec: dict) -> int:
    rc = 0
    for w in spec["workloads"]:
        cmd = [sys.executable, str(Path(__file__).resolve()),
               "--workload", w["name"], "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        rc = max(rc, subprocess.run(cmd, check=False).returncode)
    return rc


def main(argv=None) -> int:
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=names + ["all"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec["run_seconds"])
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    try:
        import sketchy_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args, spec)
    return bench(args, spec)


if __name__ == "__main__":
    sys.exit(main())
