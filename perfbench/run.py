#!/usr/bin/env python3
"""Repository benchmark for the NN-Descent engine (spark_nnd_spark).

    python3 perfbench/run.py --workload build_dense784 --seed 1 --seconds 16 --trace 0

Run from the repository root. One process, one Spark session on
``local[nproc]``, one closed-loop client issuing one ``build_graph`` at a
time:

1. set-up (``setup_s``): start the session, generate the workload's points
   from ``--seed`` and persist them in memory, then build the K-NN graph
   once. That first build of the session is the warm-up: a fresh JVM runs
   its first ``build_graph`` far slower than later ones.
2. timed loop: builds of the same points run back to back until
   ``--seconds`` have passed, at least one. Each is timed from the
   ``build_graph`` call until its (id, neighbors) rows reach the driver.
3. every build's output is checked outside its timed window, against the
   graph invariants and a numpy brute-force oracle; a build that fails a
   check counts as failed.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics,
medians over the timed builds. ``--trace 1`` reports the per-layer
metrics, read from Spark's REST job/stage records, the ``on_iteration``
hook and ``sc.setJobGroup`` tags set from that hook; it also persists the
warm-up graph as a K-NN graph index and times one extend and one probe of
it. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path
from typing import Callable

import numpy as np

import inputs as I

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

# Reference README parameters (K, maxIterations, earlyTermination,
# sampleRate, bucketsPerInstance) plus the engine's explicit seed.
NND = dict(k=10, max_iterations=5, early_termination=0.01, sample_rate=1.0, buckets_per_instance=4, seed=42)
INPUT_PARTITIONS = 4
DRIVER_MEMORY = "4g"
EXTEND_BATCH = 32
PROBE_QUERIES = 64

E2E_UNITS = {
    "setup_s": "s",
    "success_ratio": "ratio",
    "build_s": "s",
    "build_shuffle_mb": "MB",
    "build_max_stage_shuffle_mb": "MB",
    "recall_at_10": "ratio",
}

_DESCENT_METRICS = ("jobs", "stages", "tasks", "task_run_s", "jvm_cpu_s", "offjvm_s", "core_occupancy",
                    "driver_gap_s", "fetch_wait_s", "shuffle_write_time_s", "gc_s", "spill_mb", "failed_tasks")
_EXTEND_METRICS = ("jobs", "tasks", "driver_gap_s", "task_run_s", "core_occupancy", "input_mb", "shuffle_mb")
_SEARCH_METRICS = ("jobs", "tasks", "input_mb", "driver_gap_s", "task_run_s", "shuffle_mb")


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("core_occupancy", "recall_at_10")):
        return "ratio"
    return "count"


LAYER_UNITS = {
    name: _unit(name)
    for name in (
        ["session.start_s", "schemas.validate_s", "schemas.validate_jobs", "descent.iterations"]
        + [f"descent.updates.iter{i}" for i in range(1, NND["max_iterations"] + 1)]
        + ["descent.init_iter1_s", "descent.iter_s", "descent.assemble_s", "descent.iter_shuffle_mb"]
        + [f"descent.{m}" for m in _DESCENT_METRICS]
        + ["index.build_s", "index.extend_s"]
        + [f"index.extend.{m}" for m in _EXTEND_METRICS]
        + ["index.extend.bytes_written_mb", "index.extend.files_written", "index.probe_s"]
        + [f"index.search.{m}" for m in _SEARCH_METRICS]
        + ["index.search.recall_at_10", "trace.overhead_s"]
    )
}


@dataclass(frozen=True)
class Workload:
    gen: Callable[[int, np.ndarray], np.ndarray]  # (seed, ids) -> features
    n: int  # points, ids 0..n-1


WORKLOADS = {
    "build_dense784": Workload(I.emnist_like, n=500),
    "build_lowdim16": Workload(functools.partial(I.clustered, n_clusters=20), n=500),
}


def _log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _dir_size(path: Path) -> tuple[int, int]:
    files = [p for p in path.rglob("*") if p.is_file()]
    return sum(p.stat().st_size for p in files), len(files)


class Bench:
    """One process's session and inputs for one workload."""

    def __init__(self, wl: Workload, seed: int):
        from spark_nnd_spark import get_spark
        from spark_stats import SparkStats

        self.k = NND["k"]
        t = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            extra_conf={
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.local.dir": str(WORK / "spark-local"),
                "spark.sql.warehouse.dir": str(WORK / "warehouse"),
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData",
            },
        )
        self.session_s = time.perf_counter() - t
        self.sc = self.spark.sparkContext
        self.stats = SparkStats(self.spark)

        self.points = I.make_points(wl.gen, seed, 0, wl.n)
        self.points_df = self._frame(self.points, "id", "features")
        # Extend batch and probe queries for the traced index ops: ids past
        # the points', from the same generator.
        self.batch = I.make_points(wl.gen, seed, wl.n, EXTEND_BATCH)
        self.queries = I.make_points(wl.gen, seed, 2 * wl.n + EXTEND_BATCH, PROBE_QUERIES)
        self.index = WORK / "index"
        self._exact = None

    def _frame(self, pts: I.Points, id_col: str, vec_col: str):
        """Persist rows in memory in id order over a fixed number of
        partitions: ``build_graph``'s output depends on physical row order,
        so every build must read the same layout."""
        import pandas as pd

        pdf = pd.DataFrame({id_col: pts.ids, vec_col: list(pts.feats)})
        return (
            self.spark.createDataFrame(pdf, f"{id_col} long, {vec_col} array<double>")
            .coalesce(INPUT_PARTITIONS)
            .localCheckpoint(eager=True)
        )

    def build(self, traced: bool) -> dict:
        """One ``build_graph``, consumed by fetching (id, neighbors) to the
        driver. ``check`` validates the output afterwards."""
        from spark_nnd_spark.nnd.descent import build_graph

        updates, ticks = [], []

        def on_iteration(i: int, updated: int) -> None:
            updates.append(updated)
            ticks.append(time.time())
            if traced:
                self.sc.setJobGroup(f"descent.iter{i + 1}", "perfbench traced build")

        mark = self.stats.mark()
        if traced:
            self.sc.setJobGroup("descent.iter1", "perfbench traced build")
        t0, p0 = time.time(), time.perf_counter()
        graph = build_graph(self.points_df, on_iteration=on_iteration, **NND)
        table = graph.select("id", "neighbors").toArrow()
        build_s = time.perf_counter() - p0
        t1 = time.time()
        if traced:
            self.sc.setJobGroup("perfbench", "untraced")
        run = self.stats.window(mark, t0, t1)
        rec = {"build_s": build_s, "iterations": len(updates), "build_shuffle_mb": run["shuffle_mb"],
               "build_max_stage_shuffle_mb": run["max_stage_shuffle_mb"], "graph": graph, "table": table}
        if traced:
            rec["layer"] = self._descent_layer(mark, t0, t1, ticks, updates, run)
        return rec

    def _descent_layer(self, mark, t0, t1, ticks, updates, run) -> dict:
        n = len(updates)
        gaps = [b - a for a, b in zip(ticks, ticks[1:])]
        # Jobs after the last callback carry group iter{n+1}: the assembly.
        iter_mb = [self.stats.window(mark, t0, t1, group=f"descent.iter{i}")["shuffle_mb"] for i in range(2, n + 1)]
        layer = {
            "descent.iterations": n,
            "descent.init_iter1_s": ticks[0] - t0,
            "descent.iter_s": statistics.median(gaps) if gaps else 0.0,
            "descent.assemble_s": t1 - ticks[-1],
            "descent.iter_shuffle_mb": statistics.median(iter_mb) if iter_mb else 0.0,
        }
        for i in range(1, NND["max_iterations"] + 1):
            layer[f"descent.updates.iter{i}"] = updates[i - 1] if i <= n else 0
        layer.update({f"descent.{m}": run[m] for m in _DESCENT_METRICS})
        return layer

    def check(self, rec: dict) -> None:
        """Graph invariants and recall against the exact K-NN graph."""
        rows = rec.pop("table").to_pydict()
        found = I.check_graph(rows["id"], rows["neighbors"], self.points.ids, self.k)
        if self._exact is None:
            self._exact = I.exact_topk(self.points, self.points.feats, self.k, exclude_self=True)
        rec["recall_at_10"] = I.recall(found, self.points.ids, self._exact)

    def timed_build(self, traced: bool) -> dict:
        """A build with its output check. A raised error or a failed check
        marks the build failed; its timings still count."""
        try:
            rec = self.build(traced)
        except Exception:  # noqa: BLE001 — one failed op must not end the run
            _log(traceback.format_exc())
            return {"ok": False}
        try:
            self.check(rec)
            rec["ok"] = True
        except AssertionError:
            _log(f"build output check failed:\n{traceback.format_exc()}")
            rec["ok"] = False
        rec.pop("graph")
        return rec

    def validate_layer(self) -> dict:
        """``normalize_points`` + ``validate_points`` as their own call."""
        from spark_nnd_spark.schemas import normalize_points, validate_points

        mark = self.stats.mark()
        t0, p0 = time.time(), time.perf_counter()
        validate_points(normalize_points(self.points_df))
        validate_s = time.perf_counter() - p0
        return {"schemas.validate_s": validate_s,
                "schemas.validate_jobs": self.stats.window(mark, t0, time.time())["jobs"]}

    def index_layer(self, graph) -> tuple[dict, bool]:
        """Persist ``graph`` as a K-NN graph index, extend it by the batch,
        probe it with the queries, and check both results. Returns the
        layer metrics and whether the checks passed."""
        from spark_nnd_spark.operators import knn_graph_index as KG

        p0 = time.perf_counter()
        KG.persist_graph_index(graph, str(self.index), **NND)
        layer = {"index.persist_s": time.perf_counter() - p0}
        bytes0, files0 = _dir_size(self.index)

        self.sc.setJobGroup("index.extend", "perfbench traced extend")
        batch_df = self._frame(self.batch, "id", "features")
        mark = self.stats.mark()
        t0, p0 = time.time(), time.perf_counter()
        KG.extend_knn_graph_index(self.spark, str(self.index), batch_df)
        layer["index.extend_s"] = time.perf_counter() - p0
        ext = self.stats.window(mark, t0, time.time())
        bytes1, files1 = _dir_size(self.index)
        layer.update({f"index.extend.{m}": ext[m] for m in _EXTEND_METRICS})
        layer["index.extend.bytes_written_mb"] = (bytes1 - bytes0) / 1e6
        layer["index.extend.files_written"] = files1 - files0

        self.sc.setJobGroup("index.search", "perfbench traced search")
        queries_df = self._frame(self.queries, "query_id", "q_vec")
        mark = self.stats.mark()
        t0, p0 = time.time(), time.perf_counter()
        hits = KG.graph_index_search(self.spark, str(self.index), queries_df, k=self.k, use_anchors=True).toArrow()
        layer["index.probe_s"] = time.perf_counter() - p0
        search = self.stats.window(mark, t0, time.time())
        layer.update({f"index.search.{m}": search[m] for m in _SEARCH_METRICS})
        self.sc.setJobGroup("perfbench", "untraced")

        stored = I.Points(np.concatenate([self.points.ids, self.batch.ids]),
                          np.concatenate([self.points.feats, self.batch.feats]))
        layer["index.search.recall_at_10"] = 0.0
        try:
            rows = KG.read_graph(self.spark, str(self.index)).select("id", "neighbors").toArrow().to_pydict()
            I.check_graph(rows["id"], rows["neighbors"], stored.ids, self.k)
            found = I.check_search(hits.to_pydict(), stored.ids, self.queries.ids, self.k)
        except AssertionError:
            _log(f"extend/probe output check failed:\n{traceback.format_exc()}")
            return layer, False
        exact = I.exact_topk(stored, self.queries.feats, self.k, exclude_self=False)
        layer["index.search.recall_at_10"] = I.recall(found, self.queries.ids, exact)
        return layer, True

    def stop(self) -> None:
        """Stop the session, then end the JVM pyspark launched (it exits
        when its stdin closes) and wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway  # noqa: SLF001
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def _median(recs: list[dict], key: str) -> float:
    return statistics.median(r[key] for r in recs)


def run(name: str, wl: Workload, seed: int, seconds: float, trace: bool) -> dict:
    t_start = time.perf_counter()
    bench = Bench(wl, seed)
    try:
        warm = bench.build(traced=False)
        setup_s = time.perf_counter() - t_start
        _log(f"{name} seed={seed}: setup {setup_s:.2f}s (session {bench.session_s:.2f}s, "
             f"warm-up build {warm['build_s']:.2f}s)")
        try:
            bench.check(warm)
            warm_ok = True
        except AssertionError:
            _log(f"first build output check failed:\n{traceback.format_exc()}")
            warm_ok = False

        # Untraced runs trace nothing; traced runs alternate untraced and
        # traced builds, so they can report the tracing overhead.
        recs = []
        deadline = time.perf_counter() + seconds
        while len(recs) < (2 if trace else 1) or time.perf_counter() < deadline:
            traced = trace and len(recs) % 2 == 1
            recs.append(bench.timed_build(traced) | {"traced": traced})
            _log(f"build {len(recs)}: ok={recs[-1]['ok']} build_s={recs[-1].get('build_s', float('nan')):.2f} "
                 f"iterations={recs[-1].get('iterations')}")

        passed = sum(r["ok"] for r in recs)
        timed = [r for r in recs if "build_s" in r]
        if not timed:
            raise RuntimeError("no build completed")
        result = {"correct": warm_ok and passed == len(recs), "attempted": len(recs), "failed": len(recs) - passed}
        if not trace:
            checked = [r for r in timed if "recall_at_10" in r]
            metrics = {
                "setup_s": setup_s,
                "success_ratio": passed / len(recs),
                "build_s": _median(timed, "build_s"),
                "build_shuffle_mb": _median(timed, "build_shuffle_mb"),
                "build_max_stage_shuffle_mb": _median(timed, "build_max_stage_shuffle_mb"),
                "recall_at_10": _median(checked, "recall_at_10") if checked else 0.0,
            }
            units = E2E_UNITS
        else:
            traced_recs = [r for r in timed if r["traced"]]
            metrics = {"session.start_s": bench.session_s}
            metrics.update(bench.validate_layer())
            metrics.update(traced_recs[0]["layer"])
            metrics["trace.overhead_s"] = (_median(traced_recs, "build_s")
                                           - _median([r for r in timed if not r["traced"]], "build_s"))
            index, index_ok = bench.index_layer(warm["graph"])
            result["correct"] = result["correct"] and index_ok
            metrics.update(index)
            metrics["index.build_s"] = warm["build_s"] + metrics.pop("index.persist_s")
            units = LAYER_UNITS
        result["metrics"] = {m: {"value": metrics[m], "unit": u} for m, u in units.items()}
        return result
    finally:
        bench.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "spark_nnd_spark" / "__init__.py").is_file():
        _log(f"no spark_nnd_spark package under {ROOT}: run from a full checkout")
        return 2
    shutil.rmtree(WORK, ignore_errors=True)
    (WORK / "tmp").mkdir(parents=True)
    # Everything Spark, the JVM and Python's tempfile write stays in WORK.
    os.environ.update({
        "TMPDIR": str(WORK / "tmp"),
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "PYSPARK_PYTHON": sys.executable,
    })
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args.workload, WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
