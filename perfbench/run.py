#!/usr/bin/env python3
"""maup_spark benchmark: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload spatial --seed 1 --seconds 40 --trace 0

Run from the root of a source checkout (the directory holding
``maup_spark/``).  A run:

1. set-up: starts the session at local[<cores>], generates the inputs
   from ``--seed`` and runs one cheap warm-up query;
2. cold pass: every op of the workload once;
3. warm passes: the same ops WARM_PASSES more times; none starts after
   ``--seconds`` of measuring;
4. checks every op's output against its DuckDB oracle, outside the
   timed region, and prints one JSON line.

``--trace 0`` reports the end-to-end metrics (wall time less host steal
and CPU seconds of the passes, CPU seconds of set-up); ``--trace 1`` makes the same passes with
per-op spans and Spark counters and reports the per-layer metrics.  See
perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import tempfile
import time
import traceback

T_PROCESS = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from sparkstats import (  # noqa: E402
    STAGE_FIELDS,
    host_steal_ticks,
    tree_cpu_s,
    tree_peak_rss_mib,
    tree_pids,
)
from workloads import PIPELINE_STAGES, WORKLOADS, tiny  # noqa: E402

DRIVER_MEM = "3g"
# the triangle overlay keeps one triangle per document only at ENT_K=64
ENT_K = 64
WARM_PASSES = 2
# the full curation policy (PII, keep_best, DSIR, chunking) of
# scripts/bench_pipeline.py, fitted to the generated corpus: sources are
# src0..src19, docs hold at most 100 tokens, and DSIR scores run about
# -4 per unigram/bigram, so -700 drops the longest docs
PIPELINE_KW = dict(
    min_quality_e6=300_000,
    mixture_weights={"src0": 2.0, "src1": 0.0},
    scrub_pii=True,
    near_policy="keep_best",
    chunk_tokens=64,
    chunk_overlap=8,
    dsir={"target_mod": 17, "min_score": -700, "n_buckets": 4096, "hash_fn": "xxhash64"},
)
GEOM_PAIRS = {"fast_clip": 3000, "arrangement": 600}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def configure_env(work: str, cpus: int) -> None:
    """Point every file Spark, Python and the JVM write into ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    tempfile.tempdir = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_ENT_K=str(ENT_K),
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        # Spark's Python workers import maup_spark from the checkout
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options {shlex.quote(java_opts)} "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


class Run:
    """One benchmark run: the session, the inputs and everything measured."""

    def __init__(self, args, workload, work: str):
        self.args = args
        self.wl = workload
        self.work = work
        self.data = os.path.join(work, "data")
        self.traced = bool(args.trace)
        self.spark = None
        self.spans: list[dict] = []
        self.peak_rss = 0.0
        self.attempted = 0
        self.failures = 0
        self.failed_ops: set[str] = set()
        self.counts: dict[str, list[int]] = {}
        self.last_df: dict = {}
        self.wall: dict[str, float] = {}

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Returns set-up CPU seconds of the process tree."""
        import gen

        cpus = len(os.sched_getaffinity(0))
        configure_env(self.work, cpus)
        from maup_spark.queries import QUERIES
        from maup_spark.session import get_spark

        self.queries = QUERIES
        self.spark = get_spark(f"perfbench-{self.wl.name}", master=f"local[{cpus}]")
        self.sc = self.spark.sparkContext
        self.wall["session"] = time.perf_counter() - T_PROCESS
        t0 = time.perf_counter()
        rows = gen.generate(
            self.data, self.args.seed, self.wl.n_docs,
            n_orders=self.wl.n_orders, n_vecs=self.wl.n_vecs,
        )
        self.wall["generate"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        QUERIES["length_histogram"](self.spark, self.data).count()
        self.wall["setup"] = self.wall["session"] + self.wall["generate"] + (
            time.perf_counter() - t0
        )
        if self.traced:
            from sparkstats import SparkStats

            self.stats = SparkStats(self.spark)
        log(f"setup {self.wall['setup']:.2f}s (session {self.wall['session']:.2f}s) rows {rows}")
        return tree_cpu_s(os.getpid())

    # ------------------------------------------------------------ passes
    def run_pass(self, pass_idx: int) -> tuple[float, float, float]:
        """Runs every op once; returns (unshared wall s, CPU s, tracing
        wall s)."""
        trace_s = 0.0
        busy0, steal0 = host_steal_ticks()
        cpu0 = tree_cpu_s(os.getpid())
        t_pass = time.perf_counter()
        for op in self.wl.ops:
            self.spark.catalog.clearCache()
            group = f"{op}#{pass_idx}"
            if self.traced:
                self.sc.setJobGroup(group, op)
            self.attempted += 1
            try:
                t0 = time.perf_counter()
                df = self.queries[op](self.spark, self.data)
                t1 = time.perf_counter()
                n = df.count()
                t2 = time.perf_counter()
            except Exception:
                traceback.print_exc()
                self.failures += 1
                self.failed_ops.add(op)
                continue
            self.counts.setdefault(op, []).append(n)
            self.last_df[op] = df
            span = {
                "name": op, "pass": pass_idx, "start": t0, "end": t2,
                "children": [
                    {"name": "plan", "start": t0, "end": t1},
                    {"name": "run", "start": t1, "end": t2},
                ],
            }
            if self.traced:
                t3 = time.perf_counter()
                span["spark"] = self.stats.engine_counters(group)
                span["python"] = self.stats.python_counters()
                span["cache_entries"] = self.stats.cache_entries()
                trace_s += time.perf_counter() - t3
            self.spans.append(span)
            self.peak_rss = max(self.peak_rss, tree_peak_rss_mib(os.getpid()))
        wall = time.perf_counter() - t_pass
        cpu = tree_cpu_s(os.getpid()) - cpu0
        busy1, steal1 = host_steal_ticks()
        # the share of the time this machine wanted the CPU that the
        # host gave to other guests; the unshared wall time leaves it
        # out, which is what the pass takes on a machine of its own
        steal = (steal1 - steal0) / max(1, busy1 - busy0 + steal1 - steal0)
        unshared = wall * (1.0 - steal)
        log(f"pass {pass_idx}: wall {wall:.2f}s steal {steal:.1%} "
            f"unshared {unshared:.2f}s cpu {cpu:.2f}s")
        if self.traced:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return unshared, cpu, trace_s

    # ------------------------------------------------------------ checks
    def check(self) -> None:
        """Row count and value hash of every op against its oracle.  A
        mismatch, or an error while checking, fails every execution of
        that op."""
        from check import Oracle, value_hash
        from maup_spark.queries import ORACLES

        oracle = Oracle(self.data, os.path.join(self.work, "tmp"))
        try:
            for op, df in self.last_df.items():
                try:
                    want_rows, want_hash = oracle.expected(ORACLES[op])
                    ok = (
                        all(n == want_rows for n in self.counts[op])
                        and value_hash(df.toArrow()) == want_hash
                    )
                except Exception:
                    traceback.print_exc()
                    want_rows, ok = "error", False
                log(f"check {op}: rows {self.counts[op]} oracle {want_rows} "
                    f"{'MATCH' if ok else 'MISMATCH'}")
                if not ok:
                    self.failures += len(self.counts[op])
                    self.failed_ops.add(op)
        finally:
            oracle.close()

    # ------------------------------------------------------------ per-layer
    def pipeline(self) -> dict[str, float]:
        """One full training_data_pipeline run into a fresh run dir, then
        a resume over it; per-stage times come from the run's manifest.
        Checked by equal stage counts after the run and after resume."""
        from maup_spark.pipeline import training_data_pipeline

        run_dir = os.path.join(self.work, "pipeline")
        self.attempted += 2
        try:
            out = training_data_pipeline(self.spark, self.data, run_dir, **PIPELINE_KW)
            counts = {k: v.count() for k, v in out.items() if k != "runner"}
            t0 = time.perf_counter()
            out = training_data_pipeline(self.spark, self.data, run_dir, **PIPELINE_KW)
            out["pack"].count()
            resume_s = time.perf_counter() - t0
            resumed = {k: v.count() for k, v in out.items() if k != "runner"}
        except Exception:
            traceback.print_exc()
            self.failures += 2
            return {}
        ok = counts == resumed and counts["pack"] > 0
        log(f"check pipeline: stage counts {counts} "
            f"{'MATCH' if ok else 'MISMATCH'} after resume")
        if not ok:
            self.failures += 2
        with open(os.path.join(run_dir, "_manifest.jsonl")) as f:
            stage_s = {
                r["stage"]: r["wall_ms"] / 1000.0
                for r in map(json.loads, f)
                if r["status"] == "completed"
            }
        m = {f"pipeline.{st}_s": stage_s.get(st, 0.0) for st in PIPELINE_STAGES}
        m["pipeline.resume_s"] = resume_s
        return m

    def geom_microbench(self) -> dict[str, float]:
        """µs per pair of the two overlay kernels on seeded
        triangle × 2°-lattice WKB pairs, in this (driver) process."""
        import numpy as np
        import pandas as pd

        from maup_spark.geom.vector import (
            batch_intersection,
            batch_intersection_arrangement,
            batch_rect_wkb,
            batch_tri_wkb,
        )

        rng = np.random.default_rng(self.args.seed)
        out = {}
        for name, fn in (("fast_clip", batch_intersection),
                         ("arrangement", batch_intersection_arrangement)):
            n = GEOM_PAIRS[name]
            ax = np.floor(rng.uniform(-170, 170, n) * 4.0) / 4.0
            ay = np.floor(rng.uniform(-80, 80, n) * 4.0) / 4.0
            # the lattice cell holding each triangle's centroid overlaps it
            cx = np.floor((ax + 0.8 + 180.0) / 2.0) * 2.0 - 180.0
            cy = np.floor((ay + 0.8 + 90.0) / 2.0) * 2.0 - 90.0
            tri = pd.Series(batch_tri_wkb(ax, ay, 2.5))
            cell = pd.Series(batch_rect_wkb(cx, cy, cx + 2.0, cy + 2.0))
            times = []
            for _ in range(3):
                t0 = time.perf_counter()
                fn(tri, cell, with_wkb=False)
                times.append(time.perf_counter() - t0)
            out[f"geom.{name}_us_per_pair"] = median(times) / n * 1e6
        return out

    def per_layer(self, cold: tuple, warm: list[tuple]) -> dict[str, float]:
        """Every per-layer metric; ops outside this workload read 0."""
        spans = {(s["name"], s["pass"]): s for s in self.spans}
        warm_idx = range(1, 1 + len(warm))

        def run_s(span):
            return span["children"][1]["end"] - span["children"][1]["start"]

        def per_pass(idx, section, key):
            return sum(s[section][key] for (_, p), s in spans.items() if p == idx)

        t0 = time.perf_counter()
        self.queries["point_cells"](self.spark, self.data).count()
        m = {
            "session.start_s": self.wall["session"],
            "datagen.generate_s": self.wall["generate"],
            "datagen.points_s": time.perf_counter() - t0,
        }
        for op in sorted({op for w in WORKLOADS.values() for op in w.ops}):
            cold_span = spans.get((op, 0))
            hot = [spans[(op, i)] for i in warm_idx if (op, i) in spans]
            plan = cold_span["children"][0] if cold_span else None
            m[f"op.{op}.plan_s"] = plan["end"] - plan["start"] if plan else 0.0
            m[f"op.{op}.run_s"] = median(run_s(s) for s in hot)
            m[f"op.{op}.py_init_s"] = cold_span["python"]["py_init_s"] if cold_span else 0.0
            m[f"op.{op}.py_run_s"] = median(s["python"]["py_run_s"] for s in hot)
            m[f"op.{op}.arrow_bytes"] = median(s["python"]["arrow_bytes"] for s in hot)
        m["py.init_s"] = per_pass(0, "python", "py_init_s")
        m["py.run_s"] = median(per_pass(i, "python", "py_run_s") for i in warm_idx)
        m["arrow.bytes"] = median(per_pass(i, "python", "arrow_bytes") for i in warm_idx)
        for key in STAGE_FIELDS:
            m[key] = median(per_pass(i, "spark", key) for i in warm_idx)
        m["cache.leaked_entries"] = sum(
            s["cache_entries"] for (_, p), s in spans.items() if p == 0
        )
        pipeline = self.pipeline() if self.wl.pipeline else {}
        for key in [f"pipeline.{st}_s" for st in PIPELINE_STAGES] + ["pipeline.resume_s"]:
            m[key] = pipeline.get(key, 0.0)
        m.update(self.geom_microbench())
        m["wall.setup_s"] = self.wall["setup"]
        m["trace.cold_pass_s"] = cold[0]
        m["trace.warm_pass_s"] = median(w[0] for w in warm)
        m["trace.warm_pass_cpu_s"] = median(w[1] for w in warm)
        m["trace.self_s"] = median(w[2] for w in warm)
        m["mem.peak_rss_mb"] = self.peak_rss
        return m

    # ------------------------------------------------------------ teardown
    def stop(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to exit."""
        from pyspark import SparkContext

        children = tree_pids(os.getpid())[1:]
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            if gateway.proc is not None:
                # the JVM exits when its stdin closes
                gateway.proc.stdin.close()
                try:
                    gateway.proc.wait(timeout=60)
                except Exception:
                    gateway.proc.kill()
                    gateway.proc.wait()
        deadline = time.time() + 30
        while alive := [p for p in children if _alive(p)]:
            if time.time() > deadline:
                for p in alive:
                    try:
                        os.kill(p, 9)
                    except OSError:
                        pass
                deadline = time.time() + 30
            time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def unit_of(name: str) -> str:
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith("_us_per_pair"):
        return "us"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    return "count"


def write_trace(run: Run, args) -> None:
    """Spans are kept in memory during the run and written once here."""
    out = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, f"{args.workload}-seed{args.seed}.json")
    with open(path, "w") as f:
        json.dump({"workload": args.workload, "seed": args.seed, "spans": run.spans}, f)
    log(f"spans written to {path}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="smoke-test input sizes")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "maup_spark", "__init__.py")):
        log(f"no maup_spark package under {ROOT}: run from a source checkout")
        return 2
    sys.path.insert(0, ROOT)

    wl = tiny(WORKLOADS[args.workload]) if args.tiny else WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".perfbench", f"{wl.name}-s{args.seed}-p{os.getpid()}")
    run = Run(args, wl, work)
    try:
        setup_cpu = run.setup()
        t_measure = time.perf_counter()
        cold = run.run_pass(0)
        warm = []
        while len(warm) < (1 if args.tiny else WARM_PASSES) and (
            not warm or time.perf_counter() - t_measure < args.seconds
        ):
            warm.append(run.run_pass(len(warm) + 1))
        run.check()
        if args.trace:
            metrics = run.per_layer(cold, warm)
            write_trace(run, args)
        else:
            metrics = {
                "setup_s": setup_cpu,
                "cold_pass_s": cold[0],
                "warm_pass_s": median(w[0] for w in warm),
                "cold_pass_cpu_s": cold[1],
                "warm_pass_cpu_s": median(w[1] for w in warm),
            }
    finally:
        run.stop()
        shutil.rmtree(work, ignore_errors=True)
    log(f"failed_op_frac {run.failures}/{run.attempted} ops {sorted(run.failed_ops)}")
    print(json.dumps({
        "correct": run.failures == 0,
        "attempted": run.attempted,
        "failed": run.failures,
        "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
