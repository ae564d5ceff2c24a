"""End-to-end benchmark of ``ot_spark.pipeline.Pipeline(cfg).run(spark)``.

    python3 perfbench/run.py --workload geo_dense --seed 1 --seconds 10 --trace 0

Run from the repository root.  One process runs one workload as a closed
loop (one client, one ``Pipeline.run`` at a time, back to back) on a
``get_spark`` session with ``local[nproc]``, writing the real lineage sink.
Inputs come from ``perfbench/gen.py`` (DuckDB, no JVM, so this process's
first run stays cold) and are cached under ``.perfbench_work/cache``.
Every op's output is checked outside timing.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` is the separate
traced run: layer prefix spans, Spark SQL operator metrics mapped to layers,
job/stage/task counts, written to ``.perfbench_work/trace-*.json``.  The last
stdout line is one JSON object: ``correct``, ``attempted``, ``failed``,
``metrics``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from perfbench import session  # noqa: E402
from perfbench.session import ROOT, WORK  # noqa: E402

OP_DIR = os.path.join(WORK, "op")

# input pages per workload (the generator's ``size``)
SIZES = {
    "geo_dense": 100_000,
    "crawl_wide": 20_000,
    "resume_small": 80_000,
}
SETUP_REPS = 3
# ops after the cold one that still carry JIT warm-up (the next op is ~30%
# slower than the ones after it): checked, kept in the run record, left
# out of the medians
SETTLE_OPS = 1
MIN_WARM_OPS = 2
MIN_TRACE_ROUNDS = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def git_commit() -> str | None:
    """HEAD of the repository the benchmark runs in, if it is a checkout."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    if out.returncode != 0:
        return None
    return out.stdout.strip() or None


class Bench:
    """One workload's session, inputs and ops."""

    def __init__(self, workload: str, data: str, expect: dict):
        self.workload = workload
        self.data = data
        self.expect = expect
        self.state_dir: str | None = None
        self.ops: list[dict] = []

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """Session up, indexes built, inputs resolved.  The session is
        started once; the rest is repeated and its median taken."""
        t0 = time.perf_counter()
        self.spark = session.start("perfbench")
        session_s = time.perf_counter() - t0
        from perfbench import workload

        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            admin, raster = workload.indexes()
            cfg = workload.pipeline_config(self.data, OP_DIR, admin, raster)
            self.spark.read.parquet(cfg.pages_path).schema
            if cfg.links_path:
                self.spark.read.parquet(cfg.links_path).schema
            reps.append(time.perf_counter() - t)
        self.cfg = cfg
        self.out_dir, self.lineage_path = cfg.out_dir, cfg.lineage_path
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return session_s + median(reps)

    def prepare(self) -> None:
        """Untimed, after set-up: the output checker and, on resume_small,
        the half-committed state every op starts from."""
        from perfbench import gen
        from perfbench.check import Checker

        if self.workload == "resume_small":
            self.state_dir = os.path.join(WORK, "resume-state")
            self.expect.update(
                gen.commit_crashed_state(self.spark, self.cfg, self.state_dir)
            )
        self.checker = Checker(
            self.spark, self.data, self.expect, self.cfg.admin_index.border_cells
        )

    # ------------------------------------------------------------ ops
    def restore(self) -> None:
        shutil.rmtree(OP_DIR, ignore_errors=True)
        if self.state_dir:
            shutil.copytree(self.state_dir, OP_DIR)

    def op(self, label: str, trace=None) -> dict:
        """Restore, run, read back, check, clean up.  Only the run and the
        read are timed.  ``trace``: an OpTrace factory for the traced run."""
        from ot_spark import lineage
        from ot_spark.pipeline import Pipeline
        from perfbench import procstat

        from pyspark.sql import functions as F

        rec = {"label": label, "ok": False}
        self.restore()
        try:
            cpu0 = procstat.cpu_seconds(self.jvm_pid)
            t0 = time.perf_counter()
            if trace is None:
                info = Pipeline(self.cfg).run(self.spark)
            else:
                with trace(self.spark, label) as tr:
                    info = Pipeline(self.cfg).run(self.spark)
            rec["run_s"] = time.perf_counter() - t0
            rec["cpu_s"] = procstat.cpu_seconds(self.jvm_pid) - cpu0
            if trace is not None:
                rec["trace"] = tr
            t1 = time.perf_counter()
            (
                lineage.read_current(self.spark, self.out_dir, self.lineage_path)
                .groupBy("admin_key")
                .agg(F.count(F.lit(1)), F.avg("elev"))
                .collect()
            )
            rec["read_s"] = time.perf_counter() - t1
            rec["peak_rss_mb"] = procstat.peak_rss_mb(self.jvm_pid)
            rec["info"] = info
            t2 = time.perf_counter()
            problems, rec["observed"] = self.checker.check(
                self.out_dir, self.lineage_path, info
            )
            rec["check_s"] = time.perf_counter() - t2
            rec["problems"] = problems
            rec["ok"] = not problems
            if problems:
                log(f"{label}: output check failed: {problems}")
        except Exception:  # noqa: BLE001 — a failed op is counted, the loop goes on
            rec["problems"] = [traceback.format_exc(limit=3)]
            log(f"{label}: raised\n{rec['problems'][0]}")
        finally:
            shutil.rmtree(OP_DIR, ignore_errors=True)
        self.ops.append(rec)
        return rec

    def close(self) -> None:
        shutil.rmtree(OP_DIR, ignore_errors=True)
        if self.state_dir:
            shutil.rmtree(self.state_dir, ignore_errors=True)
        session.stop(self.spark)


# ---------------------------------------------------------------- modes

def end_to_end(bench: Bench, seconds: float, setup_s: float) -> dict:
    """The metrics over every op that ran to the end (a failed check still
    counts in ``failed``, so the run reports correct=false)."""
    cold = bench.op("cold")
    for k in range(SETTLE_OPS):
        bench.op(f"settle{k}")
    deadline = time.perf_counter() + seconds
    warm: list[dict] = []
    while time.perf_counter() < deadline or len(warm) < MIN_WARM_OPS:
        warm.append(bench.op(f"warm{len(warm)}"))
    good = [r for r in warm if "read_s" in r]
    if "read_s" not in cold or not good:
        return {}
    run_s = median([r["run_s"] for r in good])
    return {
        "setup_s": (setup_s, "s"),
        "cold_run_s": (cold["run_s"], "s"),
        "run_s": (run_s, "s"),
        "pages_per_s": (bench.expect["input_rows"] / run_s, "1/s"),
        "cpu_s": (median([r["cpu_s"] for r in good]), "s"),
        "peak_rss_mb": (max(r["peak_rss_mb"] for r in [cold] + good), "MiB"),
        "read_s": (median([r["read_s"] for r in good]), "s"),
    }


def traced(bench: Bench, seconds: float, trace_path: str) -> dict:
    """The per-layer metrics; everything behind them goes to ``trace_path``."""
    from perfbench import trace as T

    spark, cfg = bench.spark, bench.cfg
    bench.op("cold")
    for k in range(SETTLE_OPS):
        bench.op(f"settle{k}")
    rounds: list[dict] = []
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or len(rounds) < MIN_TRACE_ROUNDS:
        rnd: dict = {"prefix": []}
        for k, (step, layer) in enumerate(T.STEPS):
            df = T.prefix(spark, cfg, k)
            t0 = time.perf_counter()
            with T.OpTrace(spark, f"prefix-{step}") as tr:
                df.write.format("noop").mode("overwrite").save()
            rnd["prefix"].append({
                "step": step, "layer": layer, "s": time.perf_counter() - t0,
                "jobs": tr.jobs, "stages": tr.stages, "tasks": tr.tasks,
            })

        def untraced_run() -> None:
            rnd["untraced"] = bench.op(f"full{len(rounds)}")

        def traced_run() -> None:
            temp_dir = spark.sparkContext._temp_dir
            before = set(os.listdir(temp_dir))
            rnd["traced"] = bench.op(f"traced{len(rounds)}", trace=T.OpTrace)
            # the pickled Python broadcasts this op created
            rnd["broadcast_bytes"] = sum(
                os.path.getsize(os.path.join(temp_dir, f))
                for f in set(os.listdir(temp_dir)) - before
            )

        # alternate which full run goes first: the later one is a little
        # warmer, which would otherwise bias the tracing overhead
        first, second = (untraced_run, traced_run) if len(rounds) % 2 == 0 else (
            traced_run, untraced_run)
        first()
        second()
        rounds.append(rnd)
    full = [r["untraced"] for r in rounds if "read_s" in r["untraced"]]
    tr_ok = [r for r in rounds if "observed" in r["traced"]]
    if not full or not tr_ok:
        return {}
    run_s = median([r["run_s"] for r in full])
    p = [median([r["prefix"][k]["s"] for r in rounds]) for k in range(len(T.STEPS))]
    self_s = dict.fromkeys(T.LAYERS, 0.0)
    prev = 0.0
    for (step, layer), t in zip(T.STEPS, p):
        self_s[layer] += t - prev
        prev = t
    self_s["lineage"] = run_s - p[-1]

    last = tr_ok[-1]
    tr = last["traced"]["trace"]
    info, obs = last["traced"]["info"], last["traced"]["observed"]
    counts = T.layer_counts(tr.nodes)
    last_prefix = last["prefix"][-1]
    m = {f"{layer}.self_s": (self_s[layer], "s") for layer in T.LAYERS}
    m.update({key: (v, T.COUNTS[key]) for key, v in counts.items()})
    stage_metrics = info["metrics"]
    m.update({
        "semi.accept_ratio": (
            stage_metrics["accepted"]["rows"] / stage_metrics["input"]["rows"], "ratio"
        ),
        "parse.coord_ratio": (1 - obs["admin"].get("<none>", 0) / obs["rows"], "ratio"),
        "enrich_fused.border_rows": (obs["border_rows"], "rows"),
        "enrich_fused.border_hit_ratio": (
            obs["border_hits"] / obs["border_rows"] if obs["border_rows"] else 0.0, "ratio"
        ),
        "enrich_fused.raster_rows": (obs["raster_rows"], "rows"),
        "enrich_fused.broadcast_bytes": (last["broadcast_bytes"], "bytes"),
        "lineage.jobs": (tr.jobs - last_prefix["jobs"], "count"),
        "lineage.stages": (tr.stages - last_prefix["stages"], "count"),
        "lineage.buckets_written": (info["buckets_written"], "count"),
        "lineage.buckets_skipped": (info["buckets_skipped"], "count"),
        "spark.jobs": (tr.jobs, "count"),
        "spark.tasks": (tr.tasks, "count"),
        "spark.gc_s": (tr.gc_s, "s"),
        "trace.overhead_s": (
            median([r["traced"]["run_s"] for r in tr_ok]) - run_s, "s"
        ),
    })
    doc = {
        "prefix_medians_s": dict(zip([s for s, _ in T.STEPS], p)),
        "run_s_untraced": run_s,
        "rounds": [
            {
                "prefix": r["prefix"],
                "untraced_run_s": r["untraced"].get("run_s"),
                "traced_run_s": r["traced"].get("run_s"),
                "jobs": r["traced"]["trace"].jobs if "trace" in r["traced"] else None,
                "stages": r["traced"]["trace"].stages if "trace" in r["traced"] else None,
                "tasks": r["traced"]["trace"].tasks if "trace" in r["traced"] else None,
            }
            for r in rounds
        ],
        "sql_nodes_last_traced_run": tr.nodes,
    }
    with open(trace_path, "w") as fh:
        json.dump(doc, fh, indent=1, default=str)
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "ot_spark")):
        log(f"no ot_spark package under {ROOT}: run from the repository root")
        return 2
    env = session.pin_env()
    size = SIZES[args.workload]
    from perfbench import gen

    t0 = time.perf_counter()
    data, expect = gen.ensure(os.path.join(WORK, "cache"), args.workload, args.seed, size)
    gen_s = time.perf_counter() - t0

    bench = Bench(args.workload, data, expect)
    setup_s = bench.setup()
    try:
        bench.prepare()
        if args.trace:
            trace_path = os.path.join(
                WORK, f"trace-{args.workload}-s{args.seed}.json"
            )
            metrics = traced(bench, args.seconds, trace_path)
            log(f"trace written to {trace_path}")
        else:
            metrics = end_to_end(bench, args.seconds, setup_s)
    finally:
        bench.close()
    attempted = len(bench.ops)
    failed = sum(1 for r in bench.ops if not r["ok"])
    run_env = {
        "workload": args.workload, "seed": args.seed, "size": size,
        "input_rows": expect["input_rows"], "accepted_rows": expect["rows"],
        "seconds": args.seconds, "trace": args.trace, "gen_s": gen_s,
        "git_commit": git_commit(), "nproc": len(os.sched_getaffinity(0)),
        **{k: env[k] for k in ("SPARK_GRAFT_CPUS", "OT_SPARK_DRIVER_MEM")},
        "ops": [
            {k: r.get(k) for k in ("label", "ok", "run_s", "cpu_s", "read_s", "check_s")}
            for r in bench.ops
        ],
    }
    print(json.dumps({"run": run_env}))
    if not metrics:
        log("no successful op to measure")
        return 1
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
