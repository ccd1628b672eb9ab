"""Checkpointed-path bench + kill-and-resume evidence at bench scale.

BENCH/BASELINE.md measures the in-memory fused path, but a real
100 TB run uses ``EngineConfig(checkpoint_dir, checkpoint_slices)``
(plans/lineage.py): every stage commits to parquet with per-partition
lineage, and the expensive docs stage commits as independently
resumable url-hash slices.  This script measures, on the same
pre-materialized pages input as scripts/scaling_bench.py:

  1. checkpointed end-to-end wall at two parallelism levels
     (vs the in-memory wall at the same level, same session);
  2. a mid-run SIGKILL during the sliced docs stage, then a resume —
     reporting how many slices the killed run committed, that the
     resume recomputed ONLY the missing slices (committed slice
     ``_SUCCESS`` mtimes unchanged; counters say ``resumed``), and
     the resume wall vs the full checkpointed wall.

Usage:
  python scripts/checkpoint_bench.py              # full (200k docs)
  SPARK_GRAFT_BENCH_DOCS=20000 python scripts/checkpoint_bench.py

Each measured run is its own subprocess (a JVM cannot change its
master, and SIGKILL must not take the parent down).
"""

from __future__ import annotations

import glob
import json
import os
import signal
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
SLICES = int(os.environ.get("SPARK_GRAFT_CKPT_SLICES", "8"))
LEVELS = [int(x) for x in os.environ.get(
    "SPARK_GRAFT_CKPT_LEVELS", "8,32").split(",")]


def worker(cpus: int, pages_path: str, ckpt_dir: str | None,
           mode: str) -> None:
    """mode: 'memory' | 'ckpt' — one timed pipeline run."""
    sys.path.insert(0, REPO)
    from tildener_spark import get_spark
    from tildener_spark.config import EngineConfig
    from tildener_spark.datagen import gazetteer_df, pages_df
    from tildener_spark.plans.pipeline import run_pipeline
    from tildener_spark.session import noise_probe

    spark = get_spark(app_name=f"ckpt-bench-{cpus}",
                      master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
    spark.sparkContext.setLogLevel("ERROR")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        pages_df(spark, N_DOCS, partitions=64).write.parquet(pages_path)
    gaz = gazetteer_df(spark)
    pages = spark.read.parquet(pages_path)
    # steady-state warm-up (same rationale as scaling_bench.worker)
    warm = spark.read.parquet(pages_path).limit(4000).repartition(cpus)
    run_pipeline(spark, warm, gaz, EngineConfig()).canonical_triples.count()
    spark.catalog.clearCache()

    cfg = (EngineConfig(checkpoint_dir=ckpt_dir,
                        checkpoint_slices=SLICES)
           if mode == "ckpt" else EngineConfig())
    pr0 = noise_probe()
    t0 = time.perf_counter()
    res = run_pipeline(spark, pages, gaz, cfg)
    n = res.canonical_triples.count()
    sec = time.perf_counter() - t0
    pr1 = noise_probe()
    print(json.dumps({
        "cpus": cpus, "mode": mode, "sec": round(sec, 2),
        "n_triples": n,
        "docs_per_hour": round(N_DOCS / sec * 3600, 1),
        "resumed_stages": sorted(
            s for s, c in res.counters.items() if c.get("resumed")),
        "probe_cpu_ms": max(pr0["probe_cpu_ms"], pr1["probe_cpu_ms"]),
    }))
    spark.stop()


def _slice_markers(ckpt_dir: str) -> dict[str, float]:
    return {
        p: os.path.getmtime(p)
        for p in glob.glob(os.path.join(
            ckpt_dir, "docs", "slice_*", "_SUCCESS"))
    }


def _spawn(args: list[str], env: dict) -> subprocess.Popen:
    return subprocess.Popen(
        [sys.executable, os.path.abspath(__file__), *args],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, cwd=REPO, env=env,
        start_new_session=True)  # so SIGKILL hits the whole JVM tree


def main() -> None:
    if len(sys.argv) >= 6 and sys.argv[1] == "--worker":
        worker(int(sys.argv[2]), sys.argv[3],
               sys.argv[4] if sys.argv[4] != "-" else None, sys.argv[5])
        return
    work = tempfile.mkdtemp(prefix="tildener_ckpt_bench_")
    # SPARK_GRAFT_PAGES_PATH reuses a pre-generated corpus across
    # invocations (the generator itself is untimed either way)
    pages_path = os.environ.get(
        "SPARK_GRAFT_PAGES_PATH", os.path.join(work, "pages"))
    env = dict(os.environ)
    sys.path.insert(0, REPO)
    from bench import host_heap_mb
    env.setdefault("SPARK_DRIVER_MEM", f"{host_heap_mb()}m")
    report: dict = {"n_docs": N_DOCS, "slices": SLICES, "levels": {}}

    # --- 1. in-memory vs checkpointed wall per level ---------------
    for cpus in LEVELS:
        row = {}
        for mode in ("memory", "ckpt"):
            ckpt = os.path.join(work, f"ckpt_{cpus}_{mode}")
            p = _spawn(["--worker", str(cpus), pages_path,
                        ckpt if mode == "ckpt" else "-", mode], env)
            out, _ = p.communicate()
            row[mode] = json.loads(out.strip().splitlines()[-1])
        row["ckpt_overhead_x"] = round(
            row["ckpt"]["sec"] / row["memory"]["sec"], 2)
        report["levels"][str(cpus)] = row
        print(json.dumps({"level_done": cpus, **{
            m: row[m]["sec"] for m in ("memory", "ckpt")},
            "overhead_x": row["ckpt_overhead_x"]}), flush=True)

    # --- 2. kill mid-docs-stage, then resume -----------------------
    cpus = LEVELS[-1]
    ckpt = os.path.join(work, "ckpt_killed")
    p = _spawn(["--worker", str(cpus), pages_path, ckpt, "ckpt"], env)
    # wait until some (but not all) docs slices are committed
    deadline = time.time() + 3600
    while time.time() < deadline:
        done = len(_slice_markers(ckpt))
        if done >= max(2, SLICES // 2):
            break
        if p.poll() is not None:
            raise SystemExit("worker finished before kill "
                             f"({done} slices) — corpus too small?")
        time.sleep(0.5)
    os.killpg(os.getpgid(p.pid), signal.SIGKILL)
    p.wait()
    before = _slice_markers(ckpt)
    t0 = time.perf_counter()
    p2 = _spawn(["--worker", str(cpus), pages_path, ckpt, "ckpt"], env)
    out2, _ = p2.communicate()
    resume_wall = time.perf_counter() - t0
    resume = json.loads(out2.strip().splitlines()[-1])
    after = _slice_markers(ckpt)
    untouched = [p_ for p_, m in before.items()
                 if after.get(p_) == m]
    report["kill_resume"] = {
        "cpus": cpus,
        "slices_committed_at_kill": len(before),
        "slices_total": SLICES,
        "committed_slices_untouched_on_resume":
            len(untouched) == len(before),
        "resume_pipeline_sec": resume["sec"],
        "resume_wall_incl_startup_sec": round(resume_wall, 2),
        "full_ckpt_sec":
            report["levels"][str(cpus)]["ckpt"]["sec"],
        "resumed_stages": resume["resumed_stages"],
        "n_triples_after_resume": resume["n_triples"],
        "n_triples_full_run":
            report["levels"][str(cpus)]["ckpt"]["n_triples"],
    }
    print(json.dumps(report, indent=2))


if __name__ == "__main__":
    main()
