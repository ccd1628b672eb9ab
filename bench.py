"""Bench harness — headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS].  Prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "docs_per_hour": ..., "cpus": ...}

The KG-pipeline throughput number (docs/hour) is measured over a
pre-materialized pages parquet (generation excluded — the pipeline is
timed from table scan to canonical-triple count, which is what a
production run does).  Scaling-efficiency evidence (N=2 vs 4N=8
cores; see BENCH/BASELINE.md "Why N=2 vs 4N=8" for the pairing
rationale) lives in scripts/scaling_bench.py -> BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS",
                          len(os.sched_getaffinity(0))))
# large enough that per-stage fixed latencies (~10 small jobs in the
# cross-document linking + CC chain, ~3-4 s total regardless of corpus
# size) amortize into steady-state throughput; round 1 used 12000 and
# its kg number was ~50% fixed latency
N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "48000"))

BENCH_QUERIES = [
    "q01_pricing_summary",
    "q03_events_sessionize",
    "q05_span_assembly",
    "q11_ngram_jaccard",
    "q12_simhash",
    "q15_quality",
]


def host_heap_mb(share: float = 0.5) -> int:
    """``share`` of the host's MemTotal (/proc/meminfo), in MiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1024, int(int(line.split()[1]) * share / 1024))
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def main() -> None:
    from tildener_spark import get_spark
    from tildener_spark.config import EngineConfig
    from tildener_spark.datagen import gazetteer_df, pages_df
    from tildener_spark.operators import similarity
    from tildener_spark.operators.similarity import lsh_topk
    from tildener_spark.plans.pipeline import run_pipeline
    import __spark_entry__ as entry_mod

    # docs cache for N_DOCS nested-token pages + the query working set
    # need real heap headroom: an 8g driver GC-thrashes at 48k docs
    # (measured 52.9s vs ~11s for the same kg run).  get_spark pins
    # -Xms to this, so it must fit the host: a share of MemTotal
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{host_heap_mb()}m")
    spark = get_spark(app_name="tildener-bench",
                      master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    queries = entry_mod.queries()

    # KG pipeline throughput FIRST, in a clean session: measured after
    # the query set, heap pollution from their caches/shuffles
    # inflates the kg number 2-4x (shared-VM best-of-N discipline,
    # BENCH/BASELINE.md)
    work = tempfile.mkdtemp(prefix="tildener_bench_")
    try:
        pages_path = os.path.join(work, "pages")
        pages_df(spark, N_DOCS, partitions=max(CPUS, 8)) \
            .write.parquet(pages_path)
        gaz = gazetteer_df(spark)
        pages = spark.read.parquet(pages_path)
        # warm JVM codegen + the Python worker pool, then measure
        # steady state (what a long-running cluster job sees)
        warm = pages.limit(500).repartition(CPUS)
        run_pipeline(spark, warm, gaz, EngineConfig()) \
            .canonical_triples.count()
        # convergent best-of-N: the shared-VM host shows occasional
        # 5-8x neighbor-load episodes (measured 9.7s vs 88.6s for the
        # SAME code+input in one day) — keep trialing until the two
        # fastest agree within 20% AND the best trial's probe window
        # read near-idle (two trials inside the same contended episode
        # agree with each other perfectly — measured a 2-trial "stable"
        # 22.8 s against a clean-window 5.4 s floor — so agreement
        # alone is false convergence), capped at max_trials
        from tildener_spark.session import noise_probe
        times: list[float] = []
        probes: list[dict] = []
        # probe acceptance ≤115 ms against the ~105-110 ms idle
        # calibration: round 4's ≤135 gate accepted a 124.7 ms
        # "clean" window and recorded a contention-inflated 19.7 s
        # as the artifact of record (r4 verdict item 1) — mildly
        # contended readings must keep trialing instead
        max_trials = int(os.environ.get("SPARK_GRAFT_TRIALS", "9"))
        probe_gate = float(os.environ.get("SPARK_GRAFT_PROBE_MS",
                                          "115"))
        while len(times) < max_trials:
            spark.catalog.clearCache()
            pr0 = noise_probe()
            t0 = time.perf_counter()
            res = run_pipeline(spark, pages, gaz, EngineConfig())
            res.canonical_triples.count()
            times.append(time.perf_counter() - t0)
            pr1 = noise_probe()
            probes.append({k: max(pr0[k], pr1[k]) for k in pr0})
            best_probe = probes[times.index(min(times))]
            if (len(times) >= 2
                    and sorted(times)[1] <= min(times) * 1.2
                    and best_probe["probe_cpu_ms"] <= probe_gate):
                break
        kg_sec = min(times)
        kg_probe = probes[times.index(kg_sec)]
        kg_trials = len(times)
        timings["kg_pipeline"] = round(kg_sec, 3)
        spark.catalog.clearCache()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    # convergent best-of-N per query: the shared-VM host contends the
    # 32-thread stages even when a single-thread probe reads near-idle
    # (round 3 measured the same q21 run at 8.1 s and 44.7 s
    # back-to-back, and a best-of-2 still recorded 8.8 s for a query
    # whose floor is 4.4 s), so keep trialing until the two fastest
    # agree within 20% (cap 4) — same discipline as the kg stage;
    # sub-second queries converge on the first pair
    # probe-gated like the kg stage (r4: a best-of-2 "agreement"
    # inside one contended episode recorded 1.5-1.8x floors for q21
    # and q11) — a trial counts as convergent only when its probe
    # window read near-idle
    from tildener_spark.session import noise_probe as _probe

    def timed(fn, max_trials: int = 6) -> float:
        times: list[float] = []
        clean: list[float] = []
        while len(times) < max_trials:
            pr0 = _probe()
            t0 = time.perf_counter()
            fn()
            times.append(time.perf_counter() - t0)
            pr1 = _probe()
            if max(pr0["probe_cpu_ms"], pr1["probe_cpu_ms"]) \
                    <= probe_gate:
                clean.append(times[-1])
            if (clean and len(times) >= 2
                    and sorted(times)[1] <= min(times) * 1.2
                    and min(clean) <= min(times) * 1.2):
                break
        return round(min(times), 3)

    for name in BENCH_QUERIES:
        timings[name] = timed(lambda: queries[name](spark, SF_DIR).count())

    # ANN scale path over the embeddings table — same (n_bits,
    # n_tables) operating point as the recall@5 >= 0.8 gate in
    # tests/test_similarity.py, so the benched config is the gated one
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    timings["q21_lsh_topk"] = timed(
        lambda: lsh_topk(emb, k=5, n_bits=5, n_tables=24).count())

    # LSH-bucketed embedding near-dup (scale sibling of the exact q19)
    timings["q19b_neardup_lsh"] = timed(
        lambda: similarity.embedding_near_duplicates_lsh(
            emb, threshold=0.45, n_bits=5, n_tables=24).count())

    # ---- tier 2: regression tripwires for the round-4 heavy
    # families (r4 verdict item 6).  Reported under a separate key so
    # the headline total stays composition-comparable across rounds.
    tier2: dict[str, float] = {}
    tier2["q60_bpe_train"] = timed(
        lambda: queries["q60_bpe_train"](spark, SF_DIR).count(),
        max_trials=3)
    tier2["q75_kmv_setops"] = timed(
        lambda: queries["q75_kmv_setops"](spark, SF_DIR).count(),
        max_trials=3)

    # KG maintenance + embedding-training tripwires at N_DOCS/4
    # (regression detection, not absolute throughput — perfbench's
    # stream_open_vocab workload measures the merge)
    from tildener_spark.operators.kgtrain import train_transe
    from tildener_spark.plans.incremental import (
        read_stage, run_pipeline_incremental)
    from pyspark.sql import functions as F
    work2 = tempfile.mkdtemp(prefix="tildener_bench_t2_")
    try:
        n2 = max(N_DOCS // 4, 4000)
        p2_path = os.path.join(work2, "pages")
        pages_df(spark, n2, partitions=max(CPUS, 8)) \
            .write.parquet(p2_path)
        p2 = spark.read.parquet(p2_path)
        is_delta = F.pmod(F.xxhash64("url"), F.lit(10)) == 0
        base, delta = p2.filter(~is_delta), p2.filter(is_delta)
        prior_dir = os.path.join(work2, "prior")
        # prior state: built once per deployment epoch (untimed)
        run_pipeline(spark, base, gaz,
                     EngineConfig(checkpoint_dir=prior_dir,
                                  checkpoint_slices=8))
        spark.catalog.clearCache()

        def incr_once():
            r2 = run_pipeline_incremental(spark, prior_dir, delta,
                                          gaz, EngineConfig())
            r2["canonical_triples"].count()
            for c in r2["caches"]:
                c.unpersist()

        tier2["kg_incremental_merge"] = timed(incr_once,
                                              max_trials=3)
        spark.catalog.clearCache()
        ct2 = read_stage(spark, prior_dir, "canonical_triples")
        tier2["kg_embed_epoch"] = timed(
            lambda: train_transe(spark, ct2, dim=8, epochs=1)
            ["embeddings"].count(), max_trials=3)
        spark.catalog.clearCache()
    finally:
        shutil.rmtree(work2, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    docs_per_hour = round(N_DOCS / kg_sec * 3600, 1)
    print(json.dumps({
        "metric": "bench_total_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "tier2": tier2,
        "tier2_total_sec": round(sum(tier2.values()), 3),
        "tier2_kg_docs": max(N_DOCS // 4, 4000),
        "sf": SF_DIR.rstrip("/").split("sf")[-1],
        "docs_per_hour": docs_per_hour,
        "kg_docs": N_DOCS,
        "kg_trials": kg_trials,
        **kg_probe,
        "cpus": CPUS,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
