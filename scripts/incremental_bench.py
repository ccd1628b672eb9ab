"""Incremental-maintenance bench: merging a 10% delta batch into a
prior checkpointed run vs re-running the full batch, same box, same
input (the daily-crawl-batch scenario of plans/incremental.py).

Phases (one JVM, local[N]):
  1. full      — in-memory fused run over 100% of the pages (the
                 baseline a non-incremental engine pays every batch);
  2. prior     — checkpointed run over the 90% base (the state a
                 deployment builds ONCE, amortized across batches;
                 timed for completeness, not part of the ratio);
  3. incr      — run_pipeline_incremental(prior, 10% delta): the
                 recurring cost of a batch under maintenance.

Correctness is asserted inline: the incremental canonical-triple
count must equal the full run's bit-identical count (the stronger
row-level identity is pinned by tests/test_incremental.py and the
kg_incremental oracle row).

Usage: python scripts/incremental_bench.py
  SPARK_GRAFT_BENCH_DOCS (default 200000), SPARK_GRAFT_CPUS (32),
  SPARK_GRAFT_TRIALS (2, best-of), SPARK_DRIVER_MEM (keep it inside
  the host's memory: get_spark pins -Xms to it).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

N_DOCS = int(os.environ.get("SPARK_GRAFT_BENCH_DOCS", "200000"))
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TRIALS = int(os.environ.get("SPARK_GRAFT_TRIALS", "2"))
DELTA_MOD = 10  # 1/10th of urls form the delta batch


def main() -> None:
    from pyspark.sql import functions as F

    from tildener_spark import get_spark
    from tildener_spark.config import EngineConfig
    from tildener_spark.datagen import gazetteer_df, pages_df
    from tildener_spark.plans.incremental import (
        run_pipeline_incremental)
    from tildener_spark.plans.pipeline import run_pipeline
    from tildener_spark.session import noise_probe

    work = tempfile.mkdtemp(prefix="tildener_incr_")
    pages_path = os.path.join(work, "pages")
    prior_dir = os.path.join(work, "prior")
    spark = get_spark(app_name="incremental-bench",
                      master=f"local[{CPUS}]",
                      shuffle_partitions=max(CPUS, 8))
    spark.sparkContext.setLogLevel("ERROR")
    pages_df(spark, N_DOCS, partitions=128).write.parquet(pages_path)
    pages = spark.read.parquet(pages_path)
    is_delta = F.pmod(F.xxhash64("url"), F.lit(DELTA_MOD)) == 0
    base, delta = pages.filter(~is_delta), pages.filter(is_delta)
    n_delta = delta.count()
    gaz = gazetteer_df(spark)

    # warm-up (codegen + UDF worker pool; see scaling_bench.py)
    warm = pages.limit(8000).repartition(CPUS)
    run_pipeline(spark, warm, gaz,
                 EngineConfig()).canonical_triples.count()
    spark.catalog.clearCache()

    def timed(fn):
        best, out = None, None
        for _ in range(TRIALS):
            p0 = noise_probe()
            t0 = time.perf_counter()
            r = fn()
            sec = time.perf_counter() - t0
            p1 = noise_probe()
            if best is None or sec < best:
                best, out = sec, (r, {k: max(p0[k], p1[k])
                                      for k in p0})
            spark.catalog.clearCache()
        return best, out[0], out[1]

    full_sec, n_full, probe_full = timed(
        lambda: run_pipeline(spark, pages, gaz, EngineConfig())
        .canonical_triples.count())

    # prior state: built once per deployment epoch, not per batch
    shutil.rmtree(prior_dir, ignore_errors=True)
    t0 = time.perf_counter()
    run_pipeline(spark, base, gaz,
                 EngineConfig(checkpoint_dir=prior_dir,
                              checkpoint_slices=8))
    prior_sec = time.perf_counter() - t0
    spark.catalog.clearCache()

    def incr_once():
        res = run_pipeline_incremental(spark, prior_dir, delta, gaz,
                                       EngineConfig())
        n = res["canonical_triples"].count()
        for c in res["caches"]:
            c.unpersist()
        return n

    incr_sec, n_incr, probe_incr = timed(incr_once)

    assert n_incr == n_full, (n_incr, n_full)
    print(json.dumps({
        "n_docs": N_DOCS, "n_delta": n_delta, "cpus": CPUS,
        "full_sec": round(full_sec, 2),
        "prior_sec": round(prior_sec, 2),
        "incr_sec": round(incr_sec, 2),
        "incr_over_full": round(incr_sec / full_sec, 3),
        "n_triples": n_full,
        "probe_full": probe_full, "probe_incr": probe_incr,
    }))
    spark.stop()
    shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
