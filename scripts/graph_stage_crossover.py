"""Driver path vs Spark path of the cross-document graph stage
(graph.cross_doc_components) at several vocabulary sizes: stage wall
time and peak process-tree PSS (driver JVM + Python workers).  These
are the measurements behind ``EngineConfig.cc_driver_threshold``.

Usage:
    python scripts/graph_stage_crossover.py [--sizes 10000,100000,...]
        [--skew 50000] [--cores 4] [--work DIR]

Each (size, path) runs in a fresh process with its own local[cores]
session; one JSON line per run.  The vocabulary is synthetic
(2-3 random syllable words per surface, 5% one-letter typo variants,
hub edges for 5% of the surfaces).  ``--skew N`` adds an N-row
vocabulary of 49-member near-duplicate groups, i.e. LSH buckets just
under the 50-member cap.  The Spark path is what runs above the
threshold: banding, bucket self-join and Jaro-Winkler as Spark jobs,
union-find on the driver (its edge set stays far below the limit).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import subprocess
import sys
import tempfile
import threading
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SYL = ["ba", "ka", "lī", "ņa", "ber", "zi", "ņš", "ja", "nis", "ozo", "li",
       "kal", "ve", "ri", "sa", "tu", "mā", "ra", "go", "dē", "ši", "ēr",
       "ku", "pe", "te", "lo", "vi", "do", "ma", "nu", "ār"]


def vocab_rows(n, seed=7):
    r = random.Random(seed)
    out = set()

    def word():
        w = "".join(r.choice(SYL) for _ in range(r.randint(2, 4)))
        return w[0].upper() + w[1:]
    while len(out) < n:
        t = r.choice(["PER", "ORG", "LOC"])
        s = " ".join(word() for _ in range(r.randint(2, 3)))
        out.add((t, s))
        if r.random() < 0.05:
            i = r.randrange(1, len(s))
            out.add((t, s[:i] + r.choice("aeiouš") + s[i + 1:]))
    return sorted(out)[:n]


def skew_rows(n, seed=5):
    r = random.Random(seed)
    rows = []
    while len(rows) < n:
        base = "".join(r.choice("abcdefghijklmnoprstuvz") for _ in range(20))
        rows += [("ORG", "S" + base + chr(0x100 + i)) for i in range(49)]
    return rows[:n]


def pss_tree_mb(root):
    pids, i, kb = [root], 0, 0
    while i < len(pids):
        try:
            with open(f"/proc/{pids[i]}/task/{pids[i]}/children") as f:
                pids += [int(x) for x in f.read().split()]
        except OSError:
            pass
        i += 1
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                kb += sum(int(line.split()[1]) for line in f
                          if line.startswith("Pss:"))
        except OSError:
            pass
    return kb // 1024


def one(n, path, skew, cores, work):
    sys.path.insert(0, REPO)
    from tildener_spark import get_spark
    from tildener_spark.config import EngineConfig
    from tildener_spark.operators import graph
    spark = get_spark(master=f"local[{cores}]", shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    rows = skew_rows(n) if skew else vocab_rows(n)
    r = random.Random(3)
    hub = [(f"g:{t}{graph.SEP}{s}",
            f"g:{t}{graph.SEP}{rows[r.randrange(len(rows))][1]}")
           for t, s in r.sample(rows, max(1, n // 20))]
    vpath = os.path.join(work, f"{'skew' if skew else 'v'}{n}")
    if not os.path.exists(vpath):
        spark.createDataFrame(rows, "ne_type string, surface string") \
            .repartition(cores).write.parquet(vpath + ".tmp")
        spark.createDataFrame(hub, "src string, dst string") \
            .write.parquet(vpath + ".tmp/edges")
        os.rename(vpath + ".tmp", vpath)
    vocab = spark.read.parquet(vpath).select("ne_type", "surface")
    edges = spark.read.parquet(os.path.join(vpath, "edges"))
    driver = EngineConfig(cc_driver_threshold=10 ** 9)
    # warm-up on a tiny input: Python workers, plan machinery
    small = spark.createDataFrame(rows[:200], "ne_type string, surface string")
    graph.cross_doc_components(small, edges.limit(10), driver).count()
    graph._cross_doc_components_spark(small, edges.limit(10), driver, {},
                                      None).count()

    peak = [pss_tree_mb(os.getpid())]
    base, done = peak[0], threading.Event()

    def sample():
        while not done.is_set():
            peak[0] = max(peak[0], pss_tree_mb(os.getpid()))
            time.sleep(0.05)
    th = threading.Thread(target=sample, daemon=True)
    th.start()
    counters: dict = {}
    t0 = time.perf_counter()
    if path == "spark":
        out = graph._cross_doc_components_spark(
            vocab, edges.distinct(), driver, counters, None)
    else:
        out = graph.cross_doc_components(vocab, edges, driver, counters)
    nodes = out.count()
    dt = time.perf_counter() - t0
    done.set()
    th.join()
    print(json.dumps({"rows": n, "skew": skew, "path": path,
                      "stage_s": round(dt, 2), "hub_cc_rows": nodes,
                      "pss_base_mb": base, "pss_peak_mb": peak[0],
                      "lsh_bucket_guard": counters["lsh_bucket_guard"]}),
          flush=True)
    spark.stop()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--sizes", default="10000,100000,250000,500000")
    ap.add_argument("--skew", type=int, default=0)
    ap.add_argument("--cores", type=int, default=4)
    ap.add_argument("--work", default=None)
    ap.add_argument("--one", nargs=3, metavar=("ROWS", "PATH", "SKEW"))
    a = ap.parse_args()
    if a.one:
        one(int(a.one[0]), a.one[1], a.one[2] == "1", a.cores, a.work)
        return
    work = a.work or tempfile.mkdtemp(prefix="graph_stage_crossover_")
    runs = [(int(n), 0) for n in a.sizes.split(",") if n]
    runs += [(a.skew, 1)] if a.skew else []
    env = dict(os.environ, PYTHONPATH=REPO)
    env.setdefault("SPARK_DRIVER_MEM", "3g")
    for n, skew in runs:
        for path in ("driver", "spark"):
            subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--one", str(n),
                 path, str(skew), "--cores", str(a.cores), "--work", work],
                env=env, stderr=subprocess.DEVNULL, check=False)


if __name__ == "__main__":
    main()
