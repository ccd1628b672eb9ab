"""Benchmark worker: runs one workload of the KG-construction benchmark
in this process and writes its result as JSON.  ``run.py`` starts it as
the leader of a new session and owns process cleanup; this process
only stops Spark and, if its parent disappears, kills its own session.

Both workloads are closed loops with one client: the next operation
starts when the previous one ends, on ``local[<cores>]``.

* ``batch_large`` -- a user runs the whole build and waits.  Pages are
  generated once and written to parquet; then ``run_pipeline`` runs in
  memory and its canonical triples are counted, again and again.  The
  first build runs in a cold session (``bootstrap_s``); the later ones
  give ``build_s``.
* ``stream_open_vocab`` -- a user drains daily crawl drops with an
  ``availableNow`` trigger of ``kg_maintenance_query``, one drop per
  micro-batch.  Drop 0 is the checkpointed bootstrap epoch; every later
  drop carries re-crawls of earlier urls and renamed out-of-gazetteer
  names, so the surface vocabulary grows batch over batch.  At the end
  the KG state is checked against a full in-memory rebuild
  (``build_s`` on this workload).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shutil
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from layertrace import (  # noqa: E402
    Tracer, attribute_jobs, median, read_event_log, self_times)
from run import session_pids  # noqa: E402

BATCH_PAGES = 4000
MIN_STEADY_BUILDS = 3
STREAM_BOOT_PAGES = 400
STREAM_DROPS = 2
STREAM_DROP_PAGES = 150
RECRAWL_FRAC = 0.1
MIN_PR = 0.95
PAGES_SCHEMA = "url string, warc_ts timestamp, text string, lang string"


# --------------------------------------------------------------- helpers

def watch_parent(parent: int, work: str) -> None:
    """If ``run.py`` dies (even by SIGKILL), kill this session and
    remove the run's work directory, which ``run.py`` no longer can."""
    def loop():
        while os.getppid() == parent:
            time.sleep(0.5)
        me = os.getpid()
        for pid in session_pids(os.getsid(0)):
            if pid != me:
                try:
                    os.kill(pid, 9)
                except ProcessLookupError:
                    pass
        shutil.rmtree(work, ignore_errors=True)
        os._exit(137)
    threading.Thread(target=loop, daemon=True).start()


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - T0:7.2f}s {msg}",
          file=sys.stderr, flush=True)


def write_pages(path: str, pages: list[dict], files: int,
                prefix: str = "part", mtime: float | None = None) -> str:
    """Write ``pages`` as ``files`` parquet files under ``path`` (a
    directory): one file is one input partition, so fewer files than
    cores would leave cores idle in the docs pass."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    schema = pa.schema([("url", pa.string()),
                        ("warc_ts", pa.timestamp("us", tz="UTC")),
                        ("text", pa.string()), ("lang", pa.string())])
    os.makedirs(path, exist_ok=True)
    for i in range(files):
        f = os.path.join(path, f"{prefix}-{i:03d}.parquet")
        pq.write_table(pa.Table.from_pylist(
            [{k: p[k] for k in schema.names} for p in pages[i::files]],
            schema=schema), f)
        if mtime is not None:
            os.utime(f, (mtime, mtime))
    return path


def write_gold(path: str, pages: list[dict]) -> str:
    """Gold triples keyed like ``triple_prf`` compares them."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    pq.write_table(pa.Table.from_pylist(
        [{"url": p["url"], "subj": t["subj"], "pred": t["pred"],
          "obj": t["obj"]} for p in pages for t in p["gold_triples"]],
        schema=pa.schema([(c, pa.string())
                          for c in ("url", "subj", "pred", "obj")])),
        path)
    return path


def digest(df, cols) -> tuple[int, int]:
    """Row count and an order-independent content hash."""
    from pyspark.sql import functions as F
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*cols), F.lit(2 ** 31 - 1))).alias("h"),
    ).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


def release(spark, res) -> None:
    for h in res.extra.get("caches", []):
        h.unpersist()
    spark.catalog.clearCache()


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def du_bytes(paths) -> int:
    total = 0
    for p in paths:
        for dirpath, _dirs, files in os.walk(p):
            total += sum(os.path.getsize(os.path.join(dirpath, f))
                         for f in files)
    return total


def install_tracer(tracer: Tracer) -> None:
    import tildener_spark.operators.components  # noqa: F401
    import tildener_spark.operators.graph  # noqa: F401
    import tildener_spark.operators.linking  # noqa: F401
    import tildener_spark.plans.incremental  # noqa: F401
    import tildener_spark.plans.lineage  # noqa: F401
    import tildener_spark.plans.pipeline  # noqa: F401
    import tildener_spark.streaming.kgstream  # noqa: F401

    def pipeline_after(span, _args, _kwargs, res):
        span["attrs"]["counters"] = res.counters
        caches = res.extra.get("caches") or []
        if caches:
            # the docs cache is an InMemoryRelation: its stats are the
            # materialized size, read without running a job
            span["attrs"]["cache_b"] = int(
                caches[0]._jdf.queryExecution().optimizedPlan()
                .stats().sizeInBytes())

    def incremental_after(span, _args, _kwargs, res):
        span["attrs"]["counters"] = res["counters"]

    def cc_after(span, _args, _kwargs, out):
        span["attrs"]["nodes"] = out.count()

    def read_before(args, _kwargs):
        state = args[0]
        eps = state.epochs()
        paths = [os.path.join(e, t) for e in eps
                 for t in ("docs", "triples_dc")]
        paths += [os.path.join(eps[-1], t)
                  for t in ("mapping", "hub_components")]
        tracer.pending_read_b = du_bytes(paths)

    def read_after(span, _args, _kwargs, _out):
        span["attrs"]["prior_b"] = tracer.pending_read_b

    def merge_before(_args, kwargs):
        tracer.op = f"batch-{kwargs.get('batch_id')}"

    def merge_after(span, args, _kwargs, _out):
        span["attrs"]["state_b"] = du_bytes([args[0].dir])

    tracer.install([
        ("tildener_spark.plans.pipeline", "run_pipeline",
         "pipeline.run_pipeline", None, pipeline_after),
        ("tildener_spark.operators.linking", "lsh_candidate_pairs",
         "linking.lsh", None, None),
        ("tildener_spark.operators.components", "connected_components",
         "components.cc", None, cc_after),
        ("tildener_spark.operators.graph", "build_entity_graph",
         "graph.build_entity_graph", None, None),
        ("tildener_spark.operators.graph", "canonicalize_triples_fused",
         "graph.canonicalize_triples_fused", None, None),
        ("tildener_spark.plans.lineage", "checkpoint_stage",
         "lineage.checkpoint", None, None),
        ("tildener_spark.plans.incremental", "run_pipeline_incremental",
         "incremental.run_pipeline_incremental", None, incremental_after),
        ("tildener_spark.streaming.kgstream", "KGState.read",
         "kgstream.read", read_before, read_after),
        ("tildener_spark.streaming.kgstream", "KGState.merge_batch",
         "kgstream.merge_batch", merge_before, merge_after),
    ])


# ------------------------------------------------------------- workloads

class Run:
    def __init__(self, args):
        self.args = args
        self.tracer = Tracer()
        self.spark = None
        self.setup: dict[str, float] = {}
        self.setup_s = 0.0
        self.attempted = 0
        self.failed = 0
        self.checks: list[str] = []   # failed check descriptions
        self.metrics: dict = {}
        self.extra: dict = {}

    def fail(self, msg: str) -> None:
        self.checks.append(msg)
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr,
              flush=True)

    def start_session(self) -> None:
        t0 = time.perf_counter()
        from tildener_spark import get_spark
        cores = self.args.cores
        self.spark = get_spark(app_name="perfbench",
                               master=f"local[{cores}]",
                               shuffle_partitions=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.setup["session.start_s"] = time.perf_counter() - t0
        log("session started")

    def check_prf(self, canon, gold) -> dict:
        from tildener_spark.operators.triples import triple_prf
        prf = triple_prf(canon, gold)
        if prf["precision"] < MIN_PR or prf["recall"] < MIN_PR:
            self.fail(f"triple P/R below {MIN_PR}: {prf}")
        return prf

    # ---------------------------------------------------------- batch
    def build(self, pages, gaz, op: str, traced: bool):
        from tildener_spark.config import EngineConfig
        from tildener_spark.plans.pipeline import run_pipeline
        self.spark.catalog.clearCache()
        tr = self.tracer
        tr.active = traced
        tr.op = op
        with tr.span("op", kind="build"):
            t0 = time.perf_counter()
            res = run_pipeline(self.spark, pages, gaz, EngineConfig())
            # the count and the content hash ride one action
            with tr.span("graph.canonicalize"):
                got = digest(res.canonical_triples,
                             res.canonical_triples.columns)
            wall = time.perf_counter() - t0
        tr.active = False
        log(f"{op}: {wall:.2f}s")
        return res, got, wall

    def gen_batch_large(self) -> tuple[str, str]:
        from tildener_spark.datagen import gen_doc
        args = self.args
        t0 = time.perf_counter()
        docs = [gen_doc(i, args.seed) for i in range(BATCH_PAGES)]
        paths = (write_pages(os.path.join(args.work, "pages"), docs,
                             files=4 * args.cores),
                 write_gold(os.path.join(args.work, "gold.parquet"), docs))
        self.setup["datagen.pages_s"] = time.perf_counter() - t0
        return paths

    def batch_large(self, inputs: tuple[str, str]) -> None:
        from tildener_spark.datagen import gazetteer_df
        spark, args = self.spark, self.args
        pages = spark.read.parquet(inputs[0])
        gold = spark.read.parquet(inputs[1])
        gaz = gazetteer_df(spark)

        # build 0: the first KG of a fresh session, over a quarter of
        # the pages (one file per core): the cold start (JIT, Python
        # workers) is most of it
        files = sorted(os.listdir(inputs[0]))[:args.cores]
        res, _got, boot = self.build(
            spark.read.parquet(*[os.path.join(inputs[0], f)
                                 for f in files]), gaz, "build-0", False)
        release(spark, res)
        ref = prf = None

        walls, traced_walls, untraced_walls = [], [], []
        min_builds = MIN_STEADY_BUILDS + (1 if args.trace else 0)
        t_loop = time.perf_counter()
        i = 0
        while (i < min_builds
               or time.perf_counter() - t_loop < args.seconds):
            i += 1
            # traced run: alternate traced and untraced builds, so the
            # difference of their medians is the tracing overhead
            traced = bool(args.trace) and i % 2 == 1
            self.attempted += 1
            try:
                res, got, wall = self.build(pages, gaz, f"build-{i}",
                                            traced)
            except Exception as e:  # a build that raises is a failed op
                self.failed += 1
                self.fail(f"build {i} raised {e!r}")
                continue
            if ref is None:
                # the first full build is checked against gold; the
                # later ones against it
                ref = got
                prf = self.check_prf(res.canonical_triples, gold)
            release(spark, res)
            if got != ref:
                self.failed += 1
                self.fail(f"build {i} output {got} != build 1 {ref}")
                continue
            walls.append(wall)
            (traced_walls if traced else untraced_walls).append(wall)
        if prf is None or min(prf["precision"], prf["recall"]) < MIN_PR:
            # every build produced the same (wrong) triples
            self.failed = self.attempted
            prf = prf or {"precision": 0.0, "recall": 0.0}

        build_s = median(walls)
        docs_h = BATCH_PAGES / build_s * 3600
        self.metrics = {
            "bootstrap_s": metric(boot, "s"),
            "build_s": metric(build_s, "s"),
            "docs_per_hour": metric(docs_h, "1/h"),
            # a batch deployment folds new pages in by rebuilding
            "merge_s": metric(build_s, "s"),
            "stream_docs_per_hour": metric(docs_h, "1/h"),
            "triple_precision": metric(prf["precision"], "frac"),
            "triple_recall": metric(prf["recall"], "frac"),
        }
        self.extra = {"builds_s": walls, "bootstrap_s": boot,
                      "n_triples": ref[0] if ref else 0, "prf": prf}
        if args.trace:
            self.extra["warmup_s"] = boot
            self.extra["overhead_s"] = (median(traced_walls)
                                        - median(untraced_walls))
            self.extra["primary_ops"] = [
                f"build-{k}" for k in range(1, i + 1) if k % 2 == 1]

    # --------------------------------------------------------- stream
    def gen_stream_open_vocab(self) -> dict:
        from tildener_spark.datagen import gen_doc
        args = self.args
        t0 = time.perf_counter()
        n_docs = STREAM_BOOT_PAGES + STREAM_DROPS * STREAM_DROP_PAGES
        drops, latest = make_drops(
            [gen_doc(i, args.seed) for i in range(n_docs)], args.seed)
        # every drop is `cores` files, all with the drop's mtime: the
        # file source takes the oldest files first, so one trigger of
        # `cores` files is exactly one drop
        drops_dir = os.path.join(args.work, "drops")
        base_mtime = time.time() - 3600
        for k, drop in enumerate(drops):
            write_pages(drops_dir, drop, files=args.cores,
                        prefix=f"drop{k:03d}", mtime=base_mtime + k)
        out = {"drops": drops_dir,
               "drop_pages": [len(d) for d in drops],
               "latest": write_pages(os.path.join(args.work, "latest"),
                                     latest, files=2 * args.cores),
               "latest_pages": len(latest),
               "gold": write_gold(os.path.join(args.work, "gold.parquet"),
                                  latest)}
        self.setup["datagen.pages_s"] = time.perf_counter() - t0
        return out

    def stream_open_vocab(self, inputs: dict) -> None:
        from tildener_spark.datagen import gazetteer_df
        from tildener_spark.streaming.kgstream import (
            KGState, kg_maintenance_query)
        spark, args = self.spark, self.args
        drop_pages = inputs["drop_pages"]
        gold = spark.read.parquet(inputs["gold"])
        gaz = gazetteer_df(spark)

        state_dir = os.path.join(args.work, "state")
        source = (spark.readStream.schema(PAGES_SCHEMA)
                  .option("maxFilesPerTrigger", args.cores)
                  .parquet(inputs["drops"]))
        self.tracer.active = bool(args.trace)
        q = (kg_maintenance_query(spark, source, gaz, state_dir,
                                  os.path.join(args.work, "offsets"))
             .trigger(availableNow=True).start())
        try:
            q.awaitTermination()
        except Exception as e:  # the failing batch stops the query
            self.fail(f"stream query failed: {e!r}"[:2000])
        self.tracer.active = False
        log("stream drained")
        # one progress entry per micro-batch that ran foreachBatch
        progress = sorted((p for p in q.recentProgress
                           if "addBatch" in p["durationMs"]),
                          key=lambda p: p["batchId"])
        state = KGState(spark, state_dir)
        committed = state.committed_batch_ids()
        self.attempted += len(drop_pages)
        self.failed += len(drop_pages) - len(committed)
        trig = [p["durationMs"]["triggerExecution"] / 1000.0
                for p in progress]

        # reference: full in-memory build over the latest version of
        # every url (build_s)
        pages = spark.read.parquet(inputs["latest"])
        res, want, build_s = self.build(pages, gaz, "rebuild-0", False)
        cols = res.canonical_triples.columns
        got = digest(state.canonical_triples(), cols)
        if got != want:
            ref_rows = res.canonical_triples.select(*cols)
            st_rows = state.canonical_triples().select(*cols)
            self.fail(
                f"stream state {got} != full rebuild {want}: "
                f"{st_rows.exceptAll(ref_rows).count()} rows only in the "
                f"state, {ref_rows.exceptAll(st_rows).count()} only in "
                f"the rebuild")
        release(spark, res)
        prf = self.check_prf(state.canonical_triples(), gold)
        if self.checks and self.failed == 0:
            # the state after the last batch is wrong
            self.failed = 1
        if args.trace:
            # the same rebuild traced: document-layer spans, overhead
            res, _want, traced_wall = self.build(pages, gaz, "rebuild-1",
                                                 True)
            release(spark, res)
            self.extra["overhead_s"] = traced_wall - build_s

        merges = trig[1:]
        merged_docs = sum(drop_pages[1:len(trig)])
        self.metrics = {
            "bootstrap_s": metric(trig[0] if trig else 0.0, "s"),
            "build_s": metric(build_s, "s"),
            "docs_per_hour": metric(
                inputs["latest_pages"] / build_s * 3600, "1/h"),
            "merge_s": metric(median(merges), "s"),
            "stream_docs_per_hour": metric(
                merged_docs / sum(merges) * 3600 if merges else 0.0,
                "1/h"),
            "triple_precision": metric(prf["precision"], "frac"),
            "triple_recall": metric(prf["recall"], "frac"),
        }
        self.extra.update({
            "trigger_s": trig, "rebuild_s": build_s, "n_triples": want[0],
            "prf": prf, "drop_pages": drop_pages,
            "progress": [{"batch": p["batchId"],
                          "timestamp": p["timestamp"],
                          "trigger_s": p["durationMs"]["triggerExecution"]
                          / 1000.0} for p in progress]})
        if args.trace:
            self.extra["primary_ops"] = [
                f"batch-{p['batchId']}" for p in progress[1:]]


# ------------------------------------------------------------ stream input

OOV_PATTERNS = {
    # datagen plants out-of-gazetteer names only behind these cues
    "PERS": lambda x: re.compile(rf"(?<!\w){re.escape(x)}(?!\w)"),
    "ORG": lambda x: re.compile(rf"(?<=SIA ){re.escape(x)}(?!\w)"),
}
FRESH_HEADS = ["Ka", "Lu", "Ve", "Mi", "Ro", "Sa", "Ti", "Gu", "Pa", "Ze",
               "Dra", "Kle", "Stu", "Bri", "Vo"]
FRESH_MIDS = ["r", "l", "n", "s", "v", "m", "dz", "kš"]
FRESH_TAILS = {"PERS": ["iņš", "ovskis", "elis", "āns", "ītis", "ulis",
                        "enieks"],
               "ORG": ["tehs", "serviss", "nams", "forms", "tīkls",
                       "sfēra"]}
DIACRITIC = dict(zip("āēīūšžņļķģčaeiuszn lkgc".replace(" ", ""),
                     "aeiusznlkgcāēīūšžņļķģč"))


def _variant(name: str, rng: random.Random) -> str:
    """One-character substitution or diacritic toggle (never the
    capital), e.g. Skrastiņš -> Skrastiņs."""
    i = rng.randrange(1, len(name))
    c = name[i]
    if c in DIACRITIC and rng.random() < 0.5:
        r = DIACRITIC[c]
    else:
        r = rng.choice([x for x in "aeioulmnrstv" if x != c])
    return name[:i] + r + name[i + 1:]


def _new_name(kind: str, rng: random.Random, known: list[str],
              used: set[str]) -> str:
    while True:
        if rng.random() < 0.5:
            y = (rng.choice(FRESH_HEADS) + rng.choice(FRESH_MIDS)
                 + rng.choice(FRESH_TAILS[kind]))
        else:
            y = _variant(rng.choice(known), rng)
        if y not in used:
            used.add(y)
            known.append(y)
            return y


def _rename(page: dict, rng: random.Random, rate: float,
            known: dict, used: set[str]) -> dict:
    from tildener_spark.datagen import OOV_ORGS, OOV_PERS
    text, triples = page["text"], page["gold_triples"]
    for kind, cores in (("PERS", OOV_PERS), ("ORG", OOV_ORGS)):
        for x in cores:
            pat = OOV_PATTERNS[kind](x)
            if not pat.search(text) or rng.random() >= rate:
                continue
            y = _new_name(kind, rng, known[kind], used)
            text = pat.sub(y, text)
            triples = [dict(t, subj=pat.sub(y, t["subj"]),
                            obj=pat.sub(y, t["obj"])) for t in triples]
    return dict(page, text=text, gold_triples=triples)


def make_drops(pages: list[dict], seed: int
               ) -> tuple[list[list[dict]], list[dict]]:
    """Datagen pages, in doc-id order -> (drops, latest version of
    every url).

    Drop 0 is the bootstrap corpus.  Drop k >= 1 holds the next
    ``STREAM_DROP_PAGES`` pages, a share ``k / (drops + 1)`` of whose
    cue-detected out-of-gazetteer names are renamed to fresh names or
    to one-character / diacritic variants of names seen before (so the
    number of new surfaces grows batch over batch), plus
    ``RECRAWL_FRAC`` re-fetches of earlier urls: same text, later
    ``warc_ts``.  Gold triples are renamed with the text."""
    from datetime import timedelta
    from tildener_spark.datagen import OOV_ORGS, OOV_PERS
    rng = random.Random(seed * 7919 + 17)
    drops = [pages[:STREAM_BOOT_PAGES]]
    latest = {p["url"]: p for p in drops[0]}
    known = {"PERS": list(OOV_PERS), "ORG": list(OOV_ORGS)}
    used = set(OOV_PERS) | set(OOV_ORGS)
    for k in range(1, STREAM_DROPS + 1):
        rate = k / (STREAM_DROPS + 1)
        lo = STREAM_BOOT_PAGES + (k - 1) * STREAM_DROP_PAGES
        drop = [_rename(dict(p, warc_ts=p["warc_ts"] + timedelta(days=k)),
                        rng, rate, known, used)
                for p in pages[lo:lo + STREAM_DROP_PAGES]]
        for url in rng.sample(sorted(latest),
                              int(RECRAWL_FRAC * STREAM_DROP_PAGES)):
            old = latest[url]
            drop.append(dict(old, warc_ts=old["warc_ts"]
                             + timedelta(days=1)))
        for p in drop:
            latest[p["url"]] = p
        drops.append(drop)
    return drops, list(latest.values())


# ------------------------------------------------------------ layer report

def _epoch(ts: str) -> float:
    from datetime import datetime, timezone
    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()


def layer_metrics(run: Run, jobs: list[dict]) -> tuple[dict, dict]:
    tr, cores = run.tracer, run.args.cores
    spans = tr.spans
    # a stream batch's root span is its trigger, from the query progress
    for p in run.extra.get("progress", []):
        start = _epoch(p["timestamp"])
        root = {"id": len(spans), "name": "op", "op": f"batch-{p['batch']}",
                "parent": None, "start": start,
                "end": start + p["trigger_s"], "attrs": {"kind": "batch"}}
        for s in spans:
            if s["op"] == root["op"] and s["parent"] is None:
                s["parent"] = root["id"]
        spans.append(root)
    attribute_jobs(spans, jobs)
    st = self_times(spans)
    by_op: dict = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    jobs_of: dict = {}
    for j in jobs:
        jobs_of.setdefault(j["span"], []).append(j)

    def named(op, name):
        return [s for s in by_op.get(op, []) if s["name"] == name]

    def dur(s):
        return s["end"] - s["start"]

    def total(op, name, f=dur):
        return sum(f(s) for s in named(op, name))

    def self_t(s):
        return st[s["id"]]

    def jsum(spans_, key):
        return sum(j[key] for s in spans_ for j in jobs_of.get(s["id"], []))

    ops = run.extra.get("primary_ops", [])

    def per_op(f):
        return median(f(op) for op in ops)

    def counters(op):
        for name in ("incremental.run_pipeline_incremental",
                     "pipeline.run_pipeline"):
            for s in named(op, name):
                if "counters" in s["attrs"]:
                    return s["attrs"]["counters"]
        return {}

    def attr(op, name, key):
        return sum(s["attrs"].get(key, 0) for s in named(op, name))

    def root_of(op):
        return named(op, "op")[0]

    guard = [counters(op).get("lsh_bucket_guard", {}) for op in ops]
    vocab = [counters(op).get("vocab_delta", {}).get("rows_out", 0)
             for op in ops]
    last = ops[-1] if ops else None
    # the docs pass: in-memory run_pipeline (batch builds, stream rebuild)
    docs = [s for s in spans if s["name"] == "pipeline.run_pipeline"
            and s["op"] and s["op"].startswith(("build-", "rebuild-"))]
    ckpt = [s for s in spans if s["name"] == "lineage.checkpoint"]

    def op_busy(op):
        r = root_of(op)
        return jsum(by_op[op], "run_ms") / 1000.0 / (dur(r) * cores)

    m = {
        "session.start_s": run.setup.get("session.start_s", 0.0),
        "datagen.pages_s": run.setup.get("datagen.pages_s", 0.0),
        "warmup_s": run.extra.get("warmup_s", 0.0),
        "document.pass_s": median(self_t(s) for s in docs),
        "document.python_s": median(
            jsum([s], "python_ms") / 1000.0 for s in docs),
        "document.arrow_to_python_mb": median(
            jsum([s], "to_python_b") / 1e6 for s in docs),
        "document.arrow_from_python_mb": median(
            jsum([s], "from_python_b") / 1e6 for s in docs),
        "document.cache_mb": median(
            s["attrs"].get("cache_b", 0) / 1e6 for s in docs),
        "linking.lsh_s": per_op(lambda op: total(op, "linking.lsh")),
        "linking.band_rows": guard[-1].get("rows_total", 0) if guard else 0,
        "linking.band_rows_dropped":
            guard[-1].get("rows_dropped", 0) if guard else 0,
        "components.cc_s": per_op(lambda op: total(op, "components.cc")),
        "components.nodes": attr(last, "components.cc", "nodes"),
        "graph.entity_graph_self_s": per_op(
            lambda op: total(op, "graph.build_entity_graph", self_t)),
        "graph.canonicalize_s": per_op(
            lambda op: total(op, "graph.canonicalize")),
        "pipeline.jobs": per_op(
            lambda op: sum(len(jobs_of.get(s["id"], []))
                           for s in by_op[op])),
        "pipeline.unattributed_s": per_op(lambda op: self_t(root_of(op))),
        "pipeline.shuffle_write_mb": per_op(
            lambda op: jsum(by_op[op], "shuffle_write_b") / 1e6),
        "pipeline.spill_mb": per_op(
            lambda op: jsum(by_op[op], "spill_b") / 1e6),
        "pipeline.busy_frac": per_op(op_busy),
        "lineage.checkpoint_s": sum(dur(s) for s in ckpt),
        "lineage.written_mb": jsum(ckpt, "output_b") / 1e6,
        "incremental.self_s": per_op(lambda op: total(
            op, "incremental.run_pipeline_incremental", self_t)),
        "incremental.vocab_delta_rows": vocab[-1] if vocab else 0,
        "incremental.prior_read_mb":
            attr(last, "kgstream.read", "prior_b") / 1e6,
        "kgstream.read_s": per_op(lambda op: total(op, "kgstream.read")),
        "kgstream.commit_s": per_op(
            lambda op: total(op, "kgstream.merge_batch", self_t)),
        "kgstream.state_mb":
            attr(last, "kgstream.merge_batch", "state_b") / 1e6,
        "kgstream.offsets_s": per_op(
            lambda op: dur(root_of(op)) - total(op, "kgstream.merge_batch")
            if named(op, "kgstream.merge_batch") else 0.0),
        "trace.overhead_s": run.extra.get("overhead_s", 0.0),
    }
    series = {"ops": ops,
              "op_wall_s": [dur(root_of(op)) for op in ops],
              "linking.band_rows": [g.get("rows_total", 0) for g in guard],
              "incremental.vocab_delta_rows": vocab,
              "pipeline.unattributed_s": [self_t(root_of(op)) for op in ops]}
    return m, series


UNITS = {"_s": "s", "_mb": "MB", "_frac": "frac"}


def unit_of(name: str) -> str:
    for suffix, unit in UNITS.items():
        if name.endswith(suffix):
            return unit
    return "count"


def main() -> int:
    ap = argparse.ArgumentParser()
    for a in ("--workload", "--work", "--result", "--trace-out"):
        ap.add_argument(a, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, required=True)
    ap.add_argument("--cores", type=int, required=True)
    args = ap.parse_args()
    watch_parent(os.getppid(), args.work)

    run = Run(args)
    if args.trace:
        install_tracer(run.tracer)
    try:
        # set-up: generate the inputs while the JVM starts
        t0 = time.perf_counter()
        with ThreadPoolExecutor(1) as pool:
            gen = pool.submit(getattr(run, "gen_" + args.workload))
            run.start_session()
            inputs = gen.result()
        run.setup_s = time.perf_counter() - t0
        log("data generated")
        getattr(run, args.workload)(inputs)
    finally:
        if run.spark is not None:
            log("stopping spark")
            run.spark.stop()
            log("spark stopped")

    if args.trace:
        jobs = read_event_log(os.path.join(args.work, "eventlog"))
        layers, series = layer_metrics(run, jobs)
        metrics = {k: metric(v, unit_of(k)) for k, v in layers.items()}
        run.tracer.dump(args.trace_out, {
            "workload": args.workload, "seed": args.seed,
            "cores": args.cores, "jobs": jobs, "series": series,
            "layers": layers, "run": run.extra})
    else:
        metrics = {
            "setup_s": metric(run.setup_s, "s"),
            **run.metrics,
            "ops_ok_frac": metric(
                1 - run.failed / max(run.attempted, 1), "frac"),
        }
    result = {"correct": not run.checks, "attempted": run.attempted,
              "failed": run.failed, "metrics": metrics}
    with open(args.result, "w") as f:
        json.dump({"result": result, "run": run.extra,
                   "setup": run.setup, "checks": run.checks}, f)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
