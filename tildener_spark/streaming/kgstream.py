"""Streaming KG maintenance: continuously arriving page batches are
merged into the canonical knowledge graph per micro-batch.

streaming/incremental.py streams the STATELESS tagging chain and
defers linking/CC to periodic batch compaction; this module closes
that gap with ``foreachBatch`` + the incremental merge plan
(plans/incremental.py): every micro-batch runs the fused per-document
pass on its own pages only, links its new surfaces against the
accumulated vocabulary, re-solves components with the prior partition
entering as collapsed star edges, and commits an append-only state
epoch.  The canonical KG is therefore correct — bit-identical to a
full-batch run over everything ingested so far — after EVERY batch,
not only after a nightly compaction.

State layout (``state_dir``), the same for every epoch — the first
batch is a merge into an empty prior::

    epoch_00000/
      docs/               the batch's pages (url, lang, slim document
                          struct: no tokens, no mentions)
      triples_dc/         the batch's triples
      mapping/            the MERGED corpus's current view
      hub_components/
      canonical_triples/
      _BATCH_IDS          stream batch ids the epoch absorbed
      _SUCCESS            marker written LAST, so a crashed commit is
                          invisible
    epoch_00001/ ...

A merge reads docs/triples_dc (append-only facts) as the union of ALL
committed epochs and hub_components (the prior component partition)
from the NEWEST; the current canonical view is one directory read of
the newest canonical_triples, while per-batch facts are never
rewritten.  A crash mid-commit leaves no ``_SUCCESS``; the
streaming checkpoint (offsets) replays the batch and the half-written
epoch is overwritten — the same at-least-once + idempotent-commit
contract as the batch pipeline's stage checkpoints.

Committed epochs are immutable, so a :class:`KGState` keeps the
schema of every table it wrote or read and reads it again without
parquet schema inference; a merge collects each later epoch's url
set once, into a ``LocalRelation`` that all of the merge's queries
broadcast.

At 10^12-document scale the merged-view tables (mapping,
canonical_triples) would be maintained as partition-merge writes
rather than full rewrites per epoch; the epoch contract is the same.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from tildener_spark.config import EngineConfig
from tildener_spark.plans.incremental import (
    read_stage, run_pipeline_incremental, url_set)

__all__ = ["KGState", "kg_maintenance_query"]

_EPOCH_RE = re.compile(r"^epoch_(\d{5})$")


class KGState:
    """Epoch-structured KG state under ``state_dir`` (local or any
    Hadoop-visible FS path in cluster deployments)."""

    def __init__(self, spark: SparkSession, state_dir: str):
        self.spark = spark
        self.dir = state_dir
        os.makedirs(state_dir, exist_ok=True)
        # table path -> schema, for every table this object wrote or
        # read: committed epochs are immutable, so a later read skips
        # parquet schema inference (one job per table otherwise)
        self._schemas: dict[str, StructType] = {}

    def _read(self, epoch: str, table: str) -> DataFrame:
        path = os.path.join(epoch, table)
        df = read_stage(self.spark, epoch, table, self._schemas.get(path))
        self._schemas[path] = df.schema
        return df

    def _write(self, df: DataFrame, epoch: str, table: str) -> None:
        path = os.path.join(epoch, table)
        df.write.mode("overwrite").parquet(path)
        self._schemas[path] = df.schema

    def epochs(self) -> list[str]:
        committed, superseded = [], set()
        for name in sorted(os.listdir(self.dir)):
            path = os.path.join(self.dir, name)
            if not (_EPOCH_RE.match(name) and os.path.exists(
                    os.path.join(path, "_SUCCESS"))):
                continue
            committed.append(path)
            manifest = os.path.join(path, "_SUPERSEDES")
            if os.path.exists(manifest):
                with open(manifest) as f:
                    superseded.update(
                        line.strip() for line in f if line.strip())
        return [p for p in committed
                if os.path.basename(p) not in superseded]

    def _next_path(self) -> str:
        nums = [int(_EPOCH_RE.match(os.path.basename(p)).group(1))
                for p in self.epochs()]
        return os.path.join(
            self.dir, f"epoch_{(max(nums) + 1 if nums else 0):05d}")

    def committed_batch_ids(self) -> set[int]:
        """Stream batch ids already merged into committed epochs.

        Each epoch records the batch ids it absorbed in a
        ``_BATCH_IDS`` file (one id per line; compaction unions
        them), written before ``_SUCCESS`` so the set reflects only
        durable commits.  ``merge_batch`` consults this to make a
        foreachBatch replay a no-op: if the process dies after an
        epoch's ``_SUCCESS`` but before Structured Streaming commits
        the batch's offsets, the replayed batch would otherwise be
        merged again as a NEW epoch and its facts double-counted in
        every future view."""
        ids: set[int] = set()
        for e in self.epochs():
            manifest = os.path.join(e, "_BATCH_IDS")
            if os.path.exists(manifest):
                with open(manifest) as f:
                    ids.update(int(tok) for tok in f.read().split())
        return ids

    @staticmethod
    def _write_batch_ids(path: str, ids) -> None:
        with open(os.path.join(path, "_BATCH_IDS"), "w") as f:
            f.write("\n".join(str(i) for i in sorted(ids)))

    def read(self) -> dict:
        """Prior tables for the next merge: per-url LAST-WINS union
        of every epoch's facts (a later batch re-crawling a url
        supersedes the earlier version — without this, a re-crawled
        page's stale docs/triples rows would re-enter every future
        merge), hub partition from the newest epoch.  Epoch count is
        bounded by compaction, so the chain of broadcast anti-joins
        stays shallow.

        Jobs: one per epoch after the first, collecting that epoch's
        url set (:func:`~tildener_spark.plans.incremental.url_set`)
        so that no query of the merge re-scans it; no parquet schema
        inference for a table this object already wrote or read."""
        eps = self.epochs()
        if not eps:
            raise ValueError(f"no committed epochs in {self.dir}")
        docs = tdc = None
        for e in eps:                       # oldest -> newest
            d = self._read(e, "docs")
            t = self._read(e, "triples_dc")
            if docs is None:
                docs, tdc = d, t
            else:
                urls = F.broadcast(url_set(d))
                docs = docs.join(urls, "url", "left_anti").unionByName(d)
                tdc = tdc.join(urls, "url", "left_anti").unionByName(t)
        return {"docs": docs, "triples_dc": tdc,
                "hub_components": self._read(eps[-1], "hub_components")}

    def canonical_triples(self, epoch: int | None = None) -> DataFrame:
        """The canonical KG view — current by default, or TIME
        TRAVEL to the state as of an earlier committed epoch (each
        epoch retains the merged view it produced; compaction carries
        only the newest forward, so travel reaches back to the last
        compaction point)."""
        eps = self.epochs()
        if epoch is None:
            return self._read(eps[-1], "canonical_triples")
        for e in eps:
            n = int(_EPOCH_RE.match(os.path.basename(e)).group(1))
            if n == epoch:
                return self._read(e, "canonical_triples")
        raise ValueError(
            f"epoch {epoch} not committed in {self.dir} "
            f"(have {[os.path.basename(e) for e in eps]})")

    def merge_batch(self, pages: DataFrame, gazetteer: DataFrame,
                    cfg: EngineConfig | None = None,
                    batch_id: int | None = None) -> None:
        """Commit one batch as a new epoch: an incremental merge into
        the state :meth:`read` returns, or into an empty prior when no
        epoch is committed yet, so every epoch has the same layout.
        Writes the ``_SUCCESS`` marker last (commit atomicity).

        ``batch_id`` (the Structured Streaming micro-batch id) makes
        the commit idempotent under replay: a batch whose id is
        already recorded in a committed epoch's ``_BATCH_IDS`` is
        skipped — the standard foreachBatch exactly-once recipe for
        the crash window between epoch ``_SUCCESS`` and the stream's
        offset commit."""
        cfg = cfg or EngineConfig()
        if pages.isEmpty():
            return
        if batch_id is not None and batch_id in \
                self.committed_batch_ids():
            return
        prior = self.read() if self.epochs() else None
        path = self._next_path()
        res = run_pipeline_incremental(self.spark, prior, pages,
                                       gazetteer, cfg)
        os.makedirs(path, exist_ok=True)
        self._write(res["docs_delta"], path, "docs")
        self._write(res["triples_dc_delta"], path, "triples_dc")
        for view in ("mapping", "hub_components", "canonical_triples"):
            self._write(res[view], path, view)
        for c in res["caches"]:
            c.unpersist()
        if batch_id is not None:
            self._write_batch_ids(path, [batch_id])
        with open(os.path.join(path, "_SUCCESS"), "w") as f:
            f.write("")

    def compact(self, rebuild: bool = False) -> None:
        """Rewrite the multi-epoch state as one epoch: per-url
        last-wins facts (docs, triples_dc), the current view
        (mapping, hub_components, canonical_triples) carried from
        the newest epoch — or, with ``rebuild=True``, RE-DERIVED
        from the compacted facts via
        :func:`~tildener_spark.plans.incremental.rebuild_graph_stage`
        (deep compaction: entity merges whose only evidence was a
        superseded page version are un-stuck, restoring bit-identity
        with a full-batch run over the latest corpus — the nightly
        job a production deployment pairs with per-batch incremental
        merges).

        Crash-safe: the compacted epoch carries a ``_SUPERSEDES``
        manifest naming the epochs it replaces, written BEFORE its
        own ``_SUCCESS`` marker; ``epochs()`` filters superseded
        dirs, so a crash between the marker and the cleanup leaves a
        correct (merely un-garbage-collected) state, and a crash
        before the marker leaves the old epochs untouched.  Cleanup
        of superseded dirs is best-effort afterwards.
        """
        eps = self.epochs()
        if len(eps) <= 1:
            return
        batch_ids = self.committed_batch_ids()
        prior = self.read()
        newest = eps[-1]
        path = self._next_path()
        os.makedirs(path, exist_ok=True)
        self._write(prior["docs"], path, "docs")
        self._write(prior["triples_dc"], path, "triples_dc")
        if rebuild:
            from tildener_spark.plans.incremental import (
                rebuild_graph_stage)
            res = rebuild_graph_stage(self.spark,
                                      self._read(path, "docs"),
                                      self._read(path, "triples_dc"))
            for view in ("mapping", "hub_components",
                         "canonical_triples"):
                self._write(res[view], path, view)
        else:
            for view in ("mapping", "hub_components",
                         "canonical_triples"):
                self._write(self._read(newest, view), path, view)
        if batch_ids:
            self._write_batch_ids(path, batch_ids)
        with open(os.path.join(path, "_SUPERSEDES"), "w") as f:
            f.write("\n".join(os.path.basename(e) for e in eps))
        with open(os.path.join(path, "_SUCCESS"), "w") as f:
            f.write("")
        import shutil
        for e in eps:
            shutil.rmtree(e, ignore_errors=True)


def kg_maintenance_query(spark: SparkSession, pages_stream: DataFrame,
                         gazetteer: DataFrame, state_dir: str,
                         checkpoint_dir: str,
                         cfg: EngineConfig | None = None):
    """Wire a streaming pages source into per-micro-batch KG
    maintenance.  Returns the (unstarted) DataStreamWriter; callers
    start it with ``.trigger(availableNow=True).start()`` for
    drain-and-exit ingestion or a processingTime trigger for
    continuous operation.

    ``checkpoint_dir`` is the Structured Streaming offsets log —
    distinct from the KG state: offsets decide WHICH files each batch
    replays, the epoch markers decide whether a replayed batch's
    commit is visible; together they give exactly-once state commits
    over an at-least-once stream.
    """
    state = KGState(spark, state_dir)
    gaz_cached = gazetteer.persist()
    gaz_cached.count()

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        state.merge_batch(batch_df, gaz_cached, cfg,
                          batch_id=batch_id)

    return (pages_stream.writeStream
            .foreachBatch(_merge)
            .option("checkpointLocation", checkpoint_dir))
