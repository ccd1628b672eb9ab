"""The end-to-end KG-construction pipeline (the "flagship query").

Spark re-expression of NEMuc7TagPlaintext.pl (SURVEY.md §3.1) extended
with the north-rule KG stages:

    pages ─ extract_text ─ tokenize_pos ─ classify ─ refine ──┐
      (one narrow stage: all four are per-row column maps      │
       over the nested token array — zero shuffles)            │
                                                               ▼
    explode ─ assemble_spans (1 shuffle: groupBy url,span_grp) ─ mentions
    mentions ─ extract_triples (window + verb range join)      ─ triples
    mentions ─ alias_links ─ graph.cross_doc_components        ─ entities
    triples × mapping ─ canonicalize ─ aggregate               ─ edges

The graph stage (graph.cross_doc_components: LSH banding → Jaro-Winkler
→ union-find over the surface vocabulary and alias-chain hub edges) is
vocabulary-sized, not corpus-sized: below ``cc_driver_threshold`` rows
it runs on the driver after one ``toArrow()``, above it as Spark jobs.

Stage boundaries are exactly the shuffles; with ``checkpoint_dir``
set, each named stage materializes to parquet with per-partition
lineage (plans/lineage.py) and a re-run resumes from the last
completed stage — the kill-and-resume contract of BASELINE.md.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from tildener_spark.config import EngineConfig
from tildener_spark.functions.text import extract_text
from tildener_spark.operators.classify import make_tag_pages_udf
from tildener_spark.operators.document import (
    explode_docs, make_process_document_udf,
)
from tildener_spark.operators.graph import (
    build_entity_graph, canonicalize_triples, canonicalize_triples_fused,
    materialize_graph,
)
from tildener_spark.operators.spans import assemble_spans
from tildener_spark.operators.tokenize import explode_tokens
from tildener_spark.operators.triples import extract_triples
from tildener_spark.plans.lineage import checkpoint_stage


@dataclass
class PipelineResult:
    tagged: DataFrame
    tokens: DataFrame
    mentions: DataFrame
    triples: DataFrame
    links: DataFrame
    entities: DataFrame
    mapping: DataFrame
    canonical_triples: DataFrame
    extra: dict = field(default_factory=dict)
    # per-stage observe() metrics (checkpointed runs only):
    # {stage: {"rows_out": n, "rows_in": m, "resumed": bool}} — the
    # rows_out count rides the stage's own write job via Observation
    # (no extra pass); rows_in is the producing stage's rows_out
    # (every stage boundary is a checkpoint table, SURVEY.md §7).
    counters: dict = field(default_factory=dict)


# stage -> the stage whose output it consumes (for rows_in);
# self-mapped stages are per-row maps of the pipeline input
_STAGE_INPUTS = {
    "docs": "pages_clean", "tagged": "pages_clean",
    "mentions": "docs", "triples_dc": "docs",
    "links": "mentions", "entities": "mentions", "mapping": "mentions",
    "canonical_triples": "triples_dc",
    # operator (fused=False) path
    "triples": "mentions",
}
_STAGE_INPUTS_UNFUSED = {"mentions": "tagged",
                         "canonical_triples": "triples"}


def prefilter_pages(pages: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The crawl-hygiene pre-filters of ``cfg`` (raw-crawl runs; off
    for curated corpora).  Order matters: URL dedup first (cheap
    canonical-key window) so the repetition arrays are never built
    for pages the URL pass already drops; the repetition filter
    itself is a per-row predicate, zero shuffle."""
    if cfg.url_dedup:
        from tildener_spark.operators.urls import keep_canonical_urls
        pages = keep_canonical_urls(pages)
    if cfg.repetition_filter:
        from tildener_spark.operators.textstats import filter_repetitive
        pages = filter_repetitive(pages)
    return pages


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    gazetteer: DataFrame,
    cfg: EngineConfig | None = None,
    reextract_text: bool = False,
    fused: bool = True,
) -> PipelineResult:
    """Run the full chain; lazily unless cfg.checkpoint_dir is set.

    ``reextract_text``: recompute text from html (the production path;
    off by default because the input table already carries text and
    the byte-identity test asserts both agree).

    ``fused`` (default, the production path): all document-local
    stages — tokenize/classify/refine, span assembly, triple
    extraction, alias linking — run in ONE Arrow pass per page
    (operators/document.py), so the job's only shuffles are over the
    small cross-document tables.  ``fused=False`` runs the
    DataFrame-operator path (spans.py / triples.py / linking.py), the
    DuckDB-oracle parity variant; tests assert both paths agree.
    """
    cfg = cfg or EngineConfig()
    ckpt = cfg.checkpoint_dir
    counters: dict[str, dict] = {}

    if reextract_text:
        pages = pages.withColumn("text", extract_text("html"))

    # with a checkpoint_dir the cleaned pages commit as their own
    # resumable stage with rows_out counters like every other stage
    # boundary
    pages = prefilter_pages(pages, cfg)
    if ckpt and (cfg.url_dedup or cfg.repetition_filter):
        pages = checkpoint_stage(spark, pages, ckpt, "pages_clean",
                                 counters=counters)

    gaz_rows = [(r["ne_type"], r["surface"]) for r in gazetteer.collect()]
    initialisms = {s for t, s in gaz_rows if t == "ORG_INIT"}

    links = surfaces = hub_pairs = None
    if fused:
        doc_udf = make_process_document_udf(gaz_rows, cfg, initialisms)
        docs_full = pages.select(
            "url", "lang", doc_udf(F.col("text")).alias("doc"))
        if ckpt:
            # one checkpoint covers all four document-local outputs;
            # downstream stage tables are narrow re-projections of it.
            # Stage name is distinct from the operator path's 'tagged'
            # (incompatible schema: doc struct vs tokens column) so a
            # resume never reads the wrong path's table (ADVICE r01).
            # checkpoint_slices > 1 commits the stage as independent
            # url-hash slices so a kill resumes per-slice.
            docs = checkpoint_stage(
                spark, docs_full, ckpt, "docs",
                slices=cfg.checkpoint_slices, slice_key="url",
                counters=counters)
        else:
            # cache a SLIM struct — everything downstream of the graph
            # stage reads (triples/links/surfaces/hub_pairs) but NOT
            # tokens (~40% of the serialized bytes) or mentions (~50%
            # of the remainder: the fused pass already emits per-doc
            # surfaces/links/hub_pairs, which is all the graph stage
            # derives from mentions, and the bench/scaling path ends
            # at canonical triples).  The slim UDF never builds or
            # Arrow-serializes either field at all (emitting-then-
            # pruning would still pay the Python->JVM transfer).
            # ``tagged``/``mentions`` below stay projections of the
            # UNCACHED full plan, so a consumer that does want them
            # re-runs the document UDF once — at scale that consumer
            # should use checkpoint mode, where the full docs stage
            # (tokens + mentions included) is committed to parquet and
            # every projection reads it back without recompute.
            slim_udf = make_process_document_udf(
                gaz_rows, cfg, initialisms, emit_tokens=False,
                emit_mentions=False)
            docs = pages.select(
                "url", "lang", slim_udf(F.col("text")).alias("doc"),
            ).persist()
        tagged = (docs if ckpt else docs_full).select(
            "url", "lang", F.col("doc.tokens").alias("tokens"))
        mentions = explode_docs(docs if ckpt else docs_full, "mentions")
        triples_dc = explode_docs(docs, "triples")
        links = explode_docs(docs, "links")
        surfaces = explode_docs(docs, "surfaces")
        hub_pairs = explode_docs(docs, "hub_pairs")
        if ckpt:
            mentions = checkpoint_stage(spark, mentions, ckpt, "mentions",
                                        counters=counters)
            # 'triples_dc', not 'triples': carries subj_dc/obj_dc,
            # which the operator path's triples table does not
            triples_dc = checkpoint_stage(spark, triples_dc, ckpt,
                                          "triples_dc", counters=counters)
        # the exposed triples table matches the operator path's schema;
        # the _dc annotations are internal to fused canonicalization
        triples = triples_dc.drop("subj_dc", "obj_dc")
        tokens = explode_tokens(tagged)
    else:
        tag_udf = make_tag_pages_udf(gaz_rows, cfg)
        tagged = pages.select(
            "url", "lang", tag_udf(F.col("text")).alias("tokens"))
        if ckpt:
            tagged = checkpoint_stage(spark, tagged, ckpt, "tagged",
                                      counters=counters)
        else:
            # the tagged table feeds three downstream branches (spans,
            # triples' verb lookup, linking); without materialization
            # each branch would re-run the whole UDF chain
            tagged = tagged.persist()

        tokens = explode_tokens(tagged)
        mentions = assemble_spans(tokens)
        if ckpt:
            mentions = checkpoint_stage(spark, mentions, ckpt, "mentions",
                                        counters=counters)
        else:
            mentions = mentions.persist()

        triples = extract_triples(mentions, tokens)
        if ckpt:
            triples = checkpoint_stage(spark, triples, ckpt, "triples",
                                       counters=counters)

    if fused and not ckpt:
        # materialize the docs cache with ONE scan before the graph
        # stage: its first job otherwise scans the cold cache from
        # concurrent branches (vocabulary, hub edges) and can run the
        # per-document UDF once per branch — measured as a ~9x
        # wall-time blowup at low core counts in round 1.  It also
        # keeps the docs pass out of the graph stage's wall time.
        docs.count()
    graph = build_entity_graph(mentions, cfg, initialisms, links=links,
                               surfaces=surfaces, hub_pairs=hub_pairs,
                               counters=counters)
    links, entities, mapping = (
        graph["links"], graph["entities"], graph["mapping"])
    if ckpt:
        links = checkpoint_stage(spark, links, ckpt, "links",
                                 counters=counters)
        entities = checkpoint_stage(spark, entities, ckpt, "entities",
                                    counters=counters)
        mapping = checkpoint_stage(spark, mapping, ckpt, "mapping",
                                   counters=counters)
        # vocabulary-sized hub partition (hub node -> component):
        # the incremental merge plan (plans/incremental.py) seeds CC
        # and the prior vocabulary from this table, so a batch merge
        # never has to rejoin the mention-level docs/mapping tables
        checkpoint_stage(spark, graph["hub_components"], ckpt,
                         "hub_components", counters=counters)
    elif not fused:
        mapping = mapping.persist()  # joined twice (subj + obj sides)

    if fused:
        # triples already carry within-doc canonicals; the global
        # rewrite is two broadcast joins against the tiny alias-chain
        # correction table — no mention-table shuffle
        canon = canonicalize_triples_fused(triples_dc,
                                           graph["corrections"])
    else:
        canon = canonicalize_triples(triples, mapping)
    if ckpt:
        canon = checkpoint_stage(spark, canon, ckpt, "canonical_triples",
                                 counters=counters)

    extra = {}
    if not ckpt:
        # persisted handles a long-lived caller can release once the
        # result DataFrames are consumed (unpersisting earlier would
        # force recompute from the docs cache — harmless but wasteful)
        if fused:
            extra["caches"] = [docs]
        else:
            extra["caches"] = [tagged, mentions, mapping,
                               graph["links"]]
    # rows_in per stage from the producing stage's rows_out (the
    # first stage is a per-row map, so its rows_in == rows_out)
    inputs = dict(_STAGE_INPUTS)
    if not fused:
        inputs.update(_STAGE_INPUTS_UNFUSED)
    for st, c in counters.items():
        if "rows_out" not in c:
            # guard audit entries (e.g. lsh_bucket_guard) are not
            # stage tables — no rows_in/rows_out contract
            continue
        if st == "pages_clean":
            # the pre-filter stage drops rows; the raw-input count is
            # not observed (it would cost an extra pass), so rows_in
            # is deliberately left unset here
            continue
        src = inputs.get(st)
        if src is None or (src == "pages_clean" and src not in counters):
            # no producer stage (or pre-filters off): per-row map of
            # the pipeline input, rows_in == rows_out
            c["rows_in"] = c["rows_out"]
        elif src in counters:
            c["rows_in"] = counters[src]["rows_out"]
    return PipelineResult(
        tagged=tagged, tokens=tokens, mentions=mentions, triples=triples,
        links=links, entities=entities, mapping=mapping,
        canonical_triples=canon, extra=extra, counters=counters,
    )


def materialize(result: PipelineResult, out_dir: str,
                buckets: int = 64, fmt: str = "parquet") -> dict:
    return materialize_graph(result.entities, result.canonical_triples,
                             out_dir, buckets, fmt=fmt)
