"""Streaming KG maintenance (streaming/kgstream.py): per-micro-batch
incremental merges must leave the canonical KG bit-identical to a
full-batch run over everything ingested, and replaying the drained
stream must be a no-op (offsets + epoch markers = exactly-once
commits)."""

import os

from pyspark.sql import functions as F

from tildener_spark.config import EngineConfig
from tildener_spark.datagen import corpus_df, gazetteer_df, split_gold
from tildener_spark.plans.incremental import read_stage
from tildener_spark.plans.pipeline import run_pipeline
from tildener_spark.streaming.kgstream import (
    KGState, kg_maintenance_query)

SCHEMA = "url string, warc_ts timestamp, text string, lang string"


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols)
                  for r in df.select(*cols).collect())


CANON_COLS = ["url", "sent_id", "subj", "subj_canonical", "subj_type",
              "pred", "obj", "obj_canonical", "obj_type", "prob",
              "kind"]


def test_stream_equals_full_batch_and_replay_is_noop(spark, tmp_path):
    corpus = corpus_df(spark, 40).cache()
    pages, *_ = split_gold(corpus)
    pages = pages.select("url", "warc_ts", "text", "lang").cache()
    gaz = gazetteer_df(spark)

    src = str(tmp_path / "src")
    pages.repartition(4).write.parquet(src)
    n_files = len([f for f in os.listdir(src)
                   if f.endswith(".parquet")])
    assert n_files == 4

    state_dir = str(tmp_path / "state")
    offsets = str(tmp_path / "offsets")
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 2).parquet(src))
    q = (kg_maintenance_query(spark, stream, gaz, state_dir, offsets)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    state = KGState(spark, state_dir)
    eps = state.epochs()
    assert len(eps) == 2  # 4 files / 2 per trigger

    full = run_pipeline(spark, pages, gaz, EngineConfig())
    assert _rows(state.canonical_triples(), CANON_COLS) \
        == _rows(full.canonical_triples, CANON_COLS)

    # replay the drained stream: offsets say nothing new -> no epoch
    q2 = (kg_maintenance_query(spark,
                               spark.readStream.schema(SCHEMA)
                               .option("maxFilesPerTrigger", 2)
                               .parquet(src),
                               gaz, state_dir, offsets)
          .trigger(availableNow=True).start())
    q2.awaitTermination()
    assert len(KGState(spark, state_dir).epochs()) == 2

    # new files arriving -> exactly one more epoch, still == batch
    extra = corpus_df(spark, 48).cache()
    extra_pages, *_ = split_gold(extra)
    extra_pages = extra_pages.select(
        "url", "warc_ts", "text", "lang").filter(
        F.regexp_extract("url", r"doc/([0-9]+)$", 1)
        .cast("int") >= 40)
    extra_pages.coalesce(1).write.mode("append").parquet(src)
    q3 = (kg_maintenance_query(spark,
                               spark.readStream.schema(SCHEMA)
                               .option("maxFilesPerTrigger", 2)
                               .parquet(src),
                               gaz, state_dir, offsets)
          .trigger(availableNow=True).start())
    q3.awaitTermination()
    state3 = KGState(spark, state_dir)
    assert len(state3.epochs()) == 3

    all_pages = pages.unionByName(extra_pages)
    full3 = run_pipeline(spark, all_pages, gaz, EngineConfig())
    assert _rows(state3.canonical_triples(), CANON_COLS) \
        == _rows(full3.canonical_triples, CANON_COLS)


def test_compaction_preserves_state_and_continues(spark, tmp_path):
    corpus = corpus_df(spark, 40).cache()
    pages, *_ = split_gold(corpus)
    pages = pages.select("url", "warc_ts", "text", "lang").cache()
    gaz = gazetteer_df(spark)
    num = F.regexp_extract("url", r"doc/([0-9]+)$", 1).cast("int")

    state = KGState(spark, str(tmp_path / "state"))
    state.merge_batch(pages.filter(num < 20), gaz)
    state.merge_batch(pages.filter((num >= 20) & (num < 30)), gaz)
    state.merge_batch(pages.filter((num >= 30) & (num < 35)), gaz)
    assert len(state.epochs()) == 3

    # the merges wrote or read every table of the three epochs, so
    # read() infers no parquet schema: its only jobs collect the url
    # sets of the two later epochs
    bus = spark.sparkContext._jsc.sc().listenerBus()
    tracker = spark.sparkContext.statusTracker()
    bus.waitUntilEmpty()
    jobs = set(tracker.getJobIdsForGroup(None))
    state.read()
    bus.waitUntilEmpty()
    assert len(set(tracker.getJobIdsForGroup(None)) - jobs) == 2
    for path, schema in state._schemas.items():
        epoch, table = os.path.split(path)
        assert read_stage(spark, epoch, table, schema).schema \
            == read_stage(spark, epoch, table).schema

    before = _rows(state.canonical_triples(), CANON_COLS)
    state.compact()
    assert len(state.epochs()) == 1
    assert _rows(state.canonical_triples(), CANON_COLS) == before

    # merging continues off the compacted epoch, still == full batch
    state.merge_batch(pages.filter(num >= 35), gaz)
    full = run_pipeline(spark, pages, gaz, EngineConfig())
    assert _rows(state.canonical_triples(), CANON_COLS) \
        == _rows(full.canonical_triples, CANON_COLS)


def test_supersede_manifest_filters_uncollected_epochs(spark,
                                                      tmp_path):
    # crash between the compacted epoch's _SUCCESS and the cleanup:
    # old dirs still on disk, manifest must hide them
    d = tmp_path / "state"
    for i, sup in ((0, None), (1, None), (2, "epoch_00000\nepoch_00001")):
        e = d / f"epoch_{i:05d}"
        e.mkdir(parents=True)
        (e / "_SUCCESS").write_text("")
        if sup:
            (e / "_SUPERSEDES").write_text(sup)
    state = KGState(spark, str(d))
    assert [os.path.basename(p) for p in state.epochs()] \
        == ["epoch_00002"]


def test_batch_id_replay_is_skipped(spark, tmp_path):
    """The foreachBatch crash window: epoch ``_SUCCESS`` written but
    the stream's offsets not yet committed — the replayed batch
    carries the SAME batch_id and must be a no-op, not a duplicate
    epoch (round-4 advisor, medium)."""
    corpus = corpus_df(spark, 20).cache()
    pages, *_ = split_gold(corpus)
    pages = pages.select("url", "warc_ts", "text", "lang").cache()
    gaz = gazetteer_df(spark)
    num = F.regexp_extract("url", r"doc/([0-9]+)$", 1).cast("int")
    b0, b1 = pages.filter(num < 10), pages.filter(num >= 10)

    state = KGState(spark, str(tmp_path / "state"))
    state.merge_batch(b0, gaz, batch_id=0)
    # the first batch is a merge into empty state: the same slim
    # five-table layout as every later epoch, no checkpoint lineage
    e0 = state.epochs()[0]
    assert sorted(os.listdir(e0)) == sorted(
        ["docs", "triples_dc", "mapping", "hub_components",
         "canonical_triples", "_BATCH_IDS", "_SUCCESS"])
    doc_fields = state.read()["docs"].schema["doc"].dataType.names
    assert "tokens" not in doc_fields and "mentions" not in doc_fields
    state.merge_batch(b1, gaz, batch_id=1)
    assert len(state.epochs()) == 2
    assert state.committed_batch_ids() == {0, 1}
    before = _rows(state.canonical_triples(), CANON_COLS)
    n_docs_before = state.read()["docs"].count()

    # replay of batch 1 (same id): no new epoch, no double facts
    state.merge_batch(b1, gaz, batch_id=1)
    assert len(state.epochs()) == 2
    assert state.read()["docs"].count() == n_docs_before
    assert _rows(state.canonical_triples(), CANON_COLS) == before

    # compaction carries the committed-id set forward, so replays
    # stay no-ops after the superseded epochs are gone
    state.compact()
    assert state.committed_batch_ids() == {0, 1}
    state.merge_batch(b1, gaz, batch_id=1)
    assert len(state.epochs()) == 1
    assert _rows(state.canonical_triples(), CANON_COLS) == before

    # a genuinely new batch id still commits
    state.merge_batch(b1.limit(0), gaz, batch_id=2)  # empty: no-op
    state.merge_batch(b0.limit(3), gaz, batch_id=2)
    assert len(state.epochs()) == 2
    assert state.committed_batch_ids() == {0, 1, 2}


def test_recrawl_batch_supersedes_epoch_facts(spark, tmp_path):
    """A later batch re-crawling urls from an earlier epoch must
    replace those pages in every future view: the canonical KG after
    the re-crawl equals a full-batch run over the LATEST version of
    each url, and compaction preserves that."""
    corpus = corpus_df(spark, 40).cache()
    pages, *_ = split_gold(corpus)
    pages = pages.select("url", "warc_ts", "text", "lang").cache()
    gaz = gazetteer_df(spark)
    num = F.regexp_extract("url", r"doc/([0-9]+)$", 1).cast("int")

    # v2 of urls 10-19: texts of docs 30-39 under the old urls
    v2_src = pages.filter((num >= 30) & (num < 40)) \
        .withColumn("n", num - 20)
    url_of = pages.filter((num >= 10) & (num < 20)).select(
        F.col("url").alias("new_url"), num.alias("n"))
    recrawl = (v2_src.join(url_of, "n")
               .select(F.col("new_url").alias("url"), "warc_ts",
                       "text", "lang").cache())
    assert recrawl.count() == 10

    state = KGState(spark, str(tmp_path / "state"))
    state.merge_batch(pages.filter(num < 20), gaz, batch_id=0)
    state.merge_batch(recrawl, gaz, batch_id=1)

    latest = pages.filter(num < 10).unionByName(recrawl)
    full = run_pipeline(spark, latest, gaz, EngineConfig())
    want = _rows(full.canonical_triples, CANON_COLS)
    assert _rows(state.canonical_triples(), CANON_COLS) == want
    # the fact union exposes exactly one version per url
    assert state.read()["docs"].count() == 20

    state.compact()
    assert _rows(state.canonical_triples(), CANON_COLS) == want
    assert state.read()["docs"].count() == 20


def test_deep_compaction_rebuilds_from_facts(spark, tmp_path):
    """compact(rebuild=True) re-derives linking/CC from the
    compacted facts alone — the nightly job that closes the
    incremental path's sticky-merge boundary.  Invariant: after ANY
    merge/re-crawl sequence, the rebuilt state's mapping AND
    canonical view are bit-identical to a full-batch run over the
    latest version of every url."""
    corpus = corpus_df(spark, 40).cache()
    pages, *_ = split_gold(corpus)
    pages = pages.select("url", "warc_ts", "text", "lang").cache()
    gaz = gazetteer_df(spark)
    num = F.regexp_extract("url", r"doc/([0-9]+)$", 1).cast("int")

    v2_src = pages.filter((num >= 30) & (num < 40)) \
        .withColumn("n", num - 25)
    url_of = pages.filter((num >= 5) & (num < 15)).select(
        F.col("url").alias("new_url"), num.alias("n"))
    recrawl = (v2_src.join(url_of, "n")
               .select(F.col("new_url").alias("url"), "warc_ts",
                       "text", "lang").cache())

    state = KGState(spark, str(tmp_path / "state"))
    state.merge_batch(pages.filter(num < 15), gaz, batch_id=0)
    state.merge_batch(pages.filter((num >= 15) & (num < 25)), gaz,
                      batch_id=1)
    state.merge_batch(recrawl, gaz, batch_id=2)

    state.compact(rebuild=True)
    assert len(state.epochs()) == 1

    latest = pages.filter(num < 5) \
        .unionByName(pages.filter((num >= 15) & (num < 25))) \
        .unionByName(recrawl)
    full = run_pipeline(spark, latest, gaz, EngineConfig())
    assert _rows(state.canonical_triples(), CANON_COLS) \
        == _rows(full.canonical_triples, CANON_COLS)
    mp_cols = ["url", "ne_type", "surface", "canonical"]
    got_map = spark.read.parquet(
        str(tmp_path / "state" / "epoch_00003" / "mapping"))
    assert _rows(got_map.select(*mp_cols), mp_cols) \
        == _rows(full.mapping.select(*mp_cols), mp_cols)
    # merging continues correctly off the rebuilt epoch
    state.merge_batch(pages.filter((num >= 25) & (num < 30)), gaz,
                      batch_id=3)
    latest2 = latest.unionByName(
        pages.filter((num >= 25) & (num < 30)))
    full2 = run_pipeline(spark, latest2, gaz, EngineConfig())
    assert _rows(state.canonical_triples(), CANON_COLS) \
        == _rows(full2.canonical_triples, CANON_COLS)


def test_epoch_time_travel(spark, tmp_path):
    import pytest as _pytest
    corpus = corpus_df(spark, 30).cache()
    pages, *_ = split_gold(corpus)
    pages = pages.select("url", "warc_ts", "text", "lang").cache()
    gaz = gazetteer_df(spark)
    num = F.regexp_extract("url", r"doc/([0-9]+)$", 1).cast("int")

    state = KGState(spark, str(tmp_path / "state"))
    state.merge_batch(pages.filter(num < 20), gaz)
    at_e0 = _rows(state.canonical_triples(), CANON_COLS)
    state.merge_batch(pages.filter(num >= 20), gaz)

    # epoch 0's view is still readable and equals what it was then
    assert _rows(state.canonical_triples(epoch=0), CANON_COLS) \
        == at_e0
    # ... which is the full-batch result over batch 0: a merge into
    # empty state is bit-identical to run_pipeline
    full0 = run_pipeline(spark, pages.filter(num < 20), gaz,
                         EngineConfig())
    assert at_e0 == _rows(full0.canonical_triples, CANON_COLS)
    mp_cols = ["url", "ne_type", "surface", "canonical"]
    got_map0 = read_stage(spark, state.epochs()[0], "mapping")
    assert _rows(got_map0, mp_cols) == _rows(full0.mapping, mp_cols)
    # current view covers the full corpus
    full = run_pipeline(spark, pages, gaz, EngineConfig())
    assert _rows(state.canonical_triples(), CANON_COLS) \
        == _rows(full.canonical_triples, CANON_COLS)
    with _pytest.raises(ValueError, match="not committed"):
        state.canonical_triples(epoch=9)


def test_stream_applies_crawl_prefilters_to_every_batch(spark,
                                                        tmp_path):
    """url_dedup and repetition_filter act on each batch's pages, a
    later merge included: the stream equals a pre-filtered full-batch
    run over the union of its batches."""
    corpus = corpus_df(spark, 20).cache()
    pages, *_ = split_gold(corpus)
    pages = pages.select("url", "warc_ts", "text", "lang").cache()
    gaz = gazetteer_df(spark)
    num = F.regexp_extract("url", r"doc/([0-9]+)$", 1).cast("int")

    # later batch: a boilerplate page (one page's text four times
    # over, so the repetition rules flag it) and a later-fetch url
    # spelling variant of a page of the same batch
    repeated = pages.filter(num == 12).select(
        F.lit("https://spam.example.com/x").alias("url"), "warc_ts",
        F.concat_ws("\n", *[F.col("text")] * 4).alias("text"), "lang")
    assert run_pipeline(spark, repeated, gaz, EngineConfig()) \
        .canonical_triples.count() > 0
    variant = pages.filter(num == 15).select(
        F.concat(F.lit("HTTP://WWW."),
                 F.regexp_replace("url", r"^https://", ""),
                 F.lit("/?utm_source=1")).alias("url"),
        (F.col("warc_ts") + F.expr("interval 1 hour")).alias("warc_ts"),
        "text", "lang")
    b0 = pages.filter(num < 10)
    b1 = pages.filter(num >= 10).unionByName(repeated) \
        .unionByName(variant)

    cfg = EngineConfig(url_dedup=True, repetition_filter=True)
    state = KGState(spark, str(tmp_path / "state"))
    state.merge_batch(b0, gaz, cfg)
    state.merge_batch(b1, gaz, cfg)
    full = run_pipeline(spark, b0.unionByName(b1), gaz, cfg)
    assert _rows(state.canonical_triples(), CANON_COLS) \
        == _rows(full.canonical_triples, CANON_COLS)
