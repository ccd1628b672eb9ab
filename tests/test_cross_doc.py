"""Cross-document surface merging (minhash-LSH blocking + JW scoring
-> hub-hub edges -> CC), the north-star linking stage."""

import pyspark.sql.functions as F
import pytest

from tildener_spark.config import EngineConfig
from tildener_spark.datagen import gazetteer_df, pages_df
from tildener_spark.operators import graph
from tildener_spark.operators.graph import build_entity_graph
from tildener_spark.operators.linking import jaro_winkler_py
from tildener_spark.plans import incremental
from tildener_spark.plans.incremental import (
    read_stage, rebuild_graph_stage, run_pipeline_incremental)
from tildener_spark.plans.pipeline import run_pipeline


def _mentions(spark):
    rows = [
        # same entity, diacritic/typo variants across documents
        ("u1", "PERS", "Janis Berzins", 0),
        ("u2", "PERS", "Janis Berzinsh", 0),
        # distinct people that must NOT merge
        ("u1", "PERS", "Anna Kalnina", 5),
        ("u3", "PERS", "Ilze Liepa", 0),
        # orgs: exact surface merges via hubs regardless of LSH
        ("u1", "ORG", "SIA Grauds", 9),
        ("u2", "ORG", "SIA Grauds", 9),
    ]
    return spark.createDataFrame(
        rows, "url string, ne_type string, surface string, begin_tok int")


def test_thresholds_are_sane():
    near = jaro_winkler_py("janis berzins", "janis berzinsh")
    far = jaro_winkler_py("janis berzins", "anna kalnina")
    cfg = EngineConfig()
    assert near >= cfg.cross_doc_min_score
    assert far < cfg.cross_doc_min_score


def test_cross_doc_merges_typo_variants(spark):
    cfg = EngineConfig(cross_doc_linking=True)
    g = build_entity_graph(_mentions(spark), cfg)
    ents = {r["canonical"]: r for r in g["entities"].collect()}
    # the two Janis variants collapse into ONE entity spanning 2 docs
    janis = [c for c in ents if c.startswith("Janis")]
    assert len(janis) == 1
    assert ents[janis[0]]["n_docs"] == 2
    assert ents[janis[0]]["n_surfaces"] == 2
    # unrelated people survive as their own entities
    assert "Anna Kalnina" in ents and "Ilze Liepa" in ents
    # exact-surface org merged by hubs
    assert ents["SIA Grauds"]["n_docs"] == 2


def test_cross_doc_can_be_disabled(spark):
    cfg = EngineConfig(cross_doc_linking=False)
    g = build_entity_graph(_mentions(spark), cfg)
    canons = {r["canonical"] for r in g["entities"].collect()}
    assert "Janis Berzins" in canons and "Janis Berzinsh" in canons


# --------------------------------------------- driver vs Spark path

SPARK_PATH = EngineConfig(cc_driver_threshold=0)
DRIVER_PATH = EngineConfig(cc_driver_threshold=10**6)
# a leading-diacritic variant and a one-character variant of one
# out-of-gazetteer name (long enough for the Jaro-Winkler bar with no
# common prefix)
VARIANTS = ("Āboliņkalniņš", "Aboliņkalniņš", "Aboliņkalniņs")


def _pages(spark, n_bucket):
    """Datagen pages + one page per name variant + ``n_bucket`` pages
    that each add one distinct "SIA Megabanka<n>" surface: their band
    keys collide into buckets above the 50-member cap."""
    extra = [(f"https://variants.example/doc/{i}",
              f"{name} kungs vadīja SIA Ziemeļu Fonds .\n")
             for i, name in enumerate(VARIANTS)]
    extra += [(f"https://mega.example/doc/{i}",
               f"SIA Megabanka{i:07d} šodien paziņoja rezultātus .\n")
              for i in range(n_bucket)]
    rows = spark.createDataFrame(extra, "url string, text string")
    base = pages_df(spark, 30).select("url", "warc_ts", "text", "lang")
    return base.unionByName(
        rows.select("url", F.current_timestamp().alias("warc_ts"), "text",
                    F.lit("lv").alias("lang")))


def _digest(df):
    """Row count and an order-independent content hash."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(F.xxhash64(*sorted(df.columns)),
                     F.lit(2 ** 31 - 1))).alias("h")).collect()[0]
    return int(r["n"]), int(r["h"] or 0)


@pytest.fixture
def stage_spy(monkeypatch):
    """Records each cross_doc_components call's hub_cc rows, analyzed
    plan and counters, and how often the Spark path's CC ran."""
    seen = {"hub_cc": [], "plans": [], "counters": [], "spark_cc": 0}
    orig, orig_cc = graph.cross_doc_components, graph.connected_components

    def spy(vocab, hub_edges, cfg=None, counters=None, new_vocab=None):
        out = orig(vocab, hub_edges, cfg, counters, new_vocab)
        seen["hub_cc"].append(sorted(map(tuple, out.collect())))
        seen["plans"].append(_analyzed(out))
        seen["counters"].append(dict(counters or {}))
        return out

    def cc(*a, **kw):
        seen["spark_cc"] += 1
        return orig_cc(*a, **kw)

    monkeypatch.setattr(graph, "cross_doc_components", spy)
    monkeypatch.setattr(incremental, "cross_doc_components", spy)
    monkeypatch.setattr(graph, "connected_components", cc)
    return seen


def _analyzed(df):
    return df._jdf.queryExecution().analyzed().toString()


def _assert_local_relation(plan):
    """Driver-built labels are an Arrow-backed LocalRelation: no
    pickled Python RDD that every later job re-runs."""
    assert "LocalRelation" in plan and "LogicalRDD" not in plan


def _on_both_paths(spy, run):
    """run(cfg) -> digest on each path; both results plus the spy's
    last hub_cc/counters per path."""
    got = []
    for cfg, spark_cc in ((SPARK_PATH, 1), (DRIVER_PATH, 0)):
        spy["spark_cc"] = 0
        digest = run(cfg)
        assert spy["spark_cc"] == spark_cc  # the path really ran
        got.append((digest, spy["hub_cc"][-1], spy["counters"][-1]))
    return got


def test_driver_path_matches_spark_path(spark, tmp_path, stage_spy):
    pages = _pages(spark, 120).cache()
    gaz = gazetteer_df(spark)

    def batch(cfg):
        res = run_pipeline(spark, pages, gaz, cfg)
        out = (_digest(res.canonical_triples),
               sorted(map(tuple, res.mapping.filter(
                   F.col("surface").isin(*VARIANTS))
                   .select("surface", "canonical").collect())))
        for h in res.extra["caches"]:
            h.unpersist()
        return out

    spark_run, driver_run = _on_both_paths(stage_spy, batch)
    assert spark_run == driver_run
    _assert_local_relation(stage_spy["plans"][-1])
    (_, variants), _, counters = driver_run
    # the diacritic and one-character variants merged into one entity
    assert len(variants) == 3 and len({c for _, c in variants}) == 1
    guard = counters["lsh_bucket_guard"]
    assert 0 < guard["rows_dropped"] < guard["rows_total"]
    assert guard["buckets_dropped_approx"] > 0

    # incremental merge: the delta's only new surfaces are variants
    # that pair with a prior surface
    is_delta = F.col("url").startswith("https://variants.example/doc/1") \
        | F.col("url").startswith("https://variants.example/doc/2")
    ckpt = str(tmp_path / "prior")
    run_pipeline(spark, pages.filter(~is_delta), gaz,
                 EngineConfig(checkpoint_dir=ckpt))

    def merge(cfg):
        inc = run_pipeline_incremental(spark, ckpt, pages.filter(is_delta),
                                       gaz, cfg)
        out = _digest(inc["canonical_triples"])
        for c in inc["caches"]:
            c.unpersist()
        return out

    spark_run, driver_run = _on_both_paths(stage_spy, merge)
    assert spark_run == driver_run
    assert driver_run[2]["vocab_delta"] == {"rows_out": 2}
    assert set(driver_run[2]) == {"vocab_delta", "lsh_bucket_guard"}

    # deep compaction from the fact tables
    docs = read_stage(spark, ckpt, "docs")
    triples_dc = read_stage(spark, ckpt, "triples_dc")

    def rebuild(cfg):
        return _digest(rebuild_graph_stage(spark, docs, triples_dc,
                                           cfg)["canonical_triples"])

    spark_run, driver_run = _on_both_paths(stage_spy, rebuild)
    assert spark_run == driver_run
    assert driver_run[2]["lsh_bucket_guard"]["rows_dropped"] > 0


def test_skewed_vocabulary_on_both_paths(spark, monkeypatch):
    """Buckets just under the 50-member cap: six groups of 49
    near-duplicate surfaces that share most of their bands.  Both
    paths give the same components; the driver path scores each
    distinct pair once, in batches of at most one Arrow batch."""
    import random
    rng = random.Random(5)
    rows = []
    for _ in range(6):
        base = "".join(rng.choice("abcdefghijklmnoprstuvz")
                       for _ in range(20))
        rows += [("ORG", "S" + base + chr(0x100 + i)) for i in range(49)]
    vocab = spark.createDataFrame(rows, "ne_type string, surface string")
    no_edges = spark.createDataFrame([], "src string, dst string")
    batches = []
    orig_jw = graph.jaro_winkler_np

    def jw(a, b):
        batches.append(len(a))
        return orig_jw(a, b)

    monkeypatch.setattr(graph, "jaro_winkler_np", jw)
    got = []
    for cfg in (SPARK_PATH, DRIVER_PATH):
        counters = {}
        out = graph.cross_doc_components(vocab, no_edges, cfg, counters)
        got.append((sorted(map(tuple, out.collect())),
                    counters["lsh_bucket_guard"]))
    assert got[0] == got[1]
    assert len(got[1][0]) > 200 and got[1][1]["rows_dropped"] == 0
    # every group's pairs, each scored once (not once per shared band)
    assert 2048 < sum(batches) <= 6 * 49 * 48 // 2
    assert max(batches) <= graph._JW_BATCH


def test_driver_labels_are_typed_local_relations(spark):
    """Zero union-find rows still give a typed (node, component)
    LocalRelation: cross-document linking off and no alias chains,
    and a vocabulary with no candidate pair.  connected_components'
    driver branch types its labels from the edge columns."""
    vocab = spark.createDataFrame([("PERS", "Janis Berzins")],
                                  "ne_type string, surface string")
    no_edges = spark.createDataFrame([], "src string, dst string")
    for linking in (False, True):
        cfg = EngineConfig(cc_driver_threshold=10**6,
                           cross_doc_linking=linking)
        out = graph.cross_doc_components(vocab, no_edges, cfg)
        _assert_local_relation(_analyzed(out))
        assert out.schema.simpleString() \
            == "struct<node:string,component:string>"
        assert out.count() == 0
    ids = spark.createDataFrame([(2, 1), (3, 2)], "src long, dst long")
    out = graph.connected_components(ids, DRIVER_PATH)
    _assert_local_relation(_analyzed(out))
    assert out.schema.simpleString() == "struct<node:bigint,component:bigint>"
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1), (3, 1)]
