"""Knowledge-graph assembly + materialization (north_rule final stage).

Node identity model (three-tier, keeps cross-document merges exact):
  * mention node   ``m:<url>|<type>|<surface>``  — one per distinct
    surface per document;
  * hub node       ``g:<type>|<surface>``        — one per global
    (type, doc-canonical surface);
  * edges: alias mention -> antecedent mention (within-doc linking)
    and doc-canonical mention -> hub (exact-surface cross-doc merge).

Connected components over this graph yields the canonical entity
partition; the representative is the lexicographically smallest hub
node (hubs sort before mention nodes by prefix), so canonicalization
is deterministic.

Materialization writes ``nodes`` / ``edges`` parquet tables
repartitioned by a bucket of the canonical id — the layout a
1000-executor consumer would want (co-located adjacency, no
read-side shuffle for per-entity queries).  The writer format is a
parameter (``materialize_graph(..., fmt=cfg.table_format)``): with
an Iceberg runtime on the classpath the same writer emits
``format("iceberg")``; plain parquet keeps this sandbox
dependency-free (parquet + orc paths are tested).
"""

from __future__ import annotations

from functools import reduce
from itertools import chain

import numpy as np
from pyspark.sql import DataFrame, functions as F

from tildener_spark.config import EngineConfig
from tildener_spark.operators.components import (
    connected_components, union_find_frame)
from tildener_spark.operators.linking import (
    MAX_BUCKET, alias_links, jaro_winkler, jaro_winkler_np,
    lsh_candidate_pairs, minhash_band_keys,
)

SEP = "␟"  # unit-separator; never appears in surfaces

# Latin diacritic fold for the cross-doc first-char prefilter
# (LV/LT/ET letters + common Latin-1 accents).
_ACCENTS = "āčēģīķļņšūžõäöüàáâãåèéêëìíîïòóôùúûñçýăęłńśźż"
_ACCENTS_FOLDED = "acegiklnsuzoaouaaaaaeeeeiiiiooouuuncyaelnszz"
_FOLD = str.maketrans(_ACCENTS, _ACCENTS_FOLDED)


def _mention_node(url, ne_type, surface):
    return F.concat(F.lit("m:"), url, F.lit(SEP), ne_type, F.lit(SEP), surface)


def _hub_node(ne_type, surface):
    return F.concat(F.lit("g:"), ne_type, F.lit(SEP), surface)


def corrections_from_cc(hub_cc: DataFrame) -> DataFrame:
    """CC labels -> the tiny broadcastable correction table
    (hub, corr_canonical) for hubs whose component representative is
    not themselves.  The representative is the lexicographically
    smallest hub = "g:<type>␟<canonical>", so component id ==
    hub-of-canonical and the canonical surface is the id's second
    field; the table is bounded by the number of linked surface
    pairs, not by corpus size."""
    return (
        hub_cc.filter(F.col("node") != F.col("component"))
        .withColumn(
            "parts",
            F.split(F.substring("component", 3, 1 << 20), SEP))
        .select(
            F.col("node").alias("hub"),
            F.col("parts")[1].alias("corr_canonical"))
    )


def fused_canonical_tables(mention_hub: DataFrame,
                           corr: DataFrame) -> tuple[DataFrame,
                                                     DataFrame]:
    """Broadcast-correction canonicalization (the fused fast path):
    (mention_hub = (url, ne_type, surface, hub), corr) ->
    (mapping, hub_components).  The correction table is broadcast (if
    a pathological corpus made it large, AQE would still execute the
    same join hash-partitioned by dropping the hint).

    ``hub_components`` is the (node, component) partition of the hub
    nodes: the vocabulary-sized table a checkpointed run or a state
    epoch stores for the next incremental merge.  It is built from
    the distinct hubs alone; deriving it from a mention-level
    partition would scan and explode every mention row only to drop
    it."""
    mapping = (
        mention_hub
        .join(F.broadcast(corr), ["hub"], "left")
        .select(
            "url", "ne_type", "surface",
            F.coalesce(
                "corr_canonical",
                F.split(F.substring("hub", 3, 1 << 20), SEP)[1])
            .alias("canonical"))
        .withColumn(
            "component",
            _hub_node(F.col("ne_type"), F.col("canonical")))
    )
    hub_components = (
        mention_hub.select(F.col("hub").alias("node")).distinct()
        .join(F.broadcast(corr), F.col("node") == F.col("hub"), "left")
        .select(
            "node",
            F.coalesce(
                _hub_node(
                    F.split(F.substring("node", 3, 1 << 20), SEP)[0],
                    F.col("corr_canonical")),
                F.col("node")).alias("component"))
    )
    return mapping, hub_components


def _pair_prefilter(len_a, len_b, first_a, first_b):
    """The cheap test a candidate pair (a, b) passes before
    Jaro-Winkler: lengths within a fifth of len(a) and equal
    accent-folded first characters.  Stated once for both paths of
    the cross-document stage: the operands are Columns in
    :func:`score_cross_pairs` and ints/strs in
    :func:`_driver_cross_edges`."""
    return (((len_a - len_b) * 5 <= len_a) & ((len_b - len_a) * 5 <= len_a)
            & (first_a == first_b))


def score_cross_pairs(cand: DataFrame,
                      cfg: EngineConfig | None = None) -> DataFrame:
    """JVM-side prefilters BEFORE the (Python) Jaro-Winkler pass over
    LSH candidate pairs (ne_type, a, b), then the score threshold.

    At score >= 0.94 the lengths must be close and (in practice) the
    first character equal — cuts the candidate volume by orders of
    magnitude, which is what keeps this stage viable when band
    buckets collide (measured: unfiltered JW dominated the whole
    pipeline at low core counts).  The first-char comparison is
    ACCENT-FOLDED: a leading-diacritic typo ("Āboliņš"/"Abolins") is
    exactly the recall this stage exists for, so a raw lowercase
    equality would filter it away (VERDICT.md r01 item 10).
    """
    cfg = cfg or EngineConfig()
    fold = lambda c: F.translate(  # noqa: E731
        F.lower(F.substring(c, 1, 1)), _ACCENTS, _ACCENTS_FOLDED)
    cand = cand.filter(_pair_prefilter(
        F.length("a"), F.length("b"), fold("a"), fold("b")))
    return (
        cand.withColumn(
            "score",
            jaro_winkler(F.lower("a"), F.lower("b")))
        .filter(F.col("score") >= cfg.cross_doc_min_score)
    )


def surface_vocab(resolved: DataFrame,
                  cfg: EngineConfig | None = None) -> DataFrame:
    """Distinct (ne_type, surface) cross-document linking vocabulary
    of a (…, ne_type, doc_canonical) table.  Surfaces shorter than
    ``cross_doc_min_len`` stay out: exact-surface hub merging covers
    them."""
    cfg = cfg or EngineConfig()
    return (resolved
            .select("ne_type", F.col("doc_canonical").alias("surface"))
            .filter(F.length("surface") >= cfg.cross_doc_min_len)
            .distinct())


def cross_doc_components(vocab: DataFrame, hub_edges: DataFrame,
                         cfg: EngineConfig | None = None,
                         counters: dict | None = None,
                         new_vocab: DataFrame | None = None) -> DataFrame:
    """The cross-document graph stage: (ne_type, surface) ``vocab`` and
    hub-hub ``hub_edges`` (src, dst, duplicates allowed) -> hub_cc
    (node, component).

    Blocking → scoring → clustering: minhash-LSH band buckets over the
    vocabulary (buckets above ``MAX_BUCKET`` members dropped), the
    :func:`_pair_prefilter` and Jaro-Winkler bar of
    :func:`score_cross_pairs`, then connected components over the
    accepted pairs (as hub-hub edges) ∪ ``hub_edges``.  With
    ``cfg.cross_doc_linking`` off only the components run.

    ``new_vocab`` (incremental merges): only pairs touching one of
    these surfaces are scored — pairs between two prior surfaces were
    decided in the prior run — and ``counters["vocab_delta"]``
    records its size.  ``counters["lsh_bucket_guard"]`` receives the
    bucket-guard audit of :func:`~tildener_spark.operators.linking.
    lsh_candidate_pairs` on both paths.

    Size-adaptive like a broadcast join: while vocab, new_vocab and
    hub edges together fit in ``cfg.cc_driver_threshold`` rows, one
    ``toArrow()`` brings them to the driver and banding (the banding
    UDF's own :func:`minhash_band_keys`), scoring and union-find run
    there — the stage is vocabulary-sized, so on Spark it is mostly
    fixed per-job latency.  Above the threshold the Spark path runs;
    the inputs are cached first, so the size probe fills the cache
    the Spark path reads instead of re-running their corpus-sized
    lineage."""
    cfg = cfg or EngineConfig()
    counters = {} if counters is None else counters
    limit = cfg.cc_driver_threshold
    hub_edges = hub_edges.select("src", "dst").distinct()
    # new_vocab before vocab, whose cached plan then reads it
    inputs = [(0, hub_edges)] + [
        (k, v) for k, v in ((2, new_vocab), (1, vocab))
        if v is not None and cfg.cross_doc_linking]
    for _, d in inputs:
        d.persist()
    try:
        tbl = reduce(DataFrame.union, [
            d.select(F.lit(k).alias("k"), *d.columns) for k, d in inputs
        ]).limit(limit + 1).toArrow()
        if tbl.num_rows > limit:
            return _cross_doc_components_spark(vocab, hub_edges, cfg,
                                               counters, new_vocab)
        rows: dict[int, list] = {k: [] for k, _ in inputs}
        for k, x, y in zip(*(c.to_pylist() for c in tbl.columns)):
            rows[k].append((x, y))
        del tbl
        edges = rows[0]
        if cfg.cross_doc_linking:
            new = None if new_vocab is None else set(rows[2])
            if new is not None:
                counters["vocab_delta"] = {"rows_out": len(new)}
            edges = chain(edges,
                          _driver_cross_edges(rows[1], cfg, counters, new))
        return union_find_frame(hub_edges.sparkSession, edges)
    finally:
        # the components are materialized on both paths
        for _, d in inputs:
            d.unpersist()


# pairs per driver-side jaro_winkler_np call (the session's Arrow
# batch size, session.py) and per vectorized block of bucket pairs
_JW_BATCH = 2048
_PAIR_BLOCK = 1 << 16


def _driver_cross_edges(vocab: list, cfg: EngineConfig, counters: dict,
                        new: set | None):
    """Yields the accepted cross-document hub edges over (ne_type,
    surface) rows: the blocking of :func:`lsh_candidate_pairs` and
    the scoring of :func:`score_cross_pairs`, on the driver.

    Bucket pairs are built as numpy index arrays, up to
    ``_PAIR_BLOCK`` pairs at a time, and scored ``_JW_BATCH`` at a
    time; a pair is scored only in the first band that buckets it
    (the Spark path's distinct).  Memory stays vocabulary-sized
    whatever the bucket skew."""
    surfaces = [s for _, s in vocab]
    n = len(vocab)
    keys = minhash_band_keys(surfaces, cfg)
    n_bands = keys.shape[1]
    typ = np.unique([t for t, _ in vocab], return_inverse=True)[1].ravel()
    row = np.repeat(np.arange(n), n_bands)
    # (ne_type, band key) buckets: ids in sort order of one lexsort
    flat_t, flat_k = typ[row], keys.ravel()
    order = np.lexsort((flat_k, flat_t))
    k_s, t_s = flat_k[order], flat_t[order]
    starts_b = np.ones(len(order), dtype=bool)
    starts_b[1:] = (k_s[1:] != k_s[:-1]) | (t_s[1:] != t_s[:-1])
    bucket = np.empty(len(order), dtype=np.int64)
    bucket[order] = np.cumsum(starts_b) - 1
    sizes = np.bincount(bucket)
    over = sizes > MAX_BUCKET
    counters["lsh_bucket_guard"] = {
        "rows_total": keys.size, "rows_dropped": int(sizes[over].sum()),
        "buckets_dropped_approx": int(over.sum())}
    # (row, band) -> its bucket, -1 where the guard dropped the bucket
    kept = np.where(over[bucket], -1, bucket).reshape(n, n_bands)
    band_of = np.empty(len(sizes), dtype=np.int64)
    band_of[bucket] = np.tile(np.arange(n_bands), n)
    members = row[order]
    starts = np.cumsum(sizes) - sizes
    rank = np.empty(n, dtype=np.int64)
    rank[sorted(range(n), key=surfaces.__getitem__)] = np.arange(n)
    length = np.fromiter(map(len, surfaces), np.int64, n)
    firsts: dict = {}
    first = np.array([firsts.setdefault(s[:1].lower().translate(_FOLD),
                                        len(firsts)) for s in surfaces])
    is_new = None if new is None else np.array([v in new for v in vocab])
    lower = [s.lower() for s in surfaces]
    node = [f"g:{t}{SEP}{s}" for t, s in vocab]
    for size in np.unique(sizes[(sizes > 1) & ~over]).tolist():
        bs = np.flatnonzero((sizes == size) & ~over)
        i, k = np.triu_indices(size, 1)
        step = max(1, _PAIR_BLOCK // len(i))
        for lo in range(0, len(bs), step):
            b = bs[lo: lo + step]
            m = members[starts[b][:, None] + np.arange(size)]
            ra, rb = m[:, i].ravel(), m[:, k].ravel()
            # a < b, like the Spark path's self-join filter
            ra, rb = (np.where(rank[ra] < rank[rb], ra, rb),
                      np.where(rank[ra] < rank[rb], rb, ra))
            earlier = (np.arange(n_bands)[None, :]
                       < np.repeat(band_of[b], len(i))[:, None])
            ok = ~((kept[ra] == kept[rb]) & (kept[ra] >= 0)
                   & earlier).any(axis=1)
            ok &= _pair_prefilter(length[ra], length[rb],
                                  first[ra], first[rb])
            if is_new is not None:
                ok &= is_new[ra] | is_new[rb]
            ra, rb = ra[ok].tolist(), rb[ok].tolist()
            for j in range(0, len(ra), _JW_BATCH):
                xa, xb = ra[j: j + _JW_BATCH], rb[j: j + _JW_BATCH]
                scores = jaro_winkler_np([lower[x] for x in xa],
                                         [lower[x] for x in xb])
                yield from ((node[x], node[y])
                            for x, y, sc in zip(xa, xb, scores)
                            if sc >= cfg.cross_doc_min_score)


def _cross_doc_components_spark(vocab, hub_edges, cfg, counters,
                                new_vocab) -> DataFrame:
    """:func:`cross_doc_components` as Spark jobs (above the
    driver threshold)."""
    handles: list = []
    if cfg.cross_doc_linking:
        # the per-band bucket cap + AQE skew join guard the self-join
        # (SURVEY.md §4.3.2)
        cand = lsh_candidate_pairs(vocab, cfg, handles=handles,
                                   counters=counters)
        if new_vocab is not None:
            counters["vocab_delta"] = {"rows_out": new_vocab.count()}

            def flag(c):
                return F.broadcast(new_vocab.select(
                    "ne_type", F.col("surface").alias(c),
                    F.lit(True).alias("_n" + c)))
            cand = (cand.join(flag("a"), ["ne_type", "a"], "left")
                    .join(flag("b"), ["ne_type", "b"], "left")
                    .filter(F.col("_na").isNotNull()
                            | F.col("_nb").isNotNull())
                    .drop("_na", "_nb"))
        hub_edges = hub_edges.unionByName(
            score_cross_pairs(cand, cfg).select(
                _hub_node(F.col("ne_type"), F.col("a")).alias("src"),
                _hub_node(F.col("ne_type"), F.col("b")).alias("dst")))
    hub_cc = connected_components(hub_edges, cfg)
    # CC materialized its labels, so the LSH stage's caches are
    # consumed — release them (long-lived sessions would otherwise
    # accumulate cached tables)
    for h in handles:
        h.unpersist()
    return hub_cc


def build_entity_graph(mentions: DataFrame,
                       cfg: EngineConfig | None = None,
                       initialisms: frozenset[str] | set[str] = frozenset(),
                       links: DataFrame | None = None,
                       surfaces: DataFrame | None = None,
                       hub_pairs: DataFrame | None = None,
                       counters: dict | None = None) -> dict:
    """mentions -> {links, graph_edges, hub_components, entities,
    mapping, corrections}.

    ``links`` / ``surfaces`` / ``hub_pairs`` may be precomputed by the
    fused per-document pass (operators/document.py): ``surfaces``
    carries (url, ne_type, surface, doc_canonical) — the alias
    resolution that is otherwise a distinct + left join here — and
    ``hub_pairs`` the per-doc alias-chain hub edges.  With them the
    whole pre-CC graph stage is narrow projections; without, the
    DataFrame-join path runs (the oracle-parity variant)."""
    cfg = cfg or EngineConfig()
    # links is consumed by resolved, alias_edges and hub_pairs (x2);
    # the join path contains window functions + a pandas UDF —
    # materialize once (the fused path's links are a narrow projection
    # of the already-persisted docs table, cheap to recompute)
    if links is None:
        links = alias_links(mentions, cfg, initialisms).persist()

    if surfaces is not None:
        # fused fast path: distinct + alias resolution happened
        # per-document inside the Arrow pass — zero shuffles here
        resolved = surfaces.select(
            "url", "ne_type", "surface", "doc_canonical")
    else:
        groups = mentions.select("url", "ne_type", "surface").distinct()
        # doc-canonical surface: alias -> antecedent, others -> self
        resolved = (
            groups.join(
                links.select("url", "ne_type",
                             F.col("alias").alias("surface"),
                             F.col("canonical")),
                ["url", "ne_type", "surface"], "left")
            .withColumn("doc_canonical", F.coalesce("canonical", "surface"))
            .drop("canonical")
        )
    # ---- star contraction before CC (the 10^12-scale move) --------
    # Every mention node has exactly one hub edge (its doc-canonical
    # surface), so the mention->hub stars are contracted *first* with
    # plain joins; the iterative CC then runs only on the hub-hub
    # multigraph induced by alias chains — typically orders of
    # magnitude smaller than the mention graph (and empty when no doc
    # contains chained aliases).  This bounds CC input by the number
    # of *linked surface pairs*, not by corpus size.
    alias_edges = links.select(
        _mention_node(F.col("url"), F.col("ne_type"), F.col("alias"))
        .alias("src"),
        _mention_node(F.col("url"), F.col("ne_type"), F.col("canonical"))
        .alias("dst"),
    )
    hub_edges = resolved.select(
        _mention_node(F.col("url"), F.col("ne_type"), F.col("surface"))
        .alias("src"),
        _hub_node(F.col("ne_type"), F.col("doc_canonical")).alias("dst"),
    )
    graph_edges = alias_edges.union(hub_edges)

    mention_hub = resolved.select(
        "url", "ne_type", "surface",
        _hub_node(F.col("ne_type"), F.col("doc_canonical")).alias("hub"),
    )
    if surfaces is None:
        # reused by hub_pairs (x2), hub_component, mapping; the fused
        # variant is a narrow projection of the cached docs table —
        # caching it again would only duplicate memory
        mention_hub = mention_hub.persist()
    if hub_pairs is None:
        # hub-hub edges: an alias mention and its antecedent may
        # resolve to different hubs only through a chain (A aliases B
        # aliases C)
        hub_pairs = (
            links
            .join(mention_hub.withColumnRenamed("surface", "alias")
                  .withColumnRenamed("hub", "hub_a"),
                  ["url", "ne_type", "alias"])
            .join(mention_hub.withColumnRenamed("surface", "canonical")
                  .withColumnRenamed("hub", "hub_c"),
                  ["url", "ne_type", "canonical"])
            .filter(F.col("hub_a") != F.col("hub_c"))
            .select(F.col("hub_a").alias("src"), F.col("hub_c").alias("dst"))
        )

    # north-star cross-document linking over the global (type,
    # doc-canonical) surface vocabulary — orders of magnitude smaller
    # than the mention table — merged with the alias-chain hub edges
    hub_cc = cross_doc_components(surface_vocab(resolved, cfg), hub_pairs,
                                  cfg, counters)

    if surfaces is not None:
        # ---- fused fast path: broadcast-correction canonicalization.
        # The component representative is the lexicographically
        # smallest hub = "g:<type>␟<canonical>", so component id ==
        # hub-of-canonical, and the ONLY global state needed is the
        # tiny table of alias-chain hubs whose component rep differs
        # from themselves.  That table is broadcast (it is bounded by
        # the number of chained alias pairs, not by corpus size; if a
        # pathological corpus made it large, AQE would still execute
        # the same join hash-partitioned by dropping the hint).
        corr = corrections_from_cc(hub_cc)
        mapping, hub_components = fused_canonical_tables(mention_hub,
                                                         corr)
    else:
        # hub -> component (hubs outside any alias chain are their own)
        hub_component = (
            mention_hub.select(F.col("hub")).distinct()
            .join(hub_cc.withColumnRenamed("node", "hub"), "hub", "left")
            .withColumn("component", F.coalesce("component", "hub"))
        )
        hub_components = hub_component.select(
            F.col("hub").alias("node"), "component")

        # canonical entity per component = smallest hub node id
        reps = (
            hub_component
            .groupBy("component")
            .agg(F.min("hub").alias("rep"))
            .withColumn("parts",
                        F.split(F.substring("rep", 3, 1 << 20), SEP))
            .select(
                "component",
                F.col("parts")[0].alias("ne_type"),
                F.col("parts")[1].alias("canonical"),
            )
        )
        # mention node -> canonical surface mapping
        mapping = (
            mention_hub
            .join(hub_component, "hub")
            .join(reps.withColumnRenamed("ne_type", "_t"), "component")
            .select("url", "ne_type", "surface", "canonical", "component")
        )
    entities = (
        mapping.groupBy("component", "ne_type", "canonical")
        .agg(
            F.countDistinct("url").alias("n_docs"),
            F.countDistinct("surface").alias("n_surfaces"),
        )
    )
    return {
        "links": links,
        "graph_edges": graph_edges,
        "hub_components": hub_components,
        "entities": entities,
        "mapping": mapping,
        "corrections": corr if surfaces is not None else None,
    }


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite triple subj/obj surfaces to canonical entity names."""
    subj_map = mapping.select(
        "url", F.col("ne_type").alias("subj_type"),
        F.col("surface").alias("subj"), F.col("canonical").alias("subj_canonical"))
    obj_map = mapping.select(
        "url", F.col("ne_type").alias("obj_type"),
        F.col("surface").alias("obj"), F.col("canonical").alias("obj_canonical"))
    return (
        triples
        .join(subj_map, ["url", "subj_type", "subj"], "left")
        .join(obj_map, ["url", "obj_type", "obj"], "left")
        .withColumn("subj_canonical", F.coalesce("subj_canonical", "subj"))
        .withColumn("obj_canonical", F.coalesce("obj_canonical", "obj"))
    )


def canonicalize_triples_fused(triples_dc: DataFrame,
                               corrections: DataFrame) -> DataFrame:
    """Fused-path canonicalization: the triples already carry their
    within-doc canonicals (subj_dc/obj_dc from the Arrow pass), so the
    global rewrite is two broadcast joins against the alias-chain
    correction table — no mention-table shuffle.  Output columns match
    :func:`canonicalize_triples` (internal _dc columns dropped)."""
    s_corr = corrections.select(
        F.col("hub").alias("_s_hub"),
        F.col("corr_canonical").alias("_s_can"))
    o_corr = corrections.select(
        F.col("hub").alias("_o_hub"),
        F.col("corr_canonical").alias("_o_can"))
    t = (
        triples_dc
        .withColumn("_s_hub", _hub_node(F.col("subj_type"),
                                        F.col("subj_dc")))
        .withColumn("_o_hub", _hub_node(F.col("obj_type"),
                                        F.col("obj_dc")))
        .join(F.broadcast(s_corr), ["_s_hub"], "left")
        .join(F.broadcast(o_corr), ["_o_hub"], "left")
        .withColumn("subj_canonical",
                    F.coalesce("_s_can", F.col("subj_dc")))
        .withColumn("obj_canonical",
                    F.coalesce("_o_can", F.col("obj_dc")))
    )
    return t.drop("_s_hub", "_o_hub", "_s_can", "_o_can",
                  "subj_dc", "obj_dc")


def materialize_graph(entities: DataFrame, canon_triples: DataFrame,
                      out_dir: str, buckets: int = 64,
                      fmt: str = "parquet",
                      rdf: bool = False) -> dict:
    """Write partitioned nodes/edges tables; returns paths.

    ``fmt`` selects the DataFrameWriter format (EngineConfig.
    table_format).  Path-managed formats (parquet/orc) get hive-style
    ``bucket=`` partition directories via ``partitionBy``; ``iceberg``
    targets a Hadoop table at the path, whose own partition spec
    governs layout (Iceberg rejects writer-side partitionBy), so the
    explicit repartition still co-locates rows but directory fan-out
    is the table's concern.  The sandbox has no Iceberg runtime jar;
    parquet/orc are exercised in tests/test_pipeline.py.

    ``rdf=True`` additionally ships the graph as W3C N-Triples text
    shards under ``{out_dir}/ntriples`` (operators/rdf.py) — the
    interchange dump a triple store bulk-loads.  Lines are sorted
    within partitions so shard contents are deterministic under a
    fixed partitioning (N-Triples itself is order-independent).
    """
    nodes = entities.withColumn(
        "bucket", F.pmod(F.hash("canonical"), F.lit(buckets)))
    edges = (
        canon_triples.groupBy(
            "subj_canonical", "subj_type", "pred",
            "obj_canonical", "obj_type")
        .agg(
            F.count(F.lit(1)).alias("n_evidence"),
            F.countDistinct("url").alias("n_docs"),
            F.avg("prob").alias("avg_prob"),
        )
        .withColumn("bucket", F.pmod(F.hash("subj_canonical"), F.lit(buckets)))
    )
    nodes_path = f"{out_dir}/nodes"
    edges_path = f"{out_dir}/edges"
    for df, path in ((nodes, nodes_path), (edges, edges_path)):
        w = df.repartition("bucket").write.mode("overwrite").format(fmt)
        if fmt != "iceberg":
            w = w.partitionBy("bucket")
        w.save(path)
    out = {"nodes": nodes_path, "edges": edges_path, "format": fmt}
    if rdf:
        from tildener_spark.operators.rdf import triples_to_ntriples
        nt_path = f"{out_dir}/ntriples"
        (triples_to_ntriples(canon_triples)
         .repartition(F.pmod(F.xxhash64("line"), F.lit(buckets)))
         .sortWithinPartitions("line")
         .select("line")
         .write.mode("overwrite").text(nt_path))
        out["ntriples"] = nt_path
    return out
