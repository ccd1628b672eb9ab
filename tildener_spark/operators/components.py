"""Connected components over the mention-similarity graph.

Canonicalization stage (north_rule): no Spark builtin exists, so this
is the classic iterated label-propagation over DataFrame self-joins
(the small-star/large-star family — Kiveris et al., "Connected
Components in MapReduce and Beyond", SOCC'14 — reduced to min-label
propagation, which converges in O(diameter) rounds; our graphs are
star-shaped around canonical hubs, diameter <= 4).

Scale notes (SURVEY.md §4.3.2/3):
  * labels are propagated with a hash join on node id; head entities
    (hub nodes with huge degree) are the skew risk — AQE skew-join is
    on, and ``salt`` optionally splits the min-aggregation into a
    two-level (salted partial, then final) aggregate, the documented
    mitigation for 10^12-doc scale;
  * ``localCheckpoint()`` per iteration truncates lineage so the plan
    does not grow exponentially across iterations;
  * convergence = zero label changes (a count per iteration — cheap,
    and doubles as the per-iteration progress counter for lineage).
"""

from __future__ import annotations

import warnings

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from tildener_spark.config import EngineConfig
from tildener_spark.materialize import materialize_once, release


def union_find_components(pairs) -> list[tuple[str, str]]:
    """Driver-side connected components over ``pairs`` (a, b):
    sorted (node, component) rows with component = the smallest node
    id in the component — the same partition and representatives as
    the distributed loop of :func:`connected_components`, in
    O(E α(E)) time."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for a, b in pairs:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min: dict = {}
    for node in parent:
        root = find(node)
        cur = comp_min.get(root)
        if cur is None or node < cur:
            comp_min[root] = node
    return [(node, comp_min[find(node)]) for node in sorted(parent)]


_LABELS = StructType([StructField("node", StringType()),
                     StructField("component", StringType())])


def union_find_frame(spark: SparkSession, pairs,
                     schema: StructType = _LABELS) -> DataFrame:
    """:func:`union_find_components` as a (node, component) DataFrame
    over an Arrow table: a ``LocalRelation`` that every job scans in
    the JVM.  A list of tuples would be a pickled Python RDD, re-run
    through Python workers by each job that reads the labels.  The
    columns are typed from ``schema``, so zero rows still give the
    labels schema."""
    rows = union_find_components(pairs)
    arrow = to_arrow_schema(schema)
    cols = list(zip(*rows)) or [(), ()]
    return spark.createDataFrame(pa.Table.from_arrays(
        [pa.array(c, f.type) for c, f in zip(cols, arrow)],
        schema=arrow), schema)


class CCNotConverged(RuntimeError):
    """Connected components hit cc_max_iterations with labels still
    changing — the returned partition would be partially propagated."""


def connected_components(edges: DataFrame, cfg: EngineConfig | None = None,
                         src: str = "src", dst: str = "dst",
                         strict: bool = True) -> DataFrame:
    """edges(src,dst) -> (node, component) with component = min node id.

    Deterministic: component representative is the lexicographically
    smallest node id in the component.

    If ``cc_max_iterations`` is exhausted before convergence the
    result is only partially propagated: ``strict=True`` (default)
    raises :class:`CCNotConverged`; ``strict=False`` warns and returns
    the partial labels (VERDICT.md r01 'What's wrong' #4 — silent
    non-convergence was a correctness trap).
    """
    cfg = cfg or EngineConfig()
    # Materialize the one-directional edge set FIRST: the symmetric
    # union below scans its input twice (once per direction), and
    # without this cache the possibly-expensive upstream lineage (the
    # LSH + Jaro-Winkler chain when called from the cross-doc stage)
    # would run twice.  count() (not isEmpty) fills the WHOLE cache in
    # one job — take(1) caches only the scanned partition.
    one_dir = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .persist()
    )
    n_edges = one_dir.count()
    out_schema = one_dir.select(
        F.col("a").alias("node"), F.col("b").alias("component")).schema
    if n_edges <= cfg.cc_driver_threshold:
        # size-adaptive driver path (the broadcast-join pattern): on a
        # sub-threshold edge set, the iterated-join machinery is pure
        # fixed job latency.  toArrow(), not collect(): PySpark Row
        # objects cost hundreds of bytes each for two short strings
        # (ADVICE r02: keeps the threshold's driver-memory bound
        # honest); toLocalIterator() runs one job PER PARTITION.
        tbl = one_dir.toArrow()
        out = union_find_frame(
            one_dir.sparkSession,
            zip(tbl.column(0).to_pylist(), tbl.column(1).to_pylist()),
            out_schema)
        one_dir.unpersist()
        return out
    # duplicate edges are harmless under min-aggregation; skipping the
    # distinct() saves a full shuffle of the edge table
    sym = (
        one_dir
        .union(one_dir.select(F.col("b").alias("a"), F.col("a").alias("b")))
        .persist()
    )
    sym.count()
    one_dir.unpersist()
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    # lazy materialization (happens with the next action instead of
    # launching its own job — the CC loop is dominated by fixed
    # per-job latency on small hub graphs); mode-aware: persist on a
    # cluster so executor loss recomputes instead of failing the job
    # (ADVICE r02, tildener_spark/materialize.py)
    labels = materialize_once(labels)
    prev_mat = labels  # the materialized handle release() must target

    n_changed = 0
    for _i in range(cfg.cc_max_iterations):
        # candidate label for b = label(a) over every edge (a,b)
        cand = (
            sym.join(labels.withColumnRenamed("node", "a"), "a")
            .select(F.col("b").alias("node"), "component")
        )
        # two-level min: salted partial agg defuses hub-node skew
        salted = (
            cand.withColumn(
                "_salt", F.pmod(F.hash("component"), F.lit(cfg.salt_buckets)))
            .groupBy("node", "_salt")
            .agg(F.min("component").alias("component"))
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        new_labels = (
            labels.withColumnRenamed("component", "old")
            .join(salted.withColumnRenamed("component", "prop"),
                  "node", "left")
            .select(
                "node",
                F.least(
                    F.col("old"), F.coalesce("prop", F.col("old"))
                ).alias("component"),
                (F.col("old") != F.least(
                    F.col("old"), F.coalesce("prop", F.col("old")))
                 ).cast("long").alias("changed"),
            )
        )
        new_labels = materialize_once(new_labels)
        n_changed = new_labels.agg(F.sum("changed")).collect()[0][0] or 0
        # the agg above materialized new_labels, so the previous
        # iteration's cached labels are consumed — free them (no-op in
        # local mode where materialize_once used localCheckpoint)
        release(prev_mat)
        prev_mat = new_labels
        labels = new_labels.select("node", "component")
        if n_changed == 0:
            break
    # labels are localCheckpointed (materialized), so the cached edge
    # set can be released before returning
    sym.unpersist()
    if n_changed != 0:
        msg = (
            f"connected_components did not converge within "
            f"{cfg.cc_max_iterations} iterations "
            f"({n_changed} labels still changing)")
        if strict:
            raise CCNotConverged(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels
