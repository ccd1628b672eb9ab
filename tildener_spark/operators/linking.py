"""Entity linking: blocking + candidate scoring + alias resolution.

New-engine stage (north_rule): link alias mentions (e.g. bare last
name "Bērziņš") to their canonical antecedent ("Jānis Bērziņš").

Two candidate generators, both pure DataFrame:

  1. **within-document token blocking** — mentions of the same url +
     ne_type sharing a full token.  The join key is (url, token), so
     it is co-partitioned by url and cannot skew globally (a head
     token like "SIA" only fans out within one document).
  2. **global minhash-LSH blocking** over character shingles — the
     scale path for cross-document near-duplicate surfaces (typos,
     diacritic variants).  b bands × r rows; banding is an
     Arrow-batched numpy pandas UDF (codepoint windows → polynomial
     base hash → 32 affine hashes → per-band minima), the same form
     as similarity.lsh_topk's table_buckets — an earlier
     interpreted-higher-order-expression variant measured ~0.4 ms/row
     and kept this stage opt-out.  Band buckets with more than
     ``max_bucket`` members are dropped (standard LSH skew guard);
     AQE skew-join handles the rest.

Scoring: token-containment (score 0.95) or Jaro-Winkler similarity —
numpy-vectorized pandas UDF over the candidate pair batch (greedy
match assignment runs as O(max_len) batched tensor steps, not a
per-pair Python loop).  An alias resolves to the best-scoring
antecedent, ties broken by proximity (most recent preceding mention),
then lexicographically — documented determinism (SURVEY.md §4.3.4).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql.types import DoubleType

from tildener_spark.config import EngineConfig


# ------------------------------------------------------- jaro-winkler

def _jaro(a: str, b: str) -> float:
    if a == b:
        return 1.0
    la, lb = len(a), len(b)
    if not la or not lb:
        return 0.0
    window = max(la, lb) // 2 - 1
    ma = [False] * la
    mb = [False] * lb
    matches = 0
    for i, ca in enumerate(a):
        lo, hi = max(0, i - window), min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == ca:
                ma[i] = mb[j] = True
                matches += 1
                break
    if not matches:
        return 0.0
    # transpositions
    t = 0
    j = 0
    for i in range(la):
        if ma[i]:
            while not mb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    t //= 2
    return (matches / la + matches / lb + (matches - t) / matches) / 3


def jaro_winkler_py(a: str, b: str, prefix_weight: float = 0.1) -> float:
    j = _jaro(a, b)
    prefix = 0
    for ca, cb in zip(a[:4], b[:4]):
        if ca == cb:
            prefix += 1
        else:
            break
    return j + prefix * prefix_weight * (1 - j)


def _codepoint_matrix(strs: list[str], lens: np.ndarray,
                      width: int, pad: int) -> np.ndarray:
    """(n, width) uint32 codepoints, padded with ``pad``.

    One joined encode + scatter — no per-row Python."""
    out = np.full((len(strs), width), pad, dtype=np.uint32)
    flat = np.frombuffer("".join(strs).encode("utf-32-le"), dtype=np.uint32)
    if len(flat):
        rows = np.repeat(np.arange(len(strs)), lens)
        starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
        cols = np.arange(len(flat)) - np.repeat(starts, lens)
        out[rows, cols] = flat
    return out


def jaro_winkler_np(a_strs: list[str], b_strs: list[str],
                    prefix_weight: float = 0.1) -> np.ndarray:
    """Batched Jaro-Winkler, exact match with :func:`jaro_winkler_py`.

    The greedy match assignment (each char of ``a`` claims the first
    unmatched equal char of ``b`` inside the Jaro window) runs as
    O(max_len_a) vectorized steps over the whole batch — (n, len_b)
    boolean tensors per step — instead of a per-pair Python loop; the
    transposition count uses a stable-argsort pack of the matched
    positions.  ~30x the throughput of the scalar form on candidate
    batches of short entity surfaces (the stated reason the cross-doc
    stage was opt-out in round 1, VERDICT.md 'What's wrong' #3).
    """
    n = len(a_strs)
    if n == 0:
        return np.zeros(0)
    la = np.fromiter((len(s) for s in a_strs), np.int64, n)
    lb = np.fromiter((len(s) for s in b_strs), np.int64, n)
    La = max(int(la.max(initial=0)), 1)
    Lb = max(int(lb.max(initial=0)), 1)
    # distinct pads so a pad cell never equals any real char or the
    # other side's pad
    A = _codepoint_matrix(a_strs, la, La, 0x110000)
    B = _codepoint_matrix(b_strs, lb, Lb, 0x110001)
    window = np.maximum(la, lb) // 2 - 1
    jb = np.arange(Lb)[None, :]
    ma = np.zeros((n, La), dtype=bool)
    used_b = np.zeros((n, Lb), dtype=bool)
    for i in range(La):
        in_win = np.abs(jb - i) <= window[:, None]
        cand = (B == A[:, i: i + 1]) & ~used_b & in_win
        has = cand.any(axis=1)
        j = cand.argmax(axis=1)
        used_b[has, j[has]] = True
        ma[has, i] = True
    matches = ma.sum(axis=1)
    # matched chars of a and b in original order: stable argsort packs
    # True positions first
    idx_a = np.argsort(~ma, axis=1, kind="stable")
    idx_b = np.argsort(~used_b, axis=1, kind="stable")
    a_m = np.take_along_axis(A, idx_a, axis=1)
    b_m = np.take_along_axis(B, idx_b, axis=1)
    mm = int(matches.max(initial=0))
    if mm:
        colmask = np.arange(mm)[None, :] < matches[:, None]
        t = ((a_m[:, :mm] != b_m[:, :mm]) & colmask).sum(axis=1) // 2
    else:
        t = np.zeros(n, dtype=np.int64)
    with np.errstate(divide="ignore", invalid="ignore"):
        m = matches.astype(np.float64)
        j = np.where(
            matches > 0,
            (m / la + m / lb + (m - t) / np.where(m > 0, m, 1)) / 3.0,
            0.0,
        )
    # a == b (including both-empty) short-circuits to 1.0 in the
    # scalar form before any window math
    eq = np.fromiter(
        (x == y for x, y in zip(a_strs, b_strs)), bool, n)
    j = np.where(eq, 1.0, j)
    # common prefix (<= 4 chars)
    p4 = min(4, La, Lb)
    if p4:
        peq = (A[:, :p4] == B[:, :p4])
        prefix = np.cumprod(peq, axis=1).sum(axis=1)
    else:
        prefix = np.zeros(n, dtype=np.int64)
    return j + prefix * prefix_weight * (1.0 - j)


@F.pandas_udf(DoubleType())
def jaro_winkler(a: pd.Series, b: pd.Series) -> pd.Series:
    out = jaro_winkler_np(
        [x or "" for x in a], [y or "" for y in b])
    return pd.Series(out, index=a.index)


# ------------------------------------------------- minhash-LSH blocking

_FNV = np.uint64(1099511628211)
# band buckets above this many members are dropped (the LSH skew guard)
MAX_BUCKET = 50
# texts per flat-array batch of minhash_band_keys (~20 MB of hashes
# at 40 shingles per text)
_BAND_BATCH = 2048


def minhash_band_keys(texts, cfg: EngineConfig | None = None) -> np.ndarray:
    """Minhash LSH band keys of ``texts``: an (n, bands) int64 array.

    Per text: lowercase, k-codepoint shingles (a text shorter than k
    is one shingle), polynomial base hash per shingle (uint64
    natural-overflow mod 2^64), all bands*rows affine hashes in one
    broadcasted multiply and per-band minima folded into one bigint
    key (band index baked in so keys never collide across bands).
    Batches of texts run as flat numpy arrays — each text padded with
    k zero codepoints, so a short text's window is the text itself —
    with per-text minima by ``np.minimum.reduceat``; no per-text
    numpy call.  Deterministic in cfg.seed.  The banding UDF and the
    driver-side graph stage (graph.cross_doc_components) both call
    this, so their band keys are identical by construction."""
    from numpy.lib.stride_tricks import sliding_window_view
    cfg = cfg or EngineConfig()
    k = cfg.shingle_size
    n_bands, n_rows = cfg.minhash_bands, cfg.minhash_rows
    n_hash = n_bands * n_rows
    rng = np.random.default_rng(cfg.seed)
    mult = rng.integers(1, 1 << 61, size=n_hash, dtype=np.uint64) | np.uint64(1)
    add = rng.integers(0, 1 << 61, size=n_hash, dtype=np.uint64)
    powers = np.array(
        [pow(int(_FNV), k - 1 - i, 1 << 64) for i in range(k)],
        dtype=np.uint64)
    band_tag = np.arange(n_bands, dtype=np.uint64)
    strs = [(t or "").lower() for t in texts]
    out = np.zeros((len(strs), n_bands), dtype=np.int64)
    pad = "\0" * k
    with np.errstate(over="ignore"):  # uint64 wrap IS the hash
        for lo in range(0, len(strs), _BAND_BATCH):
            batch = strs[lo: lo + _BAND_BATCH]
            lens = np.fromiter(map(len, batch), np.int64, len(batch))
            cp = np.frombuffer(pad.join(batch + [""]).encode("utf-32-le"),
                               dtype=np.uint32).astype(np.uint64)
            win = sliding_window_view(cp, k)
            # shingle start positions: 0..L-k of each text, or just 0
            n_sh = np.maximum(lens - k + 1, 1)
            first = np.cumsum(n_sh) - n_sh
            seg = np.cumsum(lens + k) - (lens + k)
            at = np.repeat(seg - first, n_sh) + np.arange(n_sh.sum())
            base = (win[at] * powers[None, :]).sum(axis=1, dtype=np.uint64)
            mins = np.minimum.reduceat(
                base[:, None] * mult[None, :] + add[None, :], first, axis=0
            ).reshape(len(batch), n_bands, n_rows)
            key = np.zeros((len(batch), n_bands), dtype=np.uint64)
            for r in range(n_rows):
                key = key * _FNV + mins[:, :, r]
            out[lo: lo + len(batch)] = (key * _FNV + band_tag).astype(np.int64)
    return out


def make_minhash_bands_udf(cfg: EngineConfig | None = None):
    """Arrow-batched numpy minhash banding: text -> array<bigint>, the
    :func:`minhash_band_keys` of each row.  The interpreted
    transform/array_min expression tree this replaces measured
    ~0.4 ms/row (the reason cross-document linking was opt-out in
    round 1)."""
    cfg = cfg or EngineConfig()

    @F.pandas_udf("array<bigint>")
    def minhash_bands(texts: pd.Series) -> pd.Series:
        return pd.Series(list(minhash_band_keys(texts, cfg)),
                         index=texts.index)

    # asNondeterministic pins the evaluation site: Catalyst otherwise
    # clones deterministic UDF calls when pushing filters (e.g. the
    # size(bands)>0 inferred from a downstream explode) below the
    # defining Project/Aggregate, re-running minhash per pushed copy
    # (caught by scripts/audit_plans.py DUP-PY-UDF).  Values are
    # deterministic; only the plan placement changes.
    return minhash_bands.asNondeterministic()


def with_minhash_bands(df: DataFrame, text_col: str,
                       cfg: EngineConfig | None = None,
                       out_col: str = "bands") -> DataFrame:
    """Add array<bigint> LSH band keys over char-shingles of text_col."""
    return df.withColumn(
        out_col, make_minhash_bands_udf(cfg)(F.col(text_col)))


def lsh_candidate_pairs(entities: DataFrame, cfg: EngineConfig | None = None,
                        id_col: str = "surface", type_col: str = "ne_type",
                        max_bucket: int = MAX_BUCKET,
                        handles: list | None = None,
                        counters: dict | None = None) -> DataFrame:
    """Global near-duplicate surface pairs via banded minhash join.

    entities: distinct (ne_type, surface). Returns (ne_type, a, b)
    with a < b.  Buckets larger than max_bucket are dropped (skew
    guard).

    ``handles``: optional list the internal persisted DataFrame is
    appended to so the caller can unpersist after the consuming action
    (long-lived sessions would otherwise accumulate cached tables).

    ``counters``: optional dict that receives
    ``counters["lsh_bucket_guard"] = {"rows_total", "rows_dropped",
    "buckets_dropped_approx"}`` via an ``observe()`` riding the
    stage's own count.  All three are exact counts; the last keeps
    the name it had when it was an estimate, so readers of the
    counter need no change.  The audit trail for adversarially
    skewed corpora (a universal shingle produces one giant bucket;
    the guard drops it and the counter proves it fired rather than
    silently truncating)."""
    cfg = cfg or EngineConfig()
    # OPTIMIZER BARRIER between the banding UDF and the explode below:
    # explode makes Catalyst infer `size(bands) > 0 AND isnotnull(bands)`
    # (InferFiltersFromGenerate), and because bands is a deterministic
    # function of a grouping column it then pushes that filter — WITH A
    # DUPLICATED BANDING UDF — below the caller's distinct, re-running
    # minhash over every pre-distinct surface row (measured: 26-40 s vs
    # ~2 s at 200k docs / 4.8M surface rows / 458-row vocab, local[8]).
    # An InMemoryRelation is a leaf to the outer optimizer, so the
    # inferred filter lands on the cached scan instead and the UDF runs
    # exactly once, above the distinct, when this cache builds.  The
    # cache is vocabulary-sized (the same order as `small` below).
    e = with_minhash_bands(entities, id_col, cfg).persist()
    exploded = e.select(
        type_col, F.col(id_col), F.explode("bands").alias("band")
    )
    staged = exploded.withColumn(
        "bucket_n",
        F.count(F.lit(1)).over(Window.partitionBy(type_col, "band")))
    obs = None
    if counters is not None:
        from pyspark.sql import Observation
        over = F.col("bucket_n") > max_bucket
        obs = Observation(f"lsh_bucket_guard#{id(staged)}")
        staged = staged.observe(
            obs,
            F.count(F.lit(1)).alias("rows_total"),
            F.sum(over.cast("long")).alias("rows_dropped"),
            # each dropped bucket's rows sum to 1: an exact count
            # (observe() allows no distinct aggregate)
            F.round(F.sum(F.when(over, 1.0 / F.col("bucket_n"))))
            .cast("long").alias("buckets_dropped_approx"),
        )
    small = (
        staged
        .filter(F.col("bucket_n") <= max_bucket)
        .drop("bucket_n")
        # both sides of the self-join read this; without persist the
        # banding UDF and its upstream distinct run twice
        .persist()
    )
    # materialize with ONE scan before the self-join: a cold persisted
    # cache consumed by two join sides races partitions into the cache
    # without sharing in-flight work (measured as a multi-x blowup in
    # round 1's cross-doc stage — BENCH/BASELINE.md)
    small.count()
    if obs is not None:
        m = obs.get
        counters["lsh_bucket_guard"] = {
            "rows_total": int(m["rows_total"] or 0),
            "rows_dropped": int(m["rows_dropped"] or 0),
            "buckets_dropped_approx":
                int(m["buckets_dropped_approx"] or 0),
        }
    if handles is not None:
        handles.append(small)
        handles.append(e)
    else:
        # no caller bookkeeping: the banded-vocab barrier cache has
        # served its purpose once small is materialized
        e.unpersist()
    a = small.alias("a")
    b = small.alias("b")
    return (
        a.join(b, [type_col, "band"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            type_col,
            F.col(f"a.{id_col}").alias("a"),
            F.col(f"b.{id_col}").alias("b"),
        )
        .distinct()
    )


# --------------------------------------------- within-doc alias linking

def alias_links(mentions: DataFrame,
                cfg: EngineConfig | None = None,
                initialisms: frozenset[str] | set[str] = frozenset()) -> DataFrame:
    """Resolve alias mentions to antecedents within each document.

    Returns one row per resolved alias *surface*:
      (url, ne_type, alias, canonical, score)

    Candidates: same (url, ne_type), different surface, sharing a full
    token (blocking join on (url, ne_type, token) — co-partitioned by
    url).  Accept when alias tokens ⊆ antecedent tokens (score 0.95)
    or Jaro-Winkler ≥ cfg.typo_min_score (single-token pairs only);
    the shorter surface is the alias.  Best antecedent per alias occurrence by (score desc,
    preceding-and-nearest, surface).

    ``initialisms`` (the gazetteer's ORG_INIT entries, e.g. SIA/AS)
    are excluded from blocking and scoring: "SIA Grauds" must NOT
    link to "SIA Banka" off the shared initialism, and "Banka" must
    link to "SIA Banka" via containment of *content* tokens."""
    cfg = cfg or EngineConfig()
    inits = F.array(*[F.lit(x) for x in sorted(initialisms)]) \
        if initialisms else F.array().cast("array<string>")
    m = (
        mentions.select(
            "url", "ne_type", "surface", "begin_tok",
            F.array_except(F.split(F.col("surface"), " "), inits)
            .alias("toks"),
        )
        .filter(F.size("toks") > 0)
    )
    tok = m.select(
        "url", "ne_type", "surface", "begin_tok", "toks",
        F.explode("toks").alias("tk"),
    )
    a = tok.alias("a")
    c = tok.select("url", "ne_type", "surface", "begin_tok", "toks", "tk") \
           .alias("c")
    pairs = (
        a.join(c, ["url", "ne_type", "tk"])
        .filter(
            (F.col("a.surface") != F.col("c.surface"))
            & (F.size("a.toks") <= F.size("c.toks"))
            & (F.length("a.surface") < F.length("c.surface"))
        )
        .select(
            "url", "ne_type",
            F.col("a.surface").alias("alias"),
            F.col("a.begin_tok").alias("alias_tok"),
            F.col("a.toks").alias("alias_toks"),
            F.col("c.surface").alias("canonical"),
            F.col("c.begin_tok").alias("canon_tok"),
            F.col("c.toks").alias("canon_toks"),
        )
        # NOTE: no distinct() here — pairs sharing several tokens
        # appear multiple times, but the per-occurrence row_number and
        # the per-alias majority groupBy below collapse duplicates; a
        # distinct over rows carrying array columns is a gratuitous
        # wide shuffle
    )
    # Acceptance is containment-first: an alias must be a strict
    # sub-phrase of its antecedent ("Bērziņš" ⊂ "Jānis Bērziņš").
    # Jaro-Winkler is allowed only for single-token vs single-token
    # pairs (typo/diacritic variants) at a high bar — full names that
    # merely share a first name ("Elīna Rozīte" / "Elīna Balodis")
    # must NOT link.
    contained = F.size(F.array_except("alias_toks", "canon_toks")) == 0
    single_pair = (F.size("alias_toks") == 1) & (F.size("canon_toks") == 1)
    # Split the scoring paths so the pandas UDF only ever sees the
    # single-token-vs-single-token slice (typo variants) — running
    # Python over the full candidate set would dominate the stage:
    #   contained            -> score 0.95, no UDF
    #   single & !contained  -> Jaro-Winkler UDF, tiny row count
    #   everything else      -> cannot link, dropped JVM-side
    cont_scored = pairs.filter(contained).withColumn(
        "score", F.lit(0.95))
    jw_scored = (
        pairs.filter(~contained & single_pair)
        .withColumn(
            "score",
            jaro_winkler(
                F.lower(F.array_join("alias_toks", " ")),
                F.lower(F.array_join("canon_toks", " ")),
            ),
        )
        .filter(F.col("score") >= cfg.typo_min_score)
    )
    scored = cont_scored.unionByName(jw_scored)
    # best antecedent per alias occurrence: highest score, then nearest
    # preceding (largest canon_tok < alias_tok), then lexicographic
    pref = F.when(F.col("canon_tok") < F.col("alias_tok"),
                  F.col("canon_tok") - F.col("alias_tok")) \
            .otherwise(F.lit(-(1 << 40)) - F.col("canon_tok"))
    w = Window.partitionBy("url", "ne_type", "alias", "alias_tok").orderBy(
        F.desc("score"), F.desc(pref), F.asc("canonical"))
    best = (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    # one canonical per alias surface per doc: majority over occurrences,
    # tie -> lexicographic
    agg = (
        best.groupBy("url", "ne_type", "alias", "canonical")
        .agg(F.count(F.lit(1)).alias("n"), F.max("score").alias("score"))
    )
    w2 = Window.partitionBy("url", "ne_type", "alias").orderBy(
        F.desc("n"), F.desc("score"), F.asc("canonical"))
    return (
        agg.withColumn("rn", F.row_number().over(w2))
        .filter(F.col("rn") == 1)
        .select("url", "ne_type", "alias", "canonical", "score")
    )
