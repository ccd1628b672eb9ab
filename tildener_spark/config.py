"""Engine configuration.

The reference's config surface is the Stanford property file plus
positional CLI args of the RUN-* scripts (NEUtilities.pm:325-514).  We
keep the user-visible knobs — most importantly the refinement order
string, e.g. ``"L N S R_0.7 C T_0.90 A"`` (RUN-NEMuc7TagPlaintext.sh:8,
default ``"L N S R_0.7 C T_0.90"`` at NERefinements.pm:40) — in one
dataclass.
"""

from __future__ import annotations

from dataclasses import dataclass, field


# Short <-> MUC-7 type mapping, NEUtilities.pm:54-127.
SHORT_TO_MUC = {
    "PERS": ("PERSON", "ENAMEX"),
    "LOC": ("LOCATION", "ENAMEX"),
    "ORG": ("ORGANIZATION", "ENAMEX"),
    "PROD": ("PRODUCT", "ENAMEX"),
    "DATE": ("DATE", "TIMEX"),
    "TIME": ("TIME", "TIMEX"),
    "MON": ("MONEY", "NUMEX"),
}
MUC_TO_SHORT = {muc: short for short, (muc, _elem) in SHORT_TO_MUC.items()}
NE_TYPES = tuple(SHORT_TO_MUC)
# Types eligible for gazetteer extraction, NEUtilities.pm:26-45.
GAZETTEER_TYPES = ("PERS", "LOC", "ORG")
# Token-level label space: {B-,I-} x types + O  (NEEvaluation_v2.pl:40-55).
BIO_LABELS = tuple(
    f"{p}-{t}" for t in NE_TYPES for p in ("B", "I")
) + ("O",)


@dataclass
class EngineConfig:
    """All tunables of the pipeline, reference-compatible defaults."""

    # Refinement order string, parsed like NERefinements.pm:58-101.
    refinements: str = "L N S R_0.7 C T_0.90 A"
    # RemoveEmptyLines mode: 1 keep all, 2 keep runs>=2, else drop all
    # (NEPreprocess.pm:23-72).  Default 1: the flagship invocation
    # (RUN-NEMuc7TagPlaintext.sh:8) passes a falsy 5th arg, so
    # Tag.pm:290 calls RemoveEmptyLines with option 1.  Consumed by
    # operators.tokenize.remove_empty_lines_py (the literal text
    # transform) and by refinement A's paragraph-gap rule
    # (operators/refine.py): surviving blank runs are what count as
    # paragraph breaks.
    empty_line_mode: int = 1
    # Bootstrap thresholds (BASELINE.md).
    gazetteer_min_prob: float = 0.95   # BootstrapNEModel.pl:355
    gazetteer_max_tokens: int = 10     # BootstrapTools.pm:764
    sentence_min_other_prob: float = 0.8  # BootstrapTools.pm:549
    paragraph_break_prob: float = 0.8  # NEUtilities.pm:202
    morpho_fingerprint_cap: int = 3    # BootstrapTools.pm:549
    min_sentence_tokens: int = 3       # BootstrapTools.pm:549
    # Entity-linking knobs (new-engine; north_rule).
    minhash_rows: int = 4
    minhash_bands: int = 8             # 32 hashes total
    shingle_size: int = 3
    typo_min_score: float = 0.93       # JW bar for 1-token alias variants
    # Cross-document surface merging: minhash-LSH blocking over the
    # global (type, doc-canonical surface) vocabulary + Jaro-Winkler
    # scoring; accepted pairs become hub-hub edges for CC.  High bar:
    # merges typo/diacritic variants, not merely similar names.
    # Default ON (the north-star stage): banding is an Arrow-batched
    # numpy UDF and scoring a numpy-vectorized Jaro-Winkler, so the
    # stage costs a small fraction of the pipeline (BENCH/BASELINE.md;
    # round 1's interpreted variant was the reason this was opt-in).
    cross_doc_linking: bool = True
    cross_doc_min_score: float = 0.94
    # surfaces shorter than this skip LSH (few shingles -> minhash
    # collides on everything; exact-surface hub merging covers them)
    cross_doc_min_len: int = 8
    cc_max_iterations: int = 20
    # Size limit of the cross-document graph stage's driver path
    # (graph.cross_doc_components, the broadcast-join size-adaptivity
    # pattern): while the surface vocabulary and hub edges together
    # fit in this many rows, banding, Jaro-Winkler scoring and
    # union-find run on the driver after one toArrow(); above it they
    # run as Spark jobs.  connected_components applies the same limit
    # to its edge set.  Measured with scripts/graph_stage_crossover.py
    # on a 4-core, 15 GB host (local[4]; peak process-tree PSS above
    # the warmed session, driver JVM + Python workers):
    #   rows     driver path       Spark path
    #   10k      1.6 s  +0.1 GB    4.4 s  +0.2 GB
    #   100k     4.6 s  +0.5 GB   10.8 s  +0.5 GB
    #   250k     9.1 s  +0.7 GB   24.0 s  +0.7 GB
    #   500k    17.7 s  +1.2 GB   37.3 s  +1.0 GB
    #   50k skewed (49-member buckets, 1.2M candidate pairs):
    #           11.9 s  +0.1 GB   39.3 s  +1.4 GB
    # No crossover below 500k on that host, so the limit is set by
    # driver memory, which grows ~2.3 KB per row; the candidate pairs
    # stream through in fixed-size blocks, so bucket skew does not
    # add to it.  A cluster with many more cores may cross over lower.
    cc_driver_threshold: int = 500_000
    # Skew handling: salt fan-out for connected-components joins.
    salt_buckets: int = 16
    # Deterministic seed for anything sampled.
    seed: int = 42
    # Crawl-hygiene pre-filters ahead of tagging (off by default: the
    # reference-parity corpora are already curated; a raw-crawl run
    # turns them on).  url_dedup keeps the earliest fetch per
    # canonical URL (operators/urls.py); repetition_filter drops
    # pages failing the Gopher repetition rules
    # (operators/textstats.py filter_repetitive).
    url_dedup: bool = False
    repetition_filter: bool = False
    # DataFrameWriter format for graph materialization ("parquet",
    # "orc", or "iceberg" when its runtime jar is on the classpath;
    # operators/graph.py materialize_graph).
    table_format: str = "parquet"
    # Where stage checkpoints go (per-stage parquet + _lineage rows).
    checkpoint_dir: str | None = None
    # >1: the expensive per-document UDF stage checkpoints as this
    # many independently-committed slices keyed by hash(url), so a
    # killed run resumes computing ONLY the missing slices
    # (plans/lineage.py; SURVEY.md §4.3.5).  1 = whole-stage commit.
    checkpoint_slices: int = 1
    extra: dict = field(default_factory=dict)

    def refinement_steps(self) -> list[tuple[str, float | None]]:
        """Parse ``"L N S R_0.7 C T_0.90 A"`` into [(letter, thr)].

        Mirrors the split/threshold parse at NERefinements.pm:58-80;
        unknown letters are ignored (reference warns and skips).
        """
        steps: list[tuple[str, float | None]] = []
        for part in self.refinements.split():
            if "_" in part:
                letter, _, thr = part.partition("_")
                try:
                    steps.append((letter.upper(), float(thr)))
                except ValueError:
                    continue
            else:
                steps.append((part.upper(), None))
        return steps
