"""Regression pins for the per-letter refinement ablation
(BENCH/REFINEMENT_ABLATION.md, VERDICT r3 item 8).

Two experiments, both deterministic:

1. The reference's 51 gold docs tagged with a gazetteer harvested
   from the odd-indexed docs only — pins the FULL-chain exact-span
   P/R/F1 (the headline number behind the triple-parity gate).
2. The planted-pathology noise model — pins the whole per-prefix
   staircase, so a semantic regression in ANY single letter moves
   its own step and turns the test red with the letter's name on it.
"""

import os
import sys

import pytest

sys.path.insert(0, "/root/repo/scripts")

from refinement_ablation import (  # noqa: E402
    GOLD_DIR, PREFIXES, ablation_rows, noise_ablation_rows)

# (label, precision, recall, f1) — exact fractions of the planted
# error mass, independent of n_docs (every doc carries the identical
# pathology tally: 11 gold spans, 5 correct under no refinement).
NOISE_STAIRCASE = [
    ("none", 45.45, 45.45, 45.45),
    ("L", 54.55, 54.55, 54.55),       # bracket slop repaired: P+R
    ("LN", 60.0, 54.55, 57.14),       # corrupt false ORG dropped: P
    ("LNS", 70.0, 63.64, 66.67),      # URL edge slop repaired: P+R
    ("LNSR", 77.78, 63.64, 70.0),     # low-prob false span cut: P
    ("LNSRC", 88.89, 72.73, 80.0),    # type flip consolidated: P+R
    ("LNSRCT", 90.0, 81.82, 85.71),   # missed occurrence tagged: R
    ("full", 100.0, 100.0, 100.0),    # paragraph glue split: P+R
]


def test_noise_model_staircase_pinned(spark):
    rows = noise_ablation_rows(spark, n_docs=20)
    got = [(r["label"], r["precision"], r["recall"], r["f1"])
           for r in rows]
    assert got == NOISE_STAIRCASE


@pytest.mark.skipif(not os.path.isdir(GOLD_DIR),
                    reason="reference TEST corpus absent")
def test_gold_corpus_full_chain_pinned(spark):
    """Full-chain exact-span metrics over the 51 reference gold docs
    (odd-doc gazetteer): the number BENCH/REFINEMENT_ABLATION.md
    reports and the refinement chain's end-to-end contract."""
    (row,) = ablation_rows(spark, prefixes=[PREFIXES[-1]])
    assert (row["precision"], row["recall"], row["f1"]) == (
        79.56, 56.79, 66.27)
    assert (row["relevant"], row["retrieved"], row["rr"]) == (
        3654, 2608, 2075)
