"""The checker counts injected faults: a dropped row and an altered
``extracted_text``.

    python3 -m pytest perfbench/test_checker.py -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pytest  # noqa: E402

from br_doc_ocr_spark.core.extract import oracle_extract  # noqa: E402
from br_doc_ocr_spark.synth import make_transcripts_pandas  # noqa: E402
from checker import Checker  # noqa: E402


@pytest.fixture(scope="module")
def case():
    frame = make_transcripts_pandas(n_convs=12, mean_turns=5, seed=7, skew_factor=10)
    sample = ["conv-heavy", "conv-contract", "conv-00003"]
    return Checker(frame, sample), oracle_extract(frame)


def test_clean_output_passes(case):
    checker, out = case
    assert checker.check(out, lineage_rows=len(out), ordered_keys=out).failed == 0


def test_dropped_row_counts(case):
    checker, out = case
    rep = checker.check(out.drop(index=5), lineage_rows=len(out))
    assert (rep.missing, rep.failed) == (1, 1)


def test_altered_text_counts(case):
    checker, out = case
    bad = out.copy()
    row = bad.index[bad["conv_id"] == "conv-heavy"][3]
    bad.loc[row, "extracted_text"] = bad.loc[row, "extracted_text"] + " x"
    rep = checker.check(bad)
    assert (rep.mismatched, rep.failed) == (1, 1)
