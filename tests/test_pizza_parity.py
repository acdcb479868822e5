"""Pizza golden-output parity (SURVEY.md §5.2): rebuild the reference's
committed pizza assessment with the Spark engine and assert every metric's
measure and violation count matches /root/reference/datasets/pizza/results/
— data shapes, metadata shapes, and vocabulary shapes.

This is the "same per-shape conformance reports" claim from BASELINE.json,
checked to 1e-9 on all ~380 instantiated shapes.
"""

from __future__ import annotations

import os

import pytest

PIZZA = "/root/reference/datasets/pizza"


@pytest.mark.skipif(not os.path.exists(PIZZA), reason="reference not mounted")
def test_pizza_full_parity(spark):
    from tools.pizza_parity import (
        build_report,
        compare,
        compare_csv,
        compare_vocab_profile,
        vocab_report,
    )

    report, md_report, (vocab_rows, prof_v, raw_profile) = build_report(spark)
    vrep = vocab_report(spark, vocab_rows, prof_v, raw_profile)
    errors = compare(report, md_report, vrep)
    errors += compare_csv(report, md_report, vrep)
    errors += compare_vocab_profile(prof_v)
    assert errors == [], "\n".join(errors)
