"""PLANS.md freshness gate (r13 verdict #5).

PLANS.md is the reviewable physical-plan digest; it is only trustworthy
if it was regenerated after the last edit to any registered builder. The
digest header records a hash of every package source file at generation
time (builders compose functions/, operators/, sources/ and streaming/
helpers, so a plan can move without a plans/ edit); this test recomputes
it and fails on mismatch — the fix is always
``python scripts/explain_catalog.py``. (The r13 incident: a
review-pass commit added a repartition to a registered builder one commit
after the digest was regenerated, leaving that row's node counts stale
with nothing to notice.)
"""

from __future__ import annotations

import pathlib
import re

from real_time_flight_data_pipeline_spark.plans import registry_source_hash

PLANS = pathlib.Path(__file__).resolve().parents[1] / "PLANS.md"


def test_plans_digest_is_fresh():
    text = PLANS.read_text()
    m = re.search(r"Registry source hash: `([0-9a-f]+)`", text)
    assert m, "PLANS.md has no freshness stamp — regenerate it"
    assert m.group(1) == registry_source_hash(), (
        "PLANS.md was generated from different package sources — run "
        "`python scripts/explain_catalog.py` to refresh the digest"
    )


def test_plans_digest_covers_every_registered_query():
    from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY

    text = PLANS.read_text()
    rows = {
        line.split("|")[1].strip()
        for line in text.splitlines()
        if line.startswith("| ") and not line.startswith("| query")
    }
    missing = sorted(set(REGISTRY) - rows)
    assert not missing, f"PLANS.md is missing digest rows for: {missing}"
