"""Registry-wide plan-quality gate: no cartesian products, no
un-justified nested-loop joins, no row-at-a-time Python, no un-justified
single-task windows — anywhere in the 138-query registry, not just the
handful test_plans.py pins individually. The allowlist in
tools/audit_plans.py carries a justification per exception and must stay
minimal: an entry that stops matching anything fails the test too.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from audit_plans import ALLOWED, audit_plan  # noqa: E402


@pytest.fixture(scope="module")
def all_flags(registry_plans):
    return {name: audit_plan(name, plan) for name, plan in registry_plans.items()}


def test_no_unallowlisted_plan_antipatterns(all_flags):
    bad = {
        (name, f)
        for name, fs in all_flags.items()
        for f in fs
        if (name, f) not in ALLOWED
    }
    assert not bad, f"un-justified plan anti-patterns: {sorted(bad)}"


def test_allowlist_has_no_stale_entries(all_flags):
    fired = {(name, f) for name, fs in all_flags.items() for f in fs}
    stale = set(ALLOWED) - fired
    assert not stale, f"allowlist entries no longer needed: {sorted(stale)}"
