"""Standalone plan-guardrail pass for the queries the oracle-replay
suites do NOT cover (the no-oracle sketch extras).

The four registry invariants — no new unpartitioned window, no
cartesian product, no unbounded pair self-join, no oversized replicate
explode — live in tests/_guardrail.py (allowlists + rationale). Every
query WITH a DuckDB oracle gets the same assertions inside its replay
test (tests/test_llm_operators.py / tests/test_declared_queries.py) on
the same DataFrame it executes, so Catalyst plans each query once per
suite run instead of twice. This file sweeps the remainder so the
whole registry stays covered: registry-completeness is asserted below.
"""

from __future__ import annotations

import os

import pytest

from _guardrail import _ALL, assert_plan_guardrail
from _replay import is_smoke_dir
from _sfs import SF_SMOKE
from swivel_spark_prep_spark.cache import release_persisted
from swivel_spark_prep_spark.queries.declared import DECLARED_ORACLES
from swivel_spark_prep_spark.queries.extra import EXTRA_ORACLES

#: queries with no oracle replay — their ONLY plan-guardrail home
NOT_REPLAYED = sorted(
    set(_ALL) - set(DECLARED_ORACLES) - set(EXTRA_ORACLES)
)


def test_guardrail_covers_whole_registry():
    """Every registered query is guardrail-checked somewhere: here if it
    has no oracle, inside its oracle-replay test otherwise. A query that
    silently left both cohorts would void the invariant."""
    replayed = (set(DECLARED_ORACLES) | set(EXTRA_ORACLES)) & set(_ALL)
    assert sorted(set(NOT_REPLAYED) | replayed) == sorted(_ALL)


@pytest.mark.parametrize("name", NOT_REPLAYED)
def test_no_new_global_window_or_cartesian(name, spark, sf_dir):
    try:
        assert_plan_guardrail(name, _ALL[name](spark, sf_dir))
    finally:
        release_persisted()


def test_replay_guardrail_matches_smoke_dir_spellings():
    # the replay runs the guardrail only at the smoke SF; a trailing
    # slash must not switch it off
    assert is_smoke_dir(SF_SMOKE)
    assert is_smoke_dir(SF_SMOKE.rstrip("/") + "/")
    assert not is_smoke_dir(os.path.join(os.path.dirname(SF_SMOKE.rstrip("/")), "sf0.01"))
