"""The driver-sample rotation contract (plans/sample_window.py): the
driver hashes the first 50 entries of __spark_entry__.queries(), so the
window must be exactly what we scheduled, cover the full registry, and
actually rotate (majority never-driver-sampled). SAMPLED_PRIOR is pinned
against the committed CORRECTNESS_r0*.json artifacts so a missed sync or
a typo fails here instead of silently wasting a verification slot."""

from __future__ import annotations

import logging

import __spark_entry__ as E
from clickhouse_github_log_importer_spark.plans.queries import REGISTRY
from clickhouse_github_log_importer_spark.plans.sample_window import (
    DRIVER_SAMPLE,
    SAMPLED_PRIOR,
    ordered_names,
    sampled_from_artifacts,
)


def test_window_is_50_unique_registered_names():
    assert len(DRIVER_SAMPLE) == 50
    assert len(set(DRIVER_SAMPLE)) == 50
    missing = [n for n in DRIVER_SAMPLE if n not in REGISTRY]
    assert not missing, missing


def test_sampled_prior_matches_correctness_artifacts():
    derived = sampled_from_artifacts()
    assert SAMPLED_PRIOR == derived, {
        "only_in_frozenset": sorted(SAMPLED_PRIOR - derived),
        "only_in_artifacts": sorted(derived - SAMPLED_PRIOR),
    }


def test_queries_surface_complete_and_window_first():
    q = E.queries()
    assert list(q)[:50] == list(DRIVER_SAMPLE)
    assert set(q) == set(REGISTRY)  # rotation must never drop an entry
    o = E.oracle_sql()
    assert set(o) <= set(q)
    # every windowed entry must be hash-checkable (has an oracle)
    assert all(n in o for n in DRIVER_SAMPLE)


def test_window_actually_rotates():
    # Zero evidence debt since r8: any entry with no driver-green row is
    # by definition brand-new this round and MUST be in the window.
    never_sampled = [n for n in REGISTRY if n not in SAMPLED_PRIOR]
    missing = [n for n in never_sampled if n not in DRIVER_SAMPLE]
    assert not missing, missing
    # user_activity stays: entry() references it by name
    assert DRIVER_SAMPLE[0] == "user_activity"
    # the module contract: brand-new / plan-changed entries are always
    # in the current window — the driver must see them immediately
    for new_this_round in NEW_THIS_ROUND:
        assert new_this_round in DRIVER_SAMPLE, new_this_round


# brand-new or rewritten entries of the current change; each joins here
# AND the window (the count engine moved out of plans/queries.py, so the
# four sequenceCount batteries' builders changed)
NEW_THIS_ROUND: tuple[str, ...] = (
    "sequence_count_compiled",
    "sequence_count_timed",
    "sequence_count_adjacent",
    "sequence_count_adjacent_timed",
)


def test_ordered_names_stable_tail():
    order = ordered_names(REGISTRY)
    tail = order[50:]
    reg_order = [n for n in REGISTRY if n not in set(DRIVER_SAMPLE)]
    assert tail == reg_order


def test_ordered_names_warns_on_skipped_window_name(caplog):
    partial = [n for n in REGISTRY if n != DRIVER_SAMPLE[1]]
    with caplog.at_level(logging.WARNING):
        order = ordered_names(partial)
    assert DRIVER_SAMPLE[1] not in order
    assert any(DRIVER_SAMPLE[1] in rec.getMessage() for rec in caplog.records)
