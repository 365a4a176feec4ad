"""The query registry is one module: live entries in order behind the
driver window, staged entries beside them, nothing importable from a
second registry module."""

from __future__ import annotations

import importlib
import json
import os

import pytest

import __spark_entry__ as E
from vectorsearchutil_spark import queries as Q

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: the round-11 wave, staged until a driver window takes it
#: (ROADMAP "Parked")
ROUND11_STAGED = {
    "events_logrank_test", "embeddings_intrinsic_dim",
    "graph_degree_assortativity", "graph_common_neighbors",
    "events_holt_forecast", "events_hurst_exponent",
    "docs_term_burstiness", "docs_rater_agreement",
    "events_poisson_rate_test", "docs_ocr_garbage_score",
    "embeddings_cka_similarity",
}


def test_queries_order_matches_committed_self_check():
    with open(os.path.join(ROOT, "CORRECTNESS_SELF_r11.json")) as fh:
        committed = list(json.load(fh))
    assert len(committed) == 286
    assert list(E.queries()) == committed


def test_every_oracle_names_a_live_query():
    assert set(E.oracle_sql()) <= set(E.queries())


def test_staged_entries_are_the_round11_wave():
    assert set(Q.STAGED_QUERIES) == ROUND11_STAGED
    assert not set(Q.STAGED_QUERIES) & set(Q.QUERIES)
    assert set(Q.STAGED_ORACLES) == ROUND11_STAGED


def test_no_second_registry_module():
    with pytest.raises(ModuleNotFoundError):
        importlib.import_module("vectorsearchutil_spark.queries_pending")
