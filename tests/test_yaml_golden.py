"""The reference's YAML golden e2e corpus, run against the Spark engine.

Every (suite, query) pair from
``/root/reference/src/javaRestTest/resources/test_cases/*.yaml`` becomes
one pytest case (SURVEY.md §5 layer 3 — the per-function golden corpus
with the reference's exact null/NaN edge semantics). The YAML is
RETRIEVED PUBLIC CONTENT used as differential-test input only.
"""

from __future__ import annotations

import os

import pytest

from tests import yaml_harness as H

SUITES = [
    "golden_dataset_rest_it.yaml",
    "functional_correctness_rest_it.yaml",
    "e2e_m3ql_query_execution_rest_it.yaml",
    "mockfetch_test_it.yaml",
    "tsdb_rest_it_example.yaml",
    "multi_index_overlapping_windows_rest_it.yaml",
    "multi_index_pushdown_comparison_rest_it.yaml",
    "multi_index_data_migration_rest_it.yaml",
    "m3ql_step_size_from_index_settings_rest_it.yaml",
    "m3ql_resolved_partitions_index_parsing_rest_it.yaml",
]

_suites: dict[str, dict] = {}


def _suite(name: str) -> dict:
    if name not in _suites:
        _suites[name] = H.load_suite(os.path.join(H.CASES_DIR, name))
    return _suites[name]


def _params():
    out = []
    for name in SUITES:
        if not os.path.exists(os.path.join(H.CASES_DIR, name)):
            continue
        for i, q in enumerate(_suite(name)["test_case"].get("queries", [])):
            qid = f"{name.removesuffix('_rest_it.yaml').removesuffix('.yaml')}::{q['name']}"
            out.append(pytest.param(name, i, id=qid))
    return out


_tables_cache: dict[str, dict] = {}


@pytest.fixture(scope="module")
def tables_for(spark):
    def get(suite_name: str) -> dict:
        if suite_name not in _tables_cache:
            _tables_cache[suite_name] = H.build_tables(spark, _suite(suite_name))
        return _tables_cache[suite_name]

    return get


#: cases whose YAML-recorded expectation documents a reference-side
#: artifact we intentionally do not reproduce
KNOWN_DIVERGENCES = {
    # expectation comment says "7, 15 instead of 13, 15 because of
    # pushdown, an incorrect result" — the shard-local moving window
    # loses cross-partition look-back under pushdown. Our engine always
    # computes the correct (no_pushdown) values; the sibling
    # __no_pushdown case asserts them and passes.
    "metric_with_migration_moving_sum__pushdown",
}


@pytest.mark.parametrize("suite_name,qidx", _params())
def test_yaml_case(spark, tables_for, suite_name, qidx):
    suite = _suite(suite_name)
    qcfg = suite["test_case"]["queries"][qidx]
    if qcfg["name"] in KNOWN_DIVERGENCES:
        pytest.skip("reference-documented incorrect pushdown artifact")
    H.check_query(
        spark, tables_for(suite_name), qcfg, index_steps=H.step_settings(suite)
    )


def test_yaml_matrix_metadata_block(spark, tables_for):
    """include_metadata: the per-series step/start/end block on a golden
    e2e case matches its time_config, and disappears when the flag is off
    (PromMatrixResponseListenerTests.java:337-340 contract)."""
    from time_series_db_spark.output import to_matrix

    suite_name = "golden_dataset_rest_it.yaml"
    path = os.path.join(H.CASES_DIR, suite_name)
    if not os.path.exists(path):
        pytest.skip(f"reference suite not found: {path}")
    suite = _suite(suite_name)
    qcfg = suite["test_case"]["queries"][0]
    sf = H.run_query(
        spark, tables_for(suite_name), qcfg, index_steps=H.step_settings(suite)
    )
    tc = qcfg["time_config"]
    with_meta = to_matrix(sf, include_metadata=True)["data"]["result"]
    assert with_meta, "golden case returned no series"
    for r in with_meta:
        assert r["step"] == H.parse_duration_ms(tc["step"])
        assert r["start"] == H.iso_ms(tc["min_timestamp"])
        assert r["end"] == H.iso_ms(tc["max_timestamp"])
    without = to_matrix(sf, include_metadata=False)["data"]["result"]
    for r in without:
        assert "step" not in r and "start" not in r and "end" not in r
