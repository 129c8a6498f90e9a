"""BENCHMARK.json agrees with the harness, and every workload key is
registered with an oracle."""

from __future__ import annotations

import json
import os
import re

import pytest

from perfbench.run import END_TO_END, PER_LAYER
from perfbench.workloads import PACKAGE_GROUPS, WORKLOADS, package_group

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


@pytest.fixture(scope="module")
def bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_metric_names_are_well_formed():
    for name in [*END_TO_END, *PER_LAYER]:
        assert NAME.fullmatch(name), name


def test_benchmark_json_lists_the_harness_metrics(bench):
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == PER_LAYER
    assert {w["name"]: w["why"] for w in bench["workloads"]} == {
        w.name: w.why for w in WORKLOADS.values()
    }
    for m in bench["end_to_end"]:
        assert m["better"] == "lower" and 0 < m["bound"] <= 0.25
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


@pytest.fixture(scope="module")
def registry():
    from analyse_the_sky_with_apache_spark_spark import registry

    return registry


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_every_workload_key_is_registered_with_an_oracle(registry, workload):
    queries, oracles = registry.queries(), registry.oracle_sql()
    keys = WORKLOADS[workload].keys
    assert len(set(keys)) == len(keys)
    for key in keys:
        assert key in queries, key
        assert oracles.get(key), key
        assert package_group(queries[key].__module__) in PACKAGE_GROUPS


def test_workload_data_is_present():
    for wl in WORKLOADS.values():
        d = os.path.join(ROOT, "perfbench", "data", wl.scale)
        from analyse_the_sky_with_apache_spark_spark.catalog import TABLES

        for t in TABLES:
            assert os.path.isfile(os.path.join(d, f"{t}.parquet")), (wl.name, t)


def test_package_group_folds_workloads2():
    assert package_group("analyse_the_sky_with_apache_spark_spark.workloads2") == "workloads"
    with pytest.raises(ValueError):
        package_group("analyse_the_sky_with_apache_spark_spark.registry")
