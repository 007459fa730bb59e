"""Tests of the benchmark's own arithmetic and pinned key lists; no Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest

from perfbench import datagen
from perfbench.keys import FAMILIES, OPERATOR_KEYS, PANEL, RELATIONAL_KEYS
from perfbench.stats import failed_share, iqr_share, seeded_order, self_time
from perfbench.tracing import parse_metric_map, parse_metric_value


def test_self_time_subtracts_the_union_of_children():
    assert self_time((0.0, 10.0), []) == 10.0
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0)]) == 7.0  # overlap counted once
    assert self_time((0.0, 10.0), [(-5.0, 1.0), (9.0, 12.0)]) == 8.0  # clipped to the parent
    assert self_time((0.0, 10.0), [(20.0, 30.0)]) == 10.0
    assert self_time((0.0, 10.0), [(0.0, 10.0), (2.0, 3.0)]) == 0.0


def test_failed_share():
    assert failed_share(32, 0) == 0.0
    assert failed_share(3, 3) == 1.0
    assert failed_share(4, 1) == 0.25
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            failed_share(attempted, failed)


def test_seeded_order_is_deterministic_and_a_permutation():
    keys = PANEL
    a, b = seeded_order(keys, 7), seeded_order(list(reversed(keys)), 7)
    assert a == b
    assert sorted(a) == sorted(keys)
    assert seeded_order(keys, 8) != a


def test_iqr_share():
    assert iqr_share([1.0] * 10) == 0.0
    assert iqr_share([8, 9, 10, 11, 12]) == pytest.approx(3.0 / 10)


def test_key_lists_cover_the_registry_once():
    assert len(RELATIONAL_KEYS) == 100 and len(OPERATOR_KEYS) == 75
    assert len(set(RELATIONAL_KEYS) | set(OPERATOR_KEYS)) == 175
    assert set(FAMILIES["q-relational"]) <= set(RELATIONAL_KEYS)
    assert set(FAMILIES["q-operators"]) <= set(OPERATOR_KEYS)
    assert len(set(PANEL)) == len(PANEL)


def test_every_panel_key_has_a_golden():
    path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")
    with open(path) as f:
        goldens = json.load(f)
    assert len(goldens["keys"]) == 175 and not goldens["known_failures"]
    assert set(PANEL) <= set(goldens["keys"])


def test_parse_metric_values():
    assert parse_metric_value("1.5 s") == 1.5
    assert parse_metric_value("total (min, med, max (stageId: taskId))\n120 ms (1 ms, 2 ms, 3 ms (stage 1.0: task 2))") == pytest.approx(0.12)
    assert parse_metric_value("total (min, med, max)\n2.0 KiB (1.0 KiB, 1.0 KiB, 1.0 KiB)") == 2048.0
    m = parse_metric_map("HashMap(12 -> 1.0 s, 7 -> total (min, med, max)\n3.0 B (1.0 B, 1.0 B, 1.0 B))")
    assert m == {12: "1.0 s", 7: "total (min, med, max)\n3.0 B (1.0 B, 1.0 B, 1.0 B)"}


def test_etl_expected_counts_follow_the_dirt_strides():
    records, expected = datagen.etl_sources(3, n_clients=200, n_products=100, n_docs=300, n_days=40)
    full = expected["full"]
    assert sum(full["cliente"]) == 200 and sum(full["producto"]) == 100
    assert sum(full["documento_venta"]) == 300
    n_lines = sum(len(d["details"]["items"]) for d in records["documents"] if d["emissionDate"] and d["netAmount"] > 0)
    assert sum(full["detalle_documento"]) == n_lines
    bad_ids = sum(c["id"] is None for c in records["clients"])
    assert full["cliente"][1] >= bad_ids > 0
    # another seed dirties other rows
    other, _ = datagen.etl_sources(4, n_clients=200, n_products=100, n_docs=300, n_days=40)
    assert [c["id"] for c in other["clients"]] != [c["id"] for c in records["clients"]]


def test_etl_window_covers_a_small_share_of_the_emission_days():
    from perfbench.workloads import ETL_SIZES

    records, expected = datagen.etl_sources(1, **ETL_SIZES)
    days = {d["emissionDate"] // 86_400 for d in records["documents"] if d["emissionDate"] is not None}
    start = (dt.date.fromisoformat(expected["window_start"]) - dt.date(1970, 1, 1)).days
    share = sum(d >= start for d in days) / len(days)
    assert len(days) > 100 and share < 0.25
