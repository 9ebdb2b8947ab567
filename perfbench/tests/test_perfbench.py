"""Tests for the benchmark's own pieces (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import datetime as dt
import os
import threading
from decimal import Decimal

import numpy as np
import pandas as pd
import pytest

import datagen
import spans
import workloads
from conftest import BENCH


def _item(lid, date, price=10_000.0, year="2015", mileage=("10000", "19999")):
    attrs = {"subject": f"car {lid}", "make_name": "Proton", "model_name": "Saga",
             "manufactured_year": year, "name": "s", "region_name": "Penang",
             "date": date, "image_count": 1, "adview_url": None, "region_id": "7"}
    if price is not None:
        attrs["price"] = price
    if mileage is not None:
        attrs["mileage"] = {"gte": mileage[0], "lte": mileage[1]}
    return {"id": lid, "attributes": attrs}


def test_generator_is_deterministic_per_seed():
    a, b, c = (datagen.star_tables(s, 0.001) for s in (7, 7, 8))
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["orders"].equals(c["orders"])
    pd.testing.assert_frame_equal(datagen.documents(7, 50), datagen.documents(7, 50))
    known = np.arange(100, dtype="int64")
    f1 = datagen.listing_file(7, 3, 40, known, 100)
    assert f1 == datagen.listing_file(7, 3, 40, known, 100)
    assert f1 != datagen.listing_file(8, 3, 40, known, 100)


def test_listing_file_rescrapes_known_ids_with_later_dates():
    known = np.arange(50, dtype="int64")
    items = datagen.listing_file(1, 4, 100, known, 50)
    ids = [it["id"] for it in items]
    assert len(set(ids)) == 100
    assert sum(i < 50 for i in ids) == 30
    assert all(it["attributes"]["date"].startswith("2024-01-05") for it in items)


def test_event_timestamps_are_whole_seconds():
    ts = datagen.star_tables(3, 0.001)["events"]["ts"]
    assert (ts.dt.microsecond == 0).all()


def test_listing_model_matches_hand_worked_example():
    m = datagen.ListingModel()
    m.apply([_item(1, "2024-01-01 08:00:00", price=None),
             _item(2, "2024-01-01 09:00:00", mileage=None)])
    m.apply([_item(2, "2024-01-02 10:00:00", price=12_345.6, year="20l5"),
             _item(3, "2024-01-02 07:00:00")])
    # As in merge_upsert, a later batch wins even with an older
    # listing_date (the generator never produces this case).
    m.apply([_item(3, "2024-01-01 23:00:00", price=1.0)])
    f = m.frame().set_index("listing_id")
    assert list(f.index) == [1, 2, 3]
    assert f.loc[1, "price"] == Decimal("0.00")
    assert f.loc[2, "price"] == Decimal("12345.60") and f.loc[2, "year"] == "20l5"
    assert f.loc[2, "mileage_min"] == "10000"
    assert f.loc[3, "price"] == Decimal("1.00")
    d1, d2, d3 = (dt.datetime(2024, 1, 1, 9), dt.datetime(2024, 1, 2, 10),
                  dt.datetime(2024, 1, 1, 23))
    assert f.loc[2, "created_at"] == d1 and f.loc[2, "updated_at"] == d2
    assert f.loc[1, "created_at"] == f.loc[1, "updated_at"] == d1
    assert f.loc[3, "created_at"] == d2 and f.loc[3, "updated_at"] == d3


def test_flat_row_defaults_missing_keys():
    row = datagen.flat_row(_item(9, "2024-03-01 00:00:00", price=None, mileage=None))
    assert row["price"] == Decimal("0.00")
    assert (row["mileage_min"], row["mileage_max"]) == ("0", "0")


@pytest.fixture(scope="module")
def canon():
    return workloads._load_canon(os.path.dirname(BENCH))


def test_output_check_flags_a_corrupted_result(canon):
    good = pd.DataFrame({"k": [3, 1, 2], "v": [0.5, 1.25, 2.0]})
    shuffled = good.sample(frac=1.0, random_state=0).reset_index(drop=True)
    assert workloads.answer(canon, good) == workloads.answer(canon, shuffled)
    bad = good.copy()
    bad.loc[1, "v"] = 1.2500001
    assert workloads.answer(canon, good) != workloads.answer(canon, bad)
    assert workloads.answer(canon, good) != workloads.answer(canon, good.iloc[:2])
    renamed = good.rename(columns={"v": "w"})
    assert workloads.answer(canon, good) != workloads.answer(canon, renamed)


def test_self_times_on_a_synthetic_span_tree():
    S = spans.Span
    tree = [
        S("op", 0.0, 10.0, None, "a"),
        S("plans.build", 1.0, 4.0, 0, "a"),
        S("tables.load", 1.5, 2.0, 1, "a"),
        S("tables.load", 2.5, 3.0, 1, "a"),
        S("exec.action", 4.0, 9.0, 0, "a"),
        # two overlapping children (another thread) count once
        S("merge.upsert", 5.0, 7.0, 4, "a"),
        S("flatten", 6.0, 8.0, 4, "a"),
        S("op", 10.0, 11.0, None, "b"),
    ]
    assert spans.self_times(tree) == pytest.approx([2.0, 2.0, 0.5, 0.5, 2.0, 2.0, 2.0, 1.0])
    layers = spans.layer_self_times(tree, "a")
    assert layers == pytest.approx(
        {"op": 2.0, "plans.build": 2.0, "tables.load": 1.0, "exec.action": 2.0,
         "merge.upsert": 2.0, "flatten": 2.0})
    # Self times add up to the op's wall time (10 s) plus the 1 s in
    # which the two concurrent children overlap.
    assert sum(layers.values()) == pytest.approx(11.0)


def test_recorder_parents_callback_thread_spans_to_the_main_span():
    rec = spans.Recorder()
    rec.op = "x"

    def callback():
        with rec.span("merge.upsert"):
            pass

    with rec.span("op"):
        t = threading.Thread(target=callback)
        t.start()
        t.join(timeout=5)
    assert not t.is_alive()
    assert rec.spans[1].parent == 0 and rec.spans[1].op == "x"


def test_parse_metric_reads_ui_strings():
    assert spans.parse_metric("1,234") == 1234
    assert spans.parse_metric("2.0 KiB") == 2048
    assert spans.parse_metric("total (min, med, max (stageId: taskId))\n3.0 MiB (1.0 MiB, ...)") == 3 * 2**20
