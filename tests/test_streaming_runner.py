"""One streaming runner: streaming/pipeline.run_stream is the only place
the engine, bench.py and the measurement scripts start a Structured
Streaming query or write the session's shuffle width (besides
session.py, which sizes the session). The structural pins fail the
moment a second start/drain skeleton or a scattered width save/restore
comes back; the parametrized test holds
every streaming entry point that takes ``state_partitions`` to "the
stream runs at its state width, the session keeps its own"."""

from __future__ import annotations

import ast
import inspect
import json
import os
from pathlib import Path

import pytest

from etl_mudah_spark.streaming import ingest, pipeline
from tests.conftest import SF_SMOKE, conf_set

ROOT = Path(__file__).resolve().parent.parent
RUNNER = ("etl_mudah_spark/streaming/pipeline.py", "run_stream")
SESSION = "etl_mudah_spark/session.py"
WIDTH = "spark.sql.shuffle.partitions"


def _code_nodes():
    """(path relative to the repo, enclosing top-level function or
    None, node) for every AST node of the package, bench.py and
    scripts/."""
    paths = [
        *sorted((ROOT / "etl_mudah_spark").rglob("*.py")),
        ROOT / "bench.py",
        *sorted((ROOT / "scripts").glob("*.py")),
    ]
    for path in paths:
        rel = str(path.relative_to(ROOT))
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            fn = top.name if isinstance(top, ast.FunctionDef) else None
            for node in ast.walk(top):
                yield rel, fn, node


def test_only_the_runner_starts_a_stream():
    hits = [
        f"{rel}:{node.lineno}"
        for rel, fn, node in _code_nodes()
        if isinstance(node, ast.Attribute)
        and node.attr in ("writeStream", "processAllAvailable")
        and (rel, fn) != RUNNER
    ]
    assert hits == []


def test_only_the_runner_and_session_write_the_shuffle_width():
    hits = [
        f"{rel}:{node.lineno}"
        for rel, fn, node in _code_nodes()
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in ("set", "config", "unset")
        and node.args
        and (
            (isinstance(node.args[0], ast.Constant) and node.args[0].value == WIDTH)
            or (isinstance(node.args[0], ast.Name) and node.args[0].id == "_SHUFFLE_WIDTH")
        )
        and (rel, fn) != RUNNER
        and rel != SESSION
    ]
    assert hits == []


_LISTING = {
    "id": 1,
    "attributes": {
        "subject": "x", "price": 1.0, "brand": "b", "model": "m",
        "mileage": "0 - 10000", "manufactured_year": "2020",
        "region_name": "north", "list_time": "2024-01-01 00:00:00",
    },
}


def _ingest_listings(spark, tmp, n):
    drop = tmp / "drop"
    drop.mkdir(exist_ok=True)
    (drop / "b0.json").write_text(json.dumps(_LISTING) + "\n")
    ingest.stream_ingest_listings(
        spark, str(drop), str(tmp / "table"), str(tmp / "ckpt"),
        state_partitions=n,
    )


def _scd2(spark, tmp, n):
    drop = tmp / "drop"
    drop.mkdir(exist_ok=True)
    (drop / "s1.jsonl").write_text(
        json.dumps({"cust_id": 1, "tier": "gold", "ts": "2024-01-01T00:00:00"})
        + "\n"
    )
    ingest.stream_scd2_ingest(
        spark, str(drop), "cust_id bigint, tier string, ts timestamp",
        str(tmp / "log"), str(tmp / "hist"), str(tmp / "ckpt"),
        key_cols=["cust_id"], attr_cols=["tier"], ts_col="ts",
        state_partitions=n,
    )


def _ivm(spark, tmp, n):
    from pyspark.sql import functions as F

    from etl_mudah_spark.operators.ivm import summing_agg
    from etl_mudah_spark.operators.manifest import manifest_publish

    agg = str(tmp / "agg")
    if not os.path.exists(agg):
        base = spark.createDataFrame([(1, "a", 1.0)], "k int, grp string, val double")
        base = base.withColumn("val", F.col("val").cast("decimal(18,6)"))
        manifest_publish(
            agg,
            lambda d: summing_agg(base, ["grp"], {"total": "val"}).write.parquet(d),
        )
    diffs = tmp / "diffs"
    diffs.mkdir(exist_ok=True)
    (diffs / "d0.json").write_text(
        json.dumps({
            "k": 2, "change_type": "insert", "old_grp": None,
            "new_grp": "a", "old_val": None, "new_val": 2.0,
        })
        + "\n"
    )
    ingest.stream_ivm_refresh(
        spark, str(diffs),
        "k int, change_type string, old_grp string, new_grp string, "
        "old_val decimal(18,6), new_val decimal(18,6)",
        agg, str(tmp / "ckpt"),
        group_cols=["grp"], sum_cols={"total": "val"},
        state_partitions=n,
    )


def _events(fn):
    return lambda spark, tmp, n: fn(spark, SF_SMOKE, state_partitions=n).collect()


ENTRY_POINTS = {
    "stream_hourly_event_counts": _events(pipeline.stream_hourly_event_counts),
    "stream_dedup_events": _events(pipeline.stream_dedup_events),
    "stream_sliding_5min_counts": _events(pipeline.stream_sliding_5min_counts),
    "stream_ingest_listings": _ingest_listings,
    "stream_scd2_ingest": _scd2,
    "stream_ivm_refresh": _ivm,
}


def test_every_state_partitions_entry_point_is_covered():
    from etl_mudah_spark.streaming import stateful

    takes_knob = {
        name
        for mod in (ingest, pipeline, stateful)
        for name, fn in inspect.getmembers(mod, inspect.isfunction)
        if fn.__module__ == mod.__name__
        and not name.startswith("_")
        and "state_partitions" in inspect.signature(fn).parameters
    }
    assert takes_knob | {"stream_ingest_listings"} == set(ENTRY_POINTS)


@pytest.mark.parametrize("name", sorted(ENTRY_POINTS))
def test_stream_holds_state_width_and_session_keeps_its_own(
    spark, tmp_path, monkeypatch, name
):
    """The state width is in force when the query starts; after a
    successful run and after a failure raised at ``start()`` the
    session is back at its prior width (here a non-default 7, so a
    restore to any default would show)."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    run = ENTRY_POINTS[name]
    with conf_set(spark, WIDTH, "7"):
        run(spark, tmp_path, 3)
        assert spark.conf.get(WIDTH) == "7"

        at_start = []

        def failing_start(self, *args, **kwargs):
            at_start.append(spark.conf.get(WIDTH))
            raise RuntimeError("injected failure at start()")

        monkeypatch.setattr(DataStreamWriter, "start", failing_start)
        with pytest.raises(RuntimeError, match="injected failure"):
            run(spark, tmp_path, 3)
        monkeypatch.undo()
        assert at_start == ["3"]
        assert spark.conf.get(WIDTH) == "7"
