"""scripts/ab.py is the one timed-rep loop of the measurement scripts.

Unit tests pin its contract on ``spark.range`` variants (the checksum
gate, the rotated order, one ``build()`` per rep); an AST guard keeps
every other script from timing or summarizing reps itself; and every
script must import without starting Spark, which also catches a broken
cross-script import."""

from __future__ import annotations

import ast
import importlib
import os
import re
import sys
from pathlib import Path

import pytest

from scripts import ab

REPO = Path(__file__).resolve().parent.parent
SCRIPTS = sorted((REPO / "scripts").glob("*.py"))
TIMERS = {("time", "perf_counter"), ("time", "time"), ("statistics", "median")}
# progress timers, not measurements
TIMER_ALLOWED = {
    "driver_sim.py": "per-query progress and the slow-query list of the oracle sweep",
    "ann_recall_sweep.py": "index-build progress of the recall sweep",
}


def _timer_uses(path: Path) -> list[str]:
    hits = []
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and (node.value.id, node.attr) in TIMERS
        ) or (
            isinstance(node, ast.ImportFrom)
            and any((node.module, a.name) in TIMERS for a in node.names)
        ):
            hits.append(f"{path.name}:{node.lineno}")
    return hits


def test_only_ab_times_reps():
    assert {p.name for p in SCRIPTS} >= set(TIMER_ALLOWED)
    hits = [
        hit
        for path in SCRIPTS
        if path.name not in {"ab.py", *TIMER_ALLOWED}
        for hit in _timer_uses(path)
    ]
    assert hits == []


def _names_plans_path(text: str) -> bool:
    """A path under the repo-root ``plans/`` (the package's
    ``etl_mudah_spark/plans/`` is not one)."""
    return text == "plans" or re.search(r"(?<![\w/.])plans/", text) is not None


def test_no_script_names_a_path_under_plans():
    hits = [
        f"{path.name}:{node.lineno}"
        for path in [*SCRIPTS, REPO / "bench.py"]
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path)))
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and _names_plans_path(node.value)
    ]
    assert hits == []
    assert _names_plans_path("plans/r15/x.txt")
    assert not _names_plans_path("etl_mudah_spark/plans/datapipe.py")


def test_gate_names_every_variant_on_mismatch(spark):
    with pytest.raises(ValueError, match=r"short=\(10, .*long=\(11, "):
        ab.run(
            spark,
            lambda: {"short": spark.range(10), "long": spark.range(11)},
            reps=1,
            check=["id"],
        )


def test_gate_builds_callable_variants(spark):
    with pytest.raises(ValueError, match=r"short=\(10, .*long=\(11, "):
        ab.run(
            spark,
            lambda: {"short": lambda: spark.range(10), "long": spark.range(11)},
            reps=1,
            check=["id"],
        )


def test_staging_flags_only_for_staging_probes():
    assert ab.parser(None, reps=1, factor=10).parse_args([]).factor == 10
    with pytest.raises(SystemExit):
        ab.parser(None, reps=1).parse_args(["--factor", "10"])


def test_staged_reuses_only_a_finished_staging_of_the_same_layout(
    tmp_path, monkeypatch
):
    calls = []

    def stage_scaled(spark, sf_dir, scratch, factor, tables, **layout):
        calls.append(layout)
        if layout.get("doc_text_mode") == "crash":
            raise RuntimeError("staging failed")
        return os.path.join(scratch, "scaled"), 0

    monkeypatch.setattr(ab.bench, "stage_scaled", stage_scaled)
    args = ab.parser(None, reps=1, factor=10).parse_args(
        ["--sf-dir", str(tmp_path / "src"), "--scratch", str(tmp_path / "keep")]
    )
    words = ab.staged(None, args, ["documents"])
    assert ab.staged(None, args, ["documents"]) == words
    assert ab.staged(None, args, ["documents"], doc_text_mode="suffix") != words
    assert ab.staged(None, args, ["documents"], factor=20) != words
    for _ in range(2):
        with pytest.raises(RuntimeError):
            ab.staged(None, args, ["documents"], doc_text_mode="crash")
    assert len(calls) == 5


def test_first_runner_alternates_across_pairs(spark):
    order = []
    ab.run(
        spark,
        lambda: {"a": lambda: order.append("a"), "b": lambda: order.append("b")},
        reps=4,
    )
    assert order == ["a", "b", "b", "a", "a", "b", "b", "a"]


def test_build_runs_once_per_rep_plus_once_for_the_gate(spark):
    calls = []

    def build():
        calls.append(None)
        return {"a": spark.range(5), "b": spark.range(5).select("id")}

    ab.run(spark, build, reps=3, check=["id"])
    assert len(calls) == 3 + 1


def test_ungated_phases_return_one_sample_list_each(spark):
    samples = ab.run(
        spark,
        lambda: {
            "scan": spark.range(3),
            "project": spark.range(4).selectExpr("id * 2 AS x"),
            "callable": lambda: None,
        },
        reps=2,
    )
    assert list(samples) == ["scan", "project", "callable"]
    assert [len(ts) for ts in samples.values()] == [2, 2, 2]


@pytest.mark.parametrize("path", SCRIPTS, ids=lambda p: p.name)
def test_script_imports_without_starting_spark(path, monkeypatch):
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    def refuse(*args, **kwargs):
        raise AssertionError(f"importing {path.name} starts Spark")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", refuse)
    monkeypatch.setattr(SparkContext, "__init__", refuse)
    monkeypatch.delitem(sys.modules, f"scripts.{path.stem}", raising=False)
    importlib.import_module(f"scripts.{path.stem}")
