"""One scratch owner: session.scratch_dir makes every scratch dir the
engine stages into. The structural pin fails the moment a module makes
its own temp dir or registers its own exit hook again; the lifetime
tests hold "a builder's new scratch replaces its previous one, and the
root goes at exit"."""

from __future__ import annotations

import ast
import glob
import json
import os
import subprocess
import sys
from pathlib import Path

from etl_mudah_spark import session
from etl_mudah_spark.plans import registry
from tests.conftest import SF_CORRECT, SF_SMOKE
from tests.test_tables import _jobs

ROOT = Path(__file__).resolve().parent.parent
HELPER = ("etl_mudah_spark/session.py", "scratch_dir")
BANNED = {
    ("tempfile", "mkdtemp"),
    ("tempfile", "mkstemp"),
    ("atexit", "register"),
}


def test_only_the_helper_makes_scratch_or_registers_an_exit_hook():
    hits = []
    for path in sorted((ROOT / "etl_mudah_spark").rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        tree = ast.parse(path.read_text(), filename=str(path))
        for top in tree.body:
            fn = top.name if isinstance(top, ast.FunctionDef) else None
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Attribute)
                    and isinstance(node.value, ast.Name)
                    and (node.value.id, node.attr) in BANNED
                    and (rel, fn) != HELPER
                ) or (
                    isinstance(node, ast.ImportFrom)
                    and any((node.module, a.name) in BANNED for a in node.names)
                ):
                    hits.append(f"{rel}:{node.lineno}")
    assert hits == []


def _owned(owner: str) -> set[str]:
    return set(glob.glob(os.path.join(session._SCRATCH_ROOT or "", f"{owner}_*")))


def test_repeated_stream_builds_keep_one_dir_and_the_last_result_reads(spark):
    from etl_mudah_spark.streaming import pipeline as pl

    before = _owned("stream_hourly_event_counts")
    for _ in range(3):
        df = pl.stream_hourly_event_counts(spark, SF_SMOKE)
    assert len(_owned("stream_hourly_event_counts") - before) == 1
    assert df.count() > 0


def test_repeated_zone_map_stagings_keep_one_dir(spark):
    fn = registry.REGISTRY["lineitem_zone_pruned_revenue"].spark_fn
    before = _owned("lineitem_zone_pruned_revenue")
    first = fn(spark, SF_SMOKE).collect()
    last = fn(spark, SF_SMOKE).collect()
    assert len(_owned("lineitem_zone_pruned_revenue") - before) == 1
    assert first == last


def test_an_owner_replaces_only_its_own_scratch_and_the_root_goes_at_exit():
    child = """
import json, os
from etl_mudah_spark.session import scratch_dir
a1 = scratch_dir("a", "/sf")
open(os.path.join(a1, "f"), "w").close()
a_other_sf = scratch_dir("a", "/other_sf")
b = scratch_dir("b", "/sf")
a2 = scratch_dir("a", "/sf")
print(json.dumps({
    "root": os.path.dirname(a2),
    "live": sorted(os.listdir(os.path.dirname(a2))),
    "want": sorted(os.path.basename(d) for d in (a_other_sf, b, a2)),
    "a2_empty": os.listdir(a2) == [],
}))
"""
    out = subprocess.run(
        [sys.executable, "-c", child],
        cwd=ROOT,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    assert seen["live"] == seen["want"]
    assert seen["a2_empty"]
    assert not os.path.exists(seen["root"])


def test_warm_q18_rollup_reads_back_without_a_job(spark):
    from etl_mudah_spark.plans import starjoins as sj

    sj._q18_rollup(spark, SF_SMOKE)
    (df, _), jobs = _jobs(spark, lambda: sj._q18_rollup(spark, SF_SMOKE))
    assert jobs == 0
    assert "qty_sum" in df.columns


def test_q18_rollups_over_two_source_dirs_coexist(spark):
    from etl_mudah_spark.plans import starjoins as sj

    _, smoke = sj._q18_rollup(spark, SF_SMOKE)
    other_df, _ = sj._q18_rollup(spark, SF_CORRECT)
    _, again = sj._q18_rollup(spark, SF_SMOKE)
    assert again == smoke and os.path.isdir(smoke)
    assert other_df.count() > 0
