"""One measurement loop for every A/B comparison and phase decomposition.

A probe script keeps only what is unique to it: how it stages its
input (:func:`staged`), a ``build()`` that returns its variants, and,
for an A/B, the checksum columns its variants must agree on. The loop
is :func:`run`:

- ``build()`` is called afresh for every rep. Re-running one DataFrame
  object re-reads its registered shuffle outputs (skipped stages), and
  a lazy checkpoint materialized in rep 0 would be a cache read in rep
  1, so later reps would time almost nothing.
- A DataFrame variant runs through the noop sink: every column is
  computed and nothing is collected. Its plan was built by ``build()``,
  outside the timer.
- A zero-argument callable is timed whole. It times a phase that is
  not one DataFrame (a one-off write, a stream drain, a footer read, a
  DuckDB query), or a plan build together with its run: when it
  returns a DataFrame, that runs through the noop sink inside the
  timer. Time a registered plan as ``lambda: q.spark_fn(spark, d)``
  wherever its build does work (a rollup written or a footer read
  while the plan is built), as the bench's timed reps do.
- The run order is shifted by one every rep (A/B, then B/A for two
  variants), so no variant always pays a rep's cold cost.
- With ``check``, every variant's ``count(*)`` and ``sum(hash(...))``
  over the checksum columns must agree before anything is timed.
  Decompositions pass none: their phases differ on purpose.

``run`` prints one line per rep with the 1-minute load average; the
min, median and max of every variant; for every variant against the
first, the reps it won and the median of the paired differences; and
the host's CPU-steal share over the run. The box's effective CPU
swings between epochs with host steal: above ~2% steal, read a
difference as unresolved, not as a win or a regression.
"""
from __future__ import annotations

import argparse
import atexit
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from collections.abc import Callable, Iterable, Mapping
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from pyspark.sql import DataFrame, SparkSession

import bench
from etl_mudah_spark.tables import TABLES
from perfbench.run import cpu_jiffies, steal_pct

Variant = DataFrame | Callable[[], DataFrame | None]
Build = Callable[[], Mapping[str, Variant]]


def parser(
    description: str | None, *, reps: int, factor: int | None = None
) -> argparse.ArgumentParser:
    """The command line every probe shares; each passes its own
    defaults and may add arguments of its own. A probe that stages a
    replica (:func:`staged`) passes its default ``factor`` and so also
    takes ``--factor`` and ``--scratch``; one that does not rejects
    them."""
    ap = argparse.ArgumentParser(
        description=description,
        formatter_class=argparse.RawDescriptionHelpFormatter,
    )
    ap.add_argument(
        "--reps", type=int, default=reps,
        help="timed reps per variant (pairs, for an A/B of two)",
    )
    ap.add_argument(
        "--sf-dir",
        default=os.environ.get("SPARK_GRAFT_SF_DIR", bench.DEFAULT_SF_DIR),
        help="source testdata dir",
    )
    if factor is not None:
        ap.add_argument(
            "--factor", type=int, default=factor,
            help="stage a factor-x replica of the probe's tables first; "
            "1 reads --sf-dir as is",
        )
        ap.add_argument(
            "--scratch", default=None,
            help="keep the staged replica under this dir and reuse it on "
            "later runs with the same staging (default: a temp dir "
            "removed at exit)",
        )
    return ap


def staged(
    spark: SparkSession,
    args: argparse.Namespace,
    tables: list[str] | None = None,
    *,
    factor: int | None = None,
    **layout,
) -> str:
    """The dir a probe reads: ``args.sf_dir`` itself at ``--factor 1``,
    else a ``factor``-x (default ``args.factor``) replica of ``tables``
    (all when None) staged by :func:`bench.stage_scaled` with the file
    policy in ``layout``.

    Under ``--scratch`` each staging gets its own subdir, keyed on the
    source dir, factor, tables and layout, and is reused only once its
    stamp file exists: the stamp is written after the staging returned,
    so a staging that failed partway is staged again."""
    if args.factor <= 1:
        return args.sf_dir
    factor = factor or args.factor
    stamp = {
        "sf_dir": os.path.abspath(args.sf_dir),
        "factor": factor,
        "tables": sorted(tables or TABLES),
        "layout": layout,
    }
    if args.scratch:
        key = hashlib.sha1(json.dumps(stamp, sort_keys=True).encode()).hexdigest()
        scratch = os.path.join(args.scratch, f"x{factor}_{key[:12]}")
        stamp_path = os.path.join(scratch, "STAGED.json")
        if os.path.exists(stamp_path):
            with open(stamp_path) as f:
                if json.load(f) == stamp:
                    sc_dir = os.path.join(scratch, "scaled")
                    print(f"reusing the replica staged at {sc_dir}", flush=True)
                    return sc_dir
        shutil.rmtree(scratch, ignore_errors=True)
        os.makedirs(scratch)
    else:
        stamp_path = None
        scratch = tempfile.mkdtemp(prefix="ab_stage_")
        atexit.register(shutil.rmtree, scratch, ignore_errors=True)
    sc_dir, nbytes = bench.stage_scaled(
        spark, args.sf_dir, scratch, factor=factor, tables=tables, **layout
    )
    if stamp_path:
        with open(stamp_path, "w") as f:
            json.dump(stamp, f, sort_keys=True)
    print(
        f"staged x{factor} {tables or 'all tables'}: "
        f"{nbytes / 1e6:.1f} MB at {sc_dir}",
        flush=True,
    )
    return sc_dir


def noop(df: DataFrame) -> None:
    """Execute every column of ``df``, collecting nothing."""
    df.write.mode("overwrite").format("noop").save()


def with_conf(
    spark: SparkSession, conf: Mapping[str, str], variant: Variant
) -> Callable[[], None]:
    """A callable variant that runs ``variant`` with the session conf
    ``conf`` set, then puts back what was there before."""

    def go() -> None:
        prior = {k: spark.conf.get(k, None) for k in conf}
        for k, v in conf.items():
            spark.conf.set(k, v)
        try:
            _execute(variant)
        finally:
            for k, v in prior.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    return go


def gate(variants: Mapping[str, Variant], cols: Iterable[str]) -> None:
    """Raise unless every variant has the same ``count(*)`` and
    ``sum(hash(cols))``; ``cols`` are SQL expressions (round floats
    there before they are hashed). A callable variant is called for
    the DataFrame it returns. The error names each variant with its
    values."""
    exprs = ["count(*) AS c", f"sum(hash({', '.join(cols)})) AS h"]
    sums = {}
    for name, v in variants.items():
        df = v if isinstance(v, DataFrame) else v()
        if not isinstance(df, DataFrame):
            raise TypeError(f"checksum gate needs DataFrames; {name} gave {df!r}")
        sums[name] = tuple(df.selectExpr(*exprs).first())
    if len(set(sums.values())) > 1:
        raise ValueError(
            "checksum gate failed, variants differ (count, sum of hash): "
            + "; ".join(f"{n}={v}" for n, v in sums.items())
        )
    rows = next(iter(sums.values()))[0]
    print(f"checksum gate OK: {len(sums)} variants agree on {rows} rows", flush=True)


def run(
    spark: SparkSession,
    build: Build,
    *,
    reps: int,
    check: Iterable[str] | None = None,
) -> dict[str, list[float]]:
    """Time every variant ``build()`` returns, ``reps`` times each, in
    an order rotated by one per rep, with ``build()`` called afresh per
    rep; with ``check``, :func:`gate` the variants first. A DataFrame
    variant's plan build is not timed, a callable's is. Returns the
    seconds per variant in ``build()``'s order."""
    if check is not None:
        gate(build(), check)
    sc = spark.sparkContext
    cpu_start = cpu_jiffies()
    samples: dict[str, list[float]] = {}
    for i in range(reps):
        variants = build()
        names = list(variants)
        k = i % len(names)
        for name in names[k:] + names[:k]:
            sc.setJobDescription(f"ab {name} rep{i}")
            t0 = time.perf_counter()
            _execute(variants[name])
            samples.setdefault(name, []).append(round(time.perf_counter() - t0, 3))
        sc.setJobDescription(None)
        print(
            f"rep {i}: load {os.getloadavg()[0]:.1f}  "
            + "  ".join(f"{n}={samples[n][-1]}" for n in names),
            flush=True,
        )
    _report(samples, steal_pct(cpu_start, cpu_jiffies()))
    return samples


def _execute(variant: Variant) -> None:
    out = variant if isinstance(variant, DataFrame) else variant()
    if isinstance(out, DataFrame):
        noop(out)


def stats(xs: Iterable[float]) -> tuple[float, float, float]:
    """Min, median and max of ``xs``."""
    xs = sorted(xs)
    return xs[0], statistics.median(xs), xs[-1]


def _report(samples: dict[str, list[float]], steal: float) -> None:
    width = max(map(len, samples))
    for name, ts in samples.items():
        lo, med, hi = stats(ts)
        print(f"{name:{width}s}  min {lo:7.3f}  med {med:7.3f}  max {hi:7.3f}  {ts}")
    (first, base), *rest = samples.items()
    for name, ts in rest:
        wins = sum(t < b for b, t in zip(base, ts))
        delta = statistics.median(t - b for b, t in zip(base, ts))
        print(
            f"{name} vs {first}: wins {wins}/{len(ts)} reps, "
            f"median paired delta {delta:+.3f} s"
        )
    print(f"host CPU steal over the run: {steal:.1f}%", flush=True)
