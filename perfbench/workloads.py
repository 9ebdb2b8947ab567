"""The workloads: what each operation runs and how it is checked.

An operation is one call a user of the engine would make and wait for:
a registered dashboard query collected with ``toPandas()``, one
streaming trigger that ingests a drop file, or a read of the live
listings table right after a write. Each ``run_*`` method returns an
:class:`OpResult`; its ``latency`` covers the engine call only, never
the input generation or the output check, which run next to it inside
the timed loop.

A workload's ``generate`` makes its seeded inputs once, before any
timer starts; ``stage`` is the timed part of a set-up that is the
engine's (for ingest, the bulk load of the initial scrape).
"""

from __future__ import annotations

import importlib.util
import os
import random
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import duckdb
import pandas as pd

import datagen

# Query -> the tables it reads; rows_per_s counts their rows.
# The last one is the search box: ranked BM25 retrieval over the
# documents table, which passes a materialize-once (ckpt) boundary.
DASHBOARD = {
    "pricing_summary": ("lineitem",),
    "region_revenue": ("orders", "customer", "nation", "region"),
    "top_customers": ("orders", "customer"),
    "price_segments": ("orders",),
    "filter_stack_metrics": ("orders",),
    "brand_quartiles": ("part",),
    "top_brands": ("part",),
    "top3_orders_per_customer": ("orders",),
    "keep_one_per_order": ("lineitem",),
    "events_sessionize": ("events",),
    "doc_bm25_search": ("documents",),
}

DASHBOARD_SF = 0.02   # 30,000 orders, ~120,000 lineitems, 20,000 events
DASHBOARD_DOCS = 400
INGEST_BASE_ROWS = 5_000    # initial scrape, bulk-loaded during set-up
INGEST_FILE_ROWS = 1_000    # one drop file per trigger, ~30% re-scraped ids
INGEST_READ_EVERY = 2       # triggers between read-after-write checks
AS_OF_YEAR = 2025
SEG_THRESHOLDS = [25_000.0, 50_000.0, 100_000.0, 200_000.0]
SEG_LABELS = ["Budget", "Economy", "Mid-Range", "Premium", "Luxury"]


def _load_canon(repo_root: str):
    """The order-insensitive row canonicalisation of the repository's
    oracle tests (``tests/oracle_utils.py``), loaded by path."""
    path = os.path.join(repo_root, "tests", "oracle_utils.py")
    spec = importlib.util.spec_from_file_location("_perfbench_oracle_utils", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._canon


@dataclass
class Answer:
    """A result reduced to what the check compares."""
    columns: list[str]
    rows: list[tuple]


def answer(canon, pdf: pd.DataFrame) -> Answer:
    return Answer(sorted(c.lower() for c in pdf.columns), canon(pdf))


@dataclass
class OpResult:
    name: str
    kind: str
    latency: float
    rows: int = 0
    ok: bool = True
    error: str = ""
    dfs: list = field(default_factory=list)
    input_bytes: int = 0
    check: object = None   # () -> bool, run after the operation is timed

    def verify(self) -> None:
        if self.check is not None:
            self.ok = self.check()
            if not self.ok:
                self.error = f"{self.name}: output differs from the expected answer"


class Ctx:
    """Hooks the traced run fills in; in the untraced run every hook is
    a no-op, so both runs execute the same operation code."""

    def __init__(self, spark, rec=None) -> None:
        self.spark = spark
        self.rec = rec

    def span(self, name: str):
        return self.rec.span(name) if self.rec else nullcontext()

    def group(self, label: str) -> None:
        if self.rec:
            self.spark.sparkContext.setJobGroup(f"{self.rec.op}:{label}", label)


def _duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(data_dir, f)}'"
            )
    return con


class Dashboard:
    """Registered queries run by name against seeded tables, in a seeded
    shuffle per round; each result is checked against the query's DuckDB
    oracle, evaluated once after set-up."""

    kind = "query"
    # A set-up is a context restart of 0.5-1.2 s; six of them keep the
    # median steady (the first, cold one is the largest).
    setup_reps = 6

    def __init__(self, seed: int, work: str, canon) -> None:
        self.names = list(DASHBOARD)
        self.seed = seed
        self.work = work
        self.canon = canon
        self.rng = random.Random(seed)
        self.data_dir = ""
        self.expected: dict[str, Answer] = {}
        self.rows: dict[str, int] = {}

    def generate(self) -> None:
        self.data_dir = os.path.join(self.work, "inputs")
        tables = datagen.star_tables(self.seed, DASHBOARD_SF)
        tables["documents"] = datagen.documents(self.seed, DASHBOARD_DOCS)
        datagen.write_tables(tables, self.data_dir)
        for name, used in DASHBOARD.items():
            self.rows[name] = sum(len(tables[t]) for t in used)

    def stage(self, spark, rep: int) -> None:
        """The queries read the generated files in place."""

    def prepare_checks(self) -> None:
        from etl_mudah_spark.plans.registry import REGISTRY

        con = _duck(self.data_dir)
        try:
            for name in self.names:
                self.expected[name] = answer(
                    self.canon, con.execute(REGISTRY[name].oracle).df()
                )
        finally:
            con.close()

    def rounds(self):
        while True:
            order = self.names[:]
            self.rng.shuffle(order)
            yield [lambda ctx, n=n: self.run_query(ctx, n) for n in order]

    def run_query(self, ctx: Ctx, name: str) -> OpResult:
        from etl_mudah_spark.plans.registry import REGISTRY

        t0 = time.perf_counter()
        ctx.group("build")
        with ctx.span("plans.build"):
            df = REGISTRY[name].spark_fn(ctx.spark, self.data_dir)
        ctx.group("action")
        with ctx.span("exec.action"):
            pdf = df.toPandas()
        lat = time.perf_counter() - t0
        return OpResult(name, self.kind, lat, self.rows[name], dfs=[df],
                        check=lambda: answer(self.canon, pdf) == self.expected[name])


READ_TOP_MAKES_SQL = """
SELECT make, COUNT(*) AS cnt,
       CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) / COUNT(price) AS avg_price,
       CAST(SUM(CAST(age AS DECIMAL(18,6))) AS DOUBLE) / COUNT(age) AS avg_age
FROM clean GROUP BY make ORDER BY cnt DESC, make ASC LIMIT 10
"""
READ_SEGMENTS_SQL = """
SELECT CASE WHEN price < 25000 THEN 'Budget' WHEN price < 50000 THEN 'Economy'
            WHEN price < 100000 THEN 'Mid-Range' WHEN price < 200000 THEN 'Premium'
            ELSE 'Luxury' END AS segment,
       COUNT(*) AS cnt,
       CAST(SUM(CAST(price AS DECIMAL(18,6))) AS DOUBLE) AS total_value
FROM clean GROUP BY 1
"""


class Ingest:
    """Drop files of raw API listings, each ingested by one streaming
    trigger (``stream_ingest_listings`` with the default one file per
    trigger) into a parquet table; every ``INGEST_READ_EVERY`` triggers
    the live table is read back through ``flatten.clean_listings``."""

    setup_reps = 3   # each a restart plus a 2-4 s bulk load

    def __init__(self, seed: int, work: str, canon) -> None:
        self.seed = seed
        self.work = work
        self.canon = canon
        self.model = datagen.ListingModel()
        self.next_file = 0
        self.next_id = 0
        self.base = self.drop = self.pending = self.table = self.ckpt = ""

    def _prepare(self, n_rows: int) -> tuple[list[dict], str]:
        """Generate the next drop file into ``pending/``; a trigger moves
        it into the drop zone, so generation stays outside the timing."""
        items = datagen.listing_file(
            self.seed, self.next_file, n_rows, self.model.ids(), self.next_id
        )
        path = os.path.join(self.pending, f"listings-{self.next_file:05d}.jsonl")
        datagen.write_jsonl(items, path)
        self.next_file += 1
        self.next_id = max(self.next_id, max(it["id"] for it in items) + 1)
        return items, path

    def _ingest(self, spark, path: str) -> None:
        from etl_mudah_spark.streaming.ingest import stream_ingest_listings

        os.replace(path, os.path.join(self.drop, os.path.basename(path)))
        stream_ingest_listings(spark, self.drop, self.table, self.ckpt)

    def prepare_checks(self) -> None:
        """Read checks are computed per read from the predicted state."""

    def generate(self) -> None:
        """The initial scrape, which every set-up bulk-loads."""
        self.pending = os.path.join(self.work, "inputs")
        os.makedirs(self.pending)
        items, self.base = self._prepare(INGEST_BASE_ROWS)
        self.model.apply(items)

    def stage(self, spark, rep: int) -> None:
        root = os.path.join(self.work, f"setup{rep}")
        self.drop = os.path.join(root, "drop")
        self.pending = os.path.join(root, "pending")
        self.table = os.path.join(root, "car_listings")
        self.ckpt = os.path.join(root, "checkpoint")
        os.makedirs(self.drop)
        os.makedirs(self.pending)
        path = os.path.join(self.pending, os.path.basename(self.base))
        shutil.copyfile(self.base, path)
        self._ingest(spark, path)

    def rounds(self):
        while True:
            files = [self._prepare(INGEST_FILE_ROWS) for _ in range(INGEST_READ_EVERY)]
            yield [lambda ctx, f=f: self.run_trigger(ctx, *f) for f in files] + [self.run_read]

    def run_trigger(self, ctx: Ctx, items: list[dict], path: str) -> OpResult:
        size = os.path.getsize(path)
        t0 = time.perf_counter()
        with ctx.span("streaming.query"):
            self._ingest(ctx.spark, path)
        lat = time.perf_counter() - t0

        def apply() -> bool:
            self.model.apply(items)
            return True

        # Correctness of a trigger shows in the next read and the final check.
        return OpResult("trigger", "trigger", lat, len(items), input_bytes=size, check=apply)

    def read_frames(self, spark):
        from pyspark.sql import functions as F

        from etl_mudah_spark.functions.core import bucket_case, davg, dsum
        from etl_mudah_spark.operators.flatten import clean_listings

        clean = clean_listings(spark.read.parquet(self.table), as_of_year=AS_OF_YEAR)
        top = (
            clean.groupBy("make")
            .agg(F.count("*").alias("cnt"), davg("price").alias("avg_price"),
                 davg("age").alias("avg_age"))
            .orderBy(F.desc("cnt"), F.asc("make"))
            .limit(10)
        )
        seg = clean.groupBy(
            bucket_case("price", SEG_THRESHOLDS, SEG_LABELS).alias("segment")
        ).agg(F.count("*").alias("cnt"), dsum("price").alias("total_value"))
        return top, seg

    def expected_reads(self) -> tuple[Answer, Answer]:
        state = self.model.frame()
        state["price"] = state["price"].astype(float)
        con = duckdb.connect()
        try:
            con.register("state", state)
            con.execute(
                f"""CREATE VIEW clean AS
                SELECT *, {AS_OF_YEAR} - TRY_CAST(year AS INTEGER) AS age
                FROM (SELECT * REPLACE (CAST(price AS DECIMAL(12,2)) AS price) FROM state)
                WHERE price > 0 AND price < 1000000 AND regexp_matches(year, '^[0-9]{{4}}$')"""
            )
            return (answer(self.canon, con.execute(READ_TOP_MAKES_SQL).df()),
                    answer(self.canon, con.execute(READ_SEGMENTS_SQL).df()))
        finally:
            con.close()

    def run_read(self, ctx: Ctx) -> OpResult:
        t0 = time.perf_counter()
        ctx.group("build")
        with ctx.span("plans.build"):
            top, seg = self.read_frames(ctx.spark)
        ctx.group("action")
        with ctx.span("exec.action"):
            got = (top.toPandas(), seg.toPandas())
        lat = time.perf_counter() - t0
        return OpResult(
            "read_after_write", "read", lat, dfs=[top, seg],
            check=lambda: tuple(answer(self.canon, p) for p in got) == self.expected_reads(),
        )

    def final_check(self, spark) -> bool:
        """The whole table against the predicted final state."""
        got = spark.read.parquet(self.table).toPandas()
        want = self.model.frame()
        return answer(self.canon, got) == answer(self.canon, want)

    def layout(self) -> tuple[int, int]:
        """(parquet files, bytes) of the live table."""
        files = size = 0
        for dirpath, _, names in os.walk(self.table):
            for n in names:
                if n.endswith(".parquet"):
                    files += 1
                    size += os.path.getsize(os.path.join(dirpath, n))
        return files, size


WORKLOADS = {"dashboard": Dashboard, "ingest": Ingest}
