"""The table catalog: ``tables.load`` takes each table's schema from one
parquet footer and runs no Spark job. The schema must be exactly the one
Spark's own inference gives (plus ``normalize_ts`` for events), for the
testdata, for every ``ts`` encoding events has had, for Spark-written
tables, and for a manifest table republished with another schema. Every
check runs twice: in the engine's session and in a vanilla one (Spark's
own SQL defaults), the session the driver contract uses."""

from __future__ import annotations

import itertools
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from etl_mudah_spark.operators.manifest import manifest_publish, manifest_resolve
from etl_mudah_spark.plans.registry import REGISTRY
from etl_mudah_spark.tables import TABLES, load, normalize_ts
from tests.conftest import SF_CORRECT, SF_SMOKE, conf_set

SF_DIRS = (SF_SMOKE, SF_CORRECT, os.path.join(os.path.dirname(SF_SMOKE), "sf0.1"))

# perfbench's dashboard workload: the registered queries an interactive
# session answers
DASHBOARD = (
    "pricing_summary",
    "region_revenue",
    "top_customers",
    "price_segments",
    "filter_stack_metrics",
    "brand_quartiles",
    "top_brands",
    "top3_orders_per_customer",
    "keep_one_per_order",
    "events_sessionize",
    "doc_bm25_search",
)

_groups = itertools.count()


@pytest.fixture(scope="module")
def vanilla(spark):
    """A session on the shared context with every ``spark.sql.*`` conf
    the engine's builder set unset again: Spark's own SQL defaults."""
    v = spark.newSession()
    for k, _ in spark.sparkContext.getConf().getAll():
        if k.startswith("spark.sql.") and v.conf.isModifiable(k):
            v.conf.unset(k)
    return v


@pytest.fixture(params=["engine", "vanilla"])
def session(request, spark, vanilla):
    return spark if request.param == "engine" else vanilla


def _jobs(spark, fn):
    """(fn's result, the number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"test_tables_{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _inferred(spark, sf_dir, name):
    """The schema Spark's inference gives the table, events normalized
    as the catalog normalizes it."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(manifest_resolve(os.path.join(sf_dir, f"{name}.parquet")))
    if name == "events":
        df = normalize_ts(df, dict(df.dtypes)["ts"])
    return df.schema


def _assert_loads_as_inferred(spark, sf_dir, names=TABLES):
    for name in names:
        df, jobs = _jobs(spark, lambda: load(spark, sf_dir, name))
        assert jobs == 0, name
        assert df.schema == _inferred(spark, sf_dir, name), name


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_load_schema_equals_inferred(session, sf_dir):
    _assert_loads_as_inferred(session, sf_dir)


def _events_rows(spark, sf_dir):
    return sorted(load(spark, sf_dir, "events").collect())


@pytest.mark.parametrize(
    "ts_type, write_kw",
    [
        (pa.timestamp("ns"), {}),  # INT64 TIMESTAMP(NANOS): nanosAsLong
        (pa.timestamp("us"), {}),  # micros, isAdjustedToUTC=false
        (pa.timestamp("us", "UTC"), {}),  # micros, isAdjustedToUTC=true
        (pa.timestamp("ns"), {"use_deprecated_int96_timestamps": True}),
    ],
    ids=["nanos", "micros_ntz", "micros_utc", "int96"],
)
def test_events_ts_encodings_load_as_inferred(session, tmp_path, ts_type, write_kw):
    table = pq.read_table(os.path.join(SF_SMOKE, "events.parquet"))
    i = table.schema.get_field_index("ts")
    table = table.set_column(i, "ts", table.column("ts").cast(ts_type))
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6", **write_kw)
    _assert_loads_as_inferred(session, str(tmp_path), ["events"])
    assert _events_rows(session, str(tmp_path)) == _events_rows(session, SF_SMOKE)


@pytest.mark.parametrize("normalized", [False, True], ids=["raw", "loaded"])
def test_spark_written_tables_load_as_inferred(session, tmp_path, normalized):
    """Spark's writer leaves its row metadata in every footer; ``raw``
    writes events.ts as read (timestamp_ntz), ``loaded`` as the catalog
    returns it (timestamp, INT96)."""
    session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in TABLES:
        src = os.path.join(SF_SMOKE, f"{name}.parquet")
        df = load(session, SF_SMOKE, name) if normalized else session.read.parquet(src)
        df.write.parquet(str(tmp_path / f"{name}.parquet"))
    _assert_loads_as_inferred(session, str(tmp_path))


def test_spark_row_metadata_wins_over_parquet_types(session, tmp_path):
    """What only a Spark writer's row metadata carries: field metadata,
    and timestamp_ntz in a session that does not infer it from the
    parquet types."""
    key = F.col("o_orderkey").alias("o_orderkey", metadata={"comment": "order key"})
    df = load(session, SF_SMOKE, "orders").withColumn("o_orderkey", key)
    df.write.parquet(str(tmp_path / "orders.parquet"))
    with conf_set(session, "spark.sql.parquet.inferTimestampNTZ.enabled", "false"):
        _assert_loads_as_inferred(session, str(tmp_path), ["orders"])
    orderdate = load(session, str(tmp_path), "orders").schema["o_orderdate"]
    assert orderdate.dataType.simpleString() == "timestamp_ntz"


@pytest.mark.parametrize("writer", ["spark", "pyarrow"])
def test_republished_table_loads_new_schema(session, tmp_path, writer):
    base = str(tmp_path / "region.parquet")
    src = session.read.parquet(os.path.join(SF_SMOKE, "region.parquet"))

    def publish(df):
        if writer == "spark":
            manifest_publish(base, lambda d: df.write.parquet(d))
        else:
            def write(d):
                os.makedirs(d)
                table = pa.Table.from_pandas(df.toPandas())
                pq.write_table(table, f"{d}/part-0.parquet")

            manifest_publish(base, write)

    publish(src)
    assert load(session, str(tmp_path), "region").columns == src.columns
    publish(src.withColumn("r_extra", F.lit(7)))
    df = load(session, str(tmp_path), "region")
    assert df.columns == [*src.columns, "r_extra"]
    assert df.schema == _inferred(session, str(tmp_path), "region")
    assert {r.r_extra for r in df.collect()} == {7}


def test_dashboard_builds_run_no_job(session):
    """Building every dashboard query runs no Spark job, except
    doc_bm25_search's materialize_once boundary: its lazy checkpoint's
    RDD is built over an adaptive plan, which runs the boundary's
    shuffle stage."""
    jobs = {
        name: _jobs(session, lambda: REGISTRY[name].spark_fn(session, SF_SMOKE))[1]
        for name in DASHBOARD
    }
    assert jobs == {**dict.fromkeys(DASHBOARD, 0), "doc_bm25_search": 1}
