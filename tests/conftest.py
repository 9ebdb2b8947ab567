from __future__ import annotations

import contextlib
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from etl_mudah_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@contextlib.contextmanager
def conf_set(spark, key: str, value: str):
    """Set a session conf for the block, then put back exactly what was
    there: the prior explicit value, or no explicit value at all."""
    prior = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


@pytest.fixture
def publish_crash():
    """``with publish_crash(base, window): <call that publishes base>``
    injects one crash into the manifest publish of ``base`` and
    requires the call to fail with it.

    ``window="write"``: the first parquet write into the new version
    dir completes, then raises — a crash inside the write callback
    that leaves a partial version. ``window="flip"``: ``os.replace``
    onto ``base``'s pointer raises — the version is fully written but
    the ``_current`` pointer never flips. Publishes of other tables in
    the same call go through, so a crash can target the second of two
    publishes."""
    from pyspark.sql.readwriter import DataFrameWriter

    @contextlib.contextmanager
    def inject(base: str, window: str):
        orig = DataFrameWriter.parquet
        orig_replace = os.replace

        def parquet(self, path, *args, **kwargs):
            orig(self, path, *args, **kwargs)
            if str(path).startswith(os.path.join(base, "v=")):
                raise RuntimeError(f"injected crash after writing {path}")

        def replace(src, dst):
            if os.path.normpath(os.path.dirname(str(dst))) == os.path.normpath(base):
                raise RuntimeError(f"injected crash before flipping {dst}")
            orig_replace(src, dst)

        with pytest.MonkeyPatch.context() as mp:
            if window == "write":
                mp.setattr(DataFrameWriter, "parquet", parquet)
            else:
                assert window == "flip", window
                mp.setattr(os, "replace", replace)
            with pytest.raises(Exception, match="injected crash"):
                yield

    return inject
