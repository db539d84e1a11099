"""A bad chunk-size setting — ``spark.metrique.cache.chunkBytes`` for
``narrow_small``, ``spark.metrique.spread.chunkBytes`` for
``spread_small_scan`` — must degrade to the default chunk size, never
raise inside a persist or sizing path."""

import pytest

from metrique_spark.functions.cache import (
    _CACHE_CHUNK_CONF, _CACHE_CHUNK_DEFAULT, _chunk_bytes, narrow_small)
from metrique_spark.functions.dedup import (
    _SPREAD_CHUNK_CONF, _SPREAD_CHUNK_DEFAULT, spread_small_scan)

_BAD = ["not-a-number", "0", "-4096"]


@pytest.mark.parametrize("conf, default, sizer, bad", [
    *[pytest.param(_CACHE_CHUNK_CONF, _CACHE_CHUNK_DEFAULT, narrow_small, b,
                   id=b) for b in _BAD],
    *[pytest.param(_SPREAD_CHUNK_CONF, _SPREAD_CHUNK_DEFAULT,
                   spread_small_scan, b, id=f"spread-{b}") for b in _BAD]])
def test_bad_chunk_bytes_falls_back_to_default(spark, sf_dir, conf, default,
                                               sizer, bad):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, str(default))
        want = sizer(d).rdd.getNumPartitions()
        spark.conf.set(conf, bad)
        assert _chunk_bytes(spark, conf, default) == default
        assert sizer(d).rdd.getNumPartitions() == want
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)
