"""A bad ``spark.metrique.cache.chunkBytes`` setting must degrade to the
default chunk size, never raise inside a persist path."""

import pytest

from metrique_spark.functions.cache import (
    _CACHE_CHUNK_CONF, _CACHE_CHUNK_DEFAULT, _chunk_bytes, narrow_small)


@pytest.mark.parametrize("bad", ["not-a-number", "0", "-4096"])
def test_bad_chunk_bytes_falls_back_to_default(spark, sf_dir, bad):
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    old = spark.conf.get(_CACHE_CHUNK_CONF, None)
    try:
        spark.conf.set(_CACHE_CHUNK_CONF, str(_CACHE_CHUNK_DEFAULT))
        want = narrow_small(d).rdd.getNumPartitions()
        spark.conf.set(_CACHE_CHUNK_CONF, bad)
        assert _chunk_bytes(spark) == _CACHE_CHUNK_DEFAULT
        assert narrow_small(d).rdd.getNumPartitions() == want
    finally:
        if old is None:
            spark.conf.unset(_CACHE_CHUNK_CONF)
        else:
            spark.conf.set(_CACHE_CHUNK_CONF, old)
