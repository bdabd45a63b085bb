"""session.get_spark defaults that change engine behaviour."""

from __future__ import annotations

from types import SimpleNamespace

from pyspark.sql import SparkSession

from erddap2agol_spark import session

_CODEGEN_CACHE = "spark.sql.codegen.cache.maxEntries"


def test_built_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get(_CODEGEN_CACHE) == "4000"


def test_extra_conf_overrides_the_codegen_cache(monkeypatch):
    """The cache size is a static conf, so the override is checked on the
    builder's options without starting a second session."""
    seen = []

    def fake_get_or_create(builder):
        seen.append(dict(builder._options))
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    session.get_spark(master="local[1]")
    session.get_spark(master="local[1]", extra_conf={_CODEGEN_CACHE: "123"})
    assert [o[_CODEGEN_CACHE] for o in seen] == ["4000", "123"]
