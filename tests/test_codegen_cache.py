"""Spark's generated-code class cache holds the engine's working set.

Whole-stage codegen compiles Java classes (Janino) for each statement and
caches them in an LRU keyed by the exact generated source, literals
included. Spark's default of 100 entries is smaller than even a dozen
inventory statements need, so cycling through them recompiled every class
on every pass. ``get_spark`` sizes the cache to the inventory's working
set; a statement run again in the same session then reuses its compiled
classes.
"""

from __future__ import annotations

from types import SimpleNamespace

from tests.conftest import SF_SMOKE
from tests.oracle_utils import _normalize

CACHE_KEY = "spark.sql.codegen.cache.maxEntries"

# Inventory entries whose generated code is identical run to run; together
# with DIALECT they compile ~130 classes cold at the smoke scale, more than
# Spark's default cache holds, so the second round below only stays free
# of compilations because the cache is sized past that.
ENTRIES = ("q1_pricing_summary", "q3_shipping_priority", "w3_rank_rownum",
           "q5_region_revenue", "q9_product_profit", "j4_self_join",
           "flagship_top_customers", "a10_rollup", "w1_running_total",
           "q18_large_volume_customers", "j2_left_join")
DIALECT = """
    SELECT o_orderkey,
           round(clickhouse(exp(o_totalprice / 500000), 'Float64'), 6) AS e,
           clickhouse(mod(o_orderkey, 7), 'Int64') AS m
    FROM clickhouse.main.orders WHERE o_orderkey < 2000"""


class _RecordingBuilder:
    """Stands in for ``SparkSession.builder``: records the confs."""

    def __init__(self):
        self.conf: dict[str, str] = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(
            conf=self.conf,
            sparkContext=SimpleNamespace(setLogLevel=lambda _level: None))


def _built_conf(monkeypatch, **kwargs) -> dict[str, str]:
    from clickhouse_datafusion_spark import session

    builder = _RecordingBuilder()
    monkeypatch.setattr(session, "SparkSession",
                        SimpleNamespace(builder=builder))
    return session.get_spark(**kwargs).conf


def test_get_spark_sizes_codegen_cache(monkeypatch):
    assert _built_conf(monkeypatch)[CACHE_KEY] == "4096"


def test_extra_conf_overrides_codegen_cache_size(monkeypatch):
    conf = _built_conf(monkeypatch, extra_conf={CACHE_KEY: "256"})
    assert conf[CACHE_KEY] == "256"


def test_repeated_statements_reuse_compiled_code(spark, engine):
    """Two back-to-back rounds over the same statements: the second
    compiles nothing, and returns exactly what the first did (a cache hit
    reuses code, never a result)."""
    from clickhouse_datafusion_spark.queries import QUERIES

    assert spark.conf.get(CACHE_KEY) == "4096"
    compilations = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                    .METRIC_COMPILATION_TIME())

    def run_round():
        results = {name: _normalize(
            QUERIES[name].spark_fn(spark, SF_SMOKE).toPandas())
            for name in ENTRIES}
        results["dialect"] = _normalize(engine.sql(DIALECT).toPandas())
        return results

    first = run_round()
    before = compilations.getCount()
    second = run_round()
    assert compilations.getCount() - before == 0
    assert second == first
