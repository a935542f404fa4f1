"""Session-wide settings and the driver-built frame helper."""

from __future__ import annotations

from pyspark.sql import functions as F

from logstash_spark import datagen
from logstash_spark.pipeline import Pipeline
from logstash_spark.session import local_frame


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _executed(df) -> str:
    """The physical plan a run of ``df`` executed (AQE's final plan)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def test_dataframe_debugging_is_off(spark):
    """Column call-site capture (``inspect.stack()`` plus Py4J round
    trips per wrapped function) is disabled for every compile."""
    from pyspark.errors.utils import is_debugging_enabled

    assert not is_debugging_enabled()
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"


def test_driver_built_frames_are_local_relations(spark):
    """datagen dims and stage-built dims are planned as a LocalRelation,
    so a broadcast join over one builds the broadcast from the rows the
    plan carries, not from a scan of a Python RDD (Python workers)."""
    dims = [datagen.gen_geo_ranges(spark, 50), datagen.gen_ua_rules(spark),
            datagen.gen_domain_dict(spark, 200), datagen.gen_tld_suffixes(spark)]
    for dim in dims:
        assert "LocalRelation" in _optimized(dim)
        assert "LogicalRDD" not in _optimized(dim)

    keys = [r.key for r in datagen.gen_domain_dict(spark, 200).take(3)]
    facts = spark.range(3).select(
        F.element_at(F.array(*map(F.lit, keys)),
                     (F.col("id") + 1).cast("int")).alias("key"))
    joined = facts.join(F.broadcast(datagen.gen_domain_dict(spark, 200)), "key")
    plan = _executed(joined)
    assert "BroadcastExchange" in plan and "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert len(joined.collect()) == 3

    # a stage-built dim: the http filter's `responses` snapshot
    pipe = Pipeline({"id": "http_dim", "filters": [{"http": {
        "url": "http://svc/%{key}", "target_body": "body",
        "responses": {f"http://svc/{k}": "ok" for k in keys}}}]})
    out = pipe.compile(facts)
    assert "LocalRelation" in _optimized(out)
    assert "LogicalRDD" not in _optimized(out)
    plan = _executed(out)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert sorted(r.body for r in out.collect()) == ["ok"] * 3


def test_local_frame_types(spark):
    df = local_frame(spark, [
        ("a", 1, 0.5, {"k": "v"}, [("x", 2)]),
        (None, None, None, None, None),
    ], "s string, n int, d double, m map<string,string>, "
       "l array<struct<name: string, v: long>>")
    assert "LocalRelation" in _optimized(df)
    rows = df.collect()
    assert rows[0].asDict(recursive=True) == {
        "s": "a", "n": 1, "d": 0.5, "m": {"k": "v"},
        "l": [{"name": "x", "v": 2}]}
    assert all(v is None for v in rows[1])
    assert local_frame(spark, [], "s string").count() == 0
