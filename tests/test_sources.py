"""Input-plugin resolution tests (sources.py)."""

from __future__ import annotations

import gzip

import pytest

from logstash_spark.sources import SourceError, resolve_input


def test_file_line_codec(spark, tmp_path):
    p = tmp_path / "log.txt"
    p.write_text("line one\nline two\n")
    df = resolve_input(spark, "file", {"path": str(p)})
    assert df.columns == ["message"]
    assert {r["message"] for r in df.collect()} == {"line one", "line two"}


def test_file_gzip_lines(spark, tmp_path):
    p = tmp_path / "log.txt.gz"
    with gzip.open(p, "wt") as f:
        f.write("a\nb\nc\n")
    df = resolve_input(spark, "file", {"path": str(p)})
    assert df.count() == 3


def test_file_json_codec(spark, tmp_path):
    p = tmp_path / "ev.jsonl"
    p.write_text('{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n')
    df = resolve_input(spark, "file", {"path": str(p), "codec": "json_lines"})
    assert {r["a"] for r in df.collect()} == {1, 2}


def test_generator_lines(spark):
    df = resolve_input(
        spark, "generator", {"count": 5, "lines": ["foo", "bar"]}
    )
    rows = df.collect()
    assert len(rows) == 10  # count x lines (generator emits each line per cycle)
    assert {r["message"] for r in rows} == {"foo", "bar"}


def test_unknown_and_p2_inputs(spark):
    with pytest.raises(SourceError):
        resolve_input(spark, "beats_like_nonsense", {})
    with pytest.raises(SourceError, match="batch-engine"):
        resolve_input(spark, "stdin", {})
    with pytest.raises(SourceError, match="streaming"):
        resolve_input(spark, "kafka", {"bootstrap_servers": "x", "topics": "t"})


def test_dlq_readback(spark, tmp_path):
    df = spark.createDataFrame([("u1", "_grokparsefailure")], "url string, error_stage string")
    df.write.parquet(str(tmp_path / "dlq"))
    back = resolve_input(spark, "dead_letter_queue", {"path": str(tmp_path / "dlq")})
    assert back.count() == 1


def test_heartbeat_input(spark):
    from logstash_spark.sources import resolve_input

    df = resolve_input(
        spark, "heartbeat",
        {"count": 3, "interval": 30, "start_ts": "2026-06-01 00:00:00",
         "message": "beat"},
    )
    rows = sorted(df.collect(), key=lambda r: r.sequence)
    assert [r.message for r in rows] == ["beat"] * 3
    assert rows[1].event_ts.second == 30 and rows[2].event_ts.minute == 1


def test_jdbc_input_embedded_derby(spark, tmp_path):
    """The real jdbc reader path against the Derby embedded driver that
    ships inside the Spark distribution: write a table via
    df.write.jdbc, read it back through resolve_input('jdbc')."""
    from logstash_spark.sources import resolve_input

    url = f"jdbc:derby:{tmp_path}/jdbc_db;create=true"
    driver = "org.apache.derby.jdbc.EmbeddedDriver"
    spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "id int, name string"
    ).write.mode("overwrite").format("jdbc").options(
        url=url, dbtable="things", driver=driver
    ).save()
    back = resolve_input(
        spark, "jdbc",
        {"jdbc_connection_string": url, "dbtable": "things",
         "jdbc_driver_class": driver},
    )
    assert sorted((r[0], r[1]) for r in back.collect()) == [(1, "alpha"), (2, "beta")]
    # statement mode (Derby folds unquoted identifiers to upper case)
    q = resolve_input(
        spark, "jdbc",
        {"jdbc_connection_string": url,
         "statement": 'SELECT "id" FROM things WHERE "id" > 1',
         "jdbc_driver_class": driver},
    )
    assert [r[0] for r in q.collect()] == [2]


def test_catalog_table_input(spark):
    """Catalog-table input (the Iceberg deployment shape) against the
    built-in session catalog: same `spark.read.table` code path an
    Iceberg catalog serves on a cluster."""
    spark.sql("DROP TABLE IF EXISTS ls_src_pages")
    spark.createDataFrame(
        [("http://a", "en"), ("http://b", "de")], "url string, lang string"
    ).writeTo("ls_src_pages").using("parquet").create()
    try:
        df = resolve_input(spark, "table", {"table": "ls_src_pages"})
        assert sorted(r["url"] for r in df.collect()) == ["http://a", "http://b"]
        df2 = resolve_input(spark, "iceberg", {"table": "ls_src_pages"})
        assert df2.count() == 2
        with pytest.raises(SourceError, match="table =>"):
            resolve_input(spark, "iceberg", {})
    finally:
        spark.sql("DROP TABLE IF EXISTS ls_src_pages")


def test_catalog_table_sink_overwrite_and_append(spark):
    """Router catalog-table sink: create on first batch (partitioned by
    bucket), dynamic-partition overwrite on re-run (idempotent resume),
    append accumulates."""
    from logstash_spark.router import Router, SinkSpec

    spark.sql("DROP TABLE IF EXISTS ls_sink_out")
    df = spark.createDataFrame(
        [("u1", "en", 0), ("u2", "en", 0), ("u3", "de", 1)],
        "url string, lang string, bucket int",
    ).persist()
    router = Router([SinkSpec(name="out", table="ls_sink_out", fmt="parquet")])
    try:
        counts = router.write_batch(df, run_dir="/tmp/unused", mode="overwrite")
        assert counts == {"out": 3}
        # re-run of the same batch: dynamic partition overwrite → same rows
        router.write_batch(df, run_dir="/tmp/unused", mode="overwrite")
        assert spark.table("ls_sink_out").count() == 3
        # append mode accumulates (micro-batch shape)
        router.write_batch(df, run_dir="/tmp/unused", mode="append")
        assert spark.table("ls_sink_out").count() == 6
    finally:
        df.unpersist()
        spark.sql("DROP TABLE IF EXISTS ls_sink_out")


def test_kafka_input_option_contract(spark):
    """Contract tests for the kafka input lowering (no broker or
    spark-sql-kafka jar in the sandbox — the option map IS the testable
    surface; see kafka_reader_options docstring)."""
    from logstash_spark.sources import kafka_reader_options

    # the logstash-integration-kafka default shape
    assert kafka_reader_options(
        {"bootstrap_servers": "k1:9092,k2:9092", "topics": ["logs", "audit"],
         "group_id": "logstash", "auto_offset_reset": "earliest"}
    ) == {
        "kafka.bootstrap.servers": "k1:9092,k2:9092",
        "subscribe": "logs,audit",
        "kafka.group.id": "logstash",
        "startingOffsets": "earliest",
    }
    # topics_pattern and security passthrough
    assert kafka_reader_options(
        {"bootstrap_servers": "k:9092", "topics_pattern": "logs-.*",
         "security_protocol": "SASL_SSL", "sasl_mechanism": "PLAIN"}
    ) == {
        "kafka.bootstrap.servers": "k:9092",
        "subscribePattern": "logs-.*",
        "kafka.security.protocol": "SASL_SSL",
        "kafka.sasl.mechanism": "PLAIN",
    }
    with pytest.raises(SourceError, match="bootstrap_servers"):
        kafka_reader_options({"topics": "t"})
    with pytest.raises(SourceError, match="exactly one"):
        kafka_reader_options({"bootstrap_servers": "k", "topics": "t",
                              "topics_pattern": "t.*"})
    with pytest.raises(SourceError, match="exactly one"):
        kafka_reader_options({"bootstrap_servers": "k"})
    with pytest.raises(SourceError, match="auto_offset_reset"):
        kafka_reader_options({"bootstrap_servers": "k", "topics": "t",
                              "auto_offset_reset": "none"})
    # batch mode is a hard error (kafka input is streaming-only here)
    with pytest.raises(SourceError, match="streaming"):
        resolve_input(spark, "kafka",
                      {"bootstrap_servers": "k", "topics": "t"}, streaming=False)
    # with valid options but no jar, the error names the missing jar
    with pytest.raises(SourceError, match="spark-sql-kafka"):
        resolve_input(spark, "kafka",
                      {"bootstrap_servers": "k", "topics": "t"}, streaming=True)


def test_kafka_sink_contract(spark):
    """kafka_sink_frame lowers the event frame + sink options to Spark's
    kafka sink shape; executing without the jar raises a clear error."""
    from logstash_spark.router import Router, SinkSpec, kafka_sink_frame

    df = spark.createDataFrame(
        [("u1", "en", 0), ("u2", "de", 1)], "url string, lang string, bucket int"
    )
    sink = SinkSpec(
        name="events_out", fmt="kafka",
        options={"kafka.bootstrap.servers": "k:9092", "topic": "out",
                 "message_key": "url"},
    )
    frame, opts = kafka_sink_frame(df, sink)
    assert frame.columns == ["key", "value"]
    assert opts == {"kafka.bootstrap.servers": "k:9092", "topic": "out"}
    rows = {r.key: r.value for r in frame.collect()}
    import json as _json

    # whole event serialized as JSON value; bucket (partitioning
    # plumbing) excluded
    assert _json.loads(rows["u1"]) == {"url": "u1", "lang": "en"}

    # without message_key: value-only frame
    frame2, _ = kafka_sink_frame(
        df, SinkSpec(name="s", fmt="kafka",
                     options={"kafka.bootstrap.servers": "k", "topic": "t"})
    )
    assert frame2.columns == ["value"]

    for bad in ({}, {"topic": "t"}, {"kafka.bootstrap.servers": "k"}):
        with pytest.raises(ValueError, match="requires"):
            kafka_sink_frame(df, SinkSpec(name="s", fmt="kafka", options=bad))

    # executing the real writer without the jar: clear RuntimeError
    router = Router([sink])
    with pytest.raises(RuntimeError, match="spark-sql-kafka"):
        router.write_batch(df.persist(), run_dir="/tmp/unused")
    df.unpersist()


def test_dotted_top_level_names_reach_every_sink(spark, tmp_path):
    """A top-level column literally named ``x.y`` (ECS/k8s dotted names)
    survives prune, the DLQ payload, a csv sink and a sink ``select``
    instead of resolving as a nested path (UNRESOLVED_COLUMN); so does
    the kafka value JSON."""
    import json as _json

    from logstash_spark.pipeline import Pipeline
    from logstash_spark.router import SinkSpec, kafka_sink_frame

    df = spark.createDataFrame(
        [(1, "id=7", "v1", "j"), (2, "garbage", "v2", "j")],
        "id int, message string, `x.y` string, junk string")
    spec = {
        "id": "dotted",
        "filters": [
            {"grok": {"match": {"message": "id=%{INT:gid}"}}},
            {"prune": {"blacklist_names": ["^junk$"]}},
        ],
        "outputs": [
            {"name": "sel", "select": ["id", "x.y"]},
            {"name": "out_csv", "format": "csv"},
            {"name": "dead_letter", "dlq": True},
        ],
    }
    run_dir = str(tmp_path / "run")
    metrics = Pipeline(spec).run(df, run_dir, bucket_on="id", n_buckets=2)
    assert metrics.sinks == {"sel": 2, "out_csv": 2, "dead_letter": 1}
    sel = spark.read.parquet(f"{run_dir}/sel")
    assert "junk" not in sel.columns
    assert {(r["id"], r["x.y"]) for r in sel.collect()} == {(1, "v1"), (2, "v2")}
    csv_text = "".join(r.value for r in spark.read.text(f"{run_dir}/out_csv").collect())
    assert "v1" in csv_text and "v2" in csv_text
    (dead,) = spark.read.parquet(f"{run_dir}/dead_letter").collect()
    assert dead.original["x.y"] == "v2"

    frame, _ = kafka_sink_frame(df.filter("id = 1"), SinkSpec(
        name="s", fmt="kafka", options={"kafka.bootstrap.servers": "k", "topic": "t"}))
    assert _json.loads(frame.collect()[0].value)["x.y"] == "v1"


def test_kafka_lscl_lowering():
    """kafka output {} in a logstash config lowers to a kafka SinkSpec."""
    from logstash_spark.lscl import to_pipeline_spec

    spec = to_pipeline_spec(
        """
        input { kafka { bootstrap_servers => "k:9092" topics => ["logs"] } }
        output {
          kafka {
            bootstrap_servers => "k:9092"
            topic_id => "enriched"
            message_key => "url"
          }
        }
        """
    )
    assert spec["inputs"][0]["plugin"] == "kafka"
    (out,) = spec["outputs"]
    assert out["name"] == "enriched" and out["format"] == "kafka"
    assert out["options"] == {
        "kafka.bootstrap.servers": "k:9092",
        "topic": "enriched",
        "message_key": "url",
    }


def test_netflow_v5_codec(spark, tmp_path):
    """NetFlow v5 datagrams (logstash-codec-netflow v5 template):
    vectorized numpy decode over binaryFile; corrupt frames yield error
    rows instead of aborting the job."""
    from logstash_spark.netflow_codec import encode_v5_datagram

    good = encode_v5_datagram(
        [
            {"srcaddr": "10.0.0.1", "dstaddr": "192.168.1.200",
             "srcport": 443, "dstport": 52000, "protocol": 6,
             "tcp_flags": 0x1B, "packets": 12, "octets": 3456,
             "first": 100, "last": 900, "src_as": 64512, "dst_as": 65000},
            {"srcaddr": "172.16.254.255", "dstaddr": "8.8.8.8",
             "srcport": 53, "dstport": 33434, "protocol": 17,
             "packets": 1, "octets": 84},
        ],
        sys_uptime=5000, unix_secs=1_755_000_000, flow_sequence=77,
    )
    (tmp_path / "p1.bin").write_bytes(good)
    (tmp_path / "bad.bin").write_bytes(b"\x00\x09" + b"x" * 30)  # v9 → error row

    from logstash_spark.sources import resolve_input

    out = resolve_input(spark, "file", {"path": str(tmp_path), "codec": "netflow"})
    rows = out.collect()
    flows = sorted([r for r in rows if r.error is None], key=lambda r: r.srcport)
    errs = [r for r in rows if r.error is not None]
    assert len(flows) == 2 and len(errs) == 1
    dns, https = flows
    assert https.srcaddr == "10.0.0.1" and https.dstaddr == "192.168.1.200"
    assert https.srcport == 443 and https.protocol == 6 and https.tcp_flags == 0x1B
    assert https.packets == 12 and https.octets == 3456
    assert https.first_uptime_ms == 100 and https.last_uptime_ms == 900
    assert https.src_as == 64512 and https.flow_sequence == 77
    assert https.unix_secs == 1_755_000_000
    assert dns.srcaddr == "172.16.254.255" and dns.protocol == 17
    assert "version 9" in errs[0].error


def test_graphite_codec(spark, tmp_path):
    """logstash-codec-graphite: 'metric value timestamp' lines → typed
    columns; malformed lines tagged, never dropped."""
    p = tmp_path / "metrics.txt"
    p.write_text(
        "servers.web01.cpu.load 0.75 1755000000\n"
        "servers.web01.mem.used 1048576 1755000060\n"
        "garbage line without numbers\n"
    )
    from logstash_spark.sources import resolve_input

    out = resolve_input(spark, "file", {"path": str(p), "codec": "graphite"})
    rows = {r.message.split(" ")[0]: r for r in out.collect()}
    cpu = rows["servers.web01.cpu.load"]
    assert cpu.metric == "servers.web01.cpu.load" and cpu.value == 0.75
    assert cpu.event_ts.isoformat().startswith("2025-08-12")
    assert list(cpu.tags) == []
    bad = rows["garbage"]
    assert bad.metric is None and "_graphiteparsefailure" in bad.tags


def test_es_bulk_codec(spark, tmp_path):
    """logstash-codec-es_bulk: action-metadata/source line pairs → one
    event per source line; delete actions have no source; malformed
    action lines yield error rows."""
    p = tmp_path / "batch.ndjson"
    p.write_text(
        '{"index": {"_index": "logs", "_id": "1"}}\n'
        '{"msg": "hello", "n": 1}\n'
        '{"create": {"_index": "logs", "_id": "2"}}\n'
        '{"msg": "world", "n": 2}\n'
        '{"delete": {"_index": "logs", "_id": "1"}}\n'
        '{"index": {"_index": "logs", "_id": null}}\n'
        '{"msg": "auto-id", "n": 3}\n'
        "not json at all\n"
    )
    from logstash_spark.sources import resolve_input

    out = resolve_input(spark, "file", {"path": str(p), "codec": "es_bulk"})
    rows = out.collect()
    ok = {r.doc_id: r for r in rows if r.error is None}
    assert ok["1"].action in ("index", "delete")
    indexed = next(r for r in rows if r.action == "index" and r.doc_id == "1")
    assert indexed.source == '{"msg": "hello", "n": 1}'
    assert next(r for r in rows if r.action == "create").doc_id == "2"
    assert next(r for r in rows if r.action == "delete").source is None
    errs = [r for r in rows if r.error is not None]
    assert len(errs) == 1 and "bad action line" in errs[0].error
    # JSON-null _id (auto-id request) → NULL doc_id, not the string 'None'
    auto = next(r for r in rows if r.error is None and r.doc_id is None)
    assert auto.source == '{"msg": "auto-id", "n": 3}'


def test_collectd_codec(spark, tmp_path):
    """collectd binary protocol: TLV state machine — metadata parts set
    state, each VALUES part emits one event; gauge is the protocol's
    one little-endian field; corrupt datagrams yield error rows."""
    from logstash_spark.collectd_codec import encode_datagram

    good = encode_datagram([
        {"host": "web01", "plugin": "cpu", "plugin_instance": "0",
         "type": "cpu", "type_instance": "idle", "time": 1755000000.5,
         "interval": 10, "values": [("derive", 12345)]},
        # state carries over: only the changed fields re-sent
        {"type_instance": "user", "values": [("derive", 678)]},
        {"plugin": "load", "plugin_instance": None, "type": "load",
         "type_instance": None,
         "values": [("gauge", 0.25), ("gauge", 0.5), ("gauge", 0.75)]},
    ])
    (tmp_path / "d1.bin").write_bytes(good)
    (tmp_path / "bad.bin").write_bytes(b"\x00\x06\x00\x03")  # short part
    # valid VALUES event followed by a truncated tail in ONE datagram:
    # the decoded event must survive alongside the error row
    partial = encode_datagram(
        [{"host": "h2", "plugin": "p", "type": "t",
          "values": [("gauge", 1.5)]}]
    ) + b"\x00\x06\x00\x09xx"
    (tmp_path / "partial.bin").write_bytes(partial)

    from logstash_spark.sources import resolve_input

    out = resolve_input(spark, "file", {"path": str(tmp_path), "codec": "collectd"})
    rows = out.collect()
    ok = [r for r in rows if r.error is None]
    errs = [r for r in rows if r.error is not None]
    assert len(ok) == 4 and len(errs) == 2
    surv = next(r for r in ok if r.host == "h2")
    assert list(surv.values) == [1.5]  # survived the truncated tail
    idle = next(r for r in ok if r.type_instance == "idle")
    assert idle.host == "web01" and idle.plugin == "cpu"
    assert abs(idle.collectd_time - 1755000000.5) < 1e-6
    assert idle.interval == 10.0 and list(idle.values) == [12345.0]
    user = next(r for r in ok if r.type_instance == "user")
    assert user.plugin == "cpu" and user.plugin_instance == "0"  # state held
    load = next(r for r in ok if r.plugin == "load")
    assert list(load.values) == [0.25, 0.5, 0.75]
    assert list(load.value_kinds) == ["gauge", "gauge", "gauge"]
    assert "length" in errs[0].error


def test_write_batch_mode_pin_survives_concurrency(spark, tmp_path):
    """Two concurrent write_batch calls on one STATIC session must each
    write their sink in full and leave the session conf untouched:
    dynamic overwrite is a per-write option, not a session setting."""
    from concurrent.futures import ThreadPoolExecutor

    from logstash_spark.router import Router, SinkSpec

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "STATIC")  # simulate the vanilla driver session
    df = spark.createDataFrame(
        [("u%d" % i, i % 4) for i in range(100)], "url string, bucket int"
    ).persist()
    try:
        def go(i):
            r = Router([SinkSpec(name=f"out{i}")])
            return r.write_batch(df, run_dir=str(tmp_path / f"r{i}"),
                                 mode="overwrite")

        with ThreadPoolExecutor(2) as pool:
            c1, c2 = list(pool.map(go, [1, 2]))
        assert c1 == {"out1": 100} and c2 == {"out2": 100}
        assert spark.conf.get(conf_key) == "STATIC"  # restored once, correctly
        # both sinks fully written (no cross-truncation)
        assert spark.read.parquet(str(tmp_path / "r1/out1")).count() == 100
        assert spark.read.parquet(str(tmp_path / "r2/out2")).count() == 100
    finally:
        df.unpersist()
        spark.conf.set(conf_key, prior)


def test_catalog_table_bucket_overwrite_under_static_session(spark):
    """Under the Spark default partitionOverwriteMode=STATIC, re-writing
    one bucket of a catalog-table sink must keep every other bucket's
    rows — for a table the router created and for one pre-created with
    a plain writeTo().create() — and must not touch the session conf."""
    from pyspark.sql import functions as F

    from logstash_spark.router import Router, SinkSpec

    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prior = spark.conf.get(conf_key)
    spark.conf.set(conf_key, "STATIC")
    full = spark.createDataFrame(
        [("u%d" % i, i) for i in range(10)], "url string, bucket int")
    one = full.filter(F.col("bucket") == 0)
    tables = ("ls_static_router", "ls_static_plain")
    try:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        full.writeTo("ls_static_plain").using("parquet").partitionedBy(
            F.col("bucket")).create()
        for t in tables:
            router = Router([SinkSpec(name="out", table=t)])
            router.write_batch(full, run_dir="/tmp/unused", mode="overwrite")
            assert router.write_batch(one, run_dir="/tmp/unused",
                                      mode="overwrite") == {"out": 1}
            assert spark.table(t).count() == 10, t
        assert spark.conf.get(conf_key) == "STATIC"
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")
        spark.conf.set(conf_key, prior)


def test_router_duplicate_sink_names_rejected():
    """Sink names key the per-sink count dict and the output path under
    run_dir — two sinks sharing a name means concurrent same-path
    writes clobbering each other and one count silently dropped."""
    from logstash_spark.router import Router, SinkSpec

    with pytest.raises(ValueError, match="duplicate sink names"):
        Router([SinkSpec(name="x"), SinkSpec(name="x", when="[a] == 1")])


def test_stdout_debug_codecs(spark, capsys):
    """rubydebug / dots stdout codecs: driver-side debug printing
    (logstash-codec-rubydebug awesome_print shape; one dot per event),
    counts still reported per sink; LSCL `stdout { codec => … }`
    lowers to the formats."""
    from logstash_spark.lscl import to_pipeline_spec
    from logstash_spark.router import Router, SinkSpec

    df = spark.createDataFrame(
        [("u1", ["a"]), ("u2", None)], "url string, tags array<string>"
    ).persist()
    try:
        router = Router([SinkSpec(name="stdout", fmt="rubydebug"),
                         SinkSpec(name="dots", fmt="dots")])
        counts = router.write_batch(df, run_dir="/tmp/unused")
        assert counts == {"stdout": 2, "dots": 2}
        out = capsys.readouterr().out
        assert '"url" => "u1"' in out and '"tags" => ["a"]' in out
        assert ".." in out
    finally:
        df.unpersist()

    spec = to_pipeline_spec(
        'input { file { path => "/x" } } '
        "output { stdout { codec => rubydebug } stdout { codec => dots } "
        "stdout { } }"
    )
    fmts = [o.get("format", "parquet") for o in spec["outputs"]]
    assert fmts == ["rubydebug", "dots", "parquet"]


# ---------------------------------------------------------------------------
# elasticsearch input (round 5): snapshot read + query-DSL translation
# ---------------------------------------------------------------------------


def _es_snapshot(spark):
    return spark.createDataFrame(
        [("d1", "web", 200, "alice"), ("d2", "web", 500, "bob"),
         ("d3", "api", 200, None), ("d4", "api", 404, "carol")],
        "_id string, service string, status int, user string")


def test_es_input_query_dsl_pushdown(spark):
    snap = _es_snapshot(spark)
    q = {"query": {"bool": {
        "must": [{"term": {"service": "web"}}],
        "filter": [{"range": {"status": {"gte": 200, "lt": 300}}}]}}}
    df = resolve_input(spark, "elasticsearch",
                       {"snapshot_df": snap, "query": q})
    assert [r._id for r in df.collect()] == ["d1"]
    # should (OR) + must_not + exists + terms
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"bool": {
            "should": [{"term": {"status": 404}},
                       {"term": {"status": 500}}],
            "must_not": [{"term": {"service": "web"}}]}}})
    assert [r._id for r in df.collect()] == ["d4"]
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap, "query": {"exists": {"field": "user"}}})
    assert sorted(r._id for r in df.collect()) == ["d1", "d2", "d4"]
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": '{"terms": {"service": ["api"]}}'})  # JSON-string form
    assert sorted(r._id for r in df.collect()) == ["d3", "d4"]


def test_es_input_docinfo_and_guards(spark, tmp_path):
    snap = _es_snapshot(spark)
    p = tmp_path / "idx"
    snap.write.parquet(str(p))
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_path": str(p), "index": "logs-2026",
        "docinfo": True, "query": {"match_all": {}}})
    row = df.where(df["_id"] == "d1").collect()[0]
    meta = row["@metadata"]
    assert meta._index == "logs-2026" and meta._id == "d1"
    with pytest.raises(SourceError, match="snapshot"):
        resolve_input(spark, "elasticsearch", {})
    with pytest.raises(SourceError, match="unsupported clause"):
        resolve_input(spark, "elasticsearch", {
            "snapshot_df": snap,
            "query": {"fuzzy": {"user": "alise"}}}).collect()
    with pytest.raises(SourceError, match="batch-only"):
        resolve_input(spark, "elasticsearch", {"snapshot_df": snap},
                      streaming=True)


# ---------------------------------------------------------------------------
# http_poller input (round 5): one tick per batch, transport seam
# ---------------------------------------------------------------------------


def test_http_poller_snapshot_and_failures(spark):
    df = resolve_input(spark, "http_poller", {
        "urls": {"health": "http://svc/health",
                 "stats": {"url": "http://svc/stats"},
                 "down": "http://svc/missing"},
        "responses": {"http://svc/health": "OK",
                      "http://svc/stats": '{"q": 7}'}})
    rows = {r.name: r for r in df.collect()}
    assert rows["health"].status == 200 and rows["health"].message == "OK"
    assert rows["stats"].message == '{"q": 7}'
    assert rows["down"].status is None
    assert "_http_request_failure" in rows["down"].tags
    with pytest.raises(SourceError, match="non-GET"):
        resolve_input(spark, "http_poller", {
            "urls": {"x": {"url": "http://svc/x", "method": "post"}},
            "responses": {}})
    with pytest.raises(SourceError, match="seam"):
        resolve_input(spark, "http_poller", {"urls": {"x": "http://x"}})


def test_http_poller_callable_transport(spark):
    def fake(u):
        return 200, {"x-served-by": "t"}, f"body-of:{u}"

    df = resolve_input(spark, "http_poller", {
        "urls": {"a": "http://one", "b": "http://two"},
        "transport": fake})
    rows = {r.name: r for r in df.collect()}
    assert rows["a"].message == "body-of:http://one"
    assert rows["b"].headers == {"x-served-by": "t"}


def test_es_input_bool_should_optional_with_must(spark):
    """ES default: `should` is optional (scoring-only) when must/filter
    are present; required (min 1) when bool has only should —
    minimum_should_match overrides either way."""
    snap = _es_snapshot(spark)
    # must + should: should must NOT restrict (d1 AND d2 survive)
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"bool": {"must": [{"term": {"service": "web"}}],
                           "should": [{"term": {"status": 404}}]}}})
    assert sorted(r._id for r in df.collect()) == ["d1", "d2"]
    # ... unless minimum_should_match forces it
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"bool": {"must": [{"term": {"service": "web"}}],
                           "should": [{"term": {"status": 500}}],
                           "minimum_should_match": 1}}})
    assert [r._id for r in df.collect()] == ["d2"]
    # k-of-n
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"bool": {
            "should": [{"term": {"service": "web"}},
                       {"term": {"status": 200}},
                       {"term": {"user": "alice"}}],
            "minimum_should_match": 2}}})
    # d1 hits all three; d2/d3 hit exactly one; d4 none
    assert [r._id for r in df.collect()] == ["d1"]


def test_es_input_must_not_null_and_wildcard_prefix_ids(spark):
    snap = _es_snapshot(spark)
    # d3 has user=NULL: must_not term on user must KEEP it (missing
    # field does not positively match)
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"bool": {"must_not": [{"term": {"user": "bob"}}]}}})
    assert sorted(r._id for r in df.collect()) == ["d1", "d3", "d4"]
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap, "query": {"prefix": {"user": "car"}}})
    assert [r._id for r in df.collect()] == ["d4"]
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap, "query": {"wildcard": {"user": "?ob"}}})
    assert [r._id for r in df.collect()] == ["d2"]
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"wildcard": {"user": "a*e"}}})
    assert [r._id for r in df.collect()] == ["d1"]
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap, "query": {"ids": {"values": ["d2", "d3"]}}})
    assert sorted(r._id for r in df.collect()) == ["d2", "d3"]


def test_es_input_msm_negative_percent_and_query_type_guard(spark):
    snap = _es_snapshot(spark)
    three_should = [{"term": {"service": "web"}},
                    {"term": {"status": 200}},
                    {"term": {"user": "alice"}}]
    # -1 of 3 → 2 required: only d1 (3 hits) qualifies; d2/d3 hit 1
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"bool": {"should": three_should,
                           "minimum_should_match": -2}}})
    assert sorted(r._id for r in df.collect()) == ["d1", "d2", "d3"]
    # "67%" of 3 → floor(2.01)=2
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap,
        "query": {"bool": {"should": three_should,
                           "minimum_should_match": "67%"}}})
    assert [r._id for r in df.collect()] == ["d1"]
    with pytest.raises(SourceError, match="minimum_should_match"):
        resolve_input(spark, "elasticsearch", {
            "snapshot_df": snap,
            "query": {"bool": {"should": three_should,
                               "minimum_should_match": "3<90%"}}})
    with pytest.raises(SourceError, match="DSL object"):
        resolve_input(spark, "elasticsearch", {
            "snapshot_df": snap, "query": '[{"term": {"a": 1}}]'})


def test_es_input_bool_unknown_key_and_ids_id_column(spark):
    snap = _es_snapshot(spark)
    # a typo'd occurrence key must be a LOUD error, not silently ignored
    # (ignoring it returns every row — the returns-MORE-rows hazard)
    with pytest.raises(SourceError, match="unsupported keys.*filter_"):
        resolve_input(spark, "elasticsearch", {
            "snapshot_df": snap,
            "query": {"bool": {"filter_": [{"term": {"user": "bob"}}]}}})
    # ids honors the configurable id_column, like the docinfo path
    renamed = snap.withColumnRenamed("_id", "doc_id")
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": renamed, "id_column": "doc_id",
        "query": {"ids": {"values": ["d2", "d3"]}}})
    assert sorted(r.doc_id for r in df.collect()) == ["d2", "d3"]
    # and nested under bool the id_column still reaches the ids clause
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": renamed, "id_column": "doc_id",
        "query": {"bool": {"filter": [{"ids": {"values": ["d1"]}}]}}})
    assert [r.doc_id for r in df.collect()] == ["d1"]


def test_es_input_wildcard_is_exact_value_anchored(spark):
    # Java's $ matches before a trailing newline; \z must not
    snap = spark.createDataFrame([("d1", "bob"), ("d2", "bob\n")],
                                 "_id string, user string")
    df = resolve_input(spark, "elasticsearch", {
        "snapshot_df": snap, "query": {"wildcard": {"user": "b*b"}}})
    assert [r._id for r in df.collect()] == ["d1"]


def test_router_rejects_unsafe_sink_names_and_dup_tables(spark):
    """Review findings: a sink name with separators writes (and fresh-
    run rmtree DELETES) outside run_dir; two sinks on one table race
    create() and erase each other's dynamic-overwrite commits."""
    from logstash_spark.lscl import _pathsafe
    from logstash_spark.router import Router, SinkSpec

    for bad in ("a/b", "..", "", "a\\b"):
        with pytest.raises(ValueError, match="path segment"):
            Router([SinkSpec(name=bad)])
    with pytest.raises(ValueError, match="same table"):
        Router([SinkSpec(name="a", table="t"), SinkSpec(name="b", table="t")])
    # the lscl namers flatten user paths into safe segments
    assert "/" not in _pathsafe("../shared/out.csv")
    assert ".." not in _pathsafe("../shared/out.csv")
    assert _pathsafe("/rest") == "rest"


def test_kafka_message_key_sprintf_and_field_ref(spark):
    """logstash-output-kafka message_key is a sprintf template or a
    field reference — not a raw flat column name (review finding)."""
    import json as _json

    from logstash_spark.router import SinkSpec, kafka_sink_frame

    df = spark.createDataFrame(
        [("u1", ("id9",))], "url string, user struct<id:string>")
    base = {"kafka.bootstrap.servers": "k", "topic": "t"}
    f1, _ = kafka_sink_frame(df, SinkSpec(
        name="s", fmt="kafka",
        options=dict(base, message_key="%{url}-%{[user][id]}")))
    assert f1.collect()[0]["key"] == "u1-id9"
    f2, _ = kafka_sink_frame(df, SinkSpec(
        name="s", fmt="kafka", options=dict(base, message_key="[user][id]")))
    assert f2.collect()[0]["key"] == "id9"


def test_checkpoint_manifest_rejects_remote_uri_and_survives_torn_ack(tmp_path):
    """Review findings: pathlib mangles s3:// run_dirs into local
    directories (divorcing the manifest from its data) — refuse loudly;
    and ack over a torn (garbage) file must replace it, not raise."""
    from logstash_spark.checkpoint import CheckpointManifest

    with pytest.raises(ValueError, match="local run_dir"):
        CheckpointManifest("s3://bucket/run1")
    m = CheckpointManifest(f"file://{tmp_path}/run")
    assert (tmp_path / "run" / "_checkpoints").is_dir()
    # torn ack from a crashed run: garbage file where the ack lands
    torn = m._path(3)
    torn.write_text("{gar")  # not JSON
    assert 3 not in m.completed_batches()  # correctly unacked
    m.ack(3, {"buckets": [1]})  # replace, not FileExistsError
    assert m.completed_batches()[3]["buckets"] == [1]


def test_fresh_run_truncates_stale_table_partitions(spark):
    """Review finding: dynamic overwrite only replaces buckets that
    receive rows — a FRESH run's table sink must not serve a mix of
    this run's and the previous run's partitions."""
    from logstash_spark.router import Router, SinkSpec

    spark.sql("DROP TABLE IF EXISTS ls_fresh_out")
    router = Router([SinkSpec(name="out", table="ls_fresh_out")])
    run1 = spark.createDataFrame(
        [("old1", 0), ("old2", 7)], "url string, bucket int").persist()
    run2 = spark.createDataFrame(
        [("new1", 0)], "url string, bucket int").persist()
    try:
        router.write_batch(run1, run_dir="/tmp/unused",
                           truncate_tables=True)
        assert spark.table("ls_fresh_out").count() == 2
        # fresh run whose rows only touch bucket 0: bucket 7 must go
        router.write_batch(run2, run_dir="/tmp/unused",
                           truncate_tables=True)
        urls = [r.url for r in spark.table("ls_fresh_out").collect()]
        assert urls == ["new1"]
        # resume-style re-run (no truncate): idempotent per bucket
        router.write_batch(run2, run_dir="/tmp/unused")
        assert spark.table("ls_fresh_out").count() == 1
    finally:
        run1.unpersist()
        run2.unpersist()
        spark.sql("DROP TABLE IF EXISTS ls_fresh_out")


def test_resume_rejects_different_source(spark, tmp_path):
    """Review finding: an acked batch from a DIFFERENT input must not
    be skipped — the sinks would silently mix two inputs."""
    from logstash_spark.pipeline import Pipeline

    src_a = str(tmp_path / "in_a")
    src_b = str(tmp_path / "in_b")
    for p, tag in ((src_a, "a"), (src_b, "b")):
        spark.createDataFrame(
            [(f"u{tag}{i}", tag) for i in range(4)],
            "url string, v string").write.parquet(p)
    run_dir = str(tmp_path / "run")
    pipe = Pipeline({"id": "t", "filters": [],
                     "outputs": [{"name": "out"}]})
    pipe.run(spark.read.parquet(src_a), run_dir, n_buckets=4, n_batches=2)
    with pytest.raises(ValueError, match="mix two inputs"):
        pipe.run(spark.read.parquet(src_b), run_dir,
                 n_buckets=4, n_batches=2, resume=True)
    # same source resumes fine
    pipe.run(spark.read.parquet(src_a), run_dir,
             n_buckets=4, n_batches=2, resume=True)
