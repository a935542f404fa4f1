"""Input plugins → DataFrames (batch) or streams.

Reference counterparts: the input plugin family (SURVEY §2.2) and the
codec layer (§2.3) — here an input resolves to a Spark reader + format
and a codec resolves to the reader format / a post-read parse column.

Scope follows SURVEY §2.2: network servers (beats/tcp/http) have no
batch-engine equivalent [P2]; connector inputs that Spark covers
natively (file/s3/jdbc/kafka) are wired through the corresponding
reader, gated on the driver/jar being present.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .session import local_frame

# codec → spark reader format for line-shaped sources
_CODEC_FORMAT = {
    "plain": "text",
    "line": "text",
    "json": "json",
    "json_lines": "json",
    "csv": "csv",
    "avro": "avro",
}


class SourceError(ValueError):
    pass


def kafka_reader_options(args: dict) -> dict[str, str]:
    """logstash-integration-kafka input config → Spark kafka source
    option map (kafka_input.rb option names on the left). Pure and
    contract-tested (tests/test_sources.py) — the sandbox ships no
    broker or spark-sql-kafka jar, so the option lowering is the
    testable surface and ``.load()`` is the thin untestable rim.

    Mapping notes:

    * ``topics`` (list or comma string) → ``subscribe``;
      ``topics_pattern`` → ``subscribePattern`` (mutually exclusive,
      as upstream).
    * ``auto_offset_reset`` → ``startingOffsets`` (earliest/latest).
    * ``group_id``/``client_id``/``security_protocol``/
      ``sasl_mechanism``/``sasl_jaas_config`` pass through under the
      ``kafka.`` prefix (Spark hands them to the consumer verbatim).
    * ``consumer_threads`` is intentionally absent: Spark maps topic
      partitions to tasks 1:1, so reader parallelism is the cluster's
      task slots, not a per-input thread count.
    """
    if "bootstrap_servers" not in args:
        raise SourceError("kafka input requires bootstrap_servers")
    has_topics = "topics" in args
    if has_topics == ("topics_pattern" in args):
        raise SourceError(
            "kafka input requires exactly one of topics / topics_pattern"
        )
    opts: dict[str, str] = {"kafka.bootstrap.servers": str(args["bootstrap_servers"])}
    if has_topics:
        t = args["topics"]
        opts["subscribe"] = t if isinstance(t, str) else ",".join(t)
    else:
        opts["subscribePattern"] = str(args["topics_pattern"])
    if "auto_offset_reset" in args:
        reset = str(args["auto_offset_reset"])
        if reset not in ("earliest", "latest"):
            raise SourceError(f"unsupported auto_offset_reset {reset!r}")
        opts["startingOffsets"] = reset
    for ls_key, kafka_key in (
        ("group_id", "kafka.group.id"),
        ("client_id", "kafka.client.id"),
        ("security_protocol", "kafka.security.protocol"),
        ("sasl_mechanism", "kafka.sasl.mechanism"),
        ("sasl_jaas_config", "kafka.sasl.jaas.config"),
    ):
        if ls_key in args:
            opts[kafka_key] = str(args[ls_key])
    return opts


def resolve_input(
    spark: SparkSession, plugin: str, args: dict, streaming: bool = False
) -> DataFrame:
    """One input-plugin spec → a DataFrame (or streaming DataFrame)."""
    args = dict(args)
    codec = args.pop("codec", "plain")

    if plugin in ("file", "s3"):
        path = args["path"]
        fmt = _CODEC_FORMAT.get(codec, codec)
        reader = spark.readStream if streaming else spark.read
        if fmt == "text":
            df = reader.text(path)
            # the line codec contract: one line = one event in `message`
            # (logstash-codec-line); .text's `.gz` handling covers
            # gzip_lines
            return df.withColumnRenamed("value", "message")
        if fmt == "avro":
            return _read_avro(spark, path, args, streaming)
        if fmt == "netflow":
            from .netflow_codec import read_netflow

            return read_netflow(spark, path, streaming)
        if fmt == "graphite":
            # logstash-codec-graphite decode: one line "metric value ts"
            # → event {metric: value} + @timestamp (graphite.rb#decode).
            # Fully native: split + try_casts; malformed lines keep the
            # raw message and a _graphiteparsefailure tag.
            df = reader.text(path).withColumnRenamed("value", "message")
            parts = F.split(F.trim(F.col("message")), r"\s+")
            metric = F.element_at(parts, 1)
            val = F.element_at(parts, 2).try_cast("double")
            ts = F.element_at(parts, 3).try_cast("long")
            ok = (
                (F.size(parts) == 3) & val.isNotNull() & ts.isNotNull()
            )
            return df.select(
                F.col("message"),
                F.when(ok, metric).alias("metric"),
                F.when(ok, val).alias("value"),
                F.when(ok, F.timestamp_seconds(ts)).alias("event_ts"),
                F.when(ok, F.array().cast("array<string>"))
                .otherwise(F.array(F.lit("_graphiteparsefailure")))
                .alias("tags"),
            )
        if fmt == "es_bulk":
            return _read_es_bulk(spark, path, streaming)
        if fmt == "collectd":
            from .collectd_codec import read_collectd

            return read_collectd(spark, path, streaming)
        if fmt == "msgpack":
            from .msgpack_codec import read_msgpack

            return read_msgpack(spark, path, streaming)
        if fmt == "edn":
            from .edn_codec import read_edn

            return read_edn(spark, path, streaming)
        if fmt == "nmap":
            from .nmap_codec import read_nmap

            return read_nmap(spark, path, streaming)
        if fmt == "fluent":
            from .msgpack_codec import read_fluent

            return read_fluent(spark, path, streaming)
        if fmt == "protobuf":
            from .protobuf_codec import read_protobuf

            if "wire_schema" not in args:
                raise SourceError(
                    "protobuf codec requires wire_schema => "
                    "{field_number: (name, type)} (pure-Python wire "
                    "decode); class_name mode additionally needs the "
                    "google.protobuf package"
                )
            return read_protobuf(
                spark, path, args["wire_schema"],
                delimited=bool(args.get("delimited", False)),
                streaming=streaming,
            )
        if streaming and "schema" not in args:
            raise SourceError(f"streaming {fmt} input requires schema => '<ddl>'")
        if "schema" in args:
            reader = reader.schema(args["schema"])
        return reader.format(fmt).load(path)

    if plugin in ("parquet", "table", "iceberg"):
        reader = spark.readStream if streaming else spark.read
        if plugin == "iceberg" or "table" in args:
            # Catalog-table input — the north-star deployment shape: the
            # pages corpus lives in an Iceberg table and the pipeline
            # reads it through the session catalog
            # (`spark.read.table("cat.db.pages")`), which with the
            # Iceberg runtime jar + catalog conf on the cluster is an
            # Iceberg scan with snapshot isolation, hidden-partition
            # pruning and time travel. The code path is catalog-agnostic
            # by design: the sandbox exercises it against the built-in
            # session catalog (tests/test_sources.py); a cluster points
            # `spark.sql.catalog.<name>` at Iceberg and nothing here
            # changes. Time-travel options pass straight through.
            try:
                name = args["table"]
            except KeyError:
                raise SourceError(
                    f"{plugin} input requires table => '<catalog.db.table>'"
                )
            for ls_key, opt_key in (
                ("snapshot_id", "snapshot-id"),
                ("as_of_timestamp", "as-of-timestamp"),
                ("branch", "branch"),
                ("tag", "tag"),
            ):
                if ls_key in args:
                    reader = reader.option(opt_key, str(args[ls_key]))
            return reader.table(name)
        if streaming and "schema" in args:
            reader = reader.schema(args["schema"])
        return reader.parquet(args["path"])

    if plugin == "generator":
        # logstash-input-generator: `count`, `lines`, `message`
        count = int(args.get("count", 100))
        lines = args.get("lines") or [args.get("message", "hello world")]
        base = spark.range(count).withColumnRenamed("id", "sequence")
        arr = F.array(*[F.lit(str(ln)) for ln in lines])
        return base.select(
            F.explode(arr).alias("message"), F.col("sequence")
        )

    if plugin == "dead_letter_queue":
        # read a prior run's DLQ table back in (logstash-input-dead_letter_queue)
        return spark.read.parquet(args["path"])

    if plugin == "jdbc":
        # logstash-integration-jdbc input: statement/dbtable + connection.
        # Tested end-to-end against the Derby embedded driver that ships
        # inside the Spark distribution (tests/test_sources.py) — other
        # engines need their driver jar on the cluster classpath.
        try:
            opts = {
                "url": args["jdbc_connection_string"],
                "driver": args.get("jdbc_driver_class",
                                   "org.apache.derby.jdbc.EmbeddedDriver"),
            }
            if "statement" in args:
                opts["query"] = args["statement"]
            else:
                opts["dbtable"] = args["dbtable"]
            return spark.read.format("jdbc").options(**opts).load()
        except SourceError:
            raise
        except KeyError as e:
            raise SourceError(f"jdbc input requires {e} in its config")
        except Exception as e:  # driver jar not on this cluster
            raise SourceError(f"jdbc input requires the driver jar on the cluster: {e}")

    if plugin == "kafka":
        if not streaming:
            raise SourceError("kafka input runs in streaming mode")
        opts = kafka_reader_options(args)
        try:
            return (
                spark.readStream.format("kafka")
                .options(**opts)
                .load()
                .select(F.col("value").cast("string").alias("message"),
                        "timestamp", "partition", "offset")
            )
        except Exception as e:
            raise SourceError(f"kafka input requires spark-sql-kafka jar: {e}")

    if plugin == "heartbeat":
        # logstash-input-heartbeat: periodic marker events. Batch form
        # (SURVEY §2.2 mapping): `count` markers spaced `interval`
        # seconds from `start_ts` — spark.range + interval arithmetic.
        count = int(args.get("count", 1))
        interval = int(args.get("interval", 60))
        start = args.get("start_ts", "2026-01-01 00:00:00")
        message = args.get("message", "ok")
        return spark.range(count).select(
            F.lit(message).alias("message"),
            (
                F.to_timestamp(F.lit(start))
                + F.make_interval(secs=F.col("id") * interval)
            ).alias("event_ts"),
            F.col("id").alias("sequence"),
        )

    if plugin == "elasticsearch":
        return _read_elasticsearch(spark, args, streaming)

    if plugin == "http_poller":
        return _read_http_poller(spark, args, streaming)

    if plugin == "stdin":
        raise SourceError("'stdin' input has no batch-engine equivalent "
                          "(SURVEY §2.2 [P2]) — use `generator` or `file`")

    raise SourceError(f"unknown input plugin {plugin!r}")


def _read_avro(
    spark: SparkSession, path: str, args: dict, streaming: bool
) -> DataFrame:
    """Avro codec: native spark-avro reader when its jar is present,
    else the pure-Python container-file decoder (`avro_codec.py`,
    public Avro 1.x spec) over a `binaryFile` scan + `mapInPandas`.

    Fallback shape: one task per file (files are self-describing — each
    worker decodes with the schema embedded in its own file's header,
    so schema evolution across rolled log files is per-file correct;
    fields are matched to the plan schema by name, missing → null).
    The driver peeks one header only to declare the plan-time schema;
    remote paths can pass `avro_schema => '<json>'` instead. The native
    reader splits single large files at sync markers — the fallback
    does not, which is the right trade for the many-rolled-files log
    case this codec serves.
    """
    reader = spark.readStream if streaming else spark.read
    try:
        df = reader.format("avro").load(path)
        df.schema  # force resolution now: jar-missing surfaces here
        return df
    except Exception:
        pass  # no spark-avro datasource jar — pure-Python fallback

    from . import avro_codec

    if "avro_schema" in args:
        schema = avro_codec.parse_schema(args["avro_schema"])
    else:
        schema = avro_codec.peek_schema(path)
    ddl = avro_codec.spark_ddl(schema)
    field_names = [f["name"] for f in schema["fields"]]
    # avro.rb `tag_on_failure`: upstream default (false) RAISES on a
    # corrupt payload; true tags the event `_avroparsefailure` and
    # moves on. Here the unit is a file: opt-in yields ONE all-null
    # row tagged per corrupt file (tags column appended to the schema)
    # instead of aborting the task — the operational knob for a
    # many-rolled-files corpus where one bad file must not kill a run.
    tag_on_failure = bool(args.get("tag_on_failure", False))
    # the avro record may ITSELF have a `tags` field — appending a
    # second tags column would be a duplicate-column schema, and
    # nulling it would clobber real decoded values (review finding).
    # When the record's own tags is array<string> we merge (the
    # reference appends `_avroparsefailure` to the event's tags);
    # any other type cannot carry the failure tag → loud error.
    record_has_tags = "tags" in field_names
    if tag_on_failure and not record_has_tags:
        ddl += ", tags array<string>"
    if tag_on_failure and record_has_tags:
        tags_t = next(avro_codec._spark_type(f["schema"])
                      for f in schema["fields"] if f["name"] == "tags")
        if tags_t != "array<string>":
            raise ValueError(
                "avro tag_on_failure: record field `tags` has type "
                f"{tags_t}, cannot carry the _avroparsefailure tag — "
                "rename the field or disable tag_on_failure")

    def decode_files(batches):
        import pandas as pd

        for pdf in batches:
            for raw in pdf["content"]:
                try:
                    _, rows = avro_codec.read_container(bytes(raw))
                except Exception:  # AvroError/IndexError/zlib.error
                    if not tag_on_failure:
                        raise
                    yield pd.DataFrame(
                        {
                            **{n: [None] for n in field_names},
                            "tags": [["_avroparsefailure"]],
                        }
                    )
                    continue
                cols = {n: [r.get(n) for r in rows] for n in field_names}
                if tag_on_failure and not record_has_tags:
                    cols["tags"] = [None] * len(rows)
                yield pd.DataFrame(cols)

    from .binfile import binary_content

    return binary_content(spark, path, streaming,
                          glob="*.avro").mapInPandas(decode_files, schema=ddl)


def _read_es_bulk(spark: SparkSession, path: str, streaming: bool) -> DataFrame:
    """logstash-codec-es_bulk: NDJSON Elasticsearch bulk format —
    alternating action-metadata lines (``{"index": {"_index": …,
    "_id": …}}``) and source lines; decode yields ONE event per source
    line carrying the action metadata (es_bulk.rb#decode puts it under
    ``@metadata``).

    Pairing consecutive lines needs a stable intra-file order, which a
    parallel text scan does not guarantee — so (like the avro codec)
    each bulk file decodes whole in one task: ``binaryFile`` scan +
    ``mapInPandas``. Bulk files are bounded request payloads by
    construction (ES caps them ~100 MB), so one-file-per-task is the
    right granularity at any scale. ``delete`` actions have no source
    line (event with null source); malformed action lines produce an
    ``error`` row, never a task abort.
    """
    import json as _json

    from collections.abc import Iterator as _It

    import pandas as pd

    schema = ("action string, index string, doc_id string, source string, "
              "error string")

    def decode(it: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in it:
            rows = []
            for payload in pdf["content"]:
                try:
                    lines = [
                        ln for ln in payload.decode("utf-8",
                                                    errors="replace").splitlines()
                        if ln.strip()
                    ]
                except Exception as e:  # pragma: no cover
                    rows.append((None, None, None, None, f"undecodable: {e}"))
                    continue
                i = 0
                while i < len(lines):
                    try:
                        meta = _json.loads(lines[i])
                        action = next(iter(meta))
                        info = meta[action] or {}
                        if not isinstance(info, dict):
                            raise ValueError("action metadata not an object")
                    except Exception as e:
                        rows.append((None, None, None, None,
                                     f"bad action line {i}: {e}"))
                        i += 1
                        continue
                    doc_id = (str(info["_id"])
                              if info.get("_id") is not None else None)
                    if action == "delete":
                        rows.append((action, info.get("_index"),
                                     doc_id, None, None))
                        i += 1
                    else:
                        src = lines[i + 1] if i + 1 < len(lines) else None
                        rows.append((
                            action, info.get("_index"),
                            doc_id, src,
                            None if src is not None
                            else f"missing source after line {i}",
                        ))
                        i += 2
            yield pd.DataFrame(
                rows, columns=["action", "index", "doc_id", "source", "error"]
            )

    from .binfile import binary_content

    return binary_content(spark, path, streaming).mapInPandas(decode,
                                                              schema=schema)


# ---------------------------------------------------------------------------
# elasticsearch input (round 5): logstash-input-elasticsearch — scroll a
# query over an index, one hit per event. A scroll is a point-in-time
# SNAPSHOT of the index, which is exactly the dns/memcached/es-filter
# snapshot stance: the index comes in as an exported table
# (`snapshot_df` / `snapshot_table` / `snapshot_path` — the SURVEY §2.2
# mapping "spark.read from an exported table"; on a real cluster the
# es-hadoop connector reads the live index through the same resolve).
# The reference's `query` (ES query DSL) is TRANSLATED to a Catalyst
# predicate — so the "scroll query" predicate-pushes into the parquet
# scan instead of post-filtering, the Spark-first equivalent of ES
# doing the filtering server-side.
# ---------------------------------------------------------------------------

def _as_clause_list(x) -> list:
    if x is None:
        return []
    return list(x) if isinstance(x, (list, tuple)) else [x]


def _es_query_to_pred(q: dict, id_col: str = "_id"):
    """ES query-DSL subset → Catalyst Column predicate. Supported:
    match_all / term / terms / exists / range(gt,gte,lt,lte) /
    bool(must,filter,should,must_not). Anything else is a loud error —
    silently ignoring a clause would return MORE rows than the
    reference."""
    if not q:
        return F.lit(True)
    if len(q) != 1:
        raise SourceError(
            f"elasticsearch query: expected ONE top-level clause, got "
            f"{sorted(q)}")
    (kind, body), = q.items()
    if kind == "match_all":
        return F.lit(True)
    if kind == "term":
        (fld, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return F.col(fld) == F.lit(v)
    if kind == "terms":
        (fld, vs), = body.items()
        return F.col(fld).isin(list(vs))
    if kind == "exists":
        return F.col(body["field"]).isNotNull()
    if kind == "range":
        (fld, ops), = body.items()
        pred = F.lit(True)
        for op, v in ops.items():
            c = F.col(fld)
            if op == "gte":
                p = c >= F.lit(v)
            elif op == "gt":
                p = c > F.lit(v)
            elif op == "lte":
                p = c <= F.lit(v)
            elif op == "lt":
                p = c < F.lit(v)
            else:
                raise SourceError(
                    f"elasticsearch range: unsupported operator {op!r}")
            pred = pred & p
        return pred
    if kind == "ids":
        # the export's id column is configurable (`id_column`), same
        # knob the docinfo path honors — _id is only the default name
        return F.col(id_col).isin([str(v) for v in body["values"]])
    if kind == "prefix":
        (fld, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        return F.col(fld).startswith(str(v))
    if kind == "wildcard":
        (fld, v), = body.items()
        if isinstance(v, dict):
            v = v["value"]
        # ES wildcard syntax: * = any run, ? = any single char; all
        # other characters literal → anchored Java regex via rlike.
        # \z not $: Java's $ matches before a trailing newline, which
        # would return rows ES's exact keyword match would not
        import re as _re

        pat = "".join(
            ".*" if ch == "*" else "." if ch == "?" else _re.escape(ch)
            for ch in str(v))
        return F.col(fld).rlike(f"\\A(?s){pat}\\z")
    if kind == "bool":
        unknown = set(body) - {"must", "filter", "should", "must_not",
                               "minimum_should_match", "boost"}
        if unknown:
            # a typo'd occurrence key silently widening the result set is
            # exactly the returns-MORE-rows hazard this translator bars
            raise SourceError(
                f"elasticsearch bool: unsupported keys {sorted(unknown)} "
                "(supported: must/filter/should/must_not/"
                "minimum_should_match)")
        pred = F.lit(True)
        must = [_es_query_to_pred(sub, id_col)
                for clause in ("must", "filter")
                for sub in _as_clause_list(body.get(clause))]
        for p in must:
            pred = pred & p
        should = [_es_query_to_pred(sub, id_col)
                  for sub in _as_clause_list(body.get("should"))]
        if should:
            # ES default: should is OPTIONAL when must/filter are
            # present (minimum_should_match 0), required (1) otherwise;
            # integer k → at least k clauses hit; negative k → all but
            # |k|; "N%" → floor(N% of total) (the ES forms; combination
            # forms like "3<90%" are rejected loudly)
            msm = body.get("minimum_should_match")
            if msm is None:
                msm = 0 if must else 1
            elif isinstance(msm, str) and msm.rstrip().endswith("%"):
                try:
                    pct = float(msm.rstrip().rstrip("%"))
                except ValueError:
                    raise SourceError(
                        f"elasticsearch bool: unsupported "
                        f"minimum_should_match form {msm!r}") from None
                msm = int(len(should) * pct / 100.0)
            try:
                msm = int(msm)
            except (TypeError, ValueError):
                raise SourceError(
                    f"elasticsearch bool: unsupported "
                    f"minimum_should_match form {msm!r}") from None
            if msm < 0:
                msm = max(0, len(should) + msm)
            if msm > 0:
                hits = None
                for p in should:
                    h = F.when(p, 1).otherwise(0)
                    hits = h if hits is None else hits + h
                pred = pred & (hits >= F.lit(msm))
        for sub in _as_clause_list(body.get("must_not")):
            p = _es_query_to_pred(sub, id_col)
            # ES must_not is a filter-context exclusion: a row matches
            # unless the clause POSITIVELY matches (null ≠ match)
            pred = pred & ~F.coalesce(p, F.lit(False))
        return pred
    raise SourceError(
        f"elasticsearch query: unsupported clause {kind!r} (supported: "
        "match_all/term/terms/exists/range/ids/prefix/wildcard/bool)")


def _read_elasticsearch(spark: SparkSession, args: dict,
                        streaming: bool) -> DataFrame:
    if streaming:
        raise SourceError(
            "elasticsearch input is batch-only: a scroll is a "
            "point-in-time snapshot (use the file/kafka streaming "
            "inputs for a live feed)")
    snap_df = args.get("snapshot_df")
    table = args.get("snapshot_table")
    path = args.get("snapshot_path")
    if snap_df is not None:
        df = snap_df
    elif table:
        df = spark.read.table(table)
    elif path:
        df = spark.read.parquet(path)
    else:
        raise SourceError(
            "elasticsearch input: an index snapshot is required "
            "(snapshot_df / snapshot_table / snapshot_path) — the live "
            "cluster path is the es-hadoop connector on a real "
            "deployment (no jar in sandbox)")
    query = args.get("query")
    if query is not None:
        if isinstance(query, str):
            import json as _json

            query = _json.loads(query)
        if not isinstance(query, dict):
            raise SourceError(
                "elasticsearch query must be a DSL object (a single "
                f"top-level clause), got {type(query).__name__} — wrap "
                "clause lists in a bool query")
        # the reference wraps the clause in {"query": ...} sometimes
        query = query.get("query", query)
        df = df.where(_es_query_to_pred(
            query, args.get("id_column", "_id")))
    if args.get("docinfo"):
        # logstash-input-elasticsearch docinfo: hit metadata under
        # @metadata (we surface _index and _id; _id from `id_column`
        # when the export carries one)
        target = args.get("docinfo_target", "@metadata")
        id_col = args.get("id_column", "_id")
        idc = F.col(id_col).cast("string") if id_col in df.columns \
            else F.lit(None).cast("string")
        df = df.withColumn(
            target,
            F.struct(
                F.lit(args.get("index", "")).alias("_index"),
                idc.alias("_id"),
            ),
        )
    return df


# ---------------------------------------------------------------------------
# http_poller input (round 5): logstash-input-http_poller — poll each
# configured URL once per schedule tick; one BATCH is one tick (the
# schedule itself belongs to the orchestrator, same stance as the
# heartbeat input). The transport seam is the http filter's: an inline
# `responses` snapshot, an injected callable, or stdlib urllib for a
# live deployment. The url set is CONFIG-bounded (a handful of
# endpoints), so the fetch loop runs driver-side by design — the data
# volume lives in the response bodies, which become a distributed
# DataFrame immediately.
# ---------------------------------------------------------------------------

_POLLER_SCHEMA = ("name string, url string, status int, message string, "
                  "headers map<string,string>, tags array<string>")


def _read_http_poller(spark: SparkSession, args: dict,
                      streaming: bool) -> DataFrame:
    if streaming:
        raise SourceError(
            "http_poller input is batch-per-tick: run the pipeline on "
            "the poll schedule (heartbeat-input stance)")
    urls = args.get("urls")
    if not urls:
        raise SourceError("http_poller: `urls` map {name: url|{url:}} "
                          "is required")
    tag = args.get("tag_on_failure", "_http_request_failure")
    from .http_transport import resolve_transport

    fetch = resolve_transport(args, err=SourceError, who="http_poller")

    rows = []
    for name, spec in urls.items():
        if isinstance(spec, str):
            u, method = spec, "get"
        else:
            u = spec["url"]
            method = str(spec.get("method", "get")).lower()
        if method != "get":
            raise SourceError(
                f"http_poller: url {name!r} uses {method} — non-GET "
                "polling is a side effect per tick, rejected by design "
                "(http-filter precedent)")
        try:
            status, hdrs, body = fetch(u)
            rows.append((str(name), u, int(status), str(body),
                         {str(k): str(v) for k, v in dict(hdrs).items()},
                         None))
        except Exception as e:  # one failed endpoint ≠ a failed tick
            rows.append((str(name), u, None, str(e)[:200], None, [tag]))
    return local_frame(spark, rows, _POLLER_SCHEMA)
