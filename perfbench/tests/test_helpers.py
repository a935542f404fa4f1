"""Tests of the benchmark's own helpers (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from perfbench import common, gen, host, layers, oracle, scaling, stats
from perfbench.trace import Span, Tracer, covered, self_time_table, self_times


# ---- percentiles and the sample-count rule ----------------------------------

def test_percentile_matches_numpy_linear_rule():
    rng = np.random.default_rng(3)
    xs = rng.exponential(size=137).tolist()
    for q in (0, 5, 50, 90, 95, 99, 100):
        assert stats.percentile(xs, q) == pytest.approx(np.percentile(xs, q))
    assert stats.median([3.0, 1.0, 2.0]) == 2.0


def test_percentile_of_empty_sample_raises():
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_sample_count_rule_needs_ten_beyond():
    assert stats.supported(95, 200)
    assert not stats.supported(95, 199)
    assert stats.supported(99, 1000) and not stats.supported(99, 999)
    assert stats.highest_supported(250) == 95
    assert stats.highest_supported(1000) == 99
    assert stats.highest_supported(15) is None



# ---- spans and self time ----------------------------------------------------

def test_scaling_fit_recovers_fixed_and_per_page_cost():
    xs = [3500, 14000, 28000, 3500, 14000, 28000]
    ys = [8.0 + 0.0004 * x for x in xs]
    fixed, per_page = scaling.fit(xs, ys)
    assert fixed == pytest.approx(8.0) and per_page == pytest.approx(0.0004)


def test_covered_merges_overlaps_and_clips():
    assert covered(0, 10, [(1, 3), (2, 5), (7, 12)]) == 7  # [1,5] + [7,10]
    assert covered(0, 10, []) == 0
    assert covered(5, 6, [(0, 2)]) == 0


def test_self_time_counts_concurrent_children_once():
    spans = [Span(1, "batch", 0.0, 10.0),
             Span(2, "sink.a", 2.0, 6.0, parent=1),
             Span(3, "sink.b", 3.0, 7.0, parent=1),   # overlaps sink.a
             Span(4, "inner", 3.0, 4.0, parent=2)]
    st = self_times(spans)
    assert st[1] == pytest.approx(10 - 5)  # children cover [2, 7]
    assert st[2] == pytest.approx(4 - 1)
    assert st[3] == pytest.approx(4)
    table = self_time_table(spans)
    assert table[0][0] == "batch" and table[0][3] == pytest.approx(5)


class _Target:
    def outer(self, x):
        return self.inner(x) + 1

    def inner(self, x):
        return x * 2


def test_tracer_wrap_records_parent_chain_and_uninstalls():
    ticks = iter(range(100))
    tracer = Tracer(clock=lambda: float(next(ticks)))
    tracer.wrap(_Target, "outer", "outer")
    tracer.wrap(_Target, "inner", lambda self, x: f"inner.{x}")
    tracer.enabled = True
    assert _Target().outer(3) == 7
    by_name = {sp.name: sp for sp in tracer.spans}
    assert by_name["inner.3"].parent == by_name["outer"].id
    assert by_name["outer"].parent is None
    tracer.enabled = False
    _Target().outer(1)
    assert len(tracer.spans) == 2  # a disabled wrapper records nothing
    tracer.uninstall()
    assert _Target.outer.__qualname__ == "_Target.outer"


def test_pool_thread_spans_hang_under_the_submitting_threads_span():
    """The sink writes run in a thread pool started from whatever thread
    runs the batch (a py4j callback thread under streaming)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    tracer = Tracer()
    tracer.propagate_into(ThreadPoolExecutor)
    tracer.enabled = True
    parents = {}

    def batch():
        with tracer.span("write_batch") as parent:
            parents["write_batch"] = parent.id

            def work(n):
                with tracer.span(f"sink.{n}"):
                    pass

            with ThreadPoolExecutor(2) as pool:
                list(pool.map(work, ["a", "b"]))

    try:
        t = threading.Thread(target=batch)
        t.start()
        t.join(timeout=30)
        assert not t.is_alive()
    finally:
        tracer.uninstall()
    kids = [sp for sp in tracer.spans if sp.name.startswith("sink.")]
    assert len(kids) == 2 and all(sp.parent == parents["write_batch"] for sp in kids)
    assert ThreadPoolExecutor.submit.__qualname__ == "ThreadPoolExecutor.submit"


def test_span_metrics_coverage_and_batch_self():
    spans = [Span(1, "pipeline.run", 0.0, 10.0),
             Span(2, "pipeline.census", 1.0, 4.0, parent=1, attrs={"failures": {"geoip": 2}}),
             Span(3, "router.write_batch", 4.0, 9.0, parent=1),
             Span(4, "router.sink.sink_en", 4.0, 8.0, parent=3)]
    m = layers.span_metrics(spans, "pipeline.run")
    assert m["trace.coverage"] == pytest.approx(0.8)
    assert m["pipeline.batch_self_s"] == pytest.approx(2.0)
    assert m["router.sink.sink_en_s"] == pytest.approx(4.0)
    assert m["stages.geoip.failures"] == 2


# ---- generators ---------------------------------------------------------------

def test_generators_are_seeded_and_offset_ids():
    pool = gen.paragraph_pool(5)
    a = gen.pages_table(5, 0, 20, 2, pool)
    b = gen.pages_table(5, 0, 20, 2, gen.paragraph_pool(5))
    c = gen.pages_table(6, 0, 20, 2, gen.paragraph_pool(6))
    assert a.equals(b)
    assert a.column("url").to_pylist() != c.column("url").to_pylist()
    assert a.column("url")[0].as_py().endswith(f"-{5 * gen.ID_STRIDE}")
    assert gen.log_lines(5, 0, 50) == gen.log_lines(5, 0, 50)
    assert gen.log_lines(5, 0, 50) != gen.log_lines(6, 0, 50)


def test_page_text_oracle_is_what_the_reference_extractor_yields():
    from logstash_spark.extract import extract_text

    t = gen.pages_table(9, 0, 40, 3, gen.paragraph_pool(9))
    for html, text in zip(t.column("html").to_pylist(), t.column("text").to_pylist()):
        assert extract_text(html) == text


def test_stage_renames_into_place_once(tmp_path):
    calls = tmp_path / "calls"  # files are made in forked children

    def make(k):
        with open(calls, "a") as f:
            f.write(f"{k}\n")
        return pa.table({"x": [k]})

    root = tmp_path / "staged"
    path = gen.stage(str(root), "t", 3, make)
    assert sorted(os.listdir(path)) == ["_STAGED.json", "part-00000.parquet",
                                        "part-00001.parquet", "part-00002.parquet"]
    assert pq.read_table(os.path.join(path, "part-00002.parquet")).column("x").to_pylist() == [2]
    assert gen.stage(str(root), "t", 3, make) == path
    assert sorted(calls.read_text().split()) == ["0", "1", "2"]
    assert not [n for n in os.listdir(root) if ".tmp-" in n]


def test_stage_fails_when_a_generator_fails(tmp_path):
    def make(k):
        if k == 1:
            raise ValueError("boom")
        return pa.table({"x": [k]})

    with pytest.raises(RuntimeError, match="generator process"):
        gen.stage(str(tmp_path), "t", 2, make)
    assert os.listdir(tmp_path) == []


def test_stage_keeps_only_the_most_recently_used_inputs(tmp_path, monkeypatch):
    monkeypatch.setattr(gen, "CACHE_ENTRIES", 2)
    one = lambda k: pa.table({"x": [k]})  # noqa: E731
    a = gen.stage(str(tmp_path), "a", 1, one)
    os.utime(a, (1, 1))
    b = gen.stage(str(tmp_path), "b", 1, one)
    os.utime(b, (2, 2))
    gen.stage(str(tmp_path), "a", 1, one)  # a hit makes "a" the most recent
    gen.stage(str(tmp_path), "c", 1, one)
    assert sorted(os.listdir(tmp_path)) == ["a", "c"]


# ---- oracles ------------------------------------------------------------------

def test_status_class_oracle():
    good, bad = gen.log_lines(1, 0, 200), "!!corrupt line 7 without structure"
    assert gen.status_class(bad) is None
    assert {gen.status_class(x) for x in good} <= {"2xx", "3xx", "4xx", "5xx", None}
    line = ('1.2.3.4 - frank [01/Jan/2026:00:00:00 +0000] "GET /a.html HTTP/1.1" '
            '404 12 "http://r/" "curl/8.4.0"')
    assert gen.status_class(line) == "4xx"
    counts = oracle.log_counts([line, bad, line])
    assert counts["status_4xx"] == 2 and counts["dead_letter"] == 1


def test_oracle_flags_a_deliberately_wrong_sink_count():
    want = {"sink_en": 10, "sink_i18n": 4, "dead_letter": 1}
    assert oracle.batch_disagreements(want, dict(want)) == []
    wrong = dict(want, sink_i18n=5)
    assert oracle.batch_disagreements(want, wrong) == ["sink_i18n: expected 4, got 5"]
    assert oracle.batch_disagreements(want, {"sink_en": 10, "sink_i18n": 4})


def test_sum_buckets_and_on_disk_bucket_rows(tmp_path):
    per_bucket = {0: {"a": 1, "b": 2}, 1: {"a": 3, "b": 0}, 2: {"a": 5, "b": 5}}
    assert oracle.sum_buckets(per_bucket, [0, 1]) == {"a": 4, "b": 2}
    for b, n in ((0, 3), (2, 1)):
        d = tmp_path / "sink" / f"bucket={b}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"x": list(range(n))}), d / "part-0.parquet")
    assert oracle.sink_bucket_rows(str(tmp_path), "sink") == {0: 3, 2: 1}
    assert oracle.sink_bucket_rows(str(tmp_path), "missing") == {}


def test_distinct_ids_sees_duplicates_across_sinks(tmp_path):
    for sink, table in (
        ("status_2xx", pa.table({"event_id": [1, 2]})),
        ("dead_letter", pa.table({"original": [{"event_id": 2}]})),
    ):
        d = tmp_path / sink / "bucket=0"
        d.mkdir(parents=True)
        pq.write_table(table, d / "part-0.parquet")
    assert oracle.distinct_ids(str(tmp_path)) == (3, 2)


def test_tree_memory_skips_a_jvm_fork_that_has_not_execd(monkeypatch):
    procs = {10: (1, "python3 run.py"), 11: (10, "java -cp spark"),
             12: (11, "java -cp spark"),  # fork before exec: the JVM's pages again
             13: (11, "python3 -m pyspark.daemon"), 14: (13, "python3 -m pyspark.daemon")}
    monkeypatch.setattr(host, "process_table", lambda: procs)
    monkeypatch.setattr(host, "_rss", lambda pid: {10: 1, 11: 100, 12: 100}[pid])
    monkeypatch.setattr(host, "_pss", lambda pid: {13: 5, 14: 7}[pid])
    assert host.tree_memory(10) == {"driver": 1, "jvm": 100, "python_workers": 12}


def test_files_by_batch_goes_by_modification_time(tmp_path):
    for name, mtime in [("a.parquet", 5), ("b.parquet", 10), ("c.parquet", 11),
                        ("_SUCCESS", 11), ("d.parquet", 99)]:
        f = tmp_path / "sink" / "bucket=0" / name
        f.parent.mkdir(parents=True, exist_ok=True)
        f.write_bytes(b"x" * mtime)
        os.utime(f, (mtime, mtime))
    # micro-batch 0 committed at 10, 1 at 20; d was written after every commit
    assert common.files_by_batch([str(tmp_path / "sink")], {1: 20.0, 0: 10.0}) == {
        0: [2, 15], 1: [1, 11]}
