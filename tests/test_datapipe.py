"""Training-data ops: dedup / similarity / textstats / multimodal."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from logstash_spark.datapipe import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [
        (0, base),
        (1, base),  # exact dup of 0
        (2, base.replace("today", "tomorrow")),  # near dup of 0
        (3, "completely different content about spark query engines and shuffles"),
        (4, "der schnelle braune fuchs springt über den faulen hund und rennt"),
        (5, "short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2, 3, 4, 5]  # 1 dropped (exact dup of 0)


def test_minhash_dedup(docs):
    pairs = dedup.minhash_lsh_candidates(docs, num_perm=32, bands=16)
    cand = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in cand  # identical docs always collide
    out = dedup.minhash_dedup(docs, threshold=0.5, num_perm=32, bands=16)
    ids = sorted(r.doc_id for r in out.collect())
    assert 1 not in ids and 0 in ids and 3 in ids
    assert 2 not in ids  # near-dup above 0.5 jaccard


def test_minhash_dedup_reads_each_call_afresh(spark, tmp_path):
    """Two calls in one session over the same parquet path, the files
    replaced in between by another writer (so Spark does not refresh
    its caches of that path): the second call's drops come from the new
    files, as a computation from scratch, not from the first call's
    cached id list (same plan, so a persisted one would be reused)."""
    import shutil

    base = "the quick brown fox jumps over the lazy dog again and again today"
    other = "completely different content about spark query engines and shuffles"
    path = str(tmp_path / "docs")
    schema = "doc_id long, text string"
    first = [(0, base), (1, base), (2, other), (3, "short text")]
    second = [(0, base), (1, "short text"), (2, other), (3, other)]
    kept = []
    for i, rows in enumerate((first, second)):
        spark.createDataFrame(rows, schema).write.parquet(f"{path}{i}")
        shutil.rmtree(path, ignore_errors=True)
        shutil.move(f"{path}{i}", path)
        out = dedup.minhash_dedup(spark.read.parquet(path), threshold=0.8)
        kept.append(sorted(r.doc_id for r in out.collect()))
    scratch = dedup.minhash_dedup(spark.createDataFrame(second, schema), threshold=0.8)
    assert kept == [[0, 2, 3], [0, 1, 2]]
    assert kept[1] == sorted(r.doc_id for r in scratch.collect())
    dedup.release_dedup_caches()


def test_simhash_dedup(docs):
    sig = dedup.simhash_column(docs)
    vals = {r.doc_id: r.simhash for r in sig.collect()}
    assert vals[0] == vals[1]
    pairs = dedup.simhash_candidates(sig, max_hamming=3)
    got = {(r.a, r.b): r.hamming for r in pairs.collect()}
    assert got[(0, 1)] == 0
    out = dedup.simhash_dedup(docs, max_hamming=3)
    assert 1 not in {r.doc_id for r in out.collect()}


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    got = {(r.a, r.b): r.jaccard for r in pairs.collect()}
    assert got[(0, 1)] == 1.0
    assert (0, 2) in got and 0.5 <= got[(0, 2)] < 1.0
    assert (0, 3) not in got


def test_embedding_neardup(spark):
    rng = np.random.default_rng(7)
    v0 = rng.standard_normal(8)
    v1 = v0 + rng.standard_normal(8) * 0.01  # near-dup
    v2 = rng.standard_normal(8)
    rows = [(0, [float(x) for x in v0]), (1, [float(x) for x in v1]),
            (2, [float(x) for x in v2])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = dedup.embedding_neardup_pairs(df, dim=8, threshold=0.95, n_planes=6)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (0, 1) in got and (0, 2) not in got


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_cosine_topk_exact(embeddings):
    qv = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    top = similarity.cosine_topk(embeddings, qv, k=5).collect()
    assert top[0].vec_id == 0 and abs(top[0].cosine - 1.0) < 1e-6
    assert len(top) == 5
    assert all(top[i].cosine >= top[i + 1].cosine for i in range(4))


def test_ann_lsh_recall(embeddings):
    qv = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    exact = [r.vec_id for r in similarity.cosine_topk(embeddings, qv, k=10).collect()]
    approx = [r.vec_id for r in similarity.ann_lsh_topk(
        embeddings, qv, k=10, n_planes=6, multiprobe=2).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert approx[0] == 0  # the query vector itself always found
    assert recall >= 0.5


def test_ann_ivf_recall(embeddings):
    qv = embeddings.filter(F.col("vec_id") == 0).collect()[0].embedding
    exact = [r.vec_id for r in similarity.cosine_topk(embeddings, qv, k=10).collect()]
    approx = [r.vec_id for r in similarity.ann_ivf_topk(
        embeddings, qv, k=10, n_centroids=8, nprobe=4).collect()]
    recall = len(set(exact) & set(approx)) / 10
    assert approx[0] == 0
    assert recall >= 0.5


def test_textstats(spark):
    df = spark.createDataFrame(
        [
            (1, "The cat and the dog sat in the house with the mouse."),
            (2, "Der Hund und die Katze sind nicht auf der Straße mit dem Auto."),
            (3, ""),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in textstats.text_stats(df).collect()}
    assert out[1].lang_detected == "en"
    assert out[2].lang_detected == "de"
    assert out[3].lang_detected == "und"
    assert out[1].n_tokens == 12
    assert out[1].n_bpe_tokens == 13  # 12 words + final period... plus inner period
    assert 0 <= out[1].quality <= 1
    assert out[3].n_tokens == 0 and out[3].quality <= 0.3
    # rolling hash is order-sensitive
    df2 = spark.createDataFrame(
        [(1, "a b c"), (2, "c b a")], "doc_id long, text string"
    )
    fps = [r.fingerprint_rolling for r in textstats.text_stats(df2).collect()]
    assert fps[0] != fps[1]


def test_multimodal_plumbing(spark):
    media = multimodal.gen_media(spark, 24)
    assert media.count() == 24
    feats = multimodal.decode_images(media)
    rows = feats.collect()
    assert len(rows) == 8  # every third row is an image
    r = rows[0]
    # the synthetic images are real uncompressed BMPs → the REAL decoder
    assert r.channels == 3 and len(r.embedding) == 16 and r.decoder == "bmp-pure"
    assert 8 <= r.width <= 32 and 8 <= r.height <= 32
    assert all(0.0 <= v <= 1.0 for v in r.embedding)
    # determinism: same payload → same embedding
    again = {x.doc_id: x.embedding for x in multimodal.decode_images(media).collect()}
    assert again[r.doc_id] == r.embedding
    frames = multimodal.sample_frames(media)
    assert frames.count() > 0
    assert frames.columns == ["doc_id", "frame_idx", "frame_payload", "decoder"]


def test_multimodal_real_codecs(spark):
    """The pure-numpy BMP/WAV decoders decode for real: known payloads
    yield known dims/energies, end-to-end through the Spark operators."""
    import numpy as np
    import pandas as pd

    # hand-built image: left half black, right half white, 8x4
    px = np.zeros((4, 8, 3), np.uint8)
    px[:, 4:] = 255
    bmp = multimodal.encode_bmp(px)
    w, h, c, back = multimodal.decode_bmp(bmp)
    assert (w, h, c) == (8, 4, 3) and np.array_equal(back, px)
    # 440 Hz sine at amplitude 0.5 → rms = 0.5/sqrt(2)
    t = np.arange(8000) / 16000.0
    wav = multimodal.encode_wav(0.5 * np.sin(2 * np.pi * 440 * t))

    media = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2],
            "kind": ["image", "audio"],
            "payload": [bmp, wav],
            "media_meta": [("image/bmp", len(bmp)), ("audio/wav", len(wav))],
        }),
        schema=multimodal.MEDIA_SCHEMA,
    )
    img = multimodal.decode_images(media).collect()[0]
    assert (img.width, img.height, img.decoder) == (8, 4, "bmp-pure")
    # grid embedding: left columns 0.0, right columns 1.0
    emb = np.array(img.embedding).reshape(4, 4)
    assert np.allclose(emb[:, :2], 0.0) and np.allclose(emb[:, 2:], 1.0)
    aud = multimodal.audio_features(media).collect()[0]
    assert aud.sample_rate == 16000 and aud.decoder == "wav-pure"
    assert abs(aud.duration_sec - 0.5) < 1e-6
    assert abs(aud.rms - 0.5 / np.sqrt(2)) < 1e-3
    # a non-PCM payload falls to the declared stub, never aborts
    junk = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [3], "kind": ["audio"],
            "payload": [b"\x00" * 64], "media_meta": [("audio/mp3", 64)],
        }),
        schema=multimodal.MEDIA_SCHEMA,
    )
    assert multimodal.audio_features(junk).collect()[0].decoder == "fake-sha256"


def test_multimodal_corrupt_payloads_never_abort(spark):
    """Adversarial payloads that historically escaped the ValueError
    stub-fallback: a RIFF/WAVE with a TRUNCATED fmt chunk used to raise
    struct.error out of decode_wav (aborting the Spark task on one
    corrupt payload), and a rate=0 fmt chunk divided by zero. Both must
    fall to the deterministic stub; truncated BMP headers likewise."""
    import struct as _s

    import pandas as pd

    def wav_with_fmt(body: bytes) -> bytes:
        chunks = b"fmt " + _s.pack("<I", len(body)) + body
        chunks += b"data" + _s.pack("<I", 4) + b"\x00\x00\x01\x00"
        return b"RIFF" + _s.pack("<I", 4 + len(chunks)) + b"WAVE" + chunks

    truncated_fmt = wav_with_fmt(b"\x01\x00")  # 2-byte fmt body
    zero_rate = wav_with_fmt(_s.pack("<HHIIHH", 1, 1, 0, 0, 2, 16))
    short_bmp = b"BM" + b"\x00" * 20  # header shorter than 54 bytes
    media = spark.createDataFrame(
        pd.DataFrame({
            "doc_id": [1, 2, 3],
            "kind": ["audio", "audio", "image"],
            "payload": [truncated_fmt, zero_rate, short_bmp],
            "media_meta": [("audio/wav", len(truncated_fmt)),
                           ("audio/wav", len(zero_rate)),
                           ("image/bmp", len(short_bmp))],
        }),
        schema=multimodal.MEDIA_SCHEMA,
    )
    auds = multimodal.audio_features(media).collect()
    assert [a.decoder for a in auds] == ["fake-sha256", "fake-sha256"]
    img = multimodal.decode_images(media).collect()[0]
    assert img.decoder == "fake-sha256"
    # the unioned battery over the same corrupt rows also never aborts
    assert multimodal.media_features(media).count() == 3


def test_minhash_hot_bucket_skew(spark):
    """The 100 TB degenerate case: 1k near-identical docs land in the
    same LSH buckets. Representative pairing keeps the join linear in
    the bucket (no quadratic blowup) and still drops every duplicate."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    rows = [(i, base) for i in range(1000)]
    rows += [(1000 + i, f"unique document number {i} with its own distinct words "
                        f"alpha{i} beta{i} gamma{i}") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = dedup.minhash_bucket_stats(df)
    assert stats["max_bucket"] == 1000
    assert stats["hot_buckets"] >= 1  # the cap path is actually exercised
    out = dedup.minhash_dedup(df, threshold=0.8)
    kept = sorted(r.doc_id for r in out.collect())
    # one survivor (min id) from the identical cluster + all uniques
    assert kept[0] == 0
    assert len(kept) == 1 + 50


def test_ann_indexed_partition_pruning(spark, sf_dir, tmp_path):
    """write_ann_index partitions by LSH bucket; the probe predicate
    must appear as PartitionFilters (pruned at file listing) and return
    the same rows as the computed-column variant."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ann_index")
    similarity.write_ann_index(emb, path, n_planes=8, dim=64)

    qvec = [(1.0, 0.5, -0.25)[i % 3] for i in range(64)]
    indexed = similarity.ann_lsh_topk_indexed(
        spark, path, qvec, k=10, n_planes=8, multiprobe=2
    )
    plain = similarity.ann_lsh_topk(emb, qvec, k=10, n_planes=8, multiprobe=2)
    assert [tuple(r) for r in indexed.collect()] == [tuple(r) for r in plain.collect()]

    plan = indexed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the filter is real (non-empty bucket pruning), not PartitionFilters: []
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "bucket" in m.group(1)


def test_ngram_hot_shingle_skew(spark):
    """The stop-phrase degenerate case: 1k docs share one shingle. The
    document-frequency cap must keep the inverted-index join linear
    (representative pairing) while identical docs still pair up."""
    shared = "lorem ipsum dolor"  # one 3-shingle shared by every doc
    rows = [(i, f"{shared} unique{i} tail{i} word{i}") for i in range(1000)]
    rows += [(2000, "aa bb cc dd ee ff"), (2001, "aa bb cc dd ee ff")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    stats = dedup.ngram_shingle_stats(df)
    assert stats["max_df"] >= 1000 and stats["hot_shingles"] >= 1
    pairs = dedup.ngram_jaccard_pairs(df, threshold=0.9)
    got = {(r.a, r.b) for r in pairs.collect()}
    assert (2000, 2001) in got       # identical pair found via cold shingles
    assert all(a == 0 or b > 1999 for a, b in got)  # hot path only reps doc 0


def test_connected_components_transitive(spark):
    """A~B, B~C, A≁C: one component, exactly one survivor (min id);
    isolated pair D~E keeps its own min."""
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(6)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (3, 4)], "a long, b long"
    )
    comps = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    assert comps == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3}
    out = dedup.dedup_connected_components(docs, pairs)
    kept = sorted(r.doc_id for r in out.collect())
    dedup.release_dedup_caches()
    assert kept == [0, 3, 5]  # 5 untouched by any pair


def test_connected_components_long_chain(spark):
    """Chain 0-1-2-...-9 has diameter 9: propagation must iterate to a
    fixpoint, not stop after one round."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "a long, b long"
    )
    comps = {r.id: r.comp for r in dedup.connected_components(pairs).collect()}
    dedup.release_dedup_caches()
    assert set(comps.values()) == {0} and len(comps) == 10


def test_ivf_indexed_partition_pruning(spark, sf_dir, tmp_path):
    """write_ivf_index partitions by inverted list; the nprobe predicate
    must appear as PartitionFilters, and with nprobe == n_centroids the
    result matches the unindexed IVF query using the same centroids."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    path = str(tmp_path / "ivf_index")
    cents = similarity.write_ivf_index(emb, path, n_centroids=8, kmeans_iters=1)

    qvec = [(1.0, 0.5, -0.25)[i % 3] for i in range(64)]
    indexed = similarity.ann_ivf_topk_indexed(spark, path, qvec, k=10, nprobe=8)
    plain = similarity.ann_ivf_topk(emb, qvec, k=10, nprobe=8, centroids=cents)
    assert [tuple(r) for r in indexed.collect()] == [tuple(r) for r in plain.collect()]

    # centroids round-trip through the sidecar
    stored = similarity.read_ivf_centroids(spark, path)
    assert np.allclose(stored, cents)

    pruned = similarity.ann_ivf_topk_indexed(spark, path, qvec, k=10, nprobe=2)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m and "ivf_list" in m.group(1)


def test_connected_components_releases_superseded_checkpoints(spark):
    """Storage must stay O(1) in rounds: superseded label checkpoints
    are released explicitly (localCheckpoint blocks are pinned —
    neither unpersist() nor GC frees them promptly)."""
    sc = spark.sparkContext
    before = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    pairs = spark.createDataFrame([(i, i + 1) for i in range(9)], "a long, b long")
    labels = dedup.connected_components(pairs)
    labels.count()
    after = {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    # a 9-diameter chain runs ~10 rounds; at most the FINAL label
    # checkpoint (+ nothing else from this job) may remain pinned
    leaked = after - before
    assert len(leaked) <= 1, f"superseded checkpoints leaked: {leaked}"


def test_simhash_wide_radius_rejected(spark):
    """4x16-bit chunk blocking only guarantees recall for hamming <= 3 —
    a wider radius must be a loud error, not silent under-recall."""
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    sdf = dedup.simhash_column(df)
    with pytest.raises(ValueError, match="max_hamming"):
        dedup.simhash_candidates(sdf, max_hamming=4).collect()


def test_refine_ivf_centroids_null_embedding_row(spark):
    """A null/NaN embedding assigns to a NULL inverted list; the
    refinement must skip it — numpy nxt[None] indexing would silently
    overwrite the whole centroid matrix."""
    import numpy as np

    rows = [(i, [float(i % 3), 1.0]) for i in range(20)] + [(99, None)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cents = np.array([[0.0, 1.0], [2.0, 1.0]])
    out = similarity.refine_ivf_centroids(df, cents, iters=1)
    assert out.shape == (2, 2)
    # both centroids refined from real rows — neither equals the other
    assert not np.allclose(out[0], out[1])


def test_index_rebuild_replaces_every_partition(spark, sf_dir, tmp_path):
    """Rebuilding an ANN or IVF index over a smaller corpus at the same
    path must leave only the new corpus: the rebuild's overwrite replaces
    the whole index, including partitions the new build does not write
    (under a session-wide dynamic partition overwrite they survived)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    small = emb.limit(3).withColumn("vec_id", F.col("vec_id") + 10_000_000)
    new_ids = sorted(r.vec_id for r in small.select("vec_id").collect())
    for name, build in (
        ("ann", lambda df, p: similarity.write_ann_index(df, p, n_planes=8, dim=64)),
        ("ivf", lambda df, p: similarity.write_ivf_index(df, p, n_centroids=2,
                                                         kmeans_iters=1)),
    ):
        path = str(tmp_path / name)
        build(emb, path)
        build(small, path)
        got = sorted(r.vec_id for r in spark.read.parquet(path).select("vec_id").collect())
        assert got == new_ids, name
