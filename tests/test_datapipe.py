"""Tests for the training-data pipeline operators + streaming projection."""

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog", "en", "s", 44),
        (1, "the quick brown fox jumps over the lazy dog", "en", "s", 44),  # exact dup
        (2, "the quick brown fox jumps over a lazy dog", "en", "s", 42),  # near dup
        (3, "der schnelle braune fuchs und das faule tier", "de", "s", 44),
        (4, "completely different content about spark engines", "en", "s", 48),
    ]
    return spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")


def test_exact_dedup(spark, docs):
    from carbonapi_spark.datapipe.dedup import exact_dedup
    out = {r["keeper_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert out[0] == 2  # doc 0 and 1 identical
    assert out[2] == 1


def test_minhash_finds_near_dup(spark, docs):
    from carbonapi_spark.datapipe.dedup import jaccard_verify, minhash_lsh_candidates
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=8, ngram=2)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (0, 1) in got  # identical docs always collide
    verified = jaccard_verify(docs, pairs, ngram=2, threshold=0.5)
    vgot = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    assert vgot[(0, 1)] == 1.0
    if (0, 2) in vgot:
        assert 0.5 <= vgot[(0, 2)] < 1.0


def test_simhash_similarity(spark, docs):
    from carbonapi_spark.datapipe.dedup import simhash
    out = {r["doc_id"]: r["sh"] for r in
           docs.select("doc_id", simhash(F.col("text"), 32).alias("sh")).collect()}
    assert out[0] == out[1]  # identical text -> identical simhash
    assert out[0] != out[4]


def test_lang_id_argmax(spark, docs):
    from carbonapi_spark.datapipe.text import lang_scores
    rows = {r["doc_id"]: r for r in lang_scores(docs).collect()}
    assert rows[0]["score_en"] > rows[0]["score_de"]
    assert rows[3]["score_de"] > rows[3]["score_en"]


def test_fingerprint_deterministic(spark, docs):
    from carbonapi_spark.datapipe.text import fingerprint
    a = docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()
    b = docs.select("doc_id", fingerprint(F.col("text")).alias("fp")).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    fps = {r["doc_id"]: r["fp"] for r in a}
    assert fps[0] == fps[1] and fps[0] != fps[4]


def test_ann_bruteforce_topk(spark):
    from carbonapi_spark.datapipe.similarity import brute_force_topk
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype(float)
    vecs[5] = vecs[0] * 2.0  # same direction as 0 -> cosine 1
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = brute_force_topk(df, df.where(F.col("vec_id") == 0), k=3)
    top = out.orderBy(F.desc("cos_sim")).first()
    assert top["neighbor_id"] == 5
    assert top["cos_sim"] == pytest.approx(1.0, abs=1e-6)


def test_sq8_encode_and_topk(spark):
    """SQ8 scalar quantization: codes span exactly [0, 255] per dim, a
    constant dimension degrades to code 0 / dq == its value, and the
    asymmetric top-k still ranks a parallel vector first with adc_sim
    within quantization error of 1.0."""
    from carbonapi_spark.datapipe.similarity import (
        sq8_ranges, sq8_encode, sq8_topk)
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype(float)
    vecs[5] = vecs[0] * 2.0          # same direction as 0 -> cosine 1
    vecs[:, 3] = 0.25                # constant dim: mx <= mn path
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    ranges = sq8_ranges(df, dim=8)
    for j, (mn, mx) in enumerate(ranges):
        assert mn == pytest.approx(vecs[:, j].min())
        assert mx == pytest.approx(vecs[:, j].max())
    codes = {r["vec_id"]: r["codes"] for r in sq8_encode(df, ranges).collect()}
    flat = [c for v in codes.values() for c in v]
    assert min(flat) == 0.0 and max(flat) == 255.0
    assert all(v[3] == 0.0 for v in codes.values())  # constant dim
    out = sq8_topk(df, df.where(F.col("vec_id") == 0), ranges, k=3)
    top = out.orderBy(F.desc("adc_sim")).first()
    assert top["neighbor_id"] == 5
    assert top["adc_sim"] == pytest.approx(1.0, abs=0.02)


def test_lsh_topk_same_bucket_recall(spark):
    from carbonapi_spark.datapipe.similarity import lsh_topk
    import numpy as np
    rng = np.random.RandomState(7)
    vecs = rng.randn(20, 8).astype(float)
    vecs[5] = vecs[0] * 2.0
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(20)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = lsh_topk(df, df.where(F.col("vec_id") == 0), k=5, dim=8, n_planes=4)
    ids = {r["neighbor_id"] for r in out.collect()}
    assert 5 in ids  # parallel vector always lands in the same bucket


def test_lsh_candidate_quality_report(spark):
    """S-curve eval: pair counts cover all C(n,2) pairs, exact dups
    (bin 9) are always captured, the theory column matches the
    closed-form S-curve, and unbounded input is rejected."""
    from carbonapi_spark.datapipe.dedup import (
        lsh_candidate_quality, lsh_candidate_probability)
    rows = [(i, f"totally unrelated document number {i} about topic {i}")
            for i in range(8)]
    rows += [(100, "the quick brown fox jumps over the lazy dog"),
             (101, "the quick brown fox jumps over the lazy dog")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = lsh_candidate_quality(docs, num_hashes=16, bands=4, ngram=2,
                                bins=10).collect()
    n = len(rows)
    assert sum(r["n_pairs"] for r in out) == n * (n - 1) // 2
    by_bin = {r["bin"]: r for r in out}
    assert by_bin[9]["capture_rate"] == 1.0  # exact dups always collide
    for r in out:
        want = lsh_candidate_probability((r["bin"] + 0.5) / 10.0, 4, 4)
        assert r["theory_capture"] == pytest.approx(want, abs=1e-6)
    with pytest.raises(ValueError, match="max_sample"):
        lsh_candidate_quality(docs, max_sample=3)


def test_simhash_pairs_lossless_banding(spark):
    """simhash_pairs finds exactly the Hamming<=3 pairs an all-pairs scan
    would (pigeonhole: 4 bands, <4 flipped bits)."""
    from carbonapi_spark.datapipe.dedup import simhash_df, simhash_pairs
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),   # near-dup of 1
         (3, "completely different words about spark engines"),
         (4, "the quick brown fox jumps over the lazy dog")],  # exact dup of 1
        "doc_id LONG, text STRING")
    got = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_pairs(docs, max_hamming=3).collect()}
    # brute-force truth from the sketches themselves
    hs = {r["doc_id"]: r["simhash"] for r in simhash_df(docs).collect()}
    want = {(a, b): bin(hs[a] ^ hs[b]).count("1")
            for a in hs for b in hs if a < b
            if bin(hs[a] ^ hs[b]).count("1") <= 3}
    assert got == want
    assert got[(1, 4)] == 0  # exact dup -> identical sketch


def test_lsh_topk_recall_clustered(spark):
    """recall@10 >= 0.9 with default multi-probe on a clustered corpus —
    the CI-sized replica of the 200k-vector smoke in SCALE.md (measured
    there: probe0 0.56, probe1 0.93, probe2 0.99)."""
    from carbonapi_spark.datapipe.similarity import brute_force_topk, lsh_topk
    dim, n = 16, 2000
    cluster = F.col("id") - F.col("id") % 10
    u = lambda key: (F.pmod(F.xxhash64(key), F.lit(2001)) / 1000.0 - 1.0)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: u(cluster * 131 + i) + u(F.col("id") * 977 + i) * 0.1)
    vecs = (spark.range(n)
            .select(F.col("id").alias("vec_id"), vec.alias("embedding")))
    q = vecs.where(F.col("vec_id") % 250 == 3)  # 8 queries across clusters

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    truth = sets(brute_force_topk(vecs, q, k=10))
    approx = sets(lsh_topk(vecs, q, k=10, dim=dim))
    hit = sum(len(truth[k_] & approx.get(k_, set())) for k_ in truth)
    assert hit / (10 * len(truth)) >= 0.9

    from carbonapi_spark.datapipe.similarity import ivf_topk
    ivf = sets(ivf_topk(vecs, q, k=10, dim=dim, n_centroids=16, nprobe=4))
    hit = sum(len(truth[k_] & ivf.get(k_, set())) for k_ in truth)
    assert hit / (10 * len(truth)) >= 0.9


def test_multimodal_features(spark):
    from carbonapi_spark.datapipe.multimodal import extract_features, synth_media
    media = synth_media(spark, 9)
    feats = extract_features(media, dim=8).collect()
    assert len(feats) == 9
    assert all(len(r["feature"]) == 8 for r in feats)
    assert all(r["n_bytes"] > 0 for r in feats)
    with pytest.raises(NotImplementedError):
        extract_features(media, decode_stub=False)


def test_resize_images_real_roundtrip(spark):
    """resize_images produces VALID re-encoded PNM: dims change, the
    raster equals the numpy nearest-neighbor reference, the output
    chains into media_features, and non-image rows follow the strict/
    degrade contract."""
    import numpy as np
    from carbonapi_spark.datapipe.multimodal import (
        decode_pnm, media_features, resize_images, synth_media)
    media = synth_media(spark, 9)  # kinds cycle image/audio/video
    imgs = media.where(F.col("kind") == "image")
    out = {r["media_id"]: r
           for r in resize_images(imgs, 4, 3).collect()}
    src = {r["media_id"]: bytes(r["payload"])
           for r in imgs.collect()}
    assert out and all(r["width"] == 4 and r["height"] == 3
                       for r in out.values())
    for mid, r in out.items():
        w, h, c, raster = decode_pnm(bytes(r["payload"]))
        assert (w, h) == (4, 3)
        w0, h0, c0, r0 = decode_pnm(src[mid])
        img0 = r0.reshape(h0, w0, c0)
        ys = (np.arange(3) * h0) // 3
        xs = (np.arange(4) * w0) // 4
        assert raster.tobytes() == img0[ys][:, xs].tobytes()
    feats = media_features(resize_images(imgs, 4, 3)
                           .select("media_id", "kind", "payload")).collect()
    assert all(f["width"] == 4 and f["height"] == 3 for f in feats)
    # audio rows: strict raises (surfaces as a PythonException wrapping
    # the NotImplementedError), non-strict degrades to null payload
    with pytest.raises(Exception, match="no resizable codec"):
        resize_images(media, 4, 3).collect()
    degraded = resize_images(media, 4, 3, strict=False).collect()
    # 3 audio + 3 video rows degrade; 3 images resize
    assert sum(r["payload"] is None for r in degraded) == 6
    assert sum(r["payload"] is not None for r in degraded) == 3


def _run_stream(df_fn, src_dir, out_dir, ck_dir):
    """One availableNow pass: src json -> stateful op -> parquet sink."""
    q = (df_fn()
         .writeStream.format("parquet")
         .option("path", str(out_dir))
         .option("checkpointLocation", str(ck_dir))
         .trigger(availableNow=True).start())
    assert q.awaitTermination(180)


def test_stream_dedup_exact_state_across_runs(spark, tmp_path):
    """applyInPandasWithState dedup: the first doc per content hash wins;
    a duplicate arriving in a LATER RUN (state restored from checkpoint)
    is dropped too."""
    import json
    from carbonapi_spark.streaming.stateful import stream_dedup_exact
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream.schema("doc_id LONG, text STRING")
             .json(str(src)))
        return stream_dedup_exact(s)

    (src / "a.json").write_text("\n".join(json.dumps(d) for d in [
        {"doc_id": 1, "text": "alpha"}, {"doc_id": 2, "text": "beta"},
        {"doc_id": 3, "text": "alpha"}]))  # in-batch duplicate
    _run_stream(stream, src, out, ck)
    (src / "b.json").write_text("\n".join(json.dumps(d) for d in [
        {"doc_id": 4, "text": "alpha"},   # cross-run duplicate
        {"doc_id": 5, "text": "gamma"}]))
    _run_stream(stream, src, out, ck)

    rows = spark.read.parquet(str(out)).collect()
    ids = sorted(r["doc_id"] for r in rows)
    assert len(rows) == 3          # alpha once, beta, gamma
    assert 2 in ids and 5 in ids and 4 not in ids
    assert (1 in ids) != (3 in ids)  # exactly one of the alpha pair


def test_stream_attribution_state_across_runs(spark, tmp_path):
    """Stateful last-touch attribution: in-batch events are re-sorted
    by (sec, event_id) so arrival order inside a batch never matters;
    the carried touch survives a checkpoint restart and credits a
    conversion in a later run; lookback voids stale touches."""
    import json
    from carbonapi_spark.streaming.stateful import stream_attribution
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream
             .schema("user_id LONG, event_type STRING, event_id LONG, "
                     "sec LONG")
             .json(str(src)))
        return stream_attribution(s, "buy", ["view", "click"],
                                  model="last", lookback_s=100)

    def ev(u, ty, sec, eid):
        return {"user_id": u, "event_type": ty, "sec": sec,
                "event_id": eid}

    # u1 arrives OUT OF ORDER in-batch: buy(30) before click(20)
    (src / "a.json").write_text("\n".join(json.dumps(d) for d in [
        ev(1, "buy", 30, 3), ev(1, "click", 20, 2), ev(1, "view", 10, 1),
        ev(2, "view", 5, 4)]))
    _run_stream(stream, src, out, ck)
    # u2's buy lands a RUN later: credit comes from restored state;
    # u3 buys with no touch at all; u1 buys again past the lookback
    (src / "b.json").write_text("\n".join(json.dumps(d) for d in [
        ev(2, "buy", 50, 5), ev(3, "buy", 60, 6), ev(1, "buy", 500, 7)]))
    _run_stream(stream, src, out, ck)

    got = sorted((r["user_id"], r["channel"])
                 for r in spark.read.parquet(str(out)).collect())
    assert got == [(1, "click"), (1, "__none__"),
                   (2, "view"), (3, "__none__")] or \
        got == sorted([(1, "click"), (1, "__none__"),
                       (2, "view"), (3, "__none__")])


def test_stream_kernels_gather_arrow_chunks(spark, tmp_path):
    """With arrow.maxRecordsPerBatch=2, a 6-event user spans 3 chunks;
    the kernels must gather before sorting or a time-earlier event in a
    later chunk breaks the batch-equality contract (the exact failure:
    per-chunk forward-fill mis-credits the conversion)."""
    import json
    from carbonapi_spark.streaming.stateful import (stream_attribution,
                                                    stream_funnel)
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        src, out, ck = tmp_path / "s", tmp_path / "o", tmp_path / "c"
        src.mkdir()
        # arrival order: the latest touch (click@40) FIRST, the
        # conversion in the middle, earlier touches last
        rows = [(1, "click", 40, 6), (1, "buy", 50, 5),
                (1, "view", 10, 4), (1, "click", 20, 3),
                (1, "view", 30, 2), (1, "view", 35, 1)]
        (src / "a.json").write_text("\n".join(
            json.dumps({"user_id": u, "event_type": t, "sec": s,
                        "event_id": e}) for u, t, s, e in rows))
        _run_stream(lambda: stream_attribution(
            (spark.readStream
             .schema("user_id LONG, event_type STRING, event_id LONG, "
                     "sec LONG").json(str(src))),
            "buy", ["view", "click"], model="last"), src, out, ck)
        got = [(r["user_id"], r["channel"])
               for r in spark.read.parquet(str(out)).collect()]
        assert got == [(1, "click")]  # click@40 < buy@50 wins

        src2, out2, ck2 = tmp_path / "s2", tmp_path / "o2", tmp_path / "c2"
        src2.mkdir()
        (src2 / "a.json").write_text("\n".join(
            json.dumps({"user_id": u, "event_type": t, "sec": s,
                        "event_id": e}) for u, t, s, e in rows))
        _run_stream(lambda: stream_funnel(
            (spark.readStream
             .schema("user_id LONG, event_type STRING, event_id LONG, "
                     "sec LONG").json(str(src2))),
            ["view", "click", "buy"]), src2, out2, ck2)
        got2 = [(r["user_id"], r["t_start"], r["t_complete"])
                for r in spark.read.parquet(str(out2)).collect()]
        assert got2 == [(1, 10, 50)]  # view@10 -> click@20 -> buy@50
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch",
                       old)


def test_stream_funnel_state_across_runs(spark, tmp_path):
    """Stateful funnel: partial progress survives a checkpoint restart
    (step 1 in run 1, steps 2-3 in run 2 -> one emission with the
    cross-run anchor); out-of-window completions never emit; a user
    emits at most once."""
    import json
    from carbonapi_spark.streaming.stateful import stream_funnel
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream
             .schema("user_id LONG, event_type STRING, event_id LONG, "
                     "sec LONG")
             .json(str(src)))
        return stream_funnel(s, ["view", "click", "buy"], within_s=100)

    def ev(u, ty, sec, eid):
        return {"user_id": u, "event_type": ty, "sec": sec,
                "event_id": eid}

    (src / "a.json").write_text("\n".join(json.dumps(d) for d in [
        ev(1, "view", 10, 1),                       # u1: step 1 only
        ev(2, "view", 5, 2), ev(2, "click", 6, 3),
        ev(2, "buy", 7, 4),                         # u2: completes run 1
        ev(3, "view", 0, 5), ev(3, "click", 1, 6)]))
    _run_stream(stream, src, out, ck)
    (src / "b.json").write_text("\n".join(json.dumps(d) for d in [
        ev(1, "click", 50, 7), ev(1, "buy", 90, 8),   # completes x-run
        ev(3, "buy", 500, 9),                         # outside window
        ev(2, "view", 20, 10), ev(2, "click", 21, 11),
        ev(2, "buy", 22, 12)]))                       # no re-emission
    _run_stream(stream, src, out, ck)

    got = sorted((r["user_id"], r["t_start"], r["t_complete"])
                 for r in spark.read.parquet(str(out)).collect())
    assert got == [(1, 10, 90), (2, 5, 7)]


def test_stream_per_second_state_across_runs(spark, tmp_path):
    """Streaming perSecond: the rate for the first point of run 2 uses the
    last sample remembered from run 1."""
    import json
    from carbonapi_spark.streaming.stateful import stream_per_second
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream
             .schema("name STRING, ts LONG, value DOUBLE").json(str(src)))
        return stream_per_second(s)

    (src / "a.json").write_text("\n".join(json.dumps(d) for d in [
        {"name": "m.a", "ts": 0, "value": 10.0},
        {"name": "m.a", "ts": 60, "value": 70.0}]))
    _run_stream(stream, src, out, ck)
    (src / "b.json").write_text(json.dumps(
        {"name": "m.a", "ts": 120, "value": 190.0}))
    _run_stream(stream, src, out, ck)

    rates = {r["ts"]: r["value"]
             for r in spark.read.parquet(str(out)).collect()}
    assert rates == {60: 1.0, 120: 2.0}  # 120's rate needs run-1 state


def test_stream_per_second_null_gap(spark, tmp_path):
    """A NULL sample (NaN in the arrow batch) must not overwrite the
    remembered last good sample: the next valid sample's rate spans the
    gap, like batch perSecond skipping nulls. Also covers a counter wrap
    (negative delta suppressed, seam still advances)."""
    import json
    from carbonapi_spark.streaming.stateful import stream_per_second
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream
             .schema("name STRING, ts LONG, value DOUBLE").json(str(src)))
        return stream_per_second(s)

    (src / "a.json").write_text("\n".join(json.dumps(d) for d in [
        {"name": "m.a", "ts": 0, "value": 10.0},
        {"name": "m.a", "ts": 60, "value": None},       # gap
        {"name": "m.a", "ts": 120, "value": 130.0}]))   # rate spans 0->120
    _run_stream(stream, src, out, ck)
    (src / "b.json").write_text("\n".join(json.dumps(d) for d in [
        {"name": "m.a", "ts": 180, "value": None},      # gap at batch head
        {"name": "m.a", "ts": 240, "value": 250.0},     # spans 120->240
        {"name": "m.a", "ts": 300, "value": 10.0},      # wrap: no emit
        {"name": "m.a", "ts": 360, "value": 70.0}]))    # spans 300->360
    _run_stream(stream, src, out, ck)

    rates = {r["ts"]: r["value"]
             for r in spark.read.parquet(str(out)).collect()}
    assert rates == {120: 1.0, 240: 1.0, 360: 1.0}


def test_multimodal_injected_codec(spark):
    """A user-supplied decode callable replaces the stub end-to-end."""
    from carbonapi_spark.datapipe.multimodal import extract_features, synth_media
    media = synth_media(spark, 6)

    def fake_codec(payload, kind):
        n = 0 if payload is None else len(payload)
        return [float(n), 1.0 if kind == "audio" else 0.0]

    rows = {r["media_id"]: r for r in
            extract_features(media, decode=fake_codec).collect()}
    assert len(rows) == 6
    for mid, r in rows.items():
        # synth_media payloads are now real containers (variable length);
        # the codec sees the raw bytes either way
        assert r["feature"][0] == float(r["n_bytes"]) > 0
        assert r["feature"][1] == (1.0 if r["kind"] == "audio" else 0.0)


def test_multimodal_frame_plan(spark):
    from carbonapi_spark.datapipe.multimodal import frame_sample_plan, synth_media
    media = synth_media(spark, 9)
    plan = frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert len(rows) == 3 * 4  # 3 videos x 4 frames (4000ms / 1000)
    assert {r["frame_ms"] for r in rows} == {0, 1000, 2000, 3000}


def test_stream_projection_batch_equivalence(spark):
    """The streaming projection code path gives identical results when run
    over a batch frame (unified API)."""
    from carbonapi_spark.streaming.ingest import events_stream_to_series
    import datetime as dt
    rows = [(dt.datetime(2024, 1, 1, 0, 0, 5), "click", 1, 2.0),
            (dt.datetime(2024, 1, 1, 0, 0, 55), "click", 2, 3.0),
            (dt.datetime(2024, 1, 1, 0, 1, 10), "view", 1, 1.0)]
    ev = spark.createDataFrame(
        rows, "ts TIMESTAMP, event_type STRING, user_id LONG, value DOUBLE")
    out = {(r["name"], r["ts"]): r["value"]
           for r in events_stream_to_series(ev, step=60).collect()}
    assert out[("events.click", 1704067200)] == 5.0
    assert out[("events.view", 1704067260)] == 1.0


def test_parse_carbon_lines(spark):
    from carbonapi_spark.streaming.ingest import parse_carbon_lines
    lines = spark.createDataFrame(
        [("a.b.c 42.5 1704067200",), ("bad line",), ("x.y 1 1704067260",)],
        "value STRING")
    out = parse_carbon_lines(lines).collect()
    got = {(r["name"], r["ts"], r["value"]) for r in out}
    assert ("a.b.c", 1704067200, 42.5) in got
    assert len(got) == 2


def test_simhash_64bit_exact(spark, docs):
    """simhash samples the raw 64-bit xxhash64: exact value parity with an
    independent pure-Python XXH64, and the high 32 bits are exercised (a
    prior revision folded hashes mod 2^31-1, zeroing bits 31-63)."""
    import os
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))
    from tools.xxh64_ref import xxh64
    from carbonapi_spark.datapipe.dedup import simhash

    def ref(text, bits=64):
        hs = [xxh64(t.encode()) for t in text.lower().split() if t]
        out = sum(1 << i for i in range(bits)
                  if sum(1 if (h >> i) & 1 else -1 for h in hs) > 0)
        return out - (1 << 64) if out >= (1 << 63) else out

    rows = docs.select("text", simhash(F.col("text")).alias("sh")).collect()
    assert all(r["sh"] == ref(r["text"]) for r in rows)
    assert any(r["sh"] < 0 or r["sh"] >> 31 != 0 for r in rows)


def test_duckdb_xxh64_oracle_matches_spark(spark):
    """The DuckDB-SQL XXH64 used by the dedup oracles is byte-exact vs
    Spark's native xxhash64 across tail-length classes and UTF-8."""
    import duckdb

    from carbonapi_spark.oracle_xxh64 import xxh64_ctes

    tests = ["", "a", "ab", "abc", "abcd", "abcde", "12345678",
             "123456789012", "1234567890123456", "héllo wörld", "x" * 31,
             "x" * 32, "x" * 33, "y" * 64, "z" * 100]
    df = spark.createDataFrame([(t,) for t in tests], "t string")
    want = {r["t"]: r["h"] for r in
            df.select("t", F.xxhash64("t").alias("h")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE toks(t VARCHAR)")
    con.executemany("INSERT INTO toks VALUES (?)", [(t,) for t in tests])
    got = dict(con.sql(
        "WITH " + xxh64_ctes("toks") + " SELECT t, h64 FROM xxh").fetchall())
    assert got == want


def test_repetition_features(spark):
    from carbonapi_spark.datapipe.text import repetition_features
    rows = [
        (0, "spam spam spam spam spam", "en", "s", 24),   # one bigram, repeated
        (1, "a b c d e f", "en", "s", 11),                # all bigrams unique
        (2, "one", "en", "s", 3),                         # too short for bigrams
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    got = {r["doc_id"]: r for r in repetition_features(df).collect()}
    # doc 0: 4 occurrences of 'spam spam' -> dup frac 0.75, covers 4*9/24 chars
    assert got[0]["dup_ngram_frac"] == 0.75
    assert got[0]["top_ngram_char_frac"] == round(4 * 9 / 24, 6)
    assert got[1]["dup_ngram_frac"] == 0.0
    assert got[2]["dup_ngram_frac"] == 0.0 and got[2]["top_ngram_char_frac"] == 0.0


def test_contamination_flags_overlap(spark, docs):
    from carbonapi_spark.datapipe.dedup import contamination
    bench = docs.where(F.col("doc_id") == 0)     # the fox sentence
    train = docs.where(F.col("doc_id") > 0)
    got = {r["doc_id"]: r["n_hits"] for r in contamination(train, bench, ngram=3).collect()}
    assert got[1] == 7          # identical doc: all 7 trigrams shared
    assert 1 <= got.get(2, 0) < 7   # near dup shares some trigrams
    assert 3 not in got and 4 not in got  # german/different docs clean


def test_stratified_sample_deterministic_and_rate(spark):
    from carbonapi_spark.datapipe.sampling import stratified_sample
    rows = [(i, "en" if i % 2 == 0 else "zh") for i in range(2000)]
    df = spark.createDataFrame(rows, "doc_id LONG, lang STRING")
    out = stratified_sample(df, {"en": 0.5, "zh": 0.1}, group_col="lang")
    got = out.groupBy("lang").count().collect()
    counts = {r["lang"]: r["count"] for r in got}
    assert abs(counts["en"] / 1000 - 0.5) < 0.08
    assert abs(counts["zh"] / 1000 - 0.1) < 0.05
    # deterministic: same ids on a re-run
    ids1 = sorted(r["doc_id"] for r in out.collect())
    ids2 = sorted(r["doc_id"] for r in
                  stratified_sample(df, {"en": 0.5, "zh": 0.1}).collect())
    assert ids1 == ids2


def test_tfidf_top_terms(spark):
    from carbonapi_spark.datapipe.text import tfidf_top_terms
    rows = [
        (0, "apple apple banana shared", "en", "s", 0),
        (1, "cherry cherry cherry shared", "en", "s", 0),
        (2, "durian shared shared shared", "en", "s", 0),
    ]
    df = spark.createDataFrame(
        rows, "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
    got = {(r["doc_id"], r["rank"]): r for r in tfidf_top_terms(df, k=2).collect()}
    import math
    # 'shared' has df=3 -> idf ln(1)=0; unique terms dominate
    assert got[(0, 1)]["term"] == "apple"
    assert got[(0, 1)]["tfidf"] == round(2 * math.log(3), 6)
    assert got[(1, 1)]["term"] == "cherry"
    assert got[(2, 1)]["term"] == "durian"
    assert got[(2, 2)]["term"] == "shared" and got[(2, 2)]["tfidf"] == 0.0


def test_stream_minhash_candidates_matches_batch(spark, tmp_path):
    """Streaming LSH candidates across two runs (bucket state checkpointed)
    must recover exactly the batch minhash_lsh_candidates pair set on the
    same corpus."""
    import json
    from carbonapi_spark.datapipe.dedup import minhash_lsh_candidates
    from carbonapi_spark.streaming.stateful import stream_minhash_candidates
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    corpus = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),   # exact dup
        (3, "a completely different document about spark sql"),
        (4, "the quick brown fox jumps over a lazy dog"),     # near dup
        (5, "yet another unrelated piece of text entirely here"),
    ]

    def stream():
        s = (spark.readStream.schema("doc_id LONG, text STRING")
             .json(str(src)))
        return stream_minhash_candidates(s, num_hashes=16, bands=8, ngram=2)

    (src / "a.json").write_text("\n".join(
        json.dumps({"doc_id": i, "text": t}) for i, t in corpus[:3]))
    _run_stream(stream, src, out, ck)
    (src / "b.json").write_text("\n".join(
        json.dumps({"doc_id": i, "text": t}) for i, t in corpus[3:]))
    _run_stream(stream, src, out, ck)

    got = {(r["id_a"], r["id_b"])
           for r in spark.read.parquet(str(out)).collect()}

    batch_docs = spark.createDataFrame(corpus, "doc_id LONG, text STRING")
    want = {(r["id_a"], r["id_b"])
            for r in minhash_lsh_candidates(batch_docs, num_hashes=16,
                                            bands=8, ngram=2).collect()}
    assert got == want
    assert (1, 2) in got        # exact dup found across... same batch
    assert (1, 4) in got or (2, 4) in got  # near dup found across runs


def test_shard_assignment_layout(spark):
    from carbonapi_spark.datapipe.sampling import shard_assignment
    df = spark.createDataFrame([(i,) for i in range(500)], "doc_id LONG")
    out = shard_assignment(df, n_shards=8).collect()
    assert len(out) == 500
    by_shard = {}
    for r in out:
        assert 0 <= r["shard"] < 8
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    # positions are 1..k dense within every shard
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
    # deterministic across runs
    again = shard_assignment(df, n_shards=8).collect()
    assert {(r["doc_id"], r["shard"], r["pos"]) for r in out} == \
           {(r["doc_id"], r["shard"], r["pos"]) for r in again}


def test_pack_sequences_contiguous(spark):
    from carbonapi_spark.datapipe.sampling import pack_sequences
    rows = [(i, " ".join(["tok"] * (5 + i % 7))) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = pack_sequences(df, budget=64, n_shards=4).collect()
    assert len(out) == 200
    ntok = {i: 5 + i % 7 for i in range(200)}
    # replay the layout: per shard, docs sorted by (seq, offset) must tile
    # the token stream contiguously with no gaps
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r)
    for shard, rs in by_shard.items():
        rs.sort(key=lambda r: (r["seq_in_shard"], r["offset"]))
        cursor = 0
        for r in rs:
            assert r["seq_in_shard"] * 64 + r["offset"] == cursor
            cursor += ntok[r["doc_id"]]


def test_dedup_keep_best_prefers_long_docs(spark, docs):
    from carbonapi_spark.datapipe.cluster import dedup_keep_best
    pairs = spark.createDataFrame([(0, 1), (1, 2)], "id_a LONG, id_b LONG")
    # doc 0/1 are 44 chars, doc 2 is 42: keeper is min-id among longest = 0
    got = {r["doc_id"]: (r["cluster_id"], r["keep"])
           for r in dedup_keep_best(docs, pairs).collect()}
    assert got[0] == (0, True)
    assert got[1] == (0, False) and got[2] == (0, False)
    assert got[3] == (3, True) and got[4] == (4, True)  # isolated keep selves


def _clustered_vecs(spark, dim=16, n=2000):
    cluster = F.col("id") - F.col("id") % 10
    u = lambda key: (F.pmod(F.xxhash64(key), F.lit(2001)) / 1000.0 - 1.0)
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: u(cluster * 131 + i) + u(F.col("id") * 977 + i) * 0.1)
    return (spark.range(n)
            .select(F.col("id").alias("vec_id"), vec.alias("embedding")))


def test_pq_encode_shape_and_determinism(spark):
    from carbonapi_spark.datapipe.similarity import pq_codebooks, pq_encode
    vecs = _clustered_vecs(spark, dim=16, n=50)
    cbs = pq_codebooks(dim=16, m=4, ksub=8)
    a = {r["vec_id"]: r["codes"] for r in pq_encode(vecs, cbs).collect()}
    b = {r["vec_id"]: r["codes"] for r in pq_encode(vecs, cbs).collect()}
    assert a == b
    assert all(len(c) == 4 and all(1 <= x <= 8 for x in c)
               for c in a.values())


def test_pq_topk_codebooks_override_m(spark):
    """Regression: dsub must come from the passed codebooks, not the m
    argument. A dim=16/m=4 codebook (dsub=4) run through pq_topk's
    default m=8 arguments must produce ADC distances matching a NumPy
    reference built with the codebook's own geometry — slicing by
    dim//default-m would score garbage."""
    import random

    import numpy as np

    from carbonapi_spark.datapipe.similarity import pq_codebooks, pq_topk
    dim, m, ksub = 16, 4, 4
    cbs = pq_codebooks(dim=dim, m=m, ksub=ksub, seed=7)
    assert len(cbs[0][0]) == 4  # dsub from the codebook, not dim//8
    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = pq_topk(df, df.where(F.col("vec_id") < 2), k=5,
                  codebooks=cbs).collect()
    assert {r["query_id"] for r in out} == {0, 1}
    cb = np.array(cbs)                      # m x ksub x dsub
    x = np.array([r[1] for r in rows])
    dsub = dim // m
    codes = np.stack(
        [((x[:, j * dsub:(j + 1) * dsub][:, None, :]
           - cb[j][None, :, :]) ** 2).sum(axis=2).argmin(axis=1)
         for j in range(m)], axis=1)        # n x m, first-min ties
    for r in out:
        qv = x[r["query_id"]]
        exp = sum(((qv[j * dsub:(j + 1) * dsub]
                    - cb[j][codes[r["neighbor_id"], j]]) ** 2).sum()
                  for j in range(m))
        assert abs(r["adc_dist"] - round(exp, 6)) < 1e-6


def test_pq_rerank_recall_and_training(spark):
    """The PQ family contract on a clustered corpus: (1) ADC+rerank
    recall@10 beats raw ADC, (2) trained codebooks beat seeded ones,
    (3) trained+rerank clears 0.9 — the production configuration."""
    from carbonapi_spark.datapipe.similarity import (
        brute_force_topk, pq_codebooks, pq_topk, pq_rerank_topk, pq_train)
    dim = 16
    vecs = _clustered_vecs(spark, dim=dim, n=2000)
    q = vecs.where(F.col("vec_id") % 250 == 3)

    def sets(df):
        out = {}
        for r in df.collect():
            out.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return out

    def recall(approx, truth):
        return sum(len(truth[k_] & approx.get(k_, set()))
                   for k_ in truth) / (10 * len(truth))

    truth = sets(brute_force_topk(vecs, q, k=10))
    seeded = pq_codebooks(dim=dim, m=4, ksub=16)
    r_adc = recall(sets(pq_topk(vecs, q, k=10, codebooks=seeded)), truth)
    r_rr = recall(sets(pq_rerank_topk(vecs, q, k=10, r=100,
                                      codebooks=seeded)), truth)
    sample = [r["embedding"] for r in vecs.limit(1000).collect()]
    trained = pq_train(sample, m=4, ksub=16)
    r_tr = recall(sets(pq_rerank_topk(vecs, q, k=10, r=100,
                                      codebooks=trained)), truth)
    assert r_rr >= r_adc
    assert r_tr >= r_rr - 1e-9
    assert r_tr >= 0.9


def test_perplexity_buckets(spark):
    """Common-token docs -> head (bucket 1), rare-token docs -> tail,
    empty docs -> tail with the sentinel worst+1 entropy."""
    from carbonapi_spark.datapipe.text import perplexity_buckets
    rows = [(i, "the cat sat on the mat") for i in range(6)]
    rows += [(6, "zyx qwv kjh"), (7, "   ")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    got = {r["doc_id"]: r for r in perplexity_buckets(docs).collect()}
    assert len(got) == 8
    assert got[0]["bucket"] == 1            # common tokens: head
    assert got[6]["bucket"] == 3            # rare tokens: tail
    assert got[7]["bucket"] == 3            # empty: tail
    assert got[7]["cross_entropy"] > got[6]["cross_entropy"]
    assert got[0]["cross_entropy"] < got[6]["cross_entropy"]


def test_unigram_lm_oov_penalized(spark):
    """Scoring a foreign doc against a corpus-trained LM must penalize
    OOV tokens below every in-vocab token, not skip them."""
    from carbonapi_spark.datapipe.text import perplexity_buckets
    docs = spark.createDataFrame(
        [(0, "aa bb aa bb"), (1, "aa bb cc dd")],
        "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["cross_entropy"]
           for r in perplexity_buckets(docs, buckets=2).collect()}
    # doc 1's singletons (cc, dd) are rarer than doc 0's tokens
    assert got[1] > got[0]


def test_sessionize_batch_semantics(spark):
    """Gap sessions: events within the gap chain into one session; a gap
    >= timeout splits. end = last event + gap (session_window contract)."""
    from carbonapi_spark.streaming.sessions import sessionize
    rows = [(1, 0), (1, 100), (1, 250),     # chain: every gap < 300s
            (1, 900), (1, 1000),            # 250+300<=900 -> new session
            (2, 0)]                          # other key untouched
    ev = spark.createDataFrame(
        [(u, t, 1.0) for u, t in rows], "user_id LONG, sec LONG, value DOUBLE"
    ).select("user_id", F.timestamp_seconds("sec").alias("ts"), "value")
    got = {(r["user_id"], r["session_start"]):
           (r["session_end"], r["n_events"], r["sum_value"])
           for r in sessionize(ev, gap="5 minutes").collect()}
    assert got == {(1, 0): (550, 3, 3.0),
                   (1, 900): (1300, 2, 2.0),
                   (2, 0): (300, 1, 1.0)}


def test_sessionize_stream_matches_batch(spark, tmp_path):
    """The SAME sessionize expression over a watermarked stream emits
    exactly the batch sessions once the watermark passes them; sessions
    the watermark hasn't closed stay in state (append-mode contract)."""
    import json
    from carbonapi_spark.streaming.sessions import sessionize
    src, out, ck = tmp_path / "ssrc", tmp_path / "sout", tmp_path / "sck"
    src.mkdir()
    rows = [(1, 0), (1, 100), (1, 900), (2, 0), (2, 5000)]
    (src / "a.json").write_text("\n".join(
        json.dumps({"user_id": u, "sec": t, "value": 1.0})
        for u, t in rows))

    def prep(df):
        return df.select("user_id",
                         F.timestamp_seconds("sec").alias("ts"), "value")

    def stream():
        s = (spark.readStream
             .schema("user_id LONG, sec LONG, value DOUBLE").json(str(src)))
        return sessionize(prep(s), gap="5 minutes", watermark="1 minute")

    _run_stream(stream, src, out, ck)
    # a far-future event (2nd run, checkpointed state) advances the
    # watermark past every first-file session, flushing them all
    (src / "b.json").write_text(
        json.dumps({"user_id": 9, "sec": 10_000_000, "value": 1.0}))
    _run_stream(stream, src, out, ck)
    batch = prep(spark.read.schema("user_id LONG, sec LONG, value DOUBLE")
                 .json(str(src / "a.json")))
    want = {tuple(r) for r in sessionize(batch, gap="5 minutes").collect()}
    got = {tuple(r) for r in spark.read.parquet(str(out)).collect()}
    assert got == want and len(got) == 4  # user 9's open session withheld


def test_line_dedup_removes_boilerplate(spark):
    """A line present in >= min_docs distinct docs is boilerplate and is
    removed from every doc; surviving lines keep their original order;
    docs with nothing left are dropped."""
    from carbonapi_spark.datapipe.text import line_dedup
    docs = spark.createDataFrame(
        [(1, "unique alpha\nshared footer\nunique beta"),
         (2, "other text\nshared footer"),
         (3, "shared footer")],
        "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["text"] for r in line_dedup(docs).collect()}
    assert got == {1: "unique alpha\nunique beta", 2: "other text"}


def test_redact_pii(spark):
    from carbonapi_spark.datapipe.text import redact_pii
    df = spark.createDataFrame(
        [(1, "mail a.b+c@test.org or 192.168.0.1 or +1 (555) 010-7788 end")],
        "doc_id LONG, text STRING")
    out = df.select(redact_pii(F.col("text")).alias("t")).first()["t"]
    assert out == "mail <EMAIL> or <IP> or <PHONE> end"


def test_chunk_documents(spark):
    from carbonapi_spark.datapipe.sampling import chunk_documents
    docs = spark.createDataFrame(
        [(1, "a b c d e f g"), (2, "x y"), (3, "   ")],
        "doc_id LONG, text STRING")
    got = {(r["doc_id"], r["chunk_idx"]): (r["n_tokens"], r["text"])
           for r in chunk_documents(docs, max_tokens=3).collect()}
    assert got == {(1, 0): (3, "a b c"), (1, 1): (3, "d e f"),
                   (1, 2): (1, "g"), (2, 0): (2, "x y")}


def test_streaming_pipeline_composition(spark, tmp_path):
    """One streaming job composing the pipeline stages: PII redaction ->
    quality gate -> exact dedup. Stateless projections chain freely in
    front of the stateful op; redaction runs BEFORE hashing, so two docs
    differing only in their PII dedup to one."""
    import json
    from carbonapi_spark.datapipe.text import redact_pii, token_count
    from carbonapi_spark.streaming.stateful import stream_dedup_exact
    src, out, ck = tmp_path / "psrc", tmp_path / "pout", tmp_path / "pck"
    src.mkdir()
    (src / "a.json").write_text("\n".join(json.dumps(d) for d in [
        {"doc_id": 1, "text": "mail me at a@b.io please"},
        {"doc_id": 2, "text": "mail me at z@q.org please"},   # dup after scrub
        {"doc_id": 3, "text": "short"},                        # fails gate
        {"doc_id": 4, "text": "totally different words here"},
    ]))

    def stream():
        s = (spark.readStream.schema("doc_id LONG, text STRING")
             .json(str(src)))
        cleaned = (s.select("doc_id",
                            redact_pii(F.col("text")).alias("text"))
                   .where(token_count(F.col("text")) >= 3))
        return stream_dedup_exact(cleaned)

    _run_stream(stream, src, out, ck)
    kept = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert kept == {1, 4}  # 2 dedup'd against 1 post-scrub, 3 gated out

    # later micro-batch (restart from checkpoint): another scrub-dup drops
    (src / "b.json").write_text(json.dumps(
        {"doc_id": 5, "text": "mail me at new@new.net please"}))
    _run_stream(stream, src, out, ck)
    kept = {r["doc_id"] for r in spark.read.parquet(str(out)).collect()}
    assert kept == {1, 4}


def test_perplexity_buckets_thresholds_mode(spark):
    """thresholds= buckets by comparison (no global sort — the 100 TB
    path); with cutoffs at the ntile boundaries it reproduces the exact
    split."""
    from carbonapi_spark.datapipe.text import perplexity_buckets
    rows = [(i, "the cat sat on the mat") for i in range(6)]
    rows += [(6, "zyx qwv kjh"), (7, "   ")]
    docs = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    exact = {r["doc_id"]: r["bucket"]
             for r in perplexity_buckets(docs).collect()}
    ces = sorted(r["cross_entropy"]
                 for r in perplexity_buckets(docs).collect())
    thr = {r["doc_id"]: r["bucket"] for r in perplexity_buckets(
        docs, thresholds=[ces[2], ces[5]]).collect()}
    # same head/tail structure: common-token docs head, rare/empty tail
    assert thr[0] == 1 and thr[6] == 3 and thr[7] == 3
    plan = perplexity_buckets(docs, thresholds=[1.0, 2.0]) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "ntile" not in plan  # no global-sort window in thresholds mode


def test_remove_duplicate_spans(spark):
    """Lee et al. exact-substring dedup via k-gram marking: the shared
    >=k-token span is removed from every doc (partial overlap included),
    shorter repeats survive, fully-duplicated docs vanish."""
    from carbonapi_spark.datapipe.dedup import remove_duplicate_spans
    shared = "one two three four five"                  # the 5-token span
    docs = spark.createDataFrame(
        [(1, f"intro A {shared} outro A"),
         (2, f"intro B {shared} outro B"),
         (3, "totally unrelated text here"),
         (4, shared)],                                   # fully duplicated
        "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["text"]
           for r in remove_duplicate_spans(docs, k=5).collect()}
    # the MAXIMAL shared span between docs 1 and 2 is
    # "one two three four five outro" (6 tokens >= k) — removed whole,
    # like the paper's suffix-array match extension would
    assert got == {1: "intro A A", 2: "intro B B",
                   3: "totally unrelated text here"}    # doc 4 vanished

    # a duplicated span SHORTER than k survives everywhere
    docs2 = spark.createDataFrame(
        [(1, "alpha beta gamma p q"), (2, "alpha beta gamma r s")],
        "doc_id LONG, text STRING")
    got2 = {r["doc_id"]: r["text"]
            for r in remove_duplicate_spans(docs2, k=5).collect()}
    assert got2 == {1: "alpha beta gamma p q", 2: "alpha beta gamma r s"}

    # within-doc repetition of a >=k span is removed too (min_count
    # counts occurrences, not documents)
    docs3 = spark.createDataFrame(
        [(1, f"{shared} middle {shared}"), (2, "unrelated words")],
        "doc_id LONG, text STRING")
    got3 = {r["doc_id"]: r["text"]
            for r in remove_duplicate_spans(docs3, k=5).collect()}
    assert got3[1] == "middle"


def test_bpe_token_count(spark):
    from carbonapi_spark.datapipe.text import bpe_pretokens, bpe_token_count
    df = spark.createDataFrame([(1, "I'll pay $14.99 now!")],
                               "doc_id LONG, text STRING")
    row = df.select(bpe_pretokens(F.col("text")).alias("p"),
                    bpe_token_count(F.col("text")).alias("n")).first()
    assert row["p"] == ["I", "'ll", " pay", " $", "14", ".", "99",
                       " now", "!"]
    assert row["n"] == 9


def test_media_near_dup_composition(spark):
    """Multimodal composes with the ANN family: extract_features (stub
    codec) -> brute_force_topk finds the duplicated payload."""
    from carbonapi_spark.datapipe.multimodal import extract_features, synth_media
    from carbonapi_spark.datapipe.similarity import brute_force_topk
    media = synth_media(spark, 12)
    dup = media.where(F.col("media_id") == 3) \
        .select(F.lit(100).alias("media_id"), "kind", "mime", "payload", "meta")
    feats = extract_features(media.unionByName(dup), dim=8) \
        .select(F.col("media_id").alias("vec_id"),
                F.col("feature").alias("embedding"))
    top = brute_force_topk(feats, feats.where(F.col("vec_id") == 100), k=1) \
        .first()
    assert top["neighbor_id"] == 3          # identical payload -> cos 1
    assert top["cos_sim"] == pytest.approx(1.0, abs=1e-6)


def test_pq_encode_matches_numpy_reference(spark):
    """pq_encode's fold-argmin equals numpy argmin (first-min ties) on
    random vectors and codebooks."""
    import numpy as np
    from carbonapi_spark.datapipe.similarity import pq_codebooks, pq_encode
    rng = np.random.RandomState(5)
    dim, m, ksub = 12, 3, 7
    vecs = rng.randn(40, dim)
    cbs = pq_codebooks(dim=dim, m=m, ksub=ksub, seed=9)
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(vecs))],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(df, cbs).collect()}
    cb = np.asarray(cbs)  # (m, ksub, dsub)
    dsub = dim // m
    for i, v in enumerate(vecs):
        want = [int(((v[j*dsub:(j+1)*dsub] - cb[j]) ** 2).sum(axis=1)
                    .argmin()) + 1 for j in range(m)]
        assert got[i] == want, i


def test_quality_lr_train_and_score(spark):
    """Trained on good-vs-junk samples, the classifier separates unseen
    docs of each style; empty docs score sigmoid(bias)."""
    from carbonapi_spark.datapipe.text import score_quality_lr, train_quality_lr
    good = ["the report describes the method in detail",
            "the study presents results and the analysis",
            "the paper explains the approach and the findings"]
    junk = ["zzz click click buy buy cheap cheap",
            "buy cheap zzz zzz click now now now",
            "cheap cheap buy zzz click click zzz"]
    weights, bias = train_quality_lr(
        [(t, 1) for t in good] + [(t, 0) for t in junk])
    docs = spark.createDataFrame(
        [(1, "the method and the results"),     # good-style, unseen
         (2, "click buy cheap zzz"),            # junk-style, unseen
         (3, "")],
        "doc_id LONG, text STRING")
    got = {r["doc_id"]: r["lr_score"]
           for r in score_quality_lr(docs, weights, bias).collect()}
    assert got[1] > 0.5 > got[2]
    import math
    assert got[3] == pytest.approx(1 / (1 + math.exp(-bias)), abs=1e-5)


def test_minhash_incremental_matches_full_rerun(spark):
    """Incremental dedup (delta vs persisted band index) finds exactly
    the delta-involving pairs a full re-run over corpus+delta would."""
    from carbonapi_spark.datapipe.dedup import (
        minhash_band_index, minhash_incremental_candidates,
        minhash_lsh_candidates)
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "completely different words about spark engines"),
         (3, "yet another unrelated document body")],
        "doc_id LONG, text STRING")
    delta = spark.createDataFrame(
        [(10, "the quick brown fox jumps over the lazy dog"),  # dup of 1
         (11, "the quick brown fox jumps over the lazy dog"),  # dup of 1+10
         (12, "fresh unique content never seen before")],
        "doc_id LONG, text STRING")
    idx = minhash_band_index(corpus, num_hashes=16, bands=8, ngram=2)
    got = {(r["id_a"], r["id_b"]) for r in minhash_incremental_candidates(
        delta, idx, num_hashes=16, bands=8, ngram=2).collect()}
    full = {(r["id_a"], r["id_b"]) for r in minhash_lsh_candidates(
        corpus.unionByName(delta), num_hashes=16, bands=8, ngram=2)
        .collect()}
    delta_ids = {10, 11, 12}
    want = {p for p in full if p[0] in delta_ids or p[1] in delta_ids}
    assert got == want
    assert (1, 10) in got and (10, 11) in got


def test_minhash_incremental_truncation_matches_batch(spark):
    """Hot bucket above max_bucket: incremental truncation must follow
    the batch sorted-prefix rule exactly (an earlier revision left the
    corpus-vs-delta side uncapped, so a hot bucket diverged from batch
    and could blow up the join)."""
    from carbonapi_spark.datapipe.dedup import (
        minhash_band_index, minhash_incremental_candidates,
        minhash_lsh_candidates)
    text = "the quick brown fox jumps over the lazy dog"
    corpus = spark.createDataFrame([(i, text) for i in range(6)],
                                   "doc_id LONG, text STRING")
    delta = spark.createDataFrame([(100 + i, text) for i in range(3)],
                                  "doc_id LONG, text STRING")
    idx = minhash_band_index(corpus, num_hashes=16, bands=8, ngram=2)
    for mb in (4, 8):  # 4: every delta doc truncated out; 8: one is
        got = {(r["id_a"], r["id_b"])
               for r in minhash_incremental_candidates(
                   delta, idx, num_hashes=16, bands=8, ngram=2,
                   max_bucket=mb).collect()}
        full = {(r["id_a"], r["id_b"])
                for r in minhash_lsh_candidates(
                    corpus.unionByName(delta), num_hashes=16, bands=8,
                    ngram=2, max_bucket=mb).collect()}
        want = {p for p in full if p[0] >= 100 or p[1] >= 100}
        assert got == want
    assert (0, 101) in got and not any(102 in p for p in got)


def test_ivfpq_full_probe_equals_pq(spark):
    """IVFADC with nprobe = n_centroids degenerates to the full ADC scan:
    cell pruning removes nothing, so results must equal pq_topk exactly
    (same codebooks, same ADC arithmetic)."""
    from carbonapi_spark.datapipe.similarity import ivfpq_topk, pq_topk
    vecs = _clustered_vecs(spark, dim=16, n=300)
    q = vecs.where(F.col("vec_id") % 50 == 3)
    a = {(r["query_id"], r["neighbor_id"], r["adc_dist"])
         for r in ivfpq_topk(vecs, q, k=5, dim=16, n_centroids=4,
                             nprobe=4, m=4, ksub=8).collect()}
    b = {(r["query_id"], r["neighbor_id"], r["adc_dist"])
         for r in pq_topk(vecs, q, k=5, dim=16, m=4, ksub=8).collect()}
    assert a == b and len(a) > 0


def test_ivfpq_precomputed_codes_and_refine(spark):
    """The persisted (cell, codes) index path must equal re-encoding, and
    refine over the whole corpus at full probe must equal brute force
    (exact cosine, same rounding)."""
    from carbonapi_spark.datapipe.similarity import (
        brute_force_topk, ivf_centroids, ivfpq_encode, ivfpq_topk,
        pq_codebooks)
    dim = 16
    vecs = _clustered_vecs(spark, dim=dim, n=600)
    q = vecs.where(F.col("vec_id") % 150 == 3)
    cbs = pq_codebooks(dim, 4, 8)
    cents = ivf_centroids(dim, 4, 43)
    codes = ivfpq_encode(vecs, cbs, cents)
    assert codes.columns == ["vec_id", "cell", "codes"]
    kw = dict(k=5, dim=dim, n_centroids=4, nprobe=2, m=4, ksub=8,
              codebooks=cbs)
    a = {tuple(r) for r in ivfpq_topk(vecs, q, **kw).collect()}
    b = {tuple(r) for r in ivfpq_topk(vecs, q, codes=codes, **kw).collect()}
    assert a == b and len(a) > 0
    got = {tuple(r)
           for r in ivfpq_topk(vecs, q, k=5, dim=dim, n_centroids=4,
                               nprobe=4, m=4, ksub=8,
                               refine=600).collect()}
    want = {tuple(r) for r in brute_force_topk(vecs, q, k=5).collect()}
    assert got == want


def test_pq_topk_precomputed_codes(spark):
    """Passing a persisted codes table (the production path: encode once
    at ingest, scan 32x-compressed codes per query) yields exactly the
    re-encoding path's results."""
    from carbonapi_spark.datapipe.similarity import (pq_codebooks,
                                                     pq_encode, pq_topk)
    vecs = _clustered_vecs(spark, dim=16, n=300)
    cbs = pq_codebooks(dim=16, m=4, ksub=8)
    q = vecs.where(F.col("vec_id") < 3)
    live = {tuple(r) for r in pq_topk(vecs, q, k=5, codebooks=cbs).collect()}
    stored = pq_encode(vecs, cbs)
    via_codes = {tuple(r) for r in pq_topk(
        vecs, q, k=5, codebooks=cbs, codes=stored).collect()}
    assert via_codes == live


def test_full_corpus_pipeline_composition(spark):
    """The whole corpus toolchain composes in one lazy plan: PII scrub ->
    line dedup -> classifier + repetition quality gates -> fuzzy dedup
    clusters -> keep-best -> chunk. Asserts each stage's effect on a
    corpus crafted to trigger all of them."""
    from carbonapi_spark.datapipe.cluster import dedup_keep_best
    from carbonapi_spark.datapipe.dedup import shared_shingle_pairs
    from carbonapi_spark.datapipe.sampling import chunk_documents
    from carbonapi_spark.datapipe.text import (line_dedup, redact_pii,
                                               repetition_features,
                                               score_quality_lr)
    footer = "contact admin@site.example for details"
    base = "the quick brown fox jumps over the lazy dog today"
    docs = spark.createDataFrame(
        [(1, f"{base} extra words\n{footer}"),
         (2, f"{base} more tail content\n{footer}"),      # near-dup of 1
         (3, "spam spam spam spam spam spam spam spam"),  # repetition junk
         (4, f"totally unrelated clean document body\n{footer}")],
        "doc_id LONG, text STRING")

    scrubbed = docs.select("doc_id", redact_pii(F.col("text")).alias("text"))
    deduped_lines = line_dedup(scrubbed, min_docs=2)
    # footer (shared line, post-scrub identical) removed everywhere
    texts = {r["doc_id"]: r["text"] for r in deduped_lines.collect()}
    assert all("<EMAIL>" not in t and "@" not in t for t in texts.values())
    assert len(texts) == 4

    rep = repetition_features(deduped_lines, ngram=2)
    lr = score_quality_lr(deduped_lines, {"the": 1.0, "spam": -1.0}, 0.0)
    gated = (deduped_lines
             .join(rep, "doc_id").join(lr, "doc_id")
             .where((F.col("dup_ngram_frac") < 0.5)
                    & (F.col("lr_score") > 0.4))
             .select("doc_id", "text"))
    kept_ids = {r["doc_id"] for r in gated.collect()}
    assert 3 not in kept_ids and {1, 2, 4} <= kept_ids

    pairs = shared_shingle_pairs(gated, ngram=5)
    keep = dedup_keep_best(
        gated.withColumn("n_chars", F.length("text")), pairs)
    keepers = {r["doc_id"] for r in keep.where("keep").collect()}
    assert len(keepers & {1, 2}) == 1     # near-dups collapsed to one
    assert 4 in keepers

    final = gated.join(keep.where("keep").select("doc_id"), "doc_id")
    chunks = chunk_documents(final, max_tokens=4).collect()
    assert len(chunks) > 0
    assert all(r["n_tokens"] <= 4 for r in chunks)


def test_semantic_dedup_known_duplicates(spark):
    """SemDeDup on a corpus with planted exact-duplicate embeddings: the
    lowest-id member of each duplicate group survives, singletons keep,
    and the zero vector neither crashes nor matches anything."""
    from carbonapi_spark.datapipe.similarity import (semantic_dedup,
                                                     semantic_dup_pairs)
    dim = 8
    base = [float(i + 1) for i in range(dim)]
    other = [1.0, -2.0, 3.0, -4.0, 5.0, -6.0, 7.0, -8.0]
    rows = [(0, base), (1, base),                       # dup group A
            (2, [x * 2 for x in base]),                 # same direction: dup
            (3, other), (4, [0.0] * dim)]               # singleton + zero
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"]: r for r in semantic_dedup(
        vecs, dim=dim, n_centroids=4, tau=0.99).collect()}
    assert out[0]["keep"] is True
    # 1 and 2 are cosine-1.0 to 0; same cell (same direction), dropped
    assert out[1]["keep"] is False and out[2]["keep"] is False
    assert out[3]["keep"] is True and out[4]["keep"] is True
    assert out[4]["centroid_sim"] is None  # zero vector: undefined sim
    pairs = {(r["id_a"], r["id_b"]) for r in semantic_dup_pairs(
        vecs, dim=dim, n_centroids=4, tau=0.99).collect()}
    assert pairs == {(0, 1), (0, 2), (1, 2)}


def test_semantic_dedup_max_cell_truncation(spark):
    """Vectors beyond max_cell in a cell are excluded entirely (sorted-
    prefix rule): the output row count shrinks and survivors keep."""
    from carbonapi_spark.datapipe.similarity import semantic_dedup
    dim = 4
    v = [1.0, 2.0, 3.0, 4.0]
    vecs = spark.createDataFrame([(i, v) for i in range(10)],
                                 "vec_id long, embedding array<double>")
    out = semantic_dedup(vecs, dim=dim, n_centroids=2, tau=0.99,
                         max_cell=3).collect()
    assert len(out) == 3  # all ten share a cell; prefix of 3 kept
    kept = {r["vec_id"]: r["keep"] for r in out}
    assert kept == {0: True, 1: False, 2: False}


def test_dsir_weights_favor_target_like_docs(spark):
    """DSIR log-weights: raw docs sharing the target's n-grams must
    outweigh docs that share none, and the end-to-end Gumbel top-k is
    deterministic across invocations."""
    from carbonapi_spark.datapipe.sampling import (dsir_log_ratio_table,
                                                   dsir_sample,
                                                   dsir_weights)
    target = spark.createDataFrame(
        [(100 + i, "spark engine shuffles data fast") for i in range(3)],
        "doc_id long, text string")
    raw = spark.createDataFrame(
        [(1, "spark engine shuffles data fast"),
         (2, "spark engine is here"),
         (3, "completely unrelated words entirely"),
         (4, "")],
        "doc_id long, text string")
    table = dsir_log_ratio_table(target, raw, n_buckets=64)
    w = {r["doc_id"]: r["log_weight"]
         for r in dsir_weights(raw, table, n_buckets=64).collect()}
    assert w[1] > w[2] > w[3]   # full overlap > partial > none
    assert w[4] == 0.0          # empty doc: no features, weight 0
    a = [tuple(r) for r in dsir_sample(raw, target, n=2,
                                       n_buckets=64).collect()]
    b = [tuple(r) for r in dsir_sample(raw, target, n=2,
                                       n_buckets=64).collect()]
    assert a == b and len(a) == 2
    assert {t[0] for t in a} <= {1, 2, 3, 4}


def test_c4_rules_line_and_page_filters(spark):
    """C4 heuristics: short/unpunctuated/javascript lines drop; lorem
    ipsum, curly braces, and sentence-starved pages flag keep=False."""
    from carbonapi_spark.datapipe.text import c4_rules
    good = "this line has enough words to survive the filter."
    docs = spark.createDataFrame(
        [(1, good + "\nshort line.\nno terminal punctuation here at all\n"
             "enable javascript to view this page."),
         (2, "lorem ipsum dolor sit amet consectetur adipiscing elit."),
         (3, "function() { return the curly brace page here now; }"),
         (4, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in c4_rules(
        docs, min_words_per_line=5, min_sentences=1).collect()}
    assert out[1]["text"] == good          # only the good line survives
    assert out[1]["n_lines_kept"] == 1 and out[1]["keep"] is True
    assert out[2]["keep"] is False          # lorem ipsum page filter
    assert out[3]["keep"] is False          # curly brace page filter
    assert out[4]["keep"] is False and out[4]["n_sentences"] == 0
    bad = {r["doc_id"]: r for r in c4_rules(
        docs, min_words_per_line=5, min_sentences=1,
        bad_words=("survive",)).collect()}
    assert bad[1]["keep"] is False          # injectable badword list


def test_temperature_mix_flattens_distribution(spark):
    """alpha<1 damps large groups toward the smallest: the keep RATE of
    the big group must drop below the small group's (which keeps all),
    deterministically across invocations."""
    from carbonapi_spark.datapipe.sampling import temperature_mix
    rows = [(i, "big") for i in range(800)] + \
           [(800 + i, "small") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    out = temperature_mix(df, alpha=0.3).collect()
    again = temperature_mix(df, alpha=0.3).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    kept = {"big": 0, "small": 0}
    for r in out:
        kept[r["lang"]] += 1
    assert kept["small"] == 100             # n_min group keeps everything
    # expected big rate = 8^(0.3-1) ~ 0.233; allow hash-gate variance
    assert 0.13 < kept["big"] / 800 < 0.35
    nat = temperature_mix(df, alpha=1.0).collect()
    assert len(nat) == 900                  # alpha=1: natural distribution


def test_gopher_rules_each_rule_fires(spark):
    """Every Gopher Table-A1 rule must be able to fail a doc on its own:
    word count, mean word length, symbol ratio, bullet lines, ellipsis
    lines, alphabetic fraction, stop-word presence; empty docs fail
    closed."""
    from carbonapi_spark.datapipe.text import gopher_rules
    good = ("the results of this analysis have shown that models "
            "trained with careful data curation and filtering tend to "
            "generalize better across many downstream evaluation tasks")
    docs = spark.createDataFrame(
        [(1, good),
         (2, "the of and " * 2),                       # too few words
         (3, "a b c d e f g h i j the of and to be"),  # mean word len < 3
         (4, good + " " + "#" * 1 + " ###### ## ## # # # # # # # # # #"),
         (5, "\n".join(["- bullet item the of"] * 10)),  # all bullet lines
         (6, "\n".join([good, "to be continued...", "more soon...",
                        "and then..."])),              # ellipsis lines
         (7, "the of 1 2 3 4 5 6 7 8 9 10 11 12 13 14 15 16 17 18"),
         (8, ""),                                      # empty: fail closed
         (9, "alpha beta gamma delta epsilon zeta eta theta iota kappa "
             "lambda mu")]                             # no stop words
        , "doc_id long, text string")
    out = {r["doc_id"]: r for r in gopher_rules(
        docs, min_words=10).collect()}
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["n_words"] < 10
    assert out[3]["keep"] is False and out[3]["mean_word_len"] < 3.0
    assert out[4]["keep"] is False and out[4]["symbol_ratio"] > 0.1
    assert out[5]["keep"] is False and out[5]["bullet_frac"] == 1.0
    assert out[6]["keep"] is False and out[6]["ellipsis_frac"] > 0.3
    assert out[7]["keep"] is False and out[7]["alpha_frac"] < 0.8
    assert out[8]["keep"] is False and out[8]["n_words"] == 0
    assert out[9]["keep"] is False and out[9]["stop_hits"] < 2


def test_hashed_vectors_feed_semantic_dedup(spark):
    """Composition: feature-hashed doc vectors flow into the embedding
    ops — identical texts get identical vectors (cosine 1), near-dup
    texts land close, unrelated texts do not pair; empty docs get the
    zero vector and match nothing."""
    from carbonapi_spark.datapipe.similarity import semantic_dup_pairs
    from carbonapi_spark.datapipe.text import hashed_doc_vectors
    base = ("the quick brown fox jumps over the lazy dog and then the "
            "dog chases the fox around the quiet yard all afternoon")
    docs = spark.createDataFrame(
        [(1, base), (2, base),
         (3, base.replace("afternoon", "evening")),
         (4, "completely unrelated words about spark shuffle exchanges "
             "and adaptive query execution plans in modern engines"),
         (5, "")],
        "doc_id long, text string")
    vecs = hashed_doc_vectors(docs, dim=32)
    rows = {r["doc_id"]: r["embedding"] for r in vecs.collect()}
    assert rows[1] == rows[2] and rows[5] == [0.0] * 32
    pairs = {(r["id_a"], r["id_b"]): r["cos_sim"]
             for r in semantic_dup_pairs(
                 vecs, id_col="doc_id", dim=32, n_centroids=2,
                 tau=0.6).collect()}
    assert pairs[(1, 2)] == 1.0
    got_13 = pairs.get((1, 3))
    assert got_13 is not None and 0.6 <= got_13 < 1.0
    assert not any(4 in p or 5 in p for p in pairs)


def test_corpus_stats_matches_manual(spark, docs):
    from carbonapi_spark.datapipe.text import corpus_stats
    out = {(r["source"], r["lang"]): r for r in corpus_stats(docs).collect()}
    en = out[("s", "en")]
    assert en["n_docs"] == 4
    assert en["total_tokens"] == sum(
        len(t.split()) for t in [
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over the lazy dog",
            "the quick brown fox jumps over a lazy dog",
            "completely different content about spark engines"])
    assert out[("s", "de")]["n_docs"] == 1


def test_write_training_shards_roundtrip(spark, tmp_path):
    """The shard sink lands one directory per shard with contiguous
    1..n positions that exactly match shard_assignment — a reader can
    reproduce the training order deterministically."""
    from carbonapi_spark.datapipe.sampling import (shard_assignment,
                                                   write_training_shards)
    docs = spark.createDataFrame(
        [(i, f"document number {i} body text") for i in range(100)],
        "doc_id long, text string")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=4)
    back = spark.read.parquet(path)
    rows = back.select("doc_id", "shard", "pos", "text").collect()
    assert len(rows) == 100
    assert all(r["text"].startswith("document number") for r in rows)
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r["pos"])
    assert set(by_shard) == {0, 1, 2, 3}
    for ps in by_shard.values():
        assert sorted(ps) == list(range(1, len(ps) + 1))
    want = {(r["doc_id"], r["shard"], r["pos"])
            for r in shard_assignment(docs, 4).collect()}
    got = {(r["doc_id"], r["shard"], r["pos"]) for r in rows}
    assert got == want


def test_minhash_estimate_tracks_true_jaccard(spark, docs):
    """Signature-agreement estimation: exact duplicates estimate 1.0,
    near-dups land high, and the estimate orders pairs like the exact
    Jaccard on this corpus."""
    from carbonapi_spark.datapipe.dedup import (jaccard_verify,
                                                minhash_estimate,
                                                minhash_lsh_candidates)
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=8, ngram=2)
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in minhash_estimate(docs, pairs, num_hashes=16,
                                     ngram=2).collect()}
    exact = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in jaccard_verify(docs, pairs, ngram=2,
                                     threshold=0.0).collect()}
    assert est[(0, 1)] == 1.0 and exact[(0, 1)] == 1.0
    assert set(est) == set(exact)
    if (0, 2) in est:  # near-dup: high but below the exact dup
        assert 0.5 <= est[(0, 2)] <= 1.0


def test_stream_semantic_dedup_state_across_runs(spark, tmp_path):
    """Streaming SemDeDup: cell members persist in checkpointed state,
    so a near-dup arriving in a LATER RUN is dropped with the original
    as matched_id; zero vectors keep and never match; with id-ordered
    arrival the keep set equals batch semantic_dedup."""
    import json

    from carbonapi_spark.streaming.stateful import stream_semantic_dedup
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()
    dim = 4

    def e(i, s=1.0):
        return [s if j == i else 0.0 for j in range(dim)]

    def stream():
        s = (spark.readStream
             .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
             .json(str(src)))
        return stream_semantic_dedup(s, dim=dim, n_centroids=2, tau=0.9)

    def write(rows, name):
        with open(src / name, "w") as f:
            for vid, vec in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": vec})
                        + "\n")

    write([(0, e(0)), (1, e(1)), (2, e(2)), (3, [0.0] * dim)], "a.json")
    _run_stream(stream, src, out, ck)
    write([(10, e(0, 2.0)), (11, e(2, 0.5)), (12, e(3))], "b.json")
    _run_stream(stream, src, out, ck)
    rows = {r["vec_id"]: r for r in spark.read.parquet(str(out)).collect()}
    assert set(rows) == {0, 1, 2, 3, 10, 11, 12}
    assert all(rows[i]["keep"] for i in (0, 1, 2, 3, 12))
    assert rows[3]["matched_id"] is None           # zero vector
    assert not rows[10]["keep"] and rows[10]["matched_id"] == 0
    assert not rows[11]["keep"] and rows[11]["matched_id"] == 2
    from carbonapi_spark.datapipe.similarity import semantic_dedup
    allrows = [(0, e(0)), (1, e(1)), (2, e(2)), (3, [0.0] * dim),
               (10, e(0, 2.0)), (11, e(2, 0.5)), (12, e(3))]
    bdf = spark.createDataFrame(allrows,
                                "vec_id long, embedding array<double>")
    bkeep = {r["vec_id"]: r["keep"]
             for r in semantic_dedup(bdf, dim=dim, n_centroids=2,
                                     tau=0.9).collect()}
    assert bkeep == {i: rows[i]["keep"] for i in bkeep}


def test_stream_semantic_dedup_empty_state_cell(spark, tmp_path):
    """Regression: a cell persisted with EMPTY state (a batch containing
    only zero vectors) must score the next real arrival instead of
    crashing (np.array([]) loses the (0, dim) matrix shape)."""
    import json

    from carbonapi_spark.datapipe.similarity import ivf_centroids
    from carbonapi_spark.streaming.stateful import stream_semantic_dedup
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()
    dim = 4
    c1 = ivf_centroids(dim, 2, 43)[0]  # direction of cell 1 — where the
    # zero vector also lands (argmax of all-zero dots ties to cell 1)

    def stream():
        s = (spark.readStream
             .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
             .json(str(src)))
        return stream_semantic_dedup(s, dim=dim, n_centroids=2, tau=0.9)

    def write(rows, name):
        with open(src / name, "w") as f:
            for vid, vec in rows:
                f.write(json.dumps({"vec_id": vid, "embedding": vec})
                        + "\n")

    write([(0, [0.0] * dim)], "a.json")
    _run_stream(stream, src, out, ck)
    write([(1, list(c1)), (2, [x * 3 for x in c1])], "b.json")
    _run_stream(stream, src, out, ck)
    rows = {r["vec_id"]: r for r in spark.read.parquet(str(out)).collect()}
    assert rows[0]["keep"] is True and rows[1]["keep"] is True
    assert not rows[2]["keep"] and rows[2]["matched_id"] == 1


def test_minhash_incremental_reingested_id_no_self_pair(spark):
    """Regression: re-ingesting a doc under an id already in the index
    must not emit a (x, x) self-pair."""
    from carbonapi_spark.datapipe.dedup import (
        minhash_band_index, minhash_incremental_candidates)
    text = "the quick brown fox jumps over the lazy dog"
    corpus = spark.createDataFrame([(1, text), (5, "unrelated words")],
                                   "doc_id LONG, text STRING")
    delta = spark.createDataFrame([(1, text), (2, text)],
                                  "doc_id LONG, text STRING")
    idx = minhash_band_index(corpus, num_hashes=16, bands=8, ngram=2)
    got = {(r["id_a"], r["id_b"])
           for r in minhash_incremental_candidates(
               delta, idx, num_hashes=16, bands=8, ngram=2).collect()}
    assert got == {(1, 2)}


def test_temperature_mix_keeps_null_group(spark):
    """Regression: a NULL group column is a real stratum — the rates
    join must not silently drop the NULL slice (at alpha=1 everything
    is kept, including unclassified docs)."""
    from carbonapi_spark.datapipe.sampling import temperature_mix
    rows = [(i, "en") for i in range(40)] + \
           [(100 + i, None) for i in range(10)]
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    nat = temperature_mix(df, alpha=1.0).collect()
    assert len(nat) == 50
    damped = temperature_mix(df, alpha=0.3).collect()
    null_kept = [r for r in damped if r["lang"] is None]
    assert len(null_kept) == 10  # the smallest group keeps everything


def test_ngram_novelty_shared_vs_unique(spark):
    """Novelty: exact duplicates score 0 (every gram shared), a unique
    doc scores 1, a doc sharing half its grams lands in between; empty
    docs score 0 with n_grams 0."""
    from carbonapi_spark.datapipe.text import ngram_novelty
    docs = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c d"),
         (3, "x y z w"),
         (4, "a b q r s"),  # shares gram "a b" with 1/2 only
         (5, "")],
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in ngram_novelty(docs, ngram=2).collect()}
    assert out[1]["novel_frac"] == 0.0 and out[2]["novel_frac"] == 0.0
    assert out[3]["novel_frac"] == 1.0
    assert out[4]["n_grams"] == 4 and out[4]["novel_frac"] == 0.75
    assert out[5]["n_grams"] == 0 and out[5]["novel_frac"] == 0.0


def test_char_entropy_known_values(spark):
    """Entropy pins: single repeated char = 0 bits, 'ab' = 1 bit,
    'abcd' = 2 bits, empty doc = 0."""
    import math

    from carbonapi_spark.datapipe.text import char_entropy
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, ""),
         (5, "aab")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["entropy"]
           for r in char_entropy(docs).collect()}
    assert out[1] == 0.0 and out[4] == 0.0
    assert out[2] == 1.0 and out[3] == 2.0
    want = -(2 / 3) * math.log2(2 / 3) - (1 / 3) * math.log2(1 / 3)
    assert out[5] == round(want, 6)


def test_heavy_hitters_exact_vs_groupby(spark, docs):
    """CMS pruning must be output-invisible: result == plain exact
    aggregation with HAVING, even with a tiny sketch (w=4 forces heavy
    bucket collisions -> pure over-estimation, never false negatives)."""
    from carbonapi_spark.datapipe.sketch import heavy_hitters
    from carbonapi_spark.datapipe.text import tokens

    exact = {(r["term"], r["cnt"]) for r in
             docs.select(F.explode(tokens(F.lower(F.col("text"))))
                         .alias("term"))
             .groupBy("term").agg(F.count(F.lit(1)).alias("cnt"))
             .where(F.col("cnt") >= 2).collect()}
    for w in (4, 2048):
        got = {(r["term"], r["cnt"])
               for r in heavy_hitters(docs, threshold=2, w=w).collect()}
        assert got == exact, w
    # 'the' appears 2x in each of docs 0/1 and 2 -> 5 total
    assert ("the", 5) in exact


def test_oov_rate_known_values(spark):
    from carbonapi_spark.datapipe.sketch import oov_rate
    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a b c d"), (3, "x y"), (4, "")],
        "doc_id long, text string")
    # vocab_size=2 -> vocab = {a (4x), b (2x)} (count desc, term asc)
    out = {r["doc_id"]: (r["n_tokens"], r["oov_rate"])
           for r in oov_rate(df, vocab_size=2).collect()}
    assert out[1] == (4, 0.0)
    assert out[2] == (4, 0.5)
    assert out[3] == (2, 1.0)
    assert 4 not in out  # empty doc: nothing to rate


def test_normalized_dedup_catches_formatting_variants(spark):
    """Case, punctuation, and whitespace-reflow variants of the same
    content collapse to one keeper; distinct content survives."""
    from carbonapi_spark.datapipe.dedup import normalized_dedup
    df = spark.createDataFrame(
        [(10, "Hello, World!"),
         (11, "hello   world"),
         (12, "hello\tworld."),
         (13, "goodbye world"),
         (14, "hello worlds")],
        "doc_id long, text string")
    out = {r["keeper_id"]: r["n_copies"]
           for r in normalized_dedup(df).collect()}
    assert out == {10: 3, 13: 1, 14: 1}


def test_minhash_estimate_sig_reuse_equivalence(spark, docs):
    """minhash_estimate(sigs=precomputed) must return exactly what the
    recompute path returns (the entry relies on this to share one
    signature pipeline across banding + estimation)."""
    from carbonapi_spark.datapipe.dedup import (minhash_estimate,
                                                minhash_lsh_candidates,
                                                minhash_signatures_df)
    sig = minhash_signatures_df(docs, num_hashes=16, ngram=2)
    pairs = minhash_lsh_candidates(docs, num_hashes=16, bands=4, ngram=2,
                                   sigs=sig)
    a = sorted(tuple(r) for r in
               minhash_estimate(docs, pairs, num_hashes=16,
                                ngram=2).collect())
    b = sorted(tuple(r) for r in
               minhash_estimate(docs, pairs, num_hashes=16, ngram=2,
                                sigs=sig).collect())
    assert a == b and len(a) > 0


def test_bigram_ppl_matches_python(spark):
    """Interpolated-bigram cross-entropy vs a pure-Python replay,
    including the no-bigram (single-token / empty) tail rule."""
    import math
    from collections import Counter

    from carbonapi_spark.datapipe.text import bigram_perplexity_buckets
    texts = {1: "a b a b c", 2: "a b", 3: "c c c a", 4: "a", 5: ""}
    df = spark.createDataFrame(sorted(texts.items()),
                               "doc_id long, text string")
    toks = {i: t.split() for i, t in texts.items()}
    uni = Counter(w for ts in toks.values() for w in ts)
    total, vocab = sum(uni.values()), len(uni)
    bi = Counter((ts[j], ts[j + 1]) for ts in toks.values()
                 for j in range(len(ts) - 1))
    w1c = Counter()
    for (w1, _), n in bi.items():
        w1c[w1] += n
    alpha, lam = 0.5, 0.75

    def h(ts):
        ps = [lam * (bi[(ts[j], ts[j + 1])] + alpha)
              / (w1c[ts[j]] + alpha * vocab)
              + (1 - lam) * (uni[ts[j + 1]] + alpha)
              / (total + alpha * vocab)
              for j in range(len(ts) - 1)]
        return -sum(math.log(p) for p in ps) / len(ps)

    want = {i: round(h(ts), 6) for i, ts in toks.items() if len(ts) >= 2}
    worst = max(want.values())
    for i, ts in toks.items():
        if len(ts) < 2:
            want[i] = round(worst + 1, 6)
    got = {r["doc_id"]: r["cross_entropy"]
           for r in bigram_perplexity_buckets(df, buckets=2).collect()}
    assert got == want
    # docs 4 and 5 (no bigrams) must land in the last bucket
    b = {r["doc_id"]: r["bucket"]
         for r in bigram_perplexity_buckets(df, buckets=2).collect()}
    assert b[4] == 2 and b[5] == 2


def test_bigram_ppl_thresholds_mode(spark):
    """thresholds= replaces the global ntile sort with map-side
    comparisons and must agree with manual bucketing."""
    from carbonapi_spark.datapipe.text import bigram_perplexity_buckets
    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "x y z w"), (3, "a b")],
        "doc_id long, text string")
    base = {r["doc_id"]: r["cross_entropy"]
            for r in bigram_perplexity_buckets(df).collect()}
    cut = sorted(base.values())[1]
    out = {r["doc_id"]: r["bucket"]
           for r in bigram_perplexity_buckets(
               df, thresholds=[cut]).collect()}
    for i, ce in base.items():
        assert out[i] == (1 if ce <= cut else 2)


def test_source_kl_matches_python(spark):
    """KL(p_source || p_corpus) vs a pure-Python replay; a group whose
    distribution equals the corpus's has KL ~ 0."""
    import math
    from collections import Counter

    from carbonapi_spark.datapipe.text import source_kl_divergence
    rows = [(0, "a b", "s1"), (1, "a b", "s2"),
            (2, "a a a c", "s2"), (3, "b c", "s1")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    toks = {}
    for _, t, s in rows:
        toks.setdefault(s, []).extend(t.split())
    corpus = Counter(w for ws in toks.values() for w in ws)
    n = sum(corpus.values())
    want = {}
    for s, ws in toks.items():
        c = Counter(ws)
        ng = len(ws)
        kl = sum((m / ng) * math.log((m / ng) / (corpus[w] / n))
                 for w, m in c.items())
        want[s] = (ng, round(kl, 6))
    got = {r["source"]: (r["n_tokens"], r["kl"])
           for r in source_kl_divergence(df).collect()}
    assert got == want
    # identical-to-corpus sanity: single source -> KL exactly 0
    one = spark.createDataFrame([(0, "x y", "s")],
                                "doc_id long, text string, source string")
    assert source_kl_divergence(one).collect()[0]["kl"] == 0.0


def test_heavy_hitters_ngram_mode(spark):
    """ngram=2 mines exact heavy phrases; equals the exact bigram count,
    even with a collision-storm sketch (w=4)."""
    from collections import Counter

    from carbonapi_spark.datapipe.sketch import heavy_hitters
    rows = [(0, "end of line end of line"), (1, "end of story"),
            (2, "the end of line")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    c = Counter()
    for _, t in rows:
        ts = t.split()
        c.update(" ".join(ts[j:j + 2]) for j in range(len(ts) - 1))
    want = {(g, n) for g, n in c.items() if n >= 2}
    for w in (4, 2048):
        got = {(r["term"], r["cnt"]) for r in
               heavy_hitters(df, threshold=2, ngram=2, w=w).collect()}
        assert got == want, w
    assert ("end of", 4) in want and ("of line", 3) in want


def test_minhash_sigs_length_validated(spark):
    """A sigs= table built with a different K must fail loudly, not
    silently band on the wrong component count (review finding r6)."""
    import pytest

    from carbonapi_spark.datapipe.dedup import (
        minhash_estimate, minhash_lsh_candidates, minhash_signatures_df)
    df = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e g")], "doc_id long, text string")
    sig8 = minhash_signatures_df(df, num_hashes=8, ngram=2)
    with pytest.raises(Exception, match="num_hashes=16"):
        minhash_lsh_candidates(df, num_hashes=16, bands=4, ngram=2,
                               sigs=sig8).collect()
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    with pytest.raises(Exception, match="num_hashes=16"):
        minhash_estimate(df, pairs, num_hashes=16, ngram=2,
                         sigs=sig8).collect()
    # matching K passes through untouched
    sig16 = minhash_signatures_df(df, num_hashes=16, ngram=2)
    ok = minhash_estimate(df, pairs, num_hashes=16, ngram=2, sigs=sig16)
    assert ok.count() == 1


def test_bcast_if_small_gates_on_corpus_size(spark):
    """Hint present under the gate, absent above it (the OOM guard)."""
    from carbonapi_spark.datapipe import bcast_if_small
    corpus = spark.range(100).selectExpr("id", "repeat('x', 10) as text")
    dim = spark.range(5).selectExpr("id", "id * 2 as v")
    hinted = corpus.join(bcast_if_small(dim, corpus, min_bytes=1 << 40),
                         "id")
    assert "broadcast" in hinted._jdf.queryExecution().optimizedPlan() \
        .toString().lower() or "Broadcast" in hinted._jdf.queryExecution() \
        .executedPlan().toString()
    unhinted = bcast_if_small(dim, corpus, min_bytes=1)
    # above the gate the helper returns the frame unhinted
    assert unhinted is dim


def test_wav_pnm_roundtrip():
    """Stdlib codecs: encode -> container bytes -> decode is lossless."""
    import numpy as np

    from carbonapi_spark.datapipe.multimodal import (
        decode_pnm, decode_wav, encode_pnm, encode_wav)
    samples = [((11 * j) % 2048) - 1024 for j in range(50)]
    rate, dec = decode_wav(encode_wav(samples, 22050))
    assert rate == 22050 and dec.tolist() == samples
    assert len(encode_wav(samples, 22050)) == 44 + 2 * len(samples)

    raster = bytes((5 * p) % 251 for p in range(3 * 10 * 4))
    w, h, c, r = decode_pnm(encode_pnm(10, 4, raster))
    assert (w, h, c) == (10, 4, 3) and r.tobytes() == raster
    gray = bytes(range(12))
    assert decode_pnm(encode_pnm(4, 3, gray, color=False))[2] == 1
    # comment-tolerant header parse
    w, h, c, r = decode_pnm(b"P5\n# a comment\n4 3\n255\n" + gray)
    assert (w, h, c) == (4, 3, 1) and np.array_equal(
        r, np.frombuffer(gray, dtype=np.uint8))


def test_media_features_real_decode(spark):
    """media_features parses real WAV/PPM containers; strict mode raises
    on the (honestly absent) video codec."""
    import pytest as _pytest

    from carbonapi_spark.datapipe.multimodal import media_features, synth_media
    media = synth_media(spark, 9)
    feats = {r["media_id"]: r for r in
             media_features(media.where(F.col("kind") != "video")).collect()}
    img = feats[0]   # kind image, 8x6 RGB of (0*7+j*j)%251
    assert (img["width"], img["height"]) == (8, 6)
    vals = [(0 * 7 + j * j) % 251 for j in range(3 * 8 * 6)]
    assert img["mean_val"] == round(sum(vals) / len(vals), 6)
    aud = feats[1]   # kind audio, 65 samples of ((7+j*j)%512)-256
    s = [((1 * 7 + j * j) % 512) - 256 for j in range(65)]
    assert (aud["n_samples"], aud["sample_rate"]) == (65, 16000)
    assert aud["rms"] == round((sum(x * x for x in s) / len(s)) ** 0.5, 6)
    with _pytest.raises(Exception, match="no in-container codec"):
        media_features(media).collect()
    # non-strict: unknown formats yield null-feature rows instead
    lax = media_features(media, strict=False)
    vid = [r for r in lax.collect() if r["kind"] == "video"]
    assert vid and all(r["mean_val"] is None for r in vid)


def test_synth_media_from_ids_matches_arithmetic(spark):
    """The encode->decode round trip reproduces the synthesis arithmetic
    (the property the multimodal_features oracle rests on)."""
    from carbonapi_spark.datapipe.multimodal import (
        media_features, synth_media_from_ids)
    ids = spark.range(6).selectExpr("id as doc_id")
    out = {r["media_id"]: r for r in
           media_features(synth_media_from_ids(ids)).collect()}
    i = 3  # odd -> audio
    n = 32 + i % 64
    s = [((i * 31 + j * 7) % 2048) - 1024 for j in range(n)]
    assert out[i]["n_samples"] == n
    assert out[i]["mean_val"] == round(sum(s) / n, 6)
    i = 4  # even -> image
    w, h = 8 + i % 8, 6
    vals = [(i * 13 + p) % 251 for p in range(3 * w * h)]
    assert (out[i]["width"], out[i]["height"]) == (w, h)
    assert out[i]["rms"] == round((sum(v * v for v in vals)
                                   / len(vals)) ** 0.5, 6)


def test_quantile_thresholds_exact_and_sketch(spark):
    """Exact mode matches numpy's linear interpolation; sketch mode is
    within rank tolerance; bucket_by_thresholds counts cutoffs below."""
    import numpy as np

    from carbonapi_spark.datapipe.text import (
        bucket_by_thresholds, quantile_thresholds)
    vals = [float(v) for v in [1, 3, 3, 5, 9, 11, 20, 21, 40, 99]]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    exact = quantile_thresholds(df, "x", [0.25, 0.5, 0.9]).first()["thresholds"]
    want = [round(float(np.percentile(vals, q * 100)), 6)
            for q in (0.25, 0.5, 0.9)]
    assert exact == want
    sketch = quantile_thresholds(df, "x", [0.5], exact=False).first()["thresholds"]
    assert abs(sketch[0] - 10.0) <= 11  # within one rank of the median
    thr = quantile_thresholds(df, "x", [0.5])
    b = {r["x"]: r["bucket"]
         for r in bucket_by_thresholds(df, "x", thr).collect()}
    assert b[1.0] == 1 and b[99.0] == 2


def test_ppl_threshold_qs_matches_manual_cutoffs(spark):
    """threshold_qs derives the same buckets as passing the exact
    quantiles explicitly."""
    from carbonapi_spark.datapipe.text import (
        perplexity_buckets, quantile_thresholds)
    docs = spark.createDataFrame(
        [(i, f"tok{i % 5} shared words here more") for i in range(40)],
        "doc_id long, text string")
    auto = perplexity_buckets(docs, threshold_qs=[1 / 3, 2 / 3])
    scored = auto.select("doc_id", "cross_entropy")
    cuts = quantile_thresholds(scored, "cross_entropy",
                               [1 / 3, 2 / 3]).first()["thresholds"]
    manual = perplexity_buckets(docs, thresholds=list(cuts))
    a = {r["doc_id"]: r["bucket"] for r in auto.collect()}
    m = {r["doc_id"]: r["bucket"] for r in manual.collect()}
    assert a == m


def test_ann_index_roundtrip_and_equivalence(spark, tmp_path):
    """write_ann_index -> read_ann_index -> ann_index_topk equals the
    in-memory ivfpq_topk on the same seeds, for both spherical and
    kmeans-trained (L2) coarse quantizers."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, ivf_centroids, ivfpq_topk, kmeans_centroids,
        pq_codebooks, write_ann_index)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.where(F.col("vec_id") < 3)
    for l2, res in ((False, False), (True, False), (True, True)):
        cents = (kmeans_centroids(emb, k=4, iters=1) if l2
                 else ivf_centroids(64, 4, 43))
        cbs = pq_codebooks(64, 8, 16, 44, scale=0.12 if res else None)
        path = str(tmp_path / f"{l2}-{res}")
        write_ann_index(emb, path, cbs, cents, l2_cells=l2, residual=res)
        got = ann_index_topk(spark, path, q, k=5, nprobe=2,
                             refine=10, corpus=emb)
        want = ivfpq_topk(emb, q, k=5, dim=64, nprobe=2, codebooks=cbs,
                          centroids=cents if l2 else None,
                          n_centroids=4, refine=10, residual=res)
        g = {(r["query_id"], r["neighbor_id"], r["cos_sim"])
             for r in got.collect()}
        w = {(r["query_id"], r["neighbor_id"], r["cos_sim"])
             for r in want.collect()}
        assert g == w, f"l2={l2} res={res}"


def test_normalize_unicode_nfc(spark):
    """Composed and decomposed encodings collide after normalization."""
    from carbonapi_spark.datapipe.text import normalize_unicode
    df = spark.createDataFrame(
        [(0, "café"), (1, "café"), (2, None)],
        "doc_id long, text string")
    out = {r["doc_id"]: r["n"] for r in
           df.select("doc_id",
                     normalize_unicode(F.col("text")).alias("n")).collect()}
    assert out[0] == out[1] == "café"
    assert out[2] is None


def test_html_strip_known_cases(spark):
    from carbonapi_spark.datapipe.text import html_strip
    cases = {
        "<p>a</p><p>b</p>": "a b",
        "<script>var x = '<p>';</script>keep": "keep",
        "<STYLE type='a'>.x{}</STYLE>y": "y",
        "a &amp;&nbsp;b &lt;tag&gt;": "a & b <tag>",
        "<!-- hidden -->shown": "shown",
        "A&amp;lt;B": "A&lt;B",  # &amp; decoded LAST: no double-unescape
    }
    df = spark.createDataFrame([(i, t) for i, (t, _) in
                                enumerate(cases.items())],
                               "id long, text string")
    got = {r["id"]: r["c"] for r in
           df.select("id", html_strip(F.col("text")).alias("c")).collect()}
    for i, want in enumerate(cases.values()):
        assert got[i] == want, (i, got[i], want)


def test_per_group_cap(spark):
    from carbonapi_spark.datapipe.text import per_group_cap
    df = spark.createDataFrame(
        [(i, "big" if i < 50 else "small") for i in range(53)],
        "doc_id long, source string")
    out = per_group_cap(df, 5, id_col="doc_id")
    by = {}
    for r in out.collect():
        by.setdefault(r["source"], []).append(r["doc_id"])
    assert len(by["big"]) == 5
    assert sorted(by["small"]) == [50, 51, 52]  # under the cap: untouched
    # deterministic across runs
    again = {r["doc_id"] for r in per_group_cap(df, 5, id_col="doc_id")
             .collect() if r["source"] == "big"}
    assert set(by["big"]) == again


def test_minhash_band_plan():
    from carbonapi_spark.datapipe.dedup import (
        lsh_candidate_probability, minhash_band_plan)
    b, r, mid = minhash_band_plan(16, 0.5)
    assert (b, r) == (8, 2)   # 0.354 is K=16's nearest midpoint to 0.5
    assert abs(mid - 0.5) <= 0.15
    # the curve crosses ~0.5 probability near the midpoint
    assert lsh_candidate_probability(mid, b, r) == pytest.approx(
        1 - (1 - mid ** r) ** b)
    assert lsh_candidate_probability(0.95, b, r) > 0.9
    assert lsh_candidate_probability(0.05, b, r) < 0.2
    # RefinedWeb-scale: 9000 hashes targeting 0.8
    b2, r2, mid2 = minhash_band_plan(9000, 0.8)
    assert b2 * r2 == 9000 and abs(mid2 - 0.8) < 0.02
    import pytest as _p
    with _p.raises(ValueError):
        minhash_band_plan(16, 1.5)


def test_train_val_test_split_properties(spark):
    from carbonapi_spark.datapipe.sampling import train_val_test_split
    df = spark.range(2000).selectExpr("id as doc_id")
    out = train_val_test_split(df, val=0.1, test=0.1)
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count(F.lit(1)).alias("n"))
              .collect()}
    assert set(counts) == {"train", "val", "test"}
    assert abs(counts["val"] / 2000 - 0.1) < 0.03
    assert abs(counts["test"] / 2000 - 0.1) < 0.03
    # stability: the same ids keep their split when the corpus grows
    bigger = train_val_test_split(
        spark.range(4000).selectExpr("id as doc_id"), val=0.1, test=0.1)
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in bigger.collect() if r["doc_id"] < 2000}
    assert a == b
    import pytest as _p
    with _p.raises(ValueError):
        train_val_test_split(df, val=0.6, test=0.5)


def test_code_prose_features_detects_code(spark):
    from carbonapi_spark.datapipe.text import code_prose_features
    code = "def f(x):\n    return {x: [1, 2]};\n    # comment\n"
    prose = ("This is a long flowing paragraph of ordinary English text "
             "that keeps going well past forty characters per line.")
    df = spark.createDataFrame([(0, code), (1, prose), (2, "")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in code_prose_features(df).collect()}
    assert out[0]["is_code"] and not out[1]["is_code"]
    assert not out[2]["is_code"]  # empty: no votes fire
    assert out[0]["indent_frac"] > 0.2 and out[0]["symbol_frac"] > 0.03


def test_ivf_cell_stats_balance(spark):
    """Cell populations sum to the corpus; fractions to ~1; trained cells
    on a 2-cluster corpus are perfectly balanced (imbalance factor ~1)."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import (
        ivf_cell_stats, kmeans_centroids)
    vecs = (spark.range(200)
            .select(F.col("id").alias("vec_id"),
                    F.transform(F.sequence(F.lit(0), F.lit(7)),
                                lambda i: (F.when(F.col("id") % 2 == 0,
                                                  1.0).otherwise(-1.0)
                                           + i * 0.001 + F.col("id") * 1e-5)
                                .cast("double")).alias("embedding")))
    cents = kmeans_centroids(vecs, k=2, iters=2)
    rows = ivf_cell_stats(vecs, dim=8, centroids=cents).collect()
    assert sum(r["n_vectors"] for r in rows) == 200
    assert abs(sum(r["frac"] for r in rows) - 1.0) < 1e-4
    k = len(rows)
    imbalance = k * sum(r["frac"] ** 2 for r in rows)
    assert imbalance == pytest.approx(1.0, abs=0.05)


def test_pack_best_fit_invariants(spark):
    """BFD packing: no doc straddles a boundary, bins never overflow,
    the Spark kernel equals the pure-Python reference, and BFD packs at
    least as tight as naive first-come placement on a known case."""
    from carbonapi_spark.datapipe.sampling import pack_best_fit
    docs = [(i, "w " * ((i * 37) % 90 + 1)) for i in range(120)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = pack_best_fit(df, budget=100, n_shards=4).collect()
    assert len(out) == 120
    fill: dict = {}
    for r in out:
        assert 0 <= r["offset"] and r["offset"] + r["n_tokens"] <= 100
        key = (r["shard"], r["seq_in_shard"])
        fill[key] = fill.get(key, 0) + r["n_tokens"]
    assert all(v <= 100 for v in fill.values())
    # pure-python replay of one shard
    import pandas as pd
    from pyspark.sql import functions as F
    shard0 = [(r["doc_id"], r["n_tokens"]) for r in out if r["shard"] == 0]
    n_tok = dict(shard0)
    order = sorted(n_tok, key=lambda d: (-n_tok[d], d))
    bins, place = [], {}
    for d in order:
        n = n_tok[d]
        best, best_rem = -1, 101
        for b, rem in enumerate(bins):
            if n <= rem < best_rem:
                best, best_rem = b, rem
        if best < 0:
            bins.append(100); best = len(bins) - 1
        place[d] = (best, 100 - bins[best])
        bins[best] -= n
    got = {r["doc_id"]: (r["seq_in_shard"], r["offset"])
           for r in out if r["shard"] == 0}
    assert got == place
    # truncation flag fires for over-budget docs
    big = spark.createDataFrame([(0, "w " * 300)], "doc_id long, text string")
    r = pack_best_fit(big, budget=100, n_shards=1).first()
    assert r["truncated"] and r["n_tokens"] == 100


def test_new_op_edge_guards(spark, tmp_path):
    """Round-7 edge guards fail fast instead of crashing deep in a plan."""
    import pytest as _p

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, ivf_centroids, kmeans_centroids, pq_codebooks,
        write_ann_index)
    from carbonapi_spark.datapipe.text import quantile_thresholds
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with _p.raises(ValueError, match="non-empty corpus"):
        kmeans_centroids(emb.where(F.col("vec_id") < 0), k=2)
    with _p.raises(ValueError, match="non-empty list"):
        quantile_thresholds(emb, "vec_id", [])
    path = str(tmp_path / "g")
    write_ann_index(emb, path, pq_codebooks(64, 8, 16, 44),
                    ivf_centroids(64, 4, 43))
    with _p.raises(ValueError, match="needs corpus="):
        ann_index_topk(spark, path, emb.limit(1), refine=5)
    # empty query side: clean empty result, no crash
    out = ann_index_topk(spark, path, emb.where(F.col("vec_id") < 0))
    assert out.count() == 0


def test_training_shard_manifest_roundtrip(spark, tmp_path):
    """Manifest certifies the written shards; tampering is detected."""
    from carbonapi_spark.datapipe.sampling import (
        verify_training_shards, write_training_shards)
    docs = spark.createDataFrame(
        [(i, f"tok{i} words here") for i in range(200)],
        "doc_id long, text string")
    path = str(tmp_path / "shards")
    write_training_shards(docs, path, n_shards=4, manifest=True)
    assert verify_training_shards(spark, path).count() == 0
    # tamper: delete one shard directory -> that shard must flag
    import shutil
    shutil.rmtree(f"{path}/shard=0")
    bad = [r["shard"] for r in verify_training_shards(spark, path).collect()]
    assert bad == [0]


def test_decontaminate_spans_surgical(spark):
    """Leaked spans are cut, clean remainder survives, fully-leaked docs
    vanish, clean docs pass through untouched."""
    from carbonapi_spark.datapipe.dedup import decontaminate_spans
    leak = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    bench = spark.createDataFrame(
        [(0, f"question: {leak} answer: yes")],
        "doc_id long, text string")
    train = spark.createDataFrame(
        [(10, f"intro words here {leak} outro words here"),
         (11, "totally clean document with original content"),
         (12, leak)],  # fully leaked -> vanishes
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in decontaminate_spans(train, bench, k=6).collect()}
    assert out[10] == "intro words here outro words here"
    assert out[11] == "totally clean document with original content"
    assert 12 not in out


def test_kn_bigram_ppl_matches_python(spark):
    """Interpolated KN replayed in pure Python; repeated-bigram docs
    score lower entropy than novel-bigram docs."""
    import math
    from collections import Counter

    from carbonapi_spark.datapipe.text import kn_bigram_perplexity_buckets
    texts = {0: "a b a b a b", 1: "a b c d e f", 2: "x", 3: "c d c d"}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    out = {r["doc_id"]: r["cross_entropy"]
           for r in kn_bigram_perplexity_buckets(df).collect()}
    # python reference
    bis = {d: [f"{t.split()[i]} {t.split()[i+1]}"
               for i in range(len(t.split()) - 1)]
           for d, t in texts.items()}
    cb = Counter(g for gs in bis.values() for g in gs)
    nw = Counter(); n1l = Counter(); n1r = Counter()
    for g, c in cb.items():
        w1, w2 = g.split()
        nw[w1] += c; n1l[w1] += 1; n1r[w2] += 1
    types = len(cb)
    d0 = 0.75
    want = {}
    for doc, gs in bis.items():
        if not gs:
            continue
        tot = 0.0
        for g in gs:
            w1, w2 = g.split()
            p = (max(cb[g] - d0, 0) / nw[w1]
                 + d0 * n1l[w1] / nw[w1] * (n1r[w2] / types))
            tot += -math.log(p)
        want[doc] = round(tot / len(gs), 6)
    for doc, h in want.items():
        assert out[doc] == pytest.approx(h, abs=2e-6), doc
    assert out[2] == round(max(want.values()) + 1, 6)  # no-bigram tail
    assert out[0] < out[1]  # repetition scores as lower entropy


def test_hll_distinct_accuracy_and_merge(spark):
    """Estimate within HLL's error envelope at 50k distinct values, the
    linear-counting branch exact-ish at tiny cardinality, and register
    tables from disjoint shards union-max-merge to the whole-corpus
    answer losslessly (the 100 TB merge story)."""
    from carbonapi_spark.datapipe.sketch import hll_distinct, hll_registers

    big = spark.range(50_000).select(F.col("id").cast("string").alias("v"))
    est = hll_distinct(big, "v").collect()[0]["est_distinct"]
    # sigma = 1.04/sqrt(4096) ~ 1.6%; 4 sigma bound keeps it non-flaky
    assert abs(est - 50_000) / 50_000 < 0.065

    tiny = spark.createDataFrame([("a",), ("b",), ("a",), ("c",)],
                                 "v string")
    t = hll_distinct(tiny, "v").collect()[0]
    assert t["registers_used"] == 3
    assert abs(t["est_distinct"] - 3) < 0.01  # linear counting branch

    # shard merge: max-merge of the two half-range register tables must
    # equal the whole-range register table row for row
    lo = spark.range(0, 25_000).select(F.col("id").cast("string").alias("v"))
    hi = spark.range(25_000, 50_000).select(F.col("id").cast("string").alias("v"))
    merged = (hll_registers(lo, "v").unionByName(hll_registers(hi, "v"))
              .groupBy("reg").agg(F.max("mrho").alias("mrho")))
    whole = hll_registers(big, "v")
    assert merged.exceptAll(whole).count() == 0
    assert whole.exceptAll(merged).count() == 0


def test_hll_distinct_grouped_independent(spark):
    """Groups don't bleed: each group's estimate equals the estimate of
    that group's values alone."""
    from carbonapi_spark.datapipe.sketch import hll_distinct
    df = spark.createDataFrame(
        [("en", f"w{i}") for i in range(200)]
        + [("de", f"w{i}") for i in range(40)], "lang string, v string")
    grouped = {r["lang"]: r["est_distinct"]
               for r in hll_distinct(df, "v", ("lang",)).collect()}
    for lang in ("en", "de"):
        solo = hll_distinct(df.where(F.col("lang") == lang), "v") \
            .collect()[0]["est_distinct"]
        assert grouped[lang] == solo


def _unimax_greedy(counts, budget, max_epochs):
    """The paper's loop, literally: ascending corpus size, each language
    takes min(its cap, remaining budget / remaining languages)."""
    out = {}
    remaining, langs = float(budget), sorted(counts, key=lambda g: (counts[g], g))
    for i, g in enumerate(langs):
        share = remaining / (len(langs) - i)
        take = min(counts[g] * max_epochs, share)
        out[g] = take
        remaining -= take
    return out


def test_unimax_allocation_matches_greedy_loop(spark):
    from carbonapi_spark.datapipe.sampling import unimax_allocation
    cases = [
        ({"en": 1000, "de": 100, "fr": 10, "xx": 5}, 300, 2),
        ({"en": 1000, "de": 100, "fr": 10, "xx": 5}, 10_000, 2),  # all capped
        ({"en": 50, "de": 50}, 60, 1),                 # uniform, uncapped
        ({"a": 7}, 100, 3),                            # single group
        ({"a": 3, "b": 3, "c": 94}, 100, 1),
    ]
    for counts, budget, epochs in cases:
        rows = [(i, g) for g, n in counts.items() for i in range(n)]
        df = spark.createDataFrame(
            [(j, g) for j, (i, g) in enumerate(rows)],
            "doc_id long, lang string")
        got = {r["lang"]: r["alloc"]
               for r in unimax_allocation(df, budget=budget,
                                          max_epochs=epochs).collect()}
        want = _unimax_greedy(counts, budget, epochs)
        assert got.keys() == want.keys(), (counts, budget)
        for g in want:
            assert abs(got[g] - want[g]) < 1e-4, (g, got[g], want[g])
        total = sum(got.values())
        cap_total = sum(n * epochs for n in counts.values())
        assert abs(total - min(budget, cap_total)) < 1e-3


def test_unimax_sample_copies_realize_epochs(spark):
    from carbonapi_spark.datapipe.sampling import unimax_sample
    df = spark.createDataFrame(
        [(i, "en") for i in range(1000)]
        + [(1000 + i, "de") for i in range(100)]
        + [(1100 + i, None) for i in range(8)], "doc_id long, lang string")
    out = unimax_sample(df, budget=300, max_epochs=2)
    per = {r["lang"]: (r["c"], r["rows"]) for r in
           out.groupBy("lang").agg(F.sum("copies").alias("c"),
                                   F.count(F.lit(1)).alias("rows"))
           .collect()}
    # null group capped at 2 epochs: every doc exactly 2 copies
    assert per[None] == (16, 8)
    # caps respected and totals near budget (hash-gate variance only)
    total = sum(c for c, _ in per.values())
    assert abs(total - 300) / 300 < 0.1
    assert out.where(F.col("copies") <= 0).count() == 0


def test_weighted_sample_proportional_and_deterministic(spark):
    from carbonapi_spark.datapipe.sampling import weighted_sample
    # two weight classes, 10:1 — heavy rows should dominate the sample
    df = spark.createDataFrame(
        [(i, 100 if i < 500 else 10) for i in range(1000)],
        "doc_id long, w long")
    got = weighted_sample(df, "w", 200)
    rows = got.collect()
    heavy = sum(1 for r in rows if r["weight"] == 100)
    assert heavy > 150  # E[heavy] ~ 182 of 200; far from uniform's 100
    # deterministic: same call, same rows in the same order
    again = weighted_sample(df, "w", 200).collect()
    assert [r["doc_id"] for r in rows] == [r["doc_id"] for r in again]
    # non-positive weights never selected
    df2 = spark.createDataFrame([(1, 0), (2, -5), (3, 7)],
                                "doc_id long, w long")
    assert [r["doc_id"] for r in
            weighted_sample(df2, "w", 10).collect()] == [3]


def test_zipf_fit_matches_numpy_polyfit(spark):
    import numpy as np
    from carbonapi_spark.datapipe.text import zipf_fit
    # deterministic synthetic corpus: term w_i appears ceil(60/i) times
    words = []
    for i in range(1, 30):
        words += [f"w{i:02d}"] * (60 // i + 1)
    df = spark.createDataFrame([(1, "en", " ".join(words))],
                               "doc_id long, lang string, text string")
    got = zipf_fit(df).collect()[0]
    counts = sorted([60 // i + 1 for i in range(1, 30)], reverse=True)
    x = np.log(np.arange(1, len(counts) + 1))
    y = np.log(np.array(counts, dtype=float))
    s, b = np.polyfit(x, y, 1)
    assert abs(got["slope"] - s) < 1e-4
    assert abs(got["intercept"] - b) < 1e-4
    assert got["n_terms"] == 29
    # single-term vocabulary: no x-variance, null fit
    one = spark.createDataFrame([(1, "xx", "solo solo")],
                                "doc_id long, lang string, text string")
    r = zipf_fit(one).collect()[0]
    assert r["slope"] is None and r["intercept"] is None


def test_media_dsp_features_known_values(spark):
    """Hand-computed DSP features through the real codecs: a square-wave
    WAV (period 4 -> dominant autocorrelation lag 4, 2 sign flips per
    period) and a 2x2 RGB ramp image."""
    import numpy as np
    from carbonapi_spark.datapipe.multimodal import (
        encode_pnm, encode_wav, media_dsp_features)
    sq = np.tile(np.array([500, 500, -500, -500], dtype=np.int64), 8)
    wav = encode_wav(sq.tolist())
    raster = bytes(range(12))  # 2x2 RGB: 0..11
    ppm = encode_pnm(2, 2, raster, color=True)
    media = spark.createDataFrame(
        [(1, "audio", "audio/wav", bytearray(wav), None),
         (2, "image", "image/ppm", bytearray(ppm), None)],
        "media_id long, kind string, mime string, payload binary, "
        "meta struct<width:int,height:int,duration_ms:int,sample_rate:int>")
    out = {r["media_id"]: r for r in media_dsp_features(media).collect()}
    a = out[1]
    # 32 samples of ++-- periods: sign flips at every 2-sample boundary
    flips = sum(1 for j in range(1, 32)
                if (sq[j] >= 0) != (sq[j - 1] >= 0))
    assert a["zero_crossings"] == flips == 15
    assert a["peak"] == 500
    # autocorrelation of a period-4 square wave peaks at lag 4
    assert a["dominant_lag"] == 4
    i = out[2]
    assert (i["mean_r"], i["mean_g"], i["mean_b"]) == (4.5, 5.5, 6.5)
    # |p[i+3]-p[i]| = 3 for all 9 comparisons
    assert i["grad_energy"] == 27
    assert a["mean_r"] is None and i["peak"] is None


def test_bm25_known_values(spark):
    """BM25 against a hand-computed two-doc corpus."""
    import math
    docs = spark.createDataFrame(
        [(1, "cat dog cat"), (2, "dog bird"), (3, "fish fish fish")],
        "doc_id long, text string")
    got = {r["doc_id"]: r["score"]
           for r in bm25_topk_import()(docs, "cat dog", k=10).collect()}
    n, k1, b = 3, 1.2, 0.75
    avgdl = (3 + 2 + 3) / 3
    def idf(dfq):
        return math.log(1.0 + (n - dfq + 0.5) / (dfq + 0.5))
    def w(tf, dl, dfq):
        return idf(dfq) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert got[1] == round(w(2, 3, 1) + w(1, 3, 2), 6)
    assert got[2] == round(w(1, 2, 2), 6)
    assert 3 not in got  # no query term -> no row


def bm25_topk_import():
    from carbonapi_spark.datapipe.retrieval import bm25_topk
    return bm25_topk


def test_bm25_index_round_trip(spark, tmp_path):
    """Scores through the durable bucket-partitioned index must equal
    the direct corpus computation exactly, and the postings probe must
    partition-prune to the query terms' buckets."""
    from carbonapi_spark.datapipe.retrieval import (
        bm25_query_index, bm25_topk, write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "tix")
    write_text_index(docs, path, n_buckets=16)
    raw = [(r["doc_id"], r["score"])
           for r in bm25_topk(docs, "hash join order", k=15).collect()]
    idx = [(r["doc_id"], r["score"])
           for r in bm25_query_index(spark, path, "hash join order",
                                     k=15).collect()]
    assert raw == idx and len(raw) > 0
    plan = (bm25_query_index(spark, path, "hash join order", k=15)
            ._jdf.queryExecution().executedPlan().toString())
    import re
    pf = re.findall(r"PartitionFilters: \[bucket#\d+ IN \(([^)]*)\)\]", plan)
    assert pf, "postings scan lost its bucket partition filter"
    assert all(len(x.split(",")) <= 3 for x in pf)


def test_stream_hll_matches_batch_across_batches(spark, tmp_path):
    """The streamed register table (state carried across micro-batches
    AND a checkpointed restart) must equal the batch sketch row for row
    — max-merge is order-insensitive, so arrival slicing can't move a
    register."""
    from carbonapi_spark.datapipe.sketch import hll_registers
    from carbonapi_spark.streaming.stateful import stream_hll_registers

    rows = [(i, "en" if i % 3 else "de", f"tok{i % 997}")
            for i in range(3000)]
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(rows, "i long, lang string, t string")
    batch.repartition(4).write.parquet(src)  # several files -> several triggers

    final: dict = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            k = (r["grp"], r["reg"])
            final[k] = max(final.get(k, 0), r["mrho"])

    ckpt = str(tmp_path / "ckpt")
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = stream_hll_registers(stream, "t", "lang")
    for _run in range(2):  # second run: restart from checkpoint, no-op
        q = (out.writeStream.outputMode("update").foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    want = {(r["lang"], r["reg"]): r["mrho"]
            for r in hll_registers(batch, "t", ("lang",)).collect()}
    assert final == want and len(want) > 100


def test_pmi_top_known_values(spark):
    import math
    from carbonapi_spark.datapipe.text import pmi_top
    # bigrams: "a b" x3, "b a" x2, "a c" x1  (from "a b a b a b" + "a c")
    df = spark.createDataFrame([(1, "a b a b a b"), (2, "a c")],
                               "doc_id long, text string")
    rows = {(r["w1"], r["w2"]): (r["cnt"], r["pmi"])
            for r in pmi_top(df, min_count=1, k=10).collect()}
    # marginals from the bigram table: c1(a)=4, c1(b)=2; c2(b)=3, c2(a)=2,
    # c2(c)=1; T=6
    assert rows[("a", "b")][0] == 3
    assert rows[("a", "b")][1] == round(math.log(3 * 6 / (4 * 3)), 6)
    assert rows[("b", "a")][1] == round(math.log(2 * 6 / (2 * 2)), 6)
    assert rows[("a", "c")][1] == round(math.log(1 * 6 / (4 * 1)), 6)


def test_mmr_rerank_diversifies(spark):
    from carbonapi_spark.datapipe.retrieval import mmr_rerank
    cand = spark.createDataFrame(
        [(1, 1.0), (2, 0.99), (3, 0.5)], "doc_id long, score double")
    # docs 1 and 2 are near-identical vectors; 3 is orthogonal
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.999, 0.01]), (3, [0.0, 1.0])],
        "doc_id long, embedding array<double>")
    out = [r["doc_id"] for r in
           mmr_rerank(cand, vecs, n=3, lam=0.5).collect()]
    # relevance alone would give 1,2,3; MMR demotes the near-dup 2
    assert out == [1, 3, 2]
    # lam=1.0 -> pure relevance order
    pure = [r["doc_id"] for r in
            mmr_rerank(cand, vecs, n=3, lam=1.0).collect()]
    assert pure == [1, 2, 3]
    # ranks are 1..n and scores non-increasing within the greedy frontier
    ranks = [r["rank"] for r in mmr_rerank(cand, vecs, n=3,
                                           lam=0.5).collect()]
    assert ranks == [1, 2, 3]


def test_bpe_train_sennrich_toy(spark):
    """The ACL-2016 worked example: {low x5, lower x2, newest x6,
    widest x3} learns es -> est -> lo -> low first."""
    from carbonapi_spark.datapipe.bpe import bpe_encode, bpe_train
    df = spark.createDataFrame(
        [(1, " ".join(["low"] * 5 + ["lower"] * 2
                      + ["newest"] * 6 + ["widest"] * 3))],
        "doc_id long, text string")
    m = bpe_train(df, n_merges=4).collect()
    got = [(r["lhs"], r["rhs"], r["pair_count"]) for r in m]
    assert got == [("e", "s", 9), ("es", "t", 9),
                   ("l", "o", 7), ("lo", "w", 7)]
    enc = {r["token"]: list(r["pieces"]) for r in
           bpe_encode(df, [(r["lhs"], r["rhs"]) for r in m]).collect()}
    assert enc["low"] == ["low"]
    assert enc["lower"] == ["low", "e", "r"]
    assert enc["newest"] == ["n", "e", "w", "est"]


def test_bpe_merge_run_non_overlapping(spark):
    """A run 'aaaa' under merge (a,a) must become [aa, aa] — the
    left-to-right non-overlap semantics, not [aa, a, a] (boundary
    consumption) or [aaa, a] (greedy re-merge)."""
    from carbonapi_spark.datapipe.bpe import bpe_encode
    df = spark.createDataFrame([(1, "aaaa aaa")], "doc_id long, text string")
    enc = {r["token"]: list(r["pieces"]) for r in
           bpe_encode(df, [("a", "a")]).collect()}
    assert enc["aaaa"] == ["aa", "aa"]
    assert enc["aaa"] == ["aa", "a"]


def test_stream_rollups_match_batch_writer(spark, tmp_path):
    """The streamed rollup archive must equal write_rollups' batch
    output on the same input for every watermark-finalized bucket, with
    the same per-pattern method selection — so TieredLake can serve
    tiers a streaming ingest keeps fresh."""
    from pyspark.sql import functions as F

    from carbonapi_spark.sources.lake import write_rollups
    from carbonapi_spark.streaming.ingest import stream_rollups

    rows = []
    for h in range(72):  # three days hourly, two series
        rows.append(("app.req.count", h * 3600, float(h)))
        rows.append(("app.gauge", h * 3600, float(h % 7)))
    batch = spark.createDataFrame(rows, "name string, ts long, value double")
    src = str(tmp_path / "src")
    batch.coalesce(1).write.parquet(src)  # one batch: rows must not
    # arrive behind an already-advanced watermark (real ingest is
    # time-ordered; multi-batch state is covered by the HLL stream test)

    stream = (spark.readStream.schema(batch.schema).parquet(src)
              .select("name", F.col("ts").cast("timestamp").alias("ts"),
                      "value"))
    writers = stream_rollups(
        stream, str(tmp_path / "roll"), str(tmp_path / "ckpt"),
        steps=[86400], methods=[("*.*.count", "sum")],
        default_method="average", watermark="1 hour")
    q = writers[0].trigger(availableNow=True).start()
    q.awaitTermination()

    write_rollups(batch, str(tmp_path / "batch_roll"), steps=[86400],
                  methods=[("*.*.count", "sum")],
                  default_method="average")
    got = {(r["name"], r["ts"]): r["value"] for r in
           spark.read.parquet(str(tmp_path / "roll") + "/step=86400")
           .select("name", "ts", "value").collect()}
    # append mode emits only watermark-closed windows: day buckets with
    # end <= max_ts - 1h; the last day (ends at max_ts + 1h) stays open
    want = {(r["name"], r["ts"]): r["value"] for r in
            spark.read.parquet(str(tmp_path / "batch_roll") + "/step=86400")
            .select("name", "ts", "value").collect()
            if r["ts"] + 86400 <= 71 * 3600 - 3600}
    assert got == want and len(want) == 4  # 2 series x 2 closed days


def test_rrf_fuse_known_values(spark):
    from carbonapi_spark.datapipe.retrieval import rrf_fuse
    l1 = spark.createDataFrame([(1, 0.9), (2, 0.8), (3, 0.7)],
                               "doc_id long, score double")
    l2 = spark.createDataFrame([(3, 5.0), (1, 4.0), (4, 3.0)],
                               "doc_id long, score double")
    got = {r["doc_id"]: (r["rrf_score"], r["n_lists"]) for r in
           rrf_fuse([l1, l2], k=60, n=10).collect()}
    assert got[1] == (round(1 / 61 + 1 / 62, 6), 2)
    assert got[3] == (round(1 / 63 + 1 / 61, 6), 2)
    assert got[2] == (round(1 / 62, 6), 1)
    assert got[4] == (round(1 / 63, 6), 1)
    # doc in both lists outranks single-list docs at similar ranks
    order = [r["doc_id"] for r in rrf_fuse([l1, l2], n=10).collect()]
    assert order[0] in (1, 3) and set(order[:2]) == {1, 3}


def test_ann_index_append_equals_full_build(spark, tmp_path):
    """Building on half the corpus then append_ann_index-ing the rest
    must answer queries identically to a one-shot build over everything
    with the same (frozen) quantizers — FAISS add() semantics."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, append_ann_index, ivf_centroids, pq_codebooks,
        write_ann_index)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    half = emb.where(F.col("vec_id") % 2 == 0)
    rest = emb.where(F.col("vec_id") % 2 == 1)
    cents = ivf_centroids(64, 4, 43)
    cbs = pq_codebooks(64, 8, 16, 44)
    grown, full = str(tmp_path / "grown"), str(tmp_path / "full")
    write_ann_index(half, grown, cbs, cents)
    append_ann_index(rest, grown)
    write_ann_index(emb, full, cbs, cents)
    q = emb.where(F.col("vec_id") < 3)
    g = {(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in
         ann_index_topk(spark, grown, q, k=5, nprobe=2, refine=10,
                        corpus=emb).collect()}
    w = {(r["query_id"], r["neighbor_id"], r["cos_sim"]) for r in
         ann_index_topk(spark, full, q, k=5, nprobe=2, refine=10,
                        corpus=emb).collect()}
    assert g == w and len(g) > 0


def test_text_index_append_equals_full_build(spark, tmp_path):
    """Growing the inverted index with a document delta must answer
    BM25 queries identically to a one-shot build over the union."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.retrieval import (
        append_text_index, bm25_query_index, write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    grown, full = str(tmp_path / "grown"), str(tmp_path / "full")
    write_text_index(half, grown, n_buckets=16)
    append_text_index(rest, grown)
    write_text_index(docs, full, n_buckets=16)
    g = [(r["doc_id"], r["score"]) for r in
         bm25_query_index(spark, grown, "hash join order", k=15).collect()]
    w = [(r["doc_id"], r["score"]) for r in
         bm25_query_index(spark, full, "hash join order", k=15).collect()]
    assert g == w and len(g) > 0


def test_text_index_compaction_repairs_replayed_append(spark, tmp_path):
    """A REPLAYED append_text_index corrupts BM25 scores (duplicate
    postings double tf contributions; the stats rewrite double-counts
    n_docs/sum_dl, shifting idf/avgdl for every query).
    compact_text_index must restore exactly the clean grown index's
    answers, and a fragmented_only pass must be idempotent."""
    from carbonapi_spark.datapipe.retrieval import (
        append_text_index, bm25_query_index, compact_text_index,
        write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "tix_dup")
    write_text_index(half, p, n_buckets=16)
    append_text_index(rest, p)
    ask = lambda: [(r["doc_id"], r["score"]) for r in
                   bm25_query_index(spark, p, "hash join order",
                                    k=15).collect()]
    clean = ask()
    append_text_index(rest, p)              # the replayed epoch
    corrupted = ask()
    assert corrupted != clean                # replay visibly corrupts
    stats = compact_text_index(spark, p)
    assert stats["rows_after"] < stats["rows_before"]
    assert ask() == clean                    # scores fully repaired
    again = compact_text_index(spark, p, fragmented_only=True)
    assert again["partitions_rewritten"] == 0
    assert ask() == clean


def test_text_index_compaction_refreshes_cached_doclens(spark, tmp_path):
    """ADVICE r13 #4: compact_text_index swaps doclens via filesystem
    renames; a Dataset planned BEFORE the swap holds the old file
    listing and, without refreshByPath, can fail with
    FAILED_READ_FILE.FILE_NOT_EXIST afterward.  The compactor now
    refreshes the path (matching delete_from_text_index), so the
    cached plan re-resolves and answers correctly.  (refreshByPath
    recaches CACHED plans only — an uncached pre-swap Dataset still
    holds its old file listing; that is Spark's documented contract,
    not something the compactor can fix.)"""
    from carbonapi_spark.datapipe.retrieval import (
        append_text_index, compact_text_index, write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "tix_stale")
    write_text_index(half, p, n_buckets=16)
    append_text_index(rest, p)
    append_text_index(rest, p)               # replay -> duplicates
    stale = spark.read.parquet(f"{p}/doclens").cache()
    try:
        n_dup = stale.count()                # listing + data now cached
        compact_text_index(spark, p)
        n_clean = stale.count()              # must not FAILED_READ_FILE
    finally:
        stale.unpersist()
    assert n_clean < n_dup
    assert n_clean == docs.count()


def test_text_index_delete_everything_safe(spark, tmp_path):
    """ADVICE r13 #5: deleting EVERY document used to write n_docs=0 /
    sum_dl=NULL stats, after which bm25_query_index crashed on
    float(None).  Stats must land as (0, 0) and querying the emptied
    index must return an empty frame with the normal schema."""
    from carbonapi_spark.datapipe.retrieval import (
        bm25_query_index, delete_from_text_index, write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p = str(tmp_path / "tix_empty")
    write_text_index(docs, p, n_buckets=16)
    stats = delete_from_text_index(
        spark, p, {r["doc_id"] for r in docs.select("doc_id").collect()})
    assert stats["rows_deleted"] > 0
    row = spark.read.parquet(f"{p}/stats").collect()[0]
    assert row["n_docs"] == 0 and row["sum_dl"] == 0
    got = bm25_query_index(spark, p, "hash join order", k=15)
    assert got.count() == 0
    assert got.columns == ["doc_id", "score"]


def test_band_l0_append_probe_and_compact_fold(spark, tmp_path):
    """l0=True band appends: one flat file per batch (no partitioned
    fragmentation), probes read main ∪ L0 identically to cell appends
    (including replay-duplicate bucket inflation), compaction folds L0
    into the (band, bucket) layout and removes it, and deletion covers
    L0 rows."""
    import os

    from carbonapi_spark.datapipe.dedup import (append_band_index,
                                                compact_band_index,
                                                delete_from_band_index,
                                                probe_band_index,
                                                write_band_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    delta = docs.where(F.col("doc_id") % 5 == 4)
    probe_batch = docs.where(F.col("doc_id") % 7 == 3)
    p, p_ref = str(tmp_path / "b_l0"), str(tmp_path / "b_ref")
    for q in (p, p_ref):
        write_band_index(corpus, q, num_hashes=16, bands=4, ngram=2)
    append_band_index(delta, p, l0=True)
    append_band_index(delta, p, l0=True)        # replayed epoch
    append_band_index(delta, p_ref)
    append_band_index(delta, p_ref)             # replayed epoch
    # one file per L0 batch, partitioned layout untouched
    l0_files = [f for f in os.listdir(f"{p}/bands_l0")
                if f.endswith(".parquet")]
    assert len(l0_files) == 2
    ask = lambda q: sorted(map(tuple, probe_band_index(
        spark, q, probe_batch).collect()))
    # pre-compaction probes equal the cell-append twin exactly
    # (duplicate inflation included)
    assert ask(p) == ask(p_ref)
    stats = compact_band_index(spark, p)
    assert stats["l0_rows_folded"] > 0
    assert stats["rows_after"] < stats["rows_before"]
    assert not os.path.exists(f"{p}/bands_l0")
    ref_stats = compact_band_index(spark, p_ref)
    assert stats["rows_after"] == ref_stats["rows_after"]
    assert ask(p) == ask(p_ref)
    # deletion with a fresh L0 present covers both tables
    append_band_index(delta, p, l0=True)
    doomed = [int(r["doc_id"]) for r in
              delta.select("doc_id").limit(3).collect()]
    del_stats = delete_from_band_index(spark, p, doomed)
    assert del_stats["rows_deleted"] > 0
    survivors = {int(r["id_a"]) for r in probe_band_index(
        spark, p, probe_batch).collect()}
    assert not (survivors & set(doomed))


def test_band_index_compaction_after_replayed_append(spark, tmp_path):
    """A replayed append_band_index duplicates (band, key, doc_id)
    rows — inflating bucket populations toward the probe's max_bucket
    truncation cap.  compact_band_index removes them (probe results
    identical to the clean grown index) and defragments to one file
    per (band, bucket)."""
    from carbonapi_spark.datapipe.dedup import (append_band_index,
                                                compact_band_index,
                                                probe_band_index,
                                                write_band_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    delta = docs.where(F.col("doc_id") % 5 == 4)
    probe_batch = docs.where(F.col("doc_id") % 7 == 3)
    p = str(tmp_path / "band_dup")
    write_band_index(corpus, p, num_hashes=16, bands=4, ngram=2)
    append_band_index(delta, p)
    ask = lambda: sorted(map(tuple, probe_band_index(
        spark, p, probe_batch).collect()))
    clean = ask()
    append_band_index(delta, p)             # the replayed epoch
    rows_dup = spark.read.parquet(f"{p}/bands").count()
    stats = compact_band_index(spark, p)
    assert stats["rows_before"] == rows_dup
    assert stats["rows_after"] < stats["rows_before"]
    assert ask() == clean
    # one file per (band, bucket) partition after the full rewrite
    per = (spark.read.parquet(f"{p}/bands")
           .select("band", "bucket", F.input_file_name().alias("f"))
           .groupBy("band", "bucket")
           .agg(F.countDistinct("f").alias("nf")).collect())
    assert all(r["nf"] == 1 for r in per)


def test_text_index_deletion_equals_rebuild(spark, tmp_path):
    """delete_from_text_index: BM25 answers over the edited index equal
    a one-shot build WITHOUT the deleted documents (postings, doclens,
    and stats — idf/avgdl — all repaired), and deleted docs never
    surface in results."""
    from carbonapi_spark.datapipe.retrieval import (
        bm25_query_index, delete_from_text_index, write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    p, p_ref = str(tmp_path / "tix"), str(tmp_path / "tix_ref")
    write_text_index(docs, p, n_buckets=16)
    doomed = {r["doc_id"] for r in
              bm25_query_index(spark, p, "hash join order",
                               k=3).collect()}
    assert doomed
    stats = delete_from_text_index(spark, p, doomed)
    assert stats["rows_deleted"] > 0
    write_text_index(docs.where(~F.col("doc_id").isin(
        [int(i) for i in doomed])), p_ref, n_buckets=16)
    ask = lambda path: [(r["doc_id"], r["score"]) for r in
                        bm25_query_index(spark, path, "hash join order",
                                         k=15).collect()]
    got = ask(p)
    assert got == ask(p_ref) and got
    assert not ({d for d, _ in got} & doomed)


def test_band_index_deletion_stops_candidates(spark, tmp_path):
    """delete_from_band_index: a deleted document stops pairing with
    future deltas; probes equal an index built without it."""
    from carbonapi_spark.datapipe.dedup import (delete_from_band_index,
                                                probe_band_index,
                                                write_band_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    delta = docs.where(F.col("doc_id") % 5 == 4)
    p, p_ref = str(tmp_path / "bix"), str(tmp_path / "bix_ref")
    write_band_index(corpus, p, num_hashes=16, bands=4, ngram=2)
    clean = probe_band_index(spark, p, delta).collect()
    doomed = {int(r["id_a"]) for r in clean} | \
             {int(r["id_b"]) for r in clean if r["id_b"] not in
              {x["doc_id"] for x in delta.select("doc_id").collect()}}
    doomed = {d for d in doomed
              if d not in {r["doc_id"] for r in
                           delta.select("doc_id").collect()}}
    assert doomed                        # some indexed docs paired
    stats = delete_from_band_index(spark, p, doomed)
    assert stats["rows_deleted"] > 0
    write_band_index(corpus.where(~F.col("doc_id").isin(
        [int(i) for i in doomed])), p_ref, num_hashes=16, bands=4,
        ngram=2)
    got = sorted(map(tuple, probe_band_index(spark, p,
                                             delta).collect()))
    want = sorted(map(tuple, probe_band_index(spark, p_ref,
                                              delta).collect()))
    assert got == want
    ids_in_pairs = {i for t in got for i in (t[0], t[1])}
    assert not (ids_in_pairs & doomed)


def test_ranking_metrics_known_values(spark):
    import math
    from carbonapi_spark.datapipe.retrieval import ranking_metrics
    truth = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 0.9), (1, 12, 0.8)],
        "query_id long, neighbor_id long, cos_sim double")
    # results rank: 10 (hit, rk1), 99 (miss, rk2), 12 (hit, rk3)
    res = spark.createDataFrame(
        [(1, 10, 0.95), (1, 99, 0.94), (1, 12, 0.93)],
        "query_id long, neighbor_id long, cos_sim double")
    r = ranking_metrics(res, truth, k=10).collect()[0]
    assert (r["n_truth"], r["hits"]) == (3, 2)
    assert r["recall"] == round(2 / 3, 6)
    dcg = 1 / math.log2(2) + 1 / math.log2(4)
    idcg = sum(1 / math.log2(i + 1) for i in (1, 2, 3))
    assert r["ndcg"] == round(dcg / idcg, 6)
    # perfect results -> recall 1, ndcg 1
    perfect = ranking_metrics(truth, truth, k=10).collect()[0]
    assert (perfect["recall"], perfect["ndcg"]) == (1.0, 1.0)


def test_event_analytics_known_values(spark):
    from carbonapi_spark.datapipe.events import (
        cohort_retention, event_transitions, funnel)
    # user 1: view(10) click(20) buy(30)  — full journey
    # user 2: click(5) view(10) click(15) buy(12) — buy BEFORE the
    #         post-view click -> converts to click only
    # user 3: view(100) buy(110) — skips click -> stops at view
    rows = [(1, "view", 10, 1), (1, "click", 20, 2), (1, "buy", 30, 3),
            (2, "click", 5, 4), (2, "view", 10, 5), (2, "click", 15, 6),
            (2, "buy", 12, 7),
            (3, "view", 100, 8), (3, "buy", 110, 9)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, sec long, event_id long")
    f = {r["step"]: (r["n_users"], r["conversion"]) for r in
         funnel(ev, ["view", "click", "buy"]).collect()}
    assert f[1] == (3, 1.0)
    assert f[2] == (2, round(2 / 3, 6))
    assert f[3] == (1, round(1 / 3, 6))
    # within=15s: user 1's buy lands at t1+20 -> excluded
    fw = {r["step"]: r["n_users"] for r in
          funnel(ev, ["view", "click", "buy"], within_s=15).collect()}
    assert fw[3] == 0
    ret = {(r["cohort_period"], r["period_offset"]): r["n_users"]
           for r in cohort_retention(ev, period_s=50).collect()}
    # users 1,2 start period 0; user 3 starts period 2
    assert ret[(0, 0)] == 2 and ret[(2, 0)] == 1
    tr = {(r["event_type"], r["next_type"]): r["n"]
          for r in event_transitions(ev).collect()}
    assert tr[("view", "click")] == 1      # user 1
    assert tr[("view", "buy")] == 2        # user 2 (12s) and user 3
    assert tr[("buy", "__end__")] == 2     # users 1 and 3 end on buy
    assert tr[("buy", "click")] == 1       # user 2's early buy


def test_roc_auc_matches_sklearn_free_reference(spark):
    """AUC against a hand-rolled rank computation with ties, plus the
    known anchors: perfect separation -> 1, anti-separation -> 0,
    random-constant score -> 0.5 (all-tied)."""
    from carbonapi_spark.datapipe.text import roc_auc

    def ref_auc(pairs):
        scores = sorted(s for s, _ in pairs)
        import collections
        rank = {}
        i = 0
        while i < len(scores):
            j = i
            while j < len(scores) and scores[j] == scores[i]:
                j += 1
            for s in {scores[i]}:
                rank[s] = (i + 1 + j) / 2
            i = j
        pos = [rank[s] for s, y in pairs if y == 1]
        npos, nneg = len(pos), len(pairs) - len(pos)
        return (sum(pos) - npos * (npos + 1) / 2) / (npos * nneg)

    cases = [
        [(0.9, 1), (0.8, 1), (0.3, 0), (0.1, 0)],            # perfect
        [(0.1, 1), (0.2, 1), (0.8, 0), (0.9, 0)],            # inverted
        [(0.5, 1), (0.5, 0), (0.5, 1), (0.5, 0)],            # all tied
        [(0.9, 1), (0.5, 0), (0.5, 1), (0.5, 1), (0.2, 0)],  # mixed ties
    ]
    for pairs in cases:
        df = spark.createDataFrame(pairs, "s double, y int")
        got = roc_auc(df, "s", "y").collect()[0]
        assert got["auc"] == pytest.approx(ref_auc(pairs), abs=1e-12), pairs
    assert cases and ref_auc(cases[0]) == 1.0 and ref_auc(cases[1]) == 0.0
    # degenerate single-class -> NULL
    one = spark.createDataFrame([(0.5, 1), (0.9, 1)], "s double, y int")
    assert roc_auc(one, "s", "y").collect()[0]["auc"] is None


def test_calibration_curve_known_values(spark):
    from carbonapi_spark.datapipe.text import calibration_curve
    df = spark.createDataFrame(
        [(0.05, 0), (0.08, 0), (0.95, 1), (0.92, 0), (1.0, 1), (0.55, 1)],
        "s double, y int")
    got = {r["bin"]: (r["n"], r["mean_score"], r["pos_rate"]) for r in
           calibration_curve(df, "s", "y").collect()}
    assert got[0] == (2, round((0.05 + 0.08) / 2, 6), 0.0)
    assert got[5] == (1, 0.55, 1.0)
    # score 1.0 clamps into the last bin instead of bin 10
    assert got[9] == (3, round((0.95 + 0.92 + 1.0) / 3, 6),
                      round(2 / 3, 6))


def test_media_features_corrupt_payloads_degrade_nonstrict(spark):
    """Truncated/corrupt WAV and PNM payloads (valid magic, broken
    body) must degrade to null-feature rows when strict=False instead
    of failing the whole job — and still raise when strict."""
    import pytest as _pytest

    from carbonapi_spark.datapipe.multimodal import (
        media_dsp_features, media_features)
    rows = [
        (1, "audio", "audio/wav", b"RIFF\x00\x00", None),   # truncated WAV
        (2, "image", "image/pnm", b"P6\n#oops", None),      # broken header
        (3, "image", "image/pnm", b"P5\n4 4\n255\n\x01",
         None),                                             # short raster
    ]
    media = spark.createDataFrame(
        rows, "media_id LONG, kind STRING, mime STRING, "
              "payload BINARY, meta STRING")
    for fn in (media_features, media_dsp_features):
        lax = fn(media, strict=False).collect()
        assert len(lax) == 3
        for r in lax:
            assert all(r[c] is None for c in r.asDict()
                       if c not in ("media_id", "kind", "n_bytes"))
        with _pytest.raises(Exception):
            fn(media).collect()


def test_ranking_metrics_zero_result_query_reports_zero(spark):
    """A query present in truth with NO result rows must surface as
    recall=0/ndcg=0 instead of disappearing from the eval output."""
    from carbonapi_spark.datapipe.retrieval import ranking_metrics
    truth = spark.createDataFrame(
        [(1, 10, 1.0), (1, 11, 0.9), (2, 20, 1.0)],
        "query_id long, neighbor_id long, cos_sim double")
    res = spark.createDataFrame(
        [(1, 10, 0.8)], "query_id long, neighbor_id long, cos_sim double")
    out = {r["query_id"]: r for r in ranking_metrics(res, truth).collect()}
    assert set(out) == {1, 2}
    assert (out[2]["hits"], out[2]["recall"], out[2]["ndcg"]) == (0, 0.0, 0.0)
    assert out[1]["hits"] == 1


def test_rrf_fuse_caps_unbounded_inputs(spark):
    """The global rank window must never see more than max_candidates
    rows per list — an unbounded input degrades to its top slice."""
    from carbonapi_spark.datapipe.retrieval import rrf_fuse
    big = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        (1000 - F.col("id")).cast("double").alias("score"))
    fused = rrf_fuse([big, big], k=60, n=5, max_candidates=100).collect()
    assert [r["doc_id"] for r in fused] == [0, 1, 2, 3, 4]
    # ranks were computed within the capped top-100, so the best doc's
    # fused score is 2/(60+1)
    assert fused[0]["rrf_score"] == round(2 / 61, 6)


def test_compact_index_preserves_probe_and_prunes_files(spark, tmp_path):
    """compact_index: file count inside the partition dirs drops after
    repeated appends, probe answers are identical, and the partition
    layout (the pruning key) survives the swap — for BOTH index
    families."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.retrieval import (
        append_text_index, bm25_query_index, write_text_index)
    from carbonapi_spark.datapipe.similarity import (
        ann_index_topk, append_ann_index, ivf_centroids, pq_codebooks,
        write_ann_index)
    from carbonapi_spark.sources.corpus import (
        _count_parquet_files, compact_index)

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tix = str(tmp_path / "tix")
    write_text_index(docs.where(F.col("doc_id") % 3 == 0), tix,
                     n_buckets=8)
    for m in (1, 2):
        append_text_index(docs.where(F.col("doc_id") % 3 == m), tix)
    before = bm25_query_index(spark, tix, "hash join order", k=10).collect()
    nfiles0 = _count_parquet_files(spark, f"{tix}/postings")
    compact_index(spark, tix)
    after = bm25_query_index(spark, tix, "hash join order", k=10).collect()
    assert before == after
    assert _count_parquet_files(spark, f"{tix}/postings") < nfiles0
    # partition layout survived
    pdirs = spark.read.parquet(f"{tix}/postings").select("bucket").distinct()
    assert pdirs.count() > 0

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    aix = str(tmp_path / "aix")
    write_ann_index(emb.where(F.col("vec_id") % 3 == 0), aix,
                    pq_codebooks(64, 8, 16, 44), ivf_centroids(64, 4, 43))
    for m in (1, 2):
        append_ann_index(emb.where(F.col("vec_id") % 3 == m), aix)
    q = emb.where(F.col("vec_id") < 3)
    b = ann_index_topk(spark, aix, q, k=5, nprobe=2).collect()
    n0 = _count_parquet_files(spark, f"{aix}/codes")
    compact_index(spark, aix)
    assert ann_index_topk(spark, aix, q, k=5, nprobe=2).collect() == b
    assert _count_parquet_files(spark, f"{aix}/codes") < n0


def test_stream_semantic_ordered_equals_batch(spark, tmp_path):
    """ordered=True replay: a shuffled single-batch feed must produce
    exactly batch semantic_dedup's keep set (the default mode is
    arrival-order-dependent by design)."""
    import random

    from carbonapi_spark.datapipe.similarity import semantic_dedup
    from carbonapi_spark.streaming.stateful import stream_semantic_dedup
    dim = 64
    rng = random.Random(7)
    base = [rng.gauss(0, 1) for _ in range(dim)]
    rows = []
    for i in range(40):
        if i % 4 == 0:
            v = [x * (1 + 0.001 * i) for x in base]     # near-dup family
        else:
            v = [rng.gauss(0, 1) for _ in range(dim)]
        rows.append((i, v))
    rng.shuffle(rows)  # hostile arrival order
    src = str(tmp_path / "vecs")
    spark.createDataFrame(rows, "vec_id LONG, embedding ARRAY<DOUBLE>") \
        .repartition(5).write.parquet(src)
    batch = {r["vec_id"]: r["keep"] for r in semantic_dedup(
        spark.read.parquet(src), dim=dim, n_centroids=4,
        tau=0.9).collect()}
    stream = (spark.readStream
              .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
              .parquet(src))
    out = stream_semantic_dedup(stream, dim=dim, n_centroids=4,
                                tau=0.9, ordered=True)
    got: dict = {}

    def sink(bdf, _):
        got.update((int(r["vec_id"]), bool(r["keep"]))
                   for r in bdf.collect())

    q = (out.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    assert got == batch and not all(batch.values())


def test_wordpiece_known_values(spark):
    """WordPiece prefers rare-apart pairs: in 'aa ab ab ab', BPE would
    merge (a,b) first (count 3 > 2) but WordPiece merges (a,a) first —
    score 1/(5*5)=0.04 for (a,b)... wait count(a)=5, count(b)=3:
    (a,b): 3/(5*3)=0.2; (a,a): 1/(5*5)=0.04 -> (a,b) still first.  Use
    a corpus where the likelihood flips the raw-count order:
    'xy' x3 and 'zq' x2 with extra lone 'x','y' tokens — (z,q) has
    lower count but a perfect score."""
    from carbonapi_spark.datapipe.bpe import wordpiece_train
    docs = spark.createDataFrame(
        [(0, "xy xy xy zq zq x x x x y y y y")],
        "doc_id LONG, text STRING")
    out = wordpiece_train(docs, n_merges=2).collect()
    # counts: x=7, y=7, z=2, q=2; pairs: (x,y)=3 -> 3/49, (z,q)=2 -> 2/4
    assert (out[0]["lhs"], out[0]["rhs"]) == ("z", "q")
    assert out[0]["pair_count"] == 2 and out[0]["score"] == 0.5
    assert (out[1]["lhs"], out[1]["rhs"]) == ("x", "y")
    assert out[1]["score"] == 3 / 49


def test_wordpiece_encode_greedy_longest_match(spark):
    """Greedy longest-match-first inference: the longest in-vocab
    prefix wins at every position, continuations are ##-prefixed,
    single chars are implicit vocab (never [UNK]), and segments
    concatenate back to the token."""
    from carbonapi_spark.datapipe.bpe import wordpiece_encode
    docs = spark.createDataFrame(
        [(1, "unaffable unable hello zzz")], "doc_id LONG, text STRING")
    vocab = ["un", "able", "ff", "lo", "hel"]
    out = {r["token"]: r["pieces"]
           for r in wordpiece_encode(docs, vocab).collect()}
    assert out["unaffable"] == ["un", "##a", "##ff", "##able"]
    assert out["unable"] == ["un", "##able"]
    assert out["hello"] == ["hel", "##lo"]
    assert out["zzz"] == ["z", "##z", "##z"]  # implicit single chars
    for tok, pieces in out.items():
        assert "".join(p.removeprefix("##") for p in pieces) == tok
    # empty vocab degrades to per-char segmentation
    only = {r["token"]: r["pieces"]
            for r in wordpiece_encode(docs, []).collect()}
    assert only["unable"] == ["u", "##n", "##a", "##b", "##l", "##e"]


def test_attribution_known_values(spark):
    from carbonapi_spark.datapipe.events import attribution
    # u1: view(10) click(20) buy(30)      -> last=click, first=view
    # u2: click(5) buy(6); view(100) buy(101) -> last: click then view
    # u3: buy(50) with no touch           -> __none__
    # u4: view(0) buy(999999, outside 100s lookback) -> __none__
    rows = [(1, "view", 10, 1), (1, "click", 20, 2), (1, "buy", 30, 3),
            (2, "click", 5, 4), (2, "buy", 6, 5),
            (2, "view", 100, 6), (2, "buy", 101, 7),
            (3, "buy", 50, 8),
            (4, "view", 0, 9), (4, "buy", 999999, 10)]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, sec long, event_id long")
    last = {r["channel"]: r["n_conversions"] for r in attribution(
        ev, "buy", ["view", "click"], "last", lookback_s=100).collect()}
    assert last == {"click": 2, "view": 1, "__none__": 2}
    first = {r["channel"]: r["n_conversions"] for r in attribution(
        ev, "buy", ["view", "click"], "first", lookback_s=100).collect()}
    # u1 first touch = view(10); u2's second buy: first touch click(5)
    # is 96s old -> inside 100s lookback
    assert first == {"view": 1, "click": 2, "__none__": 2}
    # no lookback: u4 credits its ancient view
    nolb = {r["channel"]: r["n_conversions"] for r in attribution(
        ev, "buy", ["view", "click"], "last").collect()}
    assert nolb == {"click": 2, "view": 2, "__none__": 1}


def test_rfm_segments_known_values(spark):
    from carbonapi_spark.datapipe.events import rfm_segments
    rows = [(u, "e", ts, i) for i, (u, ts) in enumerate(
        [(1, 100), (1, 200), (1, 300),     # freq 3, recency 300
         (2, 50),                          # freq 1, recency 50
         (3, 400), (3, 10)])]              # freq 2, recency 400
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, sec long, event_id long")
    out = {r["user_id"]: r for r in rfm_segments(ev, n_bins=3).collect()}
    assert (out[1]["recency"], out[1]["frequency"]) == (300, 3)
    # recency order: u2(50) u1(300) u3(400) -> bins 1,2,3
    assert [out[u]["r_bin"] for u in (2, 1, 3)] == [1, 2, 3]
    # frequency order: u2(1) u3(2) u1(3) -> bins 1,2,3
    assert [out[u]["f_bin"] for u in (2, 3, 1)] == [1, 2, 3]


def test_rfm_segments_approx_mode(spark):
    """exact=False (the no-global-sort 100 TB path): bins stay in
    [1, n], are monotone in the underlying value, and on a spread-out
    tie-free corpus every bin is populated."""
    from carbonapi_spark.datapipe.events import rfm_segments
    rows = [(u, "e", 100 * u, u) for u in range(1, 31)]  # distinct r & f
    rows += [(u, "e", 100 * u - 1, 1000 + u) for u in range(1, 31)
             for _ in range(u)]  # frequency grows with user_id
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, sec long, event_id long")
    out = sorted(rfm_segments(ev, n_bins=3, exact=False).collect(),
                 key=lambda r: r["user_id"])
    assert all(1 <= r["r_bin"] <= 3 and 1 <= r["f_bin"] <= 3 for r in out)
    recs = [(r["recency"], r["r_bin"]) for r in out]
    assert all(b2 >= b1 for (v1, b1), (v2, b2) in zip(recs, recs[1:])
               if v2 >= v1)  # monotone in recency
    assert {r["r_bin"] for r in out} == {1, 2, 3}
    assert {r["f_bin"] for r in out} == {1, 2, 3}
    # schema identical to the exact mode
    assert rfm_segments(ev, exact=False).columns == \
        rfm_segments(ev, exact=True).columns


def test_url_canonicalization_known_values(spark):
    from carbonapi_spark.datapipe.web import (
        domain_stats, url_dedup_key)
    rows = [
        (1, "HTTP://WWW.Ex.COM:80/A/b?utm_source=x&z=1&a=2#frag"),
        (2, "http://user:pw@EX.com:80/A/b?z=1&a=2&utm_medium=y"),
        (3, "https://sub.shop.example.CO.UK/p"),
        (4, "http://ex.com"),                      # empty path -> /
        (5, "https://ex.com/p?utm_source=x"),      # tracking-only query
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, url STRING")
    out = {r["doc_id"]: r for r in url_dedup_key(df).collect()}
    assert out[1]["canon_url"] == "http://ex.com/A/b?a=2&z=1"
    assert out[2]["canon_url"] == "http://ex.com/A/b?a=2&z=1"
    assert out[3]["canon_url"] == "https://sub.shop.example.co.uk/p"
    assert out[3]["domain"] == "example.co.uk"
    assert out[4]["canon_url"] == "http://ex.com/"
    assert out[5]["canon_url"] == "https://ex.com/p"
    assert out[1]["domain"] == out[2]["domain"] == "ex.com"
    st = {r["domain"]: r for r in domain_stats(df).collect()}
    # ids 1,2,4,5 are ex.com: 4 pages, 3 distinct canons (1==2)
    assert (st["ex.com"]["n_pages"], st["ex.com"]["n_canon_urls"]) == (4, 3)
    assert st["ex.com"]["dup_ratio"] == 0.25


def test_tokenizer_local_trainer_equals_distributed(spark):
    """The size-gated driver trainer must produce the BIT-IDENTICAL
    merge table as the distributed loop, for both BPE (count argmax)
    and WordPiece (likelihood argmax incl. the IEEE score)."""
    from carbonapi_spark.datapipe.bpe import bpe_train, wordpiece_train
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for fn, nm in ((bpe_train, 8), (wordpiece_train, 6)):
        a = [tuple(r) for r in fn(docs, n_merges=nm, local=True).collect()]
        b = [tuple(r) for r in fn(docs, n_merges=nm,
                                  local=False).collect()]
        assert a == b and len(a) == nm, fn.__name__


def test_stream_semantic_dedup_overflow_matches_batch(spark, tmp_path):
    """Ordered-replay mode on an OVERFLOWING cell (max_cell=2, 4 same-
    cell vectors): batch semantic_dedup's sorted-prefix truncation
    emits no row for beyond-cap vectors, and the streaming replay must
    match — same row SET, same keep verdicts."""
    import json

    from carbonapi_spark.datapipe.similarity import semantic_dedup
    from carbonapi_spark.streaming.stateful import stream_semantic_dedup
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()
    dim = 4
    vecs = [(i, [1.0, float(i) * 0.001, 0.0, 0.0]) for i in range(4)]
    batch_df = spark.createDataFrame(
        vecs, "vec_id LONG, embedding ARRAY<DOUBLE>")
    want = sorted((r["vec_id"], r["keep"])
                  for r in semantic_dedup(batch_df, dim=dim,
                                          n_centroids=2, tau=0.9,
                                          max_cell=2).collect())
    (src / "a.json").write_text("\n".join(
        json.dumps({"vec_id": i, "embedding": v}) for i, v in vecs))

    def stream():
        s = (spark.readStream
             .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
             .json(str(src)))
        return stream_semantic_dedup(s, dim=dim, n_centroids=2,
                                     tau=0.9, max_cell=2, ordered=True)

    _run_stream(stream, src, out, ck)
    got = sorted((r["vec_id"], r["keep"])
                 for r in spark.read.parquet(str(out)).collect())
    assert got == want and len(got) == 2


def test_durable_band_index_probe_matches_memory(spark, tmp_path):
    """Durable MinHash band index: the pruned disk probe equals the
    in-memory incremental candidates exactly; an appended index equals
    a one-shot build over corpus+delta; mismatch-proof via stored
    params."""
    from carbonapi_spark.datapipe.dedup import (
        append_band_index, minhash_band_index,
        minhash_incremental_candidates, probe_band_index,
        write_band_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    delta = docs.where(F.col("doc_id") % 5 == 4)
    path = str(tmp_path / "bandidx")
    write_band_index(corpus, path, num_hashes=16, bands=4, ngram=2)
    got = sorted(map(tuple,
                     probe_band_index(spark, path, delta).collect()))
    idx = minhash_band_index(corpus, num_hashes=16, bands=4, ngram=2)
    want = sorted(map(tuple, minhash_incremental_candidates(
        delta, idx, num_hashes=16, bands=4, ngram=2).collect()))
    assert got == want and len(got) > 0
    # append the delta: probing a NEW delta against the grown index
    # equals probing a one-shot index over corpus+delta
    append_band_index(delta, path)
    delta2 = docs.where(F.col("doc_id") % 7 == 3)
    got2 = sorted(map(tuple, probe_band_index(spark, path,
                                              delta2).collect()))
    path2 = str(tmp_path / "bandidx2")
    write_band_index(docs, path2, num_hashes=16, bands=4, ngram=2)
    # one-shot over the FULL corpus (corpus+delta == docs)
    got3 = sorted(map(tuple, probe_band_index(spark, path2,
                                              delta2).collect()))
    assert got2 == got3


def test_budget_select_greedy_prefix_exact(spark):
    from carbonapi_spark.datapipe.sampling import budget_select
    # scores with ties (doc_id breaks them), token counts chosen so the
    # budget boundary lands mid-tie-group and mid-bucket
    rows = [(i, (1000 - i) // 3, 10 + i % 7) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, s long, nt long")
    got = budget_select(df, "s", 1500, "nt", n_buckets=8).collect()
    # reference: plain greedy prefix over the sorted list
    order = sorted(rows, key=lambda r: (-r[1], r[0]))
    cum, want = 0, {}
    for i, s, nt in order:
        cum += nt
        if cum > 1500:
            break
        want[i] = cum
    assert {r["doc_id"]: r["cum_tokens"] for r in got} == want
    assert all(r["cum_tokens"] <= 1500 for r in got)
    # every selected score strictly dominates every rejected one (up to
    # the doc_id tiebreak inside one score class at the boundary)
    sel = {r["doc_id"] for r in got}
    smin = min(r["s"] for r in got)
    for i, s, nt in rows:
        if i not in sel:
            assert s <= smin


def test_budget_select_no_global_single_partition_sort(spark):
    from carbonapi_spark.datapipe.sampling import budget_select
    df = spark.createDataFrame(
        [(i, i * 37 % 997, 5) for i in range(500)],
        "doc_id long, s long, nt long")
    plan = budget_select(df, "s", 999999, "nt")._jdf \
        .queryExecution().executedPlan().toString()
    # the per-row running sum must partition by bucket; the only
    # allowed single-partition window is over the n_buckets-row offset
    # table.  A corpus-sized `Window [... ORDER BY s DESC]` with no
    # partition spec would show up as a Sort over the full input with
    # a SinglePartition exchange feeding it.
    import re
    windows = re.findall(r"Window .*", plan)
    assert any("__bkt" in w for w in windows), plan


def test_js_divergence_bounds_and_reference(spark):
    import math
    from collections import Counter
    from carbonapi_spark.datapipe.text import js_divergence
    # single source == corpus distribution -> JS exactly 0
    one = spark.createDataFrame([(1, "s", "a b b c")],
                                "doc_id long, source string, text string")
    assert js_divergence(one).collect()[0]["js"] == 0.0
    # two skewed sources: check against a direct python computation
    rows = [(1, "x", "a a a b"), (2, "y", "b c c c c d")]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {r["source"]: r["js"] for r in js_divergence(df).collect()}
    toks = {"x": "a a a b".split(), "y": "b c c c c d".split()}
    corpus = Counter(toks["x"]) + Counter(toks["y"])
    n = sum(corpus.values())
    for src, ts in toks.items():
        pg = Counter(ts)
        ng = len(ts)
        js = 0.0
        for t in corpus:
            p = pg.get(t, 0) / ng
            c = corpus[t] / n
            m = (p + c) / 2
            if p > 0:
                js += 0.5 * p * math.log(p / m)
            js += 0.5 * c * math.log(c / m)
        assert abs(got[src] - js) < 1e-6, (src, got[src], js)
        assert 0.0 <= got[src] <= math.log(2) + 1e-9


def test_margin_topk_matches_numpy_reference(spark):
    import numpy as np
    from carbonapi_spark.datapipe.similarity import margin_topk
    rng = [(i, [float(((i * 37 + j * 17) % 19) - 9) / 9
                for j in range(8)]) for i in range(40)]
    df = spark.createDataFrame(rng, "vec_id long, embedding array<float>")
    got = margin_topk(df, df.where(F.col("vec_id") < 4), k=5, knn=3)
    rows = {(r["query_id"], r["cand_id"]): (r["cos_sim"], r["margin"])
            for r in got.collect()}
    assert len(rows) == 4 * 5
    V = {i: np.array(v, dtype=np.float64) for i, v in
         [(i, [float(np.float32(x)) for x in v]) for i, v in rng]}

    def cos(a, b):
        return round(float(V[a] @ V[b]
                           / (np.linalg.norm(V[a]) * np.linalg.norm(V[b]))), 6)
    for x in range(4):
        sims = sorted(((cos(x, y), -y) for y in V if y != x), reverse=True)
        ax = float(np.mean([s for s, _ in sims[:3]]))
        for s, ny in sims[:5]:
            y = -ny
            ys = sorted((cos(y, z) for z in range(4) if z != y),
                        reverse=True)
            ay = float(np.mean(ys[:3]))
            want = round(s / ((ax + ay) / 2), 6)
            gs, gm = rows[(x, y)]
            assert gs == s
            assert abs(gm - want) < 2e-6, ((x, y), gm, want)


def test_margin_topk_demotes_hub(spark):
    import numpy as np
    from carbonapi_spark.datapipe.similarity import margin_topk
    # hub vector 100 is moderately close to EVERY query direction;
    # vector 101 is an exclusive near-duplicate of query 0.  Cosine may
    # rank the hub competitively, margin must rank the exclusive pair
    # strictly higher for query 0 than any hub pairing.
    base = np.eye(8)
    rows = [(0, list(base[0])), (1, list(base[1])), (2, list(base[2])),
            (100, list((base[:4].sum(0) / np.linalg.norm(base[:4].sum(0))))),
            (101, list(0.97 * base[0] + 0.03 * base[3]))]
    df = spark.createDataFrame([(i, [float(x) for x in v]) for i, v in rows],
                               "vec_id long, embedding array<float>")
    got = margin_topk(df, df.where(F.col("vec_id") < 3), k=3, knn=2)
    m = {(r["query_id"], r["cand_id"]): r["margin"] for r in got.collect()}
    assert m[(0, 101)] > m[(0, 100)]


def test_stream_source_quota_state_across_runs(spark, tmp_path):
    """Per-source token quota: the arrival-order prefix fits, the
    faucet stays closed across runs once the stream total passes the
    quota — even for later docs that would individually fit."""
    import json
    from carbonapi_spark.streaming.stateful import stream_source_quota
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream
             .schema("doc_id LONG, source STRING, n_tokens LONG")
             .json(str(src)))
        return stream_source_quota(s, 100)

    (src / "a.json").write_text("\n".join(json.dumps(d) for d in [
        {"doc_id": 1, "source": "x", "n_tokens": 40},
        {"doc_id": 2, "source": "x", "n_tokens": 50},
        {"doc_id": 3, "source": "x", "n_tokens": 30},   # 120 > 100: closed
        {"doc_id": 4, "source": "y", "n_tokens": 90}]))
    _run_stream(stream, src, out, ck)
    (src / "b.json").write_text("\n".join(json.dumps(d) for d in [
        {"doc_id": 5, "source": "x", "n_tokens": 1},    # x already closed
        {"doc_id": 6, "source": "y", "n_tokens": 10},   # fits exactly
        {"doc_id": 7, "source": "y", "n_tokens": 1}]))  # 101 > 100
    _run_stream(stream, src, out, ck)

    rows = {r["doc_id"]: r for r in spark.read.parquet(str(out)).collect()}
    assert sorted(rows) == [1, 2, 4, 6]
    assert rows[2]["cum_tokens"] == 90
    assert rows[6]["cum_tokens"] == 100


def test_kn_trigram_ppl_matches_python(spark):
    """Two-level interpolated KN replayed in pure Python; the mid level
    must use continuation TYPES (distinct left contexts), not counts."""
    import math
    from collections import Counter

    from carbonapi_spark.datapipe.text import kn_trigram_perplexity_buckets
    texts = {0: "a b c a b c a b c", 1: "a b c d e f g",
             2: "x y", 3: "c a b c a b"}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    out = {r["doc_id"]: r["cross_entropy"]
           for r in kn_trigram_perplexity_buckets(df).collect()}
    tris = {d: [" ".join(t.split()[i:i + 3])
                for i in range(len(t.split()) - 2)]
            for d, t in texts.items()}
    ct = Counter(g for gs in tris.values() for g in gs)
    c12 = Counter(); n1h = Counter(); a23 = Counter()
    for g, c in ct.items():
        w1, w2, w3 = g.split()
        c12[(w1, w2)] += c; n1h[(w1, w2)] += 1
        a23[(w2, w3)] += 1
    d2 = Counter(); t2 = Counter(); n1u = Counter()
    for (w2, w3), a in a23.items():
        d2[w2] += a; t2[w2] += 1; n1u[w3] += 1
    types = len(a23)
    d0 = 0.75
    want = {}
    for doc, gs in tris.items():
        if not gs:
            continue
        tot = 0.0
        for g in gs:
            w1, w2, w3 = g.split()
            pc = n1u[w3] / types
            pm = (max(a23[(w2, w3)] - d0, 0) / d2[w2]
                  + d0 * t2[w2] / d2[w2] * pc)
            p = (max(ct[g] - d0, 0) / c12[(w1, w2)]
                 + d0 * n1h[(w1, w2)] / c12[(w1, w2)] * pm)
            tot += -math.log(p)
        want[doc] = round(tot / len(gs), 6)
    for doc, h in want.items():
        assert out[doc] == pytest.approx(h, abs=2e-6), doc
    assert out[2] == round(max(want.values()) + 1, 6)  # no-trigram tail
    assert out[0] < out[1]  # repetition scores as lower entropy


def test_curriculum_order_interleaves_buckets(spark):
    from carbonapi_spark.datapipe.sampling import curriculum_order
    df = spark.createDataFrame([(i, (i * 7) % 40 + 1) for i in range(80)],
                               "doc_id long, s long")
    got = curriculum_order(df, "s", n_buckets=4).collect()
    assert len(got) == 80
    ranks = [r["curriculum_rank"] for r in got]
    assert len(set(ranks)) == 80          # unique global order key
    by_rank = sorted(got, key=lambda r: r["curriculum_rank"])
    # rank determines bucket arithmetically: rank % 4 == bucket % 4
    for r in by_rank:
        assert r["curriculum_rank"] % 4 == r["bucket"] % 4
    # with balanced buckets the first len(buckets) ranks cover all 4
    assert {r["bucket"] for r in by_rank[:4]} == {1, 2, 3, 4}
    # easiness is monotone across buckets: every bucket-1 score <= every
    # bucket-4 score
    s1 = [r["s"] for r in got if r["bucket"] == 1]
    s4 = [r["s"] for r in got if r["bucket"] == 4]
    assert max(s1) <= min(s4)


def test_bm25_batch_matches_per_query_and_excludes_truth(spark):
    from carbonapi_spark.datapipe.retrieval import (bm25_batch, bm25_scores,
                                                    hard_negatives)
    texts = {i: f"alpha beta doc{i} " + ("alpha " * (i % 4))
             + ("gamma " * (i % 3)) for i in range(30)}
    df = spark.createDataFrame(list(texts.items()),
                               "doc_id long, text string")
    qs = [(0, "alpha gamma"), (1, "beta doc3")]
    got = {(r["query_id"], r["doc_id"]): r["score"]
           for r in bm25_batch(df, qs).collect()}
    # the batch scores equal the one-query operator's, query by query
    for qid, q in qs:
        for r in bm25_scores(df, q).collect():
            assert got[(qid, r["doc_id"])] == r["score"], (qid, r)
    truth = spark.createDataFrame([(0, 4), (0, 8), (1, 3)],
                                  "query_id int, doc_id long")
    neg = hard_negatives(df, qs, truth, k=5).collect()
    pairs = {(r["query_id"], r["doc_id"]) for r in neg}
    assert pairs.isdisjoint({(0, 4), (0, 8), (1, 3)})
    for qid in (0, 1):
        ranks = sorted(r["rank"] for r in neg if r["query_id"] == qid)
        assert ranks == [1, 2, 3, 4, 5]


def test_split_leakage_flags_only_cross_split_neardups(spark):
    from carbonapi_spark.datapipe.dedup import split_leakage
    from carbonapi_spark.datapipe.sampling import train_val_test_split
    # 3 near-dup families of 4 docs each + unique filler
    rows = []
    for fam in range(3):
        words = " ".join(f"tok{fam}x{k}" for k in range(14))
        base = f"family {fam} {words}"
        for j in range(4):
            rows.append((fam * 4 + j, base + f" tail{j}"))
    for i in range(12, 40):
        rows.append((i, f"unique filler doc {i} with words w{i} v{i} u{i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = split_leakage(df, val=0.3, test=0.3, threshold=0.3)
    leaks = {(r["id_a"], r["id_b"]) for r in got.collect()}
    splits = {r["doc_id"]: r["split"]
              for r in train_val_test_split(df, 0.3, 0.3).collect()}
    for a, b in leaks:
        assert a // 4 == b // 4          # only family pairs are near-dups
        assert splits[a] != splits[b]    # and they straddle the split
    # every family spanning >= 2 splits must produce at least one leak
    for fam in range(3):
        fam_splits = {splits[fam * 4 + j] for j in range(4)}
        if len(fam_splits) > 1:
            assert any(a // 4 == fam for a, _ in leaks), (fam, fam_splits)


def test_readability_hand_check(spark):
    from carbonapi_spark.datapipe.text import readability
    doc = "The cat sat. It purred! Happy cat?"
    df = spark.createDataFrame([(0, doc), (1, ""), (2, "xyzzy 42")],
                               "doc_id long, text string")
    out = {r["doc_id"]: r for r in readability(df).collect()}
    r0 = out[0]
    # 3 sentences, 7 words; syllables: The(1) cat(1) sat.(1) It(1)
    # purred!(2: u, e) Happy(2: a, y) cat?(1) = 9
    assert r0["n_sent"] == 3 and r0["n_words"] == 7 and r0["n_syll"] == 9
    wps, spw = 7 / 3, 9 / 7
    assert r0["flesch"] == pytest.approx(
        206.835 - 1.015 * wps - 84.6 * spw, abs=1e-5)
    assert r0["fk_grade"] == pytest.approx(
        0.39 * wps + 11.8 * spw - 15.59, abs=1e-5)
    # "cat" appears as distinct tokens "cat" / "sat." / "cat?" etc. —
    # all 7 tokens are distinct strings here
    assert r0["ttr"] == pytest.approx(1.0)
    # empty doc: floor-1 sentences, no words, NULL scores
    r1 = out[1]
    assert r1["n_sent"] == 1 and r1["n_words"] == 0 and r1["n_syll"] == 0
    assert r1["flesch"] is None and r1["ttr"] is None
    # "xyzzy" has two separate y-runs (2) + numeric token floors at 1
    assert out[2]["n_syll"] == 3


def test_active_users_hand_check(spark):
    from carbonapi_spark.datapipe.events import active_users
    # u1 active days 0 and 2; u2 active day 0 only (two events, one day)
    rows = [("u1", 10), ("u1", 2 * 86400 + 5), ("u2", 20), ("u2", 30)]
    df = spark.createDataFrame(rows, "user_id string, sec long")
    out = {r["day"]: r for r in active_users(df, windows=(1, 7)).collect()}
    assert set(out) == {0, 1, 2}          # capped at the last active day
    assert out[0]["au1d"] == 2 and out[0]["au7d"] == 2
    assert out[1]["au1d"] == 0 and out[1]["au7d"] == 2   # both in 7d tail
    assert out[2]["au1d"] == 1 and out[2]["au7d"] == 2
    assert out[0]["stickiness"] == 1.0
    assert out[1]["stickiness"] == 0.0
    assert out[2]["stickiness"] == 0.5
    import pytest as _p
    with _p.raises(ValueError):
        active_users(df, windows=(0, 7))


def test_asof_join_hand_check(spark):
    from carbonapi_spark.datapipe.events import asof_join
    quotes = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0), ("b", 15, 5.0)],
        "user_id string, sec long, value double")
    trades = spark.createDataFrame(
        [("a", 9, "t1"), ("a", 10, "t2"), ("a", 25, "t3"), ("b", 14, "t4"),
         ("c", 99, "t5")],
        "user_id string, sec long, tid string")
    out = {r["tid"]: r for r in asof_join(
        trades, quotes, on="sec", by=("user_id",),
        right_cols=("value",)).collect()}
    assert out["t1"]["value_r"] is None           # nothing at or before 9
    assert out["t2"]["value_r"] == 1.0            # inclusive equal ts
    assert out["t3"]["value_r"] == 2.0 and out["t3"]["sec_r"] == 20
    assert out["t4"]["value_r"] is None
    assert out["t5"]["value_r"] is None           # group with no quotes
    # tolerance: t3's match is 5s stale, drop it at tolerance 4
    tol = {r["tid"]: r for r in asof_join(
        trades, quotes, right_cols=("value",), tolerance_s=4).collect()}
    assert tol["t3"]["value_r"] is None and tol["t2"]["value_r"] == 1.0
    # forward: earliest quote at-or-after
    fwd = {r["tid"]: r for r in asof_join(
        trades, quotes, right_cols=("value",),
        direction="forward").collect()}
    assert fwd["t1"]["value_r"] == 1.0 and fwd["t3"]["value_r"] is None
    assert fwd["t4"]["value_r"] == 5.0
    import pytest as _p
    with _p.raises(ValueError):
        asof_join(trades, quotes, direction="sideways")


def test_bloom_filter_one_sided_and_deterministic(spark):
    """Members NEVER miss (the safe-pre-filter contract); false
    positives exist at this (m, k) and are deterministic across
    builds; a disjoint probe set stays mostly negative."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sketch import bloom_build, bloom_probe
    members = spark.range(100).select(F.col("id").alias("key"))
    bloom = bloom_build(members, "key", m_bits=1024, k=3)
    out = bloom_probe(spark.range(500).select(F.col("id").alias("key")),
                      bloom, "key", m_bits=1024, k=3).collect()
    assert all(r["maybe_member"] for r in out if r["key"] < 100)
    fp = sorted(r["key"] for r in out if r["key"] >= 100
                and r["maybe_member"])
    assert 0 < len(fp) < 40  # one-sided, small error at m/n = 10
    bloom2 = bloom_build(members, "key", m_bits=1024, k=3)
    out2 = bloom_probe(spark.range(500).select(F.col("id").alias("key")),
                       bloom2, "key", m_bits=1024, k=3).collect()
    assert sorted(r["key"] for r in out2 if r["key"] >= 100
                  and r["maybe_member"]) == fp


def test_bloom_probe_is_map_side_only(spark):
    """The probe plan must contain ONLY broadcast hash joins — the
    corpus side is never exchanged, never exploded: membership against
    a billion-key set costs k in-codegen lookups per row."""
    import re

    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.sketch import bloom_build, bloom_probe
    members = spark.range(50).select(F.col("id").alias("key"))
    bloom = bloom_build(members, "key", m_bits=512, k=4)
    out = bloom_probe(spark.range(200).select(F.col("id").alias("key")),
                      bloom, "key", m_bits=512, k=4)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"BroadcastHashJoin", plan)) == 4
    assert not re.search(r"SortMergeJoin|ShuffledHashJoin", plan)
    # the bitmap is checkpointed: its build aggregation must not appear
    # once per join in the probe plan
    assert len(re.findall(r"bit_or", plan)) == 0


def test_stream_cms_matches_batch_across_batches(spark, tmp_path):
    """The streamed count-min table (state summed across micro-batches
    AND a checkpointed restart) must equal the batch sketch row for
    row — addition is order-insensitive, so arrival slicing can't move
    a counter, and the restart must be a no-op."""
    from carbonapi_spark.datapipe.sketch import cms_counters
    from carbonapi_spark.streaming.stateful import stream_cms_counters

    rows = [(i, f"tok{i % 37} tok{i % 11} shared") for i in range(2000)]
    src = str(tmp_path / "src")
    batch = spark.createDataFrame(rows, "doc_id long, text string")
    batch.repartition(4).write.parquet(src)

    final: dict = {}

    def sink(bdf, _bid):
        for r in bdf.collect():
            k = (r["depth"], r["bucket"])
            final[k] = max(final.get(k, 0), r["cnt"])

    ckpt = str(tmp_path / "ckpt")
    stream = (spark.readStream.schema(batch.schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = stream_cms_counters(stream, "text", w=128, d=3)
    for _run in range(2):
        q = (out.writeStream.outputMode("update").foreachBatch(sink)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    want = {(r["depth"], r["bucket"]): r["cnt"]
            for r in cms_counters(batch, "text", w=128, d=3).collect()}
    assert final == want and len(want) > 30


def test_cohen_kappa_textbook(spark):
    """Classic 2x2: 20 yy / 5 yn / 10 ny / 15 nn -> p_o 0.7, p_e 0.5,
    kappa 0.4."""
    from carbonapi_spark.datapipe.evals import cohen_kappa
    rows = ([("y", "y")] * 20 + [("y", "n")] * 5
            + [("n", "y")] * 10 + [("n", "n")] * 15)
    df = spark.createDataFrame(rows, "a string, b string")
    r = cohen_kappa(df, "a", "b").collect()[0]
    assert (r["n"], r["p_o"], r["p_e"], r["kappa"]) == (50, 0.7, 0.5, 0.4)


def test_bleu_report_clipping_and_short_arrays(spark):
    """'the'*7 vs 'the cat is on the mat': clipped 1-gram 2/7; a 2-token
    candidate contributes no 3/4-grams (the sequence(0, negative) guard);
    n=0 carries the brevity-penalty length totals."""
    from carbonapi_spark.datapipe.evals import bleu_report
    pairs = spark.createDataFrame(
        [(["the"] * 7, ["the", "cat", "is", "on", "the", "mat"]),
         (["a", "b"], ["a", "b", "c", "d", "e"])],
        "cand array<string>, ref array<string>")
    for arrow in (True, False):   # both physical paths, same integers
        b = {r["n"]: (r["matches"], r["total"], r["precision"])
             for r in bleu_report(pairs, arrow=arrow).collect()}
        assert b[0] == (9, 11, 9 / 11)
        assert b[1] == (4, 9, 4 / 9)
        assert b[2] == (1, 7, 1 / 7)
        assert b[3] == (0, 5, 0.0) and b[4] == (0, 4, 0.0)


def test_bradley_terry_closed_form(spark):
    """A beats B 3:1 -> strengths 1.5 / 0.5 (the mean-1 fixed point is
    reached in one MM step); a third item C that always loses to both
    lands strictly below both."""
    from carbonapi_spark.datapipe.evals import bradley_terry
    m = spark.createDataFrame([("A", "B")] * 3 + [("B", "A")],
                              "winner string, loser string")
    bt = {r["item"]: r for r in bradley_terry(m).collect()}
    assert bt["A"]["strength"] == 1.5 and bt["B"]["strength"] == 0.5
    assert bt["A"]["wins"] == 3 and bt["B"]["wins"] == 1
    m3 = spark.createDataFrame(
        [("A", "B")] * 3 + [("B", "A")] + [("A", "C")] * 2 + [("B", "C")] * 2,
        "winner string, loser string")
    bt3 = {r["item"]: r["strength"] for r in bradley_terry(m3).collect()}
    assert bt3["C"] < bt3["B"] < bt3["A"]


def test_corpus_diff_statuses(spark):
    """All four statuses from a hand-built pair of snapshots; the
    digest compare must flag a one-character edit and ignore column
    order/partitioning."""
    from carbonapi_spark.sources.corpus import corpus_diff
    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "doc_id long, text string") \
        .repartition(3)
    out = {r["doc_id"]: r["status"] for r in corpus_diff(old, new).collect()}
    assert out == {1: "unchanged", 2: "modified", 3: "removed", 4: "added"}


def test_zorder_write_clusters_both_dimensions(spark, tmp_path):
    """A 2-D Z-order layout must confine a narrow (x AND y) predicate
    to a small fraction of files — and beat an x-sorted layout on a
    y-only predicate.  Checked via the set of distinct files containing
    surviving rows (the property min/max pruning exploits)."""
    from pyspark.sql import functions as F

    from carbonapi_spark.sources.corpus import zorder_write
    df = (spark.range(100_000)
          .select((F.pmod(F.xxhash64("id"), F.lit(1000))).alias("x"),
                  (F.pmod(F.xxhash64(F.col("id") + 1), F.lit(1000)))
                  .alias("y")))
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    zorder_write(df, zpath, ("x", "y"), n_files=64)
    df.repartitionByRange(64, "x").write.parquet(spath)   # x-sorted A/B

    def files_hit(path, cond):
        d = spark.read.parquet(path).where(cond)
        return d.select(F.input_file_name()).distinct().count()

    both = (F.col("x").between(100, 140)) & (F.col("y").between(100, 140))
    assert files_hit(zpath, both) <= 16        # 64 files; ~4% selectivity
    yonly = F.col("y").between(100, 120)
    assert files_hit(zpath, yonly) < 64        # z clusters y too
    assert files_hit(spath, yonly) >= 60       # x-sort cannot


def test_asof_join_nearest(spark):
    from carbonapi_spark.datapipe.events import asof_join
    quotes = spark.createDataFrame(
        [("a", 10, 1.0), ("a", 20, 2.0)],
        "user_id string, sec long, value double")
    trades = spark.createDataFrame(
        [("a", 9, "t1"), ("a", 14, "t2"), ("a", 16, "t3"),
         ("a", 15, "t4"), ("c", 99, "t5")],
        "user_id string, sec long, tid string")
    out = {r["tid"]: r for r in asof_join(
        trades, quotes, right_cols=("value",),
        direction="nearest").collect()}
    assert out["t1"]["value_r"] == 1.0          # before-first: forward
    assert out["t2"]["value_r"] == 1.0          # gap 4 vs 6
    assert out["t3"]["value_r"] == 2.0          # gap 6 vs 4
    assert out["t4"]["value_r"] == 1.0          # tie -> backward
    assert out["t5"]["value_r"] is None
    tol = {r["tid"]: r for r in asof_join(
        trades, quotes, right_cols=("value",), direction="nearest",
        tolerance_s=1).collect()}
    assert tol["t1"]["value_r"] == 1.0 and tol["t2"]["value_r"] is None


def test_script_profile_hand_check(spark):
    """Known scripts dominate their docs; counts are per-range char
    counts; ties break by declaration priority (latin before
    cyrillic); scriptless docs report 'none'."""
    from carbonapi_spark.datapipe.text import script_profile
    df = spark.createDataFrame(
        [(0, "hello world"), (1, "привет мир hello"),
         (2, "日本語のテキスト"), (3, "مرحبا بالعالم"), (4, "123 !!!"),
         (5, "한국어"), (6, "ab прив"), (7, "abc где")],  # 7: 3v3 tie
        "doc_id long, text string")
    out = {r["doc_id"]: r for r in script_profile(df).collect()}
    assert out[0]["dominant"] == "latin" and out[0]["n_latin"] == 10
    assert out[1]["dominant"] == "cyrillic" and out[1]["n_cyrillic"] == 9
    assert out[2]["dominant"] == "kana"      # 5 kana vs 3 cjk
    assert out[2]["n_cjk"] == 3 and out[2]["n_kana"] == 5
    assert out[3]["dominant"] == "arabic" and out[4]["dominant"] == "none"
    assert out[5]["dominant"] == "hangul"
    assert out[6]["dominant"] == "cyrillic"  # 2 latin vs 4 cyrillic
    assert out[7]["dominant"] == "latin"     # 3 vs 3: priority wins


def _mk_warc_record(rtype, uri, body, rid="<urn:uuid:1>"):
    extra = b""
    if rtype == "response":
        body = b"HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n" + body
    head = (f"WARC/1.0\r\nWARC-Type: {rtype}\r\n"
            f"WARC-Record-ID: {rid}\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"WARC-Date: 2024-01-01T00:00:00Z\r\n"
            f"Content-Length: {len(body)}\r\n\r\n").encode()
    return head + body + b"\r\n\r\n" + extra


def test_read_warc_plain_and_gzip(spark, tmp_path):
    """Response records parse with HTTP headers split off; warcinfo /
    request records are filtered by default; a multi-member gzip file
    decodes transparently; junk leading bytes fail soft (that file
    yields nothing)."""
    import gzip

    from carbonapi_spark.sources.corpus import read_warc
    recs = (_mk_warc_record("warcinfo", "", b"software: test\r\n")
            + _mk_warc_record("response", "http://a.example/x",
                              b"<html>hello</html>", "<urn:uuid:a>")
            + _mk_warc_record("request", "http://a.example/x",
                              b"GET /x HTTP/1.1\r\n")
            + _mk_warc_record("response", "http://b.example/y",
                              b"<html>bye</html>", "<urn:uuid:b>"))
    (tmp_path / "f1.warc").write_bytes(recs)
    (tmp_path / "f2.warc.gz").write_bytes(
        gzip.compress(_mk_warc_record(
            "response", "http://c.example/z", b"zzz", "<urn:uuid:c>"))
        + gzip.compress(_mk_warc_record(
            "response", "http://d.example/w", b"www", "<urn:uuid:d>")))
    (tmp_path / "junk.warc").write_bytes(b"NOT A WARC FILE")
    out = {r["target_uri"]: r
           for r in read_warc(spark, str(tmp_path)).collect()}
    assert set(out) == {"http://a.example/x", "http://b.example/y",
                        "http://c.example/z", "http://d.example/w"}
    a = out["http://a.example/x"]
    assert bytes(a["payload"]) == b"<html>hello</html>"
    assert a["http_status"] == 200 and a["record_type"] == "response"
    assert bytes(out["http://d.example/w"]["payload"]) == b"www"
    allrecs = read_warc(spark, str(tmp_path), record_types=()).collect()
    assert {r["record_type"] for r in allrecs} == {
        "warcinfo", "response", "request"}


def test_eval_ops_degenerate_inputs(spark, tmp_path):
    """ANSI mode turns x/0 into a runtime error, so the degenerate
    shapes must be guarded: constant equal raters (p_e = 1) -> NULL
    kappa; empty kappa/bleu inputs -> null/zero rows, not exceptions;
    zorder_write of an empty frame writes an empty dataset."""
    from carbonapi_spark.datapipe.evals import bleu_report, cohen_kappa
    from carbonapi_spark.sources.corpus import zorder_write
    const = spark.createDataFrame([("y", "y")] * 5, "a string, b string")
    r = cohen_kappa(const, "a", "b").collect()[0]
    assert r["p_o"] == 1.0 and r["p_e"] == 1.0 and r["kappa"] is None
    empty = spark.createDataFrame([], "a string, b string")
    r0 = cohen_kappa(empty, "a", "b").collect()[0]
    assert r0["n"] == 0 and r0["kappa"] is None
    eb = spark.createDataFrame([], "cand array<string>, ref array<string>")
    rows = {r["n"]: r for r in bleu_report(eb).collect()}
    assert rows[0]["matches"] == 0 and rows[1]["precision"] == 0.0
    ez = spark.createDataFrame([], "x long, y long")
    zorder_write(ez, str(tmp_path / "ez"), ("x", "y"))
    assert spark.read.parquet(str(tmp_path / "ez")).count() == 0


def test_window_join_hand_check(spark):
    """Quotes at 10/20/30 (values 1/2/4): a trade at 25 with window 10
    sees {2} only; at 30 sees {2, 4}; at 9 sees nothing; other users
    see nothing; sum/cnt/min/max/avg all hand-checked."""
    from carbonapi_spark.datapipe.events import window_join
    quotes = spark.createDataFrame(
        [("a", 10, 1), ("a", 20, 2), ("a", 30, 4)],
        "user_id string, sec long, value long")
    trades = spark.createDataFrame(
        [("a", 25, "t1"), ("a", 30, "t2"), ("a", 9, "t3"), ("b", 30, "t4")],
        "user_id string, sec long, tid string")
    out = {r["tid"]: r for r in window_join(
        trades, quotes, window_s=10).collect()}
    assert (out["t1"]["w_cnt"], out["t1"]["w_sum"]) == (1, 2)
    t2 = out["t2"]
    assert (t2["w_cnt"], t2["w_sum"], t2["w_min"], t2["w_max"],
            t2["w_avg"]) == (2, 6, 2, 4, 3.0)
    assert out["t3"]["w_cnt"] == 0 and out["t3"]["w_sum"] is None
    assert out["t4"]["w_cnt"] == 0


def test_asof_join_matches_pandas_merge_asof(spark):
    """Seeded random tables through all three directions, with and
    without tolerance, must reproduce pandas.merge_asof row for row —
    the reference implementation of the semantics (inclusive equal
    timestamps, nearest ties to backward)."""
    import random

    import pandas as pd

    from carbonapi_spark.datapipe.events import asof_join
    rng = random.Random(11)
    lrows = [(str(rng.randrange(6)), rng.randrange(0, 500), i)
             for i in range(300)]
    rrows = list({(str(rng.randrange(6)), rng.randrange(0, 500)): None
                  for _ in range(200)})
    rrows = [(u, t, rng.random()) for (u, t) in rrows]
    left = spark.createDataFrame(lrows, "user_id string, sec long, eid long")
    right = spark.createDataFrame(rrows,
                                  "user_id string, sec long, value double")
    lpd = pd.DataFrame(lrows, columns=["user_id", "sec", "eid"]) \
        .sort_values("sec", kind="stable").reset_index(drop=True)
    rpd = pd.DataFrame(rrows, columns=["user_id", "sec", "value"]) \
        .sort_values("sec", kind="stable").reset_index(drop=True)
    for direction in ("backward", "forward", "nearest"):
        for tol in (None, 40):
            got = {r["eid"]: r["value_r"] for r in asof_join(
                left, right, on="sec", by=("user_id",),
                right_cols=("value",), direction=direction,
                tolerance_s=tol).collect()}
            kw = {} if tol is None else {"tolerance": tol}
            want_df = pd.merge_asof(lpd, rpd, on="sec", by="user_id",
                                    direction=direction, **kw)
            want = dict(zip(want_df["eid"], want_df["value"]))
            for eid, wv in want.items():
                gv = got[eid]
                assert (gv is None and pd.isna(wv)) or gv == wv, (
                    direction, tol, eid, gv, wv)


def test_props_parse_malformed_is_null(spark):
    """from_json PERMISSIVE contract: malformed / missing JSON yields
    NULL fields, never an error; stats count parses separately."""
    from carbonapi_spark.datapipe.events import parse_props, props_stats
    ev = spark.createDataFrame(
        [(1, "click", '{"k": 3}'), (2, "click", "{broken"),
         (3, "view", None), (4, "view", '{"other": 1}')],
        "event_id long, event_type string, props string")
    p = {r["event_id"]: r["p_k"] for r in parse_props(ev).collect()}
    assert p == {1: 3, 2: None, 3: None, 4: None}
    s = {r["event_type"]: (r["n"], r["n_parsed"], r["sum_v"])
         for r in props_stats(ev).collect()}
    assert s["click"] == (2, 1, 3)
    assert s["view"] == (2, 0, None)


def test_hll_merge_is_lossless(spark):
    """Union-max merge of shard register tables must give EXACTLY the
    direct one-pass sketch — max is idempotent/commutative/associative
    — at any sharding."""
    import random

    import pyspark.sql.functions as F

    from carbonapi_spark.datapipe.sketch import (
        hll_distinct, hll_estimate, hll_merge, hll_registers)
    rng = random.Random(5)
    rows = [(rng.randint(0, 9), rng.randint(0, 5000)) for _ in range(4000)]
    df = spark.createDataFrame(rows, "shard int, v long")
    direct = hll_distinct(df, "v").collect()[0]
    sharded = hll_registers(df, "v", ("shard",))
    merged = hll_estimate(hll_merge(sharded), ()).collect()[0]
    assert merged["registers_used"] == direct["registers_used"]
    assert merged["est_distinct"] == direct["est_distinct"]
    # partitioning-invariant too
    merged2 = hll_estimate(
        hll_merge(hll_registers(df.repartition(13), "v", ("shard",))),
        ()).collect()[0]
    assert merged2["est_distinct"] == direct["est_distinct"]


def test_ab_test_z_formula(spark):
    """Non-degenerate A/B readout: the z statistic must match the
    hand-computed pooled two-proportion formula, arms must be
    deterministic, and the degenerate (all-convert) case yields NULL z
    (the sf0.01 driver shape)."""
    import math

    import pyspark.sql.functions as F

    from carbonapi_spark.datapipe.events import ab_test
    # craft events: 40 users, conversion depends on user id
    rows = []
    for u in range(40):
        rows.append((u * 2, u, "view"))
        if u % 3 == 0:
            rows.append((u * 2 + 1, u, "purchase"))
    ev = spark.createDataFrame(rows,
                               "event_id long, user_id long, "
                               "event_type string")
    out = {r["arm"]: r for r in ab_test(ev).collect()}
    assert set(out) == {0, 1}
    n0, c0 = out[0]["n_users"], out[0]["n_converted"]
    n1, c1 = out[1]["n_users"], out[1]["n_converted"]
    assert n0 + n1 == 40 and c0 + c1 == 14
    p = (c0 + c1) / (n0 + n1)
    se = math.sqrt(p * (1 - p) * (1 / n0 + 1 / n1))
    import pytest as _pt
    assert out[0]["z"] == _pt.approx((c0 / n0 - c1 / n1) / se, rel=1e-12)
    assert out[1]["z"] == _pt.approx(-out[0]["z"], rel=1e-12)
    # deterministic across runs / partitionings
    again = {r["arm"]: r for r in ab_test(ev.repartition(7)).collect()}
    assert again[0]["n_users"] == n0 and again[0]["z"] == out[0]["z"]
    # degenerate: everyone converts -> z NULL
    allc = ev.withColumn("event_type", F.lit("purchase"))
    for r in ab_test(allc).collect():
        assert r["z"] is None and r["cvr"] == 1.0


def test_cuped_matches_numpy_and_reduces_variance(spark):
    """CUPED theta must equal the numpy least-squares slope of post on
    pre; adjusting by it must shrink the per-user metric variance when
    pre and post are correlated."""
    import random

    import numpy as np
    import pytest as _pt

    from carbonapi_spark.datapipe.events import cuped_adjusted_lift
    rng = random.Random(13)
    rows = []
    for u in range(200):
        base = rng.randint(0, 10)          # user propensity
        pre = base + rng.randint(0, 2)     # correlated pre metric
        post = base + rng.randint(0, 3)
        for i in range(pre):
            rows.append((u * 100 + i, u, "click", 10))
        for i in range(post):
            rows.append((u * 100 + 50 + i, u, "click", 200))
        rows.append((u * 100 + 99, u, "view", 10))  # keeps user present
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, sec long")
    out = {r["arm"]: r for r in
           cuped_adjusted_lift(ev, split_sec=100).collect()}
    # numpy reference over the same per-user counts
    from collections import Counter
    xs, ys = Counter(), Counter()
    for _e, u, t, s in rows:
        if t == "click":
            (xs if s < 100 else ys)[u] += 1
    users = sorted({u for _e, u, _t, _s in rows})
    x = np.array([xs[u] for u in users], dtype=float)
    y = np.array([ys[u] for u in users], dtype=float)
    theta = float(np.cov(x, y, bias=True)[0, 1] / np.var(x))
    got_theta = next(iter(out.values()))["theta"]
    assert got_theta == _pt.approx(theta, rel=1e-9)
    # variance reduction on the adjusted metric
    adj = y - theta * (x - x.mean())
    assert np.var(adj) < np.var(y)
    # adjusted grand mean is preserved (weighted by arm sizes)
    tot = sum(out[a]["mean_y_adj"] * out[a]["n_users"] for a in out) \
        / sum(out[a]["n_users"] for a in out)
    assert tot == _pt.approx(float(y.mean()), rel=1e-9)


def test_fuzzy_pairs_levenshtein_linkage(spark):
    from carbonapi_spark.datapipe.dedup import fuzzy_pairs
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "The quick brown fox jumps over the lazy dgo"),   # transposition
        (3, "The quick brown fox jumps over the hazy dog!"),  # 1 substitution
        (4, "Completely unrelated text about spark engines"),
        (5, "THE QUICK-BROWN FOX jumps over the lazy dog"),   # case/punct only
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING")
    out = {(r["id_a"], r["id_b"]): r["dist"]
           for r in fuzzy_pairs(df, max_dist=3, key_len=64).collect()}
    # normalization makes 1 and 5 identical
    assert out[(1, 5)] == 0
    assert out[(1, 2)] == 2       # transposed 'go' -> 'og' = 2 edits
    assert out[(1, 3)] == 1       # lazy -> hazy, same length band
    assert all(4 not in p for p in out)  # different block, never compared


def test_fuzzy_pairs_block_cap_bounds_join(spark):
    from carbonapi_spark.datapipe.dedup import fuzzy_pairs
    # 12 identical docs, cap the block at 4 -> C(4,2)=6 pairs, not C(12,2)
    df = spark.createDataFrame([(i, "same text") for i in range(12)],
                               "doc_id LONG, text STRING")
    out = fuzzy_pairs(df, max_dist=1, key_len=32, max_block=4).collect()
    assert len(out) == 6
    assert {r["dist"] for r in out} == {0}


def test_kaplan_meier_textbook(spark):
    from carbonapi_spark.datapipe.events import kaplan_meier
    # 4 users: lifetimes 0,1,1 days + one still-alive at the end (censored)
    day = 86400
    rows = []
    rows += [(1, 0), (1, 10)]                # lifetime 0, dies
    rows += [(2, 0), (2, day + 10)]          # lifetime 1, dies
    rows += [(3, 0), (3, day + 20)]          # lifetime 1, dies
    rows += [(4, 0), (4, 3 * day)]           # last event at corpus end: censored
    df = spark.createDataFrame(rows, "user_id LONG, sec LONG")
    out = {r["period"]: r for r in kaplan_meier(df).collect()}
    # period 0: at risk 4, 1 death -> S = 3/4
    assert out[0]["at_risk"] == 4 and out[0]["deaths"] == 1
    assert abs(out[0]["survival"] - 0.75) < 1e-9
    # period 1: at risk 3, 2 deaths -> S = 0.75 * 1/3 = 0.25
    assert out[1]["at_risk"] == 3 and out[1]["deaths"] == 2
    assert abs(out[1]["survival"] - 0.25) < 1e-9
    # period 3: the censored survivor; no deaths -> S stays 0.25
    assert out[3]["censored"] == 1 and out[3]["deaths"] == 0
    assert abs(out[3]["survival"] - 0.25) < 1e-9


def test_mad_outliers_flags_spike(spark):
    from carbonapi_spark.datapipe.events import mad_outliers
    vals = [10.0, 11.0, 9.0, 10.5, 9.5, 10.2, 9.8, 1000.0]
    df = spark.createDataFrame([("m", v) for v in vals],
                               "event_type STRING, value DOUBLE")
    row = mad_outliers(df, k=3.0).collect()[0]
    assert row["n"] == 8
    assert row["median"] == 10.0  # lower median of 8 sorted values
    assert row["n_outliers"] == 1  # only the 1000.0 spike


def test_k_center_picks_spread_points(spark):
    from carbonapi_spark.datapipe.similarity import k_center_select
    # three tight clusters at (0,0), (10,0), (0,10) + seed noise
    pts = [(0, [0.0, 0.0]), (1, [0.1, 0.0]), (2, [0.0, 0.1]),
           (10, [10.0, 0.0]), (11, [10.1, 0.0]),
           (20, [0.0, 10.0]), (21, [0.0, 10.1])]
    df = spark.createDataFrame(pts, "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = k_center_select(df, k=3).collect()
    picked = [r["vec_id"] for r in out]
    assert picked[0] == 0                      # lowest-id seed
    assert {p // 10 for p in picked} == {0, 1, 2}  # one per cluster
    d2 = [r["dist2"] for r in out]
    assert d2[0] == 0.0 and d2[1] >= d2[2] > 0  # radius non-increasing


def test_markov_attribution_removal_effect(spark):
    from carbonapi_spark.datapipe.events import markov_attribution
    # channel A always converts, channel B never does
    rows = []
    eid = 0
    for u in range(10):
        rows.append((u, eid, "A", 0 + u)); eid += 1
        rows.append((u, eid, "buy", 100 + u)); eid += 1
    for u in range(10, 20):
        rows.append((u, eid, "B", 0 + u)); eid += 1
    df = spark.createDataFrame(
        rows, "user_id LONG, event_id LONG, event_type STRING, sec LONG")
    out = {r["channel"]: r for r in
           markov_attribution(df, ["A", "B"], "buy").collect()}
    assert out["A"]["share"] == 1.0
    assert out["B"]["share"] == 0.0
    assert out["A"]["removal_effect"] == 1.0  # removing A kills all conversions


def test_textrank_ranks_hub_word(spark):
    from carbonapi_spark.datapipe.text import textrank_keywords
    docs = [(i, "spark engine spark cluster spark planner memory")
            for i in range(3)]
    df = spark.createDataFrame(docs, "doc_id LONG, text STRING")
    out = textrank_keywords(df, k=5, min_count=2, min_len=4)
    rows = out.collect()
    assert rows[0]["word"] == "spark"  # the co-occurrence hub
    assert rows[0]["rank_micro"] > rows[-1]["rank_micro"]


def test_pca_power_matches_numpy_eigh(spark):
    import numpy as np
    from carbonapi_spark.datapipe.linalg import pca_power_top
    rng = np.random.RandomState(7)
    # anisotropic cloud: dominant direction along (1, 1, 0)/sqrt(2)
    base = rng.randn(400, 3) * np.array([0.1, 0.1, 0.05])
    t = rng.randn(400, 1) * 2.0
    pts = base + t * np.array([[1.0, 1.0, 0.0]]) / np.sqrt(2)
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(pts)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = pca_power_top(df).collect()
    v = np.array([r["loading"] for r in out])
    v = v / np.linalg.norm(v)
    cov = np.cov(pts.T, bias=True)
    w, vecs = np.linalg.eigh(cov)
    top = vecs[:, np.argmax(w)]
    assert abs(abs(float(v @ top)) - 1.0) < 1e-3
    lam = out[0]["eigenvalue"]
    assert abs(lam - w.max()) / w.max() < 0.05


def test_stream_ewma_anomaly_state_across_runs(spark, tmp_path):
    """The EWMA anomaly kernel carries (level, deviation, count) across
    checkpointed runs: a spike in the SECOND run is flagged against
    state learned in the first; steady values never flag."""
    import json
    from carbonapi_spark.streaming.stateful import stream_ewma_anomaly
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream
             .schema("key STRING, oid LONG, x_micro LONG").json(str(src)))
        return stream_ewma_anomaly(s, warmup=10)

    # run 1: 60 steady points oscillating +-8 around 1000
    pts = [{"key": "m", "oid": i, "x_micro": 1000 + (i % 2) * 16 - 8}
           for i in range(60)]
    (src / "a.json").write_text("\n".join(json.dumps(p) for p in pts))
    _run_stream(stream, src, out, ck)
    # run 2: one huge spike then steady again
    pts2 = [{"key": "m", "oid": 60, "x_micro": 50000}] + \
        [{"key": "m", "oid": 61 + i, "x_micro": 1000} for i in range(3)]
    (src / "b.json").write_text("\n".join(json.dumps(p) for p in pts2))
    _run_stream(stream, src, out, ck)

    rows = spark.read.parquet(str(out)).collect()
    flagged = sorted(r["oid"] for r in rows)
    assert 60 in flagged                  # the spike, against run-1 state
    assert all(o >= 60 for o in flagged)  # steady run-1 points never flag


def test_cusum_finds_level_shift(spark):
    from carbonapi_spark.datapipe.events import cusum_changepoint
    # 10.0 for 50 points, then 20.0 for 50 points: split at t=50
    rows = [("m", i, 10.0 if i < 50 else 20.0, 1000 + i)
            for i in range(100)]
    df = spark.createDataFrame(
        rows, "event_type STRING, event_id LONG, value DOUBLE, sec LONG")
    out = cusum_changepoint(df).collect()[0]
    assert out["t_before"] == 50
    assert out["change_sec"] == 1000 + 49   # last point of the old level
    assert abs(out["mean_before"] - 10.0) < 1e-6
    assert abs(out["mean_after"] - 20.0) < 1e-6


def test_session_paths_top_sequences(spark):
    from carbonapi_spark.datapipe.events import session_paths
    rows = []
    eid = 0
    for u in range(3):           # 3 users: view>click>buy in one session
        for i, ty in enumerate(["view", "click", "buy"]):
            rows.append((u, eid, ty, u * 100000 + i * 60)); eid += 1
    # user 9: two sessions split by a 5h gap
    rows += [(9, eid, "view", 0), (9, eid + 1, "view", 5 * 3600 + 1)]
    df = spark.createDataFrame(
        rows, "user_id LONG, event_id LONG, event_type STRING, sec LONG")
    out = {r["path"]: r["n_sessions"]
           for r in session_paths(df, gap_s=4 * 3600, depth=5).collect()}
    assert out["view>click>buy"] == 3
    assert out["view"] == 2      # the split sessions


def test_fuzzy_clusters_links_typo_family(spark):
    from carbonapi_spark.entry_queries import QUERIES
    import os
    # three near-identical docs + noise via the catalog entry at sf0.001
    sf = "/root/testdata/sf0.001"
    if not os.path.isdir(sf):
        import pytest
        pytest.skip("driver testdata missing")
    out = QUERIES["fuzzy_clusters"](spark, sf).collect()
    # every emitted cluster has >= 2 members and consistent sizes
    from collections import Counter
    by_cluster = Counter(r["cluster_id"] for r in out)
    for r in out:
        assert r["size"] == by_cluster[r["cluster_id"]]
        assert r["size"] >= 2
        assert r["cluster_id"] <= r["doc_id"]


def test_stream_cusum_flags_persistent_shift(spark, tmp_path):
    """CUSUM flags a persistent small shift (that the EWMA spike
    detector adapts to); state (including the warmup-learned mean)
    survives a checkpointed restart."""
    import json
    from carbonapi_spark.streaming.stateful import stream_cusum
    src, out, ck = tmp_path / "src", tmp_path / "out", tmp_path / "ck"
    src.mkdir()

    def stream():
        s = (spark.readStream
             .schema("key STRING, oid LONG, x_micro LONG").json(str(src)))
        return stream_cusum(s, warmup=20)

    # run 1: 30 points at level ~1000 (mean learned over first 20)
    pts = [{"key": "m", "oid": i, "x_micro": 1000} for i in range(30)]
    (src / "a.json").write_text("\n".join(json.dumps(p) for p in pts))
    _run_stream(stream, src, out, ck)
    assert not any((out).glob("*.parquet")) or \
        spark.read.parquet(str(out)).count() == 0
    # run 2: sustained +15% shift: kappa=50, h=400 ->
    # each point adds 150-50=100 to s+, flags at the 5th point
    pts2 = [{"key": "m", "oid": 30 + i, "x_micro": 1150} for i in range(8)]
    (src / "b.json").write_text("\n".join(json.dumps(p) for p in pts2))
    _run_stream(stream, src, out, ck)
    rows = spark.read.parquet(str(out)).collect()
    assert [r["oid"] for r in rows] == [34]
    assert rows[0]["sp"] == 500


def test_trimmed_stats_drops_tails(spark):
    from carbonapi_spark.datapipe.events import trimmed_stats
    # 18 values of 10.0 + extremes 0.0 and 1000.0 (n=20: cut 1 each side)
    vals = [10.0] * 18 + [0.0, 1000.0]
    df = spark.createDataFrame([("m", v) for v in vals],
                               "event_type STRING, value DOUBLE")
    row = trimmed_stats(df).collect()[0]
    assert row["n"] == 20
    assert row["q_lo"] == 0.0 and row["q_hi"] == 10.0
    # trimmed keeps [0..10] values: 18x10 + 0 -> 180/19
    assert abs(row["trimmed_mean"] - 180 / 19) < 1e-6
    # winsorized clamps 1000 -> 10: (18*10 + 0 + 10)/20 = 9.5
    assert abs(row["winsorized_mean"] - 9.5) < 1e-6


def test_covariance_arrow_and_jvm_paths_bit_equal(spark):
    """The Arrow partial-covariance kernel and the JVM HOF explode must
    produce IDENTICAL integer partials (order-independent sums of the
    same quantized terms), hence bit-equal covariances."""
    import numpy as np
    from carbonapi_spark.datapipe.linalg import covariance_matrix
    rng = np.random.RandomState(11)
    pts = rng.randn(300, 5) * 0.3
    df = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(pts)],
        "vec_id LONG, embedding ARRAY<DOUBLE>").repartition(7)
    a = {(r["i"], r["j"]): r["cov"]
         for r in covariance_matrix(df, arrow=True).collect()}
    b = {(r["i"], r["j"]): r["cov"]
         for r in covariance_matrix(df, arrow=False).collect()}
    assert a == b and len(a) == 15


def test_cov_arrow_quantization_matches_jvm_round(spark):
    """The numpy trunc-frac half-away quantizer must agree with the
    JVM's F.round on exact .5 boundaries and near-boundary values —
    the seam that would silently diverge the two physical paths."""
    from pyspark.sql import functions as F

    from carbonapi_spark.datapipe.linalg import COV_SCALE
    edge = [0.5 / COV_SCALE, -0.5 / COV_SCALE, 1.5 / COV_SCALE,
            0.49999999999999994 / COV_SCALE,
            2.5 / COV_SCALE, -2.5 / COV_SCALE, 1e-18, -1e-18]
    df = spark.createDataFrame([(v,) for v in edge], "x DOUBLE")
    jvm = [r[0] for r in df.select(
        F.round(F.col("x") * COV_SCALE).cast("long")).collect()]
    import numpy as np
    p = np.array(edge) * COV_SCALE
    t = np.trunc(p)
    mine = (t + np.where(np.abs(p - t) >= 0.5, np.sign(p), 0.0)) \
        .astype(np.int64)
    assert jvm == list(mine)


def test_isotonic_calibration_pools_violators(spark):
    from carbonapi_spark.datapipe.text import isotonic_calibration
    # bins 0/1/2 rates 0.2, 0.8, 0.4 -> bins 1,2 pool to 6/10 = 0.6
    rows = ([(0.05, 1)] * 2 + [(0.05, 0)] * 8
            + [(0.15, 1)] * 4 + [(0.15, 0)] * 1
            + [(0.25, 1)] * 2 + [(0.25, 0)] * 3)
    df = spark.createDataFrame(rows, "s DOUBLE, y INT")
    out = {r["bin"]: r for r in
           isotonic_calibration(df, "s", "y").collect()}
    assert out[0]["iso_rate"] == 0.2
    assert out[1]["iso_rate"] == 0.6 and out[2]["iso_rate"] == 0.6
    assert out[1]["raw_rate"] == 0.8 and out[2]["raw_rate"] == 0.4
    rates = [out[b]["iso_rate"] for b in sorted(out)]
    assert rates == sorted(rates)  # monotone by construction


def test_pca_extremes_finds_axis_ends(spark):
    import numpy as np
    from carbonapi_spark.datapipe.linalg import pca_extremes
    rng = np.random.RandomState(3)
    t = np.linspace(-2, 2, 100)
    pts = (t[:, None] * np.array([[1.0, 0.0, 0.0]])
           + rng.randn(100, 3) * 0.01)
    df = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(pts)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    out = pca_extremes(df, k=3).collect()
    hi = {r["vec_id"] for r in out if r["side"] == "high"}
    lo = {r["vec_id"] for r in out if r["side"] == "low"}
    # the dominant axis is dim 0 = the t ramp: extremes are the ends
    assert hi == {97, 98, 99} and lo == {0, 1, 2} or \
        hi == {0, 1, 2} and lo == {97, 98, 99}  # sign pin decides which


def test_key_skew_report_textbook(spark):
    from carbonapi_spark.datapipe.events import key_skew_report
    # 4 keys with frequencies 1, 1, 2, 4 -> known Gini
    rows = [("a",)] + [("b",)] + [("c",)] * 2 + [("d",)] * 4
    df = spark.createDataFrame(rows, "k STRING")
    out = key_skew_report(df, "k", top_k=2).collect()[0]
    assert out["n_rows"] == 8 and out["n_keys"] == 4
    assert out["max_cnt"] == 4
    assert out["p50_cnt"] == 1      # 2nd of 4 sorted freqs (1,1,2,4)
    assert out["p99_cnt"] == 4
    assert out["top_share"] == 0.75  # (4 + 2) / 8
    # Gini: sorted x=(1,1,2,4), 2*sum(i*x_i)=2*(1+2+6+16)=50;
    # 50/(4*8) - 5/4 = 1.5625 - 1.25 = 0.3125
    assert abs(out["gini"] - 0.3125) < 1e-9


def test_key_skew_uniform_gini_near_zero(spark):
    from carbonapi_spark.datapipe.events import key_skew_report
    df = spark.createDataFrame([(i % 10,) for i in range(100)], "k LONG")
    out = key_skew_report(df, "k").collect()[0]
    assert out["gini"] == 0.0 and out["max_cnt"] == 10


def test_time_to_convert_latency_quantiles(spark):
    from carbonapi_spark.datapipe.events import time_to_convert
    rows = []
    # 3 users touch 'ad' at t=0 and convert at 10, 20, 100
    for u, cv in ((1, 10), (2, 20), (3, 100)):
        rows += [(u, "ad", 0), (u, "buy", cv)]
    rows += [(4, "ad", 50)]              # touches, never converts
    rows += [(5, "buy", 5), (5, "ad", 9)]  # converts BEFORE the touch
    df = spark.createDataFrame(rows, "user_id LONG, event_type STRING, "
                                     "sec LONG")
    out = time_to_convert(df, "buy", ["ad"]).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_converted"] == 3
    assert r["p50_s"] == 20 and r["p90_s"] == 100
    assert abs(r["mean_s"] - 130 / 3) < 1e-6


def test_stream_covariance_grows_across_runs(spark, tmp_path):
    """The integer covariance partials are a mergeable sketch: two
    checkpointed availableNow runs over disjoint halves must finish at
    EXACTLY the batch covariance of the union."""
    import json
    from carbonapi_spark.datapipe.linalg import (_cov_partials_arrow,
                                                 cov_finish,
                                                 covariance_matrix)
    src, ck = tmp_path / "src", tmp_path / "ck"
    src.mkdir()
    import numpy as np
    rng = np.random.RandomState(5)
    pts = rng.randn(80, 4) * 0.4
    half = [pts[:40], pts[40:]]
    state: list = []

    def run():
        s = (spark.readStream
             .schema("vec_id LONG, embedding ARRAY<DOUBLE>")
             .json(str(src)))
        agg = (_cov_partials_arrow(s, "embedding")
               .groupBy("i", "j").agg(F.sum("sq").alias("sq"),
                                      F.sum("n").alias("n")))

        def sink(bdf, _bid):
            state.clear()
            state.extend(bdf.collect())

        q = (agg.writeStream.outputMode("complete").foreachBatch(sink)
             .option("checkpointLocation", str(ck))
             .trigger(availableNow=True).start())
        assert q.awaitTermination(180)

    from pyspark.sql import functions as F
    for fn, chunk in zip(("a.json", "b.json"), half):
        (src / fn).write_text("\n".join(
            json.dumps({"vec_id": i, "embedding": list(map(float, r))})
            for i, r in enumerate(chunk)))
        run()
    prods = spark.createDataFrame(
        [(r["i"], r["j"], r["sq"], r["n"]) for r in state if r["j"] >= 0],
        "i INT, j INT, sq LONG, n LONG")
    sums = spark.createDataFrame(
        [(r["i"], r["sq"]) for r in state if r["j"] == -1],
        "i INT, sm LONG")
    streamed = {(r["i"], r["j"]): r["cov"]
                for r in cov_finish(prods, sums).collect()}
    df = spark.createDataFrame(
        [(i, [float(x) for x in r]) for i, r in enumerate(pts)],
        "vec_id LONG, embedding ARRAY<DOUBLE>")
    batch = {(r["i"], r["j"]): r["cov"]
             for r in covariance_matrix(df).collect()}
    assert streamed == batch


def test_maintenance_lock_blocks_appends_and_second_op(spark, tmp_path):
    """VERDICT r13 #5: the single-writer maintenance contract is now
    ENFORCED, not just documented — while a compaction/deletion holds
    the ``_MAINTENANCE`` marker, every append twin refuses loudly
    (instead of losing its rows silently to the rename swap), a second
    maintenance op refuses too, and the marker is removed afterward so
    appends resume."""
    import pytest

    from carbonapi_spark.datapipe.maintenance import (
        assert_not_under_maintenance, maintenance_lock)
    from carbonapi_spark.datapipe.retrieval import (
        append_text_index, compact_text_index, write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    half = docs.where(F.col("doc_id") % 2 == 0)
    rest = docs.where(F.col("doc_id") % 2 == 1)
    p = str(tmp_path / "tix_lock")
    write_text_index(half, p, n_buckets=16)
    with maintenance_lock(spark, p, "staged-compaction"):
        with pytest.raises(IOError, match="under maintenance"):
            append_text_index(rest, p)
        with pytest.raises(IOError, match="already under maintenance"):
            with maintenance_lock(spark, p, "second-op"):
                pass
        with pytest.raises(IOError, match="refused"):
            assert_not_under_maintenance(spark, p, "probe-side-check")
    # marker gone -> appends work again, and real maintenance runs
    append_text_index(rest, p)
    stats = compact_text_index(spark, p)
    assert stats["rows_after"] > 0
    # a crashed run leaves the marker; operators remove it by hand
    import os
    assert not os.path.exists(f"{p}/_MAINTENANCE")


def test_maintenance_lock_covers_ann_and_band_appends(spark, tmp_path):
    """The marker check is wired into EVERY append twin — ANN and band
    index appends refuse under an active marker too."""
    import pytest

    from carbonapi_spark.datapipe.dedup import (append_band_index,
                                                write_band_index)
    from carbonapi_spark.datapipe.maintenance import maintenance_lock
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    delta = docs.where(F.col("doc_id") % 5 == 4)
    p = str(tmp_path / "band_lock")
    write_band_index(corpus, p, num_hashes=16, bands=4, ngram=2)
    with maintenance_lock(spark, p, "compaction"):
        with pytest.raises(IOError, match="under maintenance"):
            append_band_index(delta, p)
    append_band_index(delta, p)   # marker released


def test_compact_emptied_index_stays_readable(spark, tmp_path):
    """r14 review (reproduced): full-mode compaction of an EMPTIED
    table (post delete-everything) used to swap in a file-less
    directory, re-bricking the table the deletion placeholder had
    kept readable — compact now stages through _ensure_readable."""
    from carbonapi_spark.datapipe.retrieval import (
        bm25_query_index, compact_text_index, delete_from_text_index,
        write_text_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    some = docs.where(F.col("doc_id") % 10 == 0)
    p = str(tmp_path / "tix_empty")
    write_text_index(some, p, n_buckets=8)
    delete_from_text_index(spark, p,
                           [r["doc_id"] for r in
                            some.select("doc_id").collect()])
    stats = compact_text_index(spark, p)          # full mode
    assert stats["rows_after"] == 0
    # table still readable, probes still defined
    assert spark.read.parquet(f"{p}/postings").count() == 0
    assert bm25_query_index(spark, p, "anything").count() == 0


def test_maintenance_lock_failure_leaves_marker(spark, tmp_path):
    """r14 review: an exception out of the locked block must LEAVE the
    _MAINTENANCE marker (the artifact may be mid-swap — the documented
    operator-inspection contract), and an unrelated marker-create
    failure must not masquerade as 'already under maintenance'."""
    import os

    import pytest

    from carbonapi_spark.datapipe.maintenance import maintenance_lock
    p = str(tmp_path / "locked_art")
    os.makedirs(p)
    with pytest.raises(RuntimeError, match="mid-swap boom"):
        with maintenance_lock(spark, p, "failing-op"):
            raise RuntimeError("mid-swap boom")
    assert os.path.exists(f"{p}/_MAINTENANCE")    # left for inspection
    # and while it lingers, the contended error names the marker
    with pytest.raises(IOError, match="already under maintenance"):
        with maintenance_lock(spark, p, "second-op"):
            pass
    os.remove(f"{p}/_MAINTENANCE")
    # clean run removes the marker on success
    with maintenance_lock(spark, p, "ok-op"):
        pass
    assert not os.path.exists(f"{p}/_MAINTENANCE")


def test_compaction_recovers_leftover_stage(spark, tmp_path):
    """ADVICE r14: a crash inside overwrite_partition_dirs (between the
    live-dir delete and the staged-dir rename) leaves a combo's rows
    ONLY under the committed .compacting stage; before this fix a
    retried compaction rebuilt the stage from the now-lossy live table
    with mode("overwrite") — permanent row loss.  A retry must first
    fold the committed stage back in.  An UNCOMMITTED stage (no
    _SUCCESS: a crash mid-write over an intact table) must instead be
    discarded, not folded in as data."""
    import os
    import shutil

    from carbonapi_spark.datapipe.dedup import (append_band_index,
                                                compact_band_index,
                                                write_band_index)
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    delta = docs.where(F.col("doc_id") % 5 == 4)
    p, p_ref = str(tmp_path / "crashy"), str(tmp_path / "clean")
    for q in (p, p_ref):
        write_band_index(corpus, q, num_hashes=16, bands=4, ngram=2)
        append_band_index(delta, q)
        append_band_index(delta, q)          # replayed epoch
    # simulate the crash window: one live combo dir has been deleted
    # and its rewritten rows sit only under a COMMITTED stage
    live = sorted(d for d in os.listdir(f"{p}/bands") if "=" in d)[0]
    buck = sorted(d for d in os.listdir(f"{p}/bands/{live}"))[0]
    rel = f"{live}/{buck}"
    os.makedirs(f"{p}/bands.compacting/{live}")
    shutil.move(f"{p}/bands/{rel}", f"{p}/bands.compacting/{rel}")
    open(f"{p}/bands.compacting/_SUCCESS", "w").close()
    spark.catalog.refreshByPath(f"{p}/bands")
    stats = compact_band_index(spark, p)
    ref = compact_band_index(spark, p_ref)
    assert stats["rows_after"] == ref["rows_after"]   # nothing lost
    assert not os.path.exists(f"{p}/bands.compacting")
    # uncommitted leftover: junk rows under a stage with NO _SUCCESS
    # must be discarded (the live table is intact in that crash mode)
    spark.read.parquet(f"{p}/bands").limit(5).write \
        .parquet(f"{p}/bands.compacting/{rel}")
    os.remove(f"{p}/bands.compacting/{rel}/_SUCCESS")
    stats2 = compact_band_index(spark, p)
    assert stats2["rows_after"] == ref["rows_after"]
    assert not os.path.exists(f"{p}/bands.compacting")


def test_failed_overlapped_build_leaves_no_index(spark, tmp_path):
    """ADVICE r14: write_band_index/write_text_index/write_ann_index run
    the data write and the small metadata writes concurrently
    (maintenance.build_index); if the big write fails the metadata jobs
    may already have committed, leaving a half-built index whose stats
    table reads as valid.  A failed build must be unambiguously
    ABSENT."""
    import os

    import pytest

    from carbonapi_spark.datapipe.dedup import write_band_index
    from carbonapi_spark.datapipe.retrieval import write_text_index
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    # poison ONE row so the heavy data write fails at action time while
    # the tiny metadata writes (which never touch the corpus) succeed
    poisoned = docs.withColumn(
        "text", F.when(F.col("doc_id") != 0, F.col("text"))
        .otherwise(F.raise_error(F.lit("boom: poisoned row"))))
    p = str(tmp_path / "failed_band")
    with pytest.raises(Exception, match="boom"):
        write_band_index(poisoned, p, num_hashes=16, bands=4, ngram=2)
    assert not os.path.exists(f"{p}/stats")
    assert not os.path.exists(f"{p}/bands")
    p2 = str(tmp_path / "failed_text")
    with pytest.raises(Exception, match="boom"):
        write_text_index(poisoned, p2)
    assert not os.path.exists(f"{p2}/stats")
    assert not os.path.exists(f"{p2}/postings")
    assert not os.path.exists(f"{p2}/doclens")
    from carbonapi_spark.datapipe.similarity import (ivf_centroids,
                                                     pq_codebooks,
                                                     write_ann_index)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = emb.agg(F.min("vec_id")).first()[0]
    poisoned_emb = emb.withColumn(
        "embedding", F.when(F.col("vec_id") != first, F.col("embedding"))
        .otherwise(F.raise_error(F.lit("boom: poisoned vector"))))
    p3 = str(tmp_path / "failed_ann")
    with pytest.raises(Exception, match="boom"):
        write_ann_index(poisoned_emb, p3, pq_codebooks(64, 8, 16, 44),
                        ivf_centroids(64, 4, 43))
    assert not os.path.exists(f"{p3}/codes")
    assert not os.path.exists(f"{p3}/centroids")
    assert not os.path.exists(f"{p3}/codebooks")


def _all_job_ids(sc) -> set:
    """Every job id in the status store, whatever its job group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jsc.sc().statusStore().jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def test_overlapped_build_jobs_carry_the_job_group(spark, tmp_path):
    """``overlap_jobs`` runs the index writes from worker threads; their
    jobs must carry the caller's job group, or cancelling the group
    (a request deadline) would leave them running."""
    from carbonapi_spark.datapipe.retrieval import write_text_index
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sc = spark.sparkContext
    group = "overlap-jobs-group-probe"
    before = _all_job_ids(sc)
    sc.setJobGroup(group, group)
    try:
        write_text_index(docs, str(tmp_path / "grouped_text"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    ran = _all_job_ids(sc) - before
    assert ran and set(sc.statusTracker().getJobIdsForGroup(group)) == ran


def test_band_delete_rows_after_includes_l0_survivors(spark, tmp_path):
    """ADVICE r14: delete_from_band_index's rows_after counted only the
    partitioned bands table, so with a surviving bands_l0 side table
    the returned stats were internally inconsistent.  rows_after must
    equal the true surviving row count across BOTH tables."""
    from carbonapi_spark.datapipe.dedup import (append_band_index,
                                                delete_from_band_index,
                                                write_band_index)
    from carbonapi_spark.datapipe.maintenance import table_row_count
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    corpus = docs.where(F.col("doc_id") % 5 != 4)
    delta = docs.where(F.col("doc_id") % 5 == 4)
    p = str(tmp_path / "l0_rows_after")
    write_band_index(corpus, p, num_hashes=16, bands=4, ngram=2)
    append_band_index(delta, p, l0=True)
    doomed = [int(r["doc_id"]) for r in
              delta.select("doc_id").limit(2).collect()] + \
             [int(r["doc_id"]) for r in
              corpus.select("doc_id").limit(2).collect()]
    stats = delete_from_band_index(spark, p, doomed)
    true_after = table_row_count(spark, f"{p}/bands") + \
        table_row_count(spark, f"{p}/bands_l0")
    assert stats["rows_after"] == true_after


def test_ann_probe_rows_memo_within_request(spark, tmp_path):
    """A REPEATED ann_index_topk probe with the same query inside one
    request (the ann_l0_probe pre/post-compaction shape) returns the
    same rows, and a different query shares none of them."""
    from carbonapi_spark import scratch
    from carbonapi_spark.datapipe.similarity import (ann_index_topk,
                                                     ivf_centroids,
                                                     pq_codebooks,
                                                     write_ann_index)
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ivf_centroids(64, 8, 43)
    cbs = pq_codebooks(64, 8, 16, 44)
    p = str(tmp_path / "ann")
    write_ann_index(emb.where(F.col("vec_id") % 3 != 0), p, cbs, cents)
    scratch.release()
    query = emb.where(F.col("vec_id") < 5)
    first = sorted(map(tuple,
                       ann_index_topk(spark, p, query, k=10,
                                      nprobe=3).collect()))
    again = sorted(map(tuple,
                       ann_index_topk(spark, p,
                                      emb.where(F.col("vec_id") < 5),
                                      k=10, nprobe=3).collect()))
    assert again == first
    other = ann_index_topk(spark, p, emb.where(F.col("vec_id") >= 1990),
                           k=10, nprobe=3).collect()
    assert {r["query_id"] for r in other}.isdisjoint(
        {t[0] for t in first})
    scratch.release()


def test_read_index_table_matches_default_read_and_restores_conf(
        spark, tmp_path):
    """r15: read_index_table lists a bounded partition grid on the
    driver (no distributed listing job past the parallel-discovery
    threshold) — same rows, same schema, and the session conf is
    restored afterward, including on error."""
    from carbonapi_spark.datapipe.maintenance import read_index_table
    p = str(tmp_path / "grid")
    (spark.range(200)
     .select((F.col("id") % 40).alias("cell"), F.col("id").alias("v"))
     .write.partitionBy("cell").parquet(p))
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    got = read_index_table(spark, p)
    assert spark.conf.get(key) == before, "threshold must be restored"
    ref = spark.read.parquet(p)
    assert got.schema == ref.schema
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, ref.collect()))
    with pytest.raises(Exception):
        read_index_table(spark, str(tmp_path / "grid_missing_subdir"))
    assert spark.conf.get(key) == before, \
        "threshold must be restored on error too"


def test_read_index_table_restores_conf_after_failed_read(spark, tmp_path):
    """A local grid holding a file that is not Parquet fails the read on
    the override path; the session conf is restored all the same, and
    the lock is released for the next read."""
    from carbonapi_spark.datapipe import maintenance as M
    d = tmp_path / "grid" / "cell=0"
    d.mkdir(parents=True)
    (d / "part-00000.parquet").write_text("not a parquet file")
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    with pytest.raises(Exception):
        M.read_index_table(spark, str(tmp_path / "grid"))
    assert spark.conf.get(key) == before
    assert not M._DISCOVERY_CONF_LOCK.locked()


def test_read_index_table_concurrent_reads_restore_conf(spark, tmp_path):
    """Overlapping reads from more threads than cores leave the session
    conf as it was (unguarded, a thread can save another's override as
    the value to restore)."""
    import concurrent.futures as cf
    import sys
    from carbonapi_spark.datapipe.maintenance import read_index_table
    p = str(tmp_path / "grid")
    (spark.range(40).select((F.col("id") % 8).alias("cell"), F.col("id"))
     .write.partitionBy("cell").parquet(p))
    key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    before = spark.conf.get(key)
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with cf.ThreadPoolExecutor(16) as pool:
            futures = [pool.submit(lambda: read_index_table(spark, p).columns)
                       for _ in range(32)]
            cols = [f.result(timeout=120) for f in futures]
    finally:
        sys.setswitchinterval(interval)
    assert all(sorted(c) == ["cell", "id"] for c in cols)
    assert spark.conf.get(key) == before


def test_partition_stats_callable_df_needs_schema(spark, tmp_path):
    from carbonapi_spark.datapipe import maintenance as M
    with pytest.raises(TypeError, match="schema"):
        M._partition_stats(spark, str(tmp_path), lambda: None, ["k"])


def test_partition_stats_lazy_df_footer_and_fallback(spark, tmp_path):
    """r15: _partition_stats accepts a ZERO-ARG CALLABLE df (with the
    schema passed separately) so the footer path never constructs the
    DataFrame; the distributed fallback still works by materializing
    the callable."""
    from carbonapi_spark.datapipe import maintenance as M
    p = str(tmp_path / "t")
    df = (spark.range(60)
          .select((F.col("id") % 6).alias("k"), F.col("id").alias("v")))
    df.write.partitionBy("k").parquet(p)
    ref = M._partition_stats(spark, p, spark.read.parquet(p), ["k"])
    built = []

    def mk():
        built.append(1)
        return spark.read.parquet(p)

    lazy = M._partition_stats(spark, p, mk, ["k"],
                              schema=spark.read.parquet(p).schema)
    assert sorted((r["k"], r["__n"], r["__nf"]) for r in lazy) == \
        sorted((r["k"], r["__n"], r["__nf"]) for r in ref)
    assert not built, "footer path must not construct the DataFrame"
    # force the distributed fallback (simulate a remote path: the local
    # root check fails for a nonexistent dir string, so call the scan
    # branch directly through a callable)
    per = M._per_partition_stats(mk(), ["k"])
    assert built, "fallback materializes the callable"
    assert sorted((r["k"], r["__n"]) for r in per) == \
        sorted((r["k"], r["__n"]) for r in ref)


def test_expr_cached_concurrent_eviction(spark, monkeypatch):
    """Request threads share expr_cached's FIFO cache. Hammered from many
    threads well past _EXPR_CACHE_MAX, no call fails (two threads at the
    cap popping the same oldest key was a KeyError), every call returns
    its own expression and the cache stays at the cap."""
    import sys
    import threading

    import carbonapi_spark.sqltext as dp
    monkeypatch.setattr(dp, "_EXPR_CACHE", {})
    n_threads, per_thread = 8, dp._EXPR_CACHE_MAX // 2
    start, errors = threading.Barrier(n_threads), []

    def hammer(t):
        try:
            start.wait(timeout=60)
            for i in range(per_thread):
                # half the strings are shared, so inserts of one key race too
                s = f"{i % 50} + {t % 2}" if i % 2 else f"{t} * {i}"
                assert str(dp.expr_cached(s)) == str(F.expr(s))
        except Exception as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=hammer, args=(t,)) for t in range(n_threads)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads as often as possible
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=120)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(dp._EXPR_CACHE) == dp._EXPR_CACHE_MAX
