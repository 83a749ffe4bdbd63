"""Chain source connector + multimodal plumbing tests."""

import threading
import time
from collections import Counter

import pytest
from pyspark.sql import functions as F

from moc_indexer_spark.sources.chain import (
    RAW_TX_SCHEMA,
    FakeChain,
    ScanRange,
    multicall_enrich,
    scan_blocks,
)
from moc_indexer_spark.operators import multimodal as MM
from moc_indexer_spark.operators.events import run_event_pipeline


CONTRACTS = ["0x" + "ab" * 20, "0x" + "cd" * 20]
USERS = ["0x" + f"{i:040x}" for i in range(1, 9)]


@pytest.fixture(scope="module")
def chain():
    return FakeChain(CONTRACTS, USERS)


def test_scan_range_semantics():
    # incremental: checkpoint+1 .. tip-recession (scan_raw_txs.py:74-98)
    s = ScanRange(last_indexed=100, tip=110, blocks_recession=2)
    assert (s.start, s.end) == (101, 108)
    # cold start: look-behind window
    s2 = ScanRange(last_indexed=-1, tip=1000, blocks_recession=2, look_behind=60)
    assert (s2.start, s2.end) == (938, 998)
    # nothing new
    s3 = ScanRange(last_indexed=108, tip=110, blocks_recession=2)
    assert s3.end < s3.start


def test_scan_blocks_filters_and_feeds_pipeline(spark, chain):
    df = scan_blocks(
        spark, chain, ScanRange(last_indexed=-1, tip=40, blocks_recession=2,
                                look_behind=30),
        contract_addresses=set(CONTRACTS),
    ).cache()
    rows = df.collect()
    assert rows, "scan produced no rows"
    # P1: every row touches a watched contract
    for r in rows:
        assert (r["to"] or "").lower() in CONTRACTS or (
            r["from"] or ""
        ).lower() in CONTRACTS
    # incremental scan is deterministic & idempotent (same range -> same set)
    again = scan_blocks(
        spark, chain, ScanRange(last_indexed=-1, tip=40, blocks_recession=2,
                                look_behind=30),
        contract_addresses=set(CONTRACTS),
    ).collect()
    assert sorted(r.hash for r in rows) == sorted(r.hash for r in again)
    # S6->J2: the scanned output feeds the event pipeline directly
    outs = run_event_pipeline(df, moc_contract=CONTRACTS[0])
    assert outs["transactions"].count() > 0


def _replay_rows(chain, scan):
    """The scan's row tuples rebuilt in plain Python from the same chain."""
    contracts = {a.lower() for a in CONTRACTS}
    return [
        (tx["hash"], tx["blockNumber"], tx["from"], tx["to"],
         str(tx["value"]), tx["gas"], str(tx["gasPrice"]),
         tx.get("input", "0x"), True, False, tx["gas_used"],
         scan.tip - tx["blockNumber"], tx["timestamp"], tx["logs"],
         tx["status"])
        for bn in range(scan.start, scan.end + 1) for tx in chain(bn)
        if tx["to"].lower() in contracts or tx["from"].lower() in contracts
    ]


@pytest.fixture(params=[None, "America/Sao_Paulo"])
def local_tz(request, monkeypatch):
    """Run under the process time zone, then under a non-UTC one: a naive
    datetime is local time to Spark's row conversion."""
    if request.param:
        monkeypatch.setenv("TZ", request.param)
        time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


@pytest.mark.parametrize("n_blocks", [10, 13, 0])
def test_scan_rows_equal_the_row_conversion(spark, chain, local_tz, n_blocks):
    """The Arrow-built scan holds exactly the rows the row conversion
    (`createDataFrame(tuples, RAW_TX_SCHEMA)`) gives for the same replay,
    timestamps and confirmations included: for a tick-sized range, a
    range longer than defaultParallelism blocks and an empty range. Its
    plan is a local table scan, with no RDD scan, so no Python-worker job
    runs to build it."""
    assert 13 > spark.sparkContext.defaultParallelism
    scan = ScanRange(last_indexed=99, tip=100 + n_blocks + 1,
                     blocks_recession=2)
    assert scan.end - scan.start + 1 == n_blocks
    df = scan_blocks(spark, chain, scan, set(CONTRACTS))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan
    want = spark.createDataFrame(_replay_rows(chain, scan), RAW_TX_SCHEMA)
    assert df.schema == want.schema
    got = sorted(map(repr, df.collect()))
    assert got == sorted(map(repr, want.collect()))
    assert len(got) > 0 or n_blocks == 0


def test_scan_fetches_each_block_once_on_the_driver(spark, chain):
    """The scan is a snapshot: two actions over it issue no second fetch,
    and a fetch fault raises from scan_blocks itself."""
    calls, lock = Counter(), threading.Lock()

    def fetcher(bn):
        with lock:
            calls[bn] += 1
        if bn == failing:
            raise ConnectionError(f"block {bn}")
        return chain(bn)

    failing = None
    scan = ScanRange(last_indexed=99, tip=111, blocks_recession=2)
    df = scan_blocks(spark, fetcher, scan, set(CONTRACTS))
    n = df.count()
    assert len(df.collect()) == n > 0
    assert calls == Counter(range(scan.start, scan.end + 1))
    failing = 105
    with pytest.raises(ConnectionError, match="block 105"):
        scan_blocks(spark, fetcher, scan, set(CONTRACTS))


def test_multicall_enrich_batches(spark):
    df = spark.range(0, 103).select(F.col("id").alias("k"))
    seen_batches = []

    def calls(rows):
        # one "RPC round trip" per batch (S7): annotate with batch size
        n = len(rows)
        return [{"k": r["k"], "batch_n": n} for r in rows]

    out = multicall_enrich(
        df.repartition(2), calls, batch_size=50, schema="k long, batch_n long"
    ).collect()
    assert len(out) == 103
    assert all(r.batch_n <= 50 for r in out)


def test_multimodal_feature_pipeline(spark):
    media = MM.synthesize_media(spark, n=64)
    feats = MM.extract_features(media, fake_decode=True).cache()
    rows = feats.collect()
    assert len(rows) == 64
    assert all(len(r.feature) == 16 for r in rows)
    assert all(r.width >= 64 and r.height >= 64 for r in rows)
    dedup = MM.exact_media_dedup(feats).collect()
    dupes = [r for r in dedup if r.n_copies > 1]
    assert dupes, "planted duplicates must be found"
    assert sum(r.n_copies for r in dedup) == 64


def test_multimodal_real_decode_is_explicit_stub(spark):
    media = MM.synthesize_media(spark, n=4)
    with pytest.raises(Exception) as ei:
        MM.extract_features(media, fake_decode=False).collect()
    assert "NotImplementedError" in str(ei.value) or isinstance(
        ei.value, NotImplementedError
    )


def test_balance_refresh_task(spark, tmp_path):
    """Task 7: queue drain with coalescing, batched balance fetch, monotonic
    versioned upsert — refresh at an OLDER height must not clobber."""
    from moc_indexer_spark.app import Indexer

    idx = Indexer(spark, str(tmp_path), FakeChain(CONTRACTS, USERS), CONTRACTS)
    queue = spark.createDataFrame(
        [(USERS[0],), (USERS[0].upper(),), (USERS[1],)], ["account"]
    )
    n = idx.run_balance_refresh(queue, tip=100)
    assert n == 2  # coalesced (case-normalized duplicate)
    state_100 = {r.address: r.moc_balance
                 for r in idx.tables["user_state"].read().collect()}
    # stale refresh at lower height: monotonic guard keeps height-100 rows
    idx.run_balance_refresh(queue, tip=90)
    after = {r.address: (r.block_height, r.moc_balance)
             for r in idx.tables["user_state"].read().collect()}
    for addr, (h, bal) in after.items():
        assert h == 100 and bal == state_100[addr]
    # newer refresh advances
    idx.run_balance_refresh(queue, tip=110)
    assert all(r.block_height == 110
               for r in idx.tables["user_state"].read().collect())


def test_serving_table_partition_pruning(spark, tmp_path, sf_dir):
    """Partitioned serving layout: a filter on the partition column prunes
    at planning time (PartitionFilters in the scan, only matching files)."""
    from moc_indexer_spark.tables import transactions, write_serving_table

    t = transactions(spark, sf_dir)
    path = f"{tmp_path}/serving_tx"
    write_serving_table(t, path, partition_by=("event",))
    df = spark.read.parquet(path).filter(F.col("event") == "purchase")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "purchase" in plan
    import os
    dirs = [d for d in os.listdir(path) if d.startswith("event=")]
    assert len(dirs) == 5  # one dir per event type
    assert df.count() == t.filter(F.col("event") == "purchase").count()


def test_salted_join_equals_plain_join(spark, sf_dir):
    """Salted join must produce exactly the plain join's result, with the
    hot key spread across n_salts reducer partitions."""
    from moc_indexer_spark.operators.skew import salted_join
    from moc_indexer_spark.tables import table as _table

    events = _table(spark, sf_dir, "events")
    # manufacture skew: map 60% of rows onto one key
    skewed = events.withColumn(
        "k", F.when(F.col("event_id") % 10 < 6, 0).otherwise(F.col("user_id"))
    )
    dim = spark.createDataFrame(
        [(i, f"dim_{i}") for i in range(200)], ["k", "dim_val"]
    )
    plain = skewed.join(dim, "k").select("event_id", "dim_val")
    salted = salted_join(skewed, dim, "k", n_salts=8).select(
        "event_id", "dim_val"
    )
    a = sorted(map(tuple, plain.collect()))
    b = sorted(map(tuple, salted.collect()))
    assert a == b and len(a) > 0


def test_multimodal_resize_stage(spark):
    media = MM.synthesize_media(spark, n=32)
    resized = MM.resize_images(media, target_w=224, target_h=224).collect()
    assert len(resized) == 32
    assert all(r.width == 224 and r.height == 224 for r in resized)
    # deterministic: same source bytes -> same resized payload
    by_id = {r.media_id: bytes(r.frame) if hasattr(r, "frame") else bytes(r.content)
             for r in resized}
    again = {r.media_id: bytes(r.content)
             for r in MM.resize_images(media, 224, 224).collect()}
    assert by_id == again


def test_multimodal_frame_sampling_fanout(spark):
    media = MM.synthesize_media(spark, n=16)
    frames = MM.sample_frames(media, every_n=3, max_frames=4)
    pdf = frames.toPandas()
    # 1 -> N fan-out: more frame rows than media rows, capped per media
    counts = pdf.groupby("media_id").size()
    assert counts.max() <= 4
    assert len(pdf) > 16
    # frame indices follow the every_n stride
    assert set(pdf["frame_idx"].unique()) <= {0, 3, 6, 9}
    # deterministic frame payloads
    pdf2 = MM.sample_frames(media, every_n=3, max_frames=4).toPandas()
    a = sorted(map(tuple, pdf[["media_id", "frame_idx"]].values.tolist()))
    b = sorted(map(tuple, pdf2[["media_id", "frame_idx"]].values.tolist()))
    assert a == b


def _make_ppm(w, h, rgb):
    header = f"P6\n# test\n{w} {h}\n255\n".encode()
    import numpy as np
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :] = rgb
    return header + px.tobytes(), px


def _make_bmp(w, h, rgb):
    """Minimal bottom-up uncompressed 24-bit BMP."""
    import numpy as np
    px = np.zeros((h, w, 3), dtype=np.uint8)
    px[:, :] = rgb
    row_bytes = (w * 3 + 3) & ~3
    body = bytearray()
    for r in range(h - 1, -1, -1):  # bottom-up
        row = px[r, :, ::-1].tobytes()  # RGB -> BGR
        body += row + b"\x00" * (row_bytes - len(row))
    off = 14 + 40
    size = off + len(body)
    header = (
        b"BM" + size.to_bytes(4, "little") + b"\x00\x00\x00\x00"
        + off.to_bytes(4, "little")
        + (40).to_bytes(4, "little")
        + w.to_bytes(4, "little", signed=True)
        + h.to_bytes(4, "little", signed=True)
        + (1).to_bytes(2, "little") + (24).to_bytes(2, "little")
        + (0).to_bytes(4, "little") + len(body).to_bytes(4, "little")
        + b"\x00" * 16
    )
    return bytes(header) + bytes(body), px


def test_real_decode_ppm_and_bmp_through_arrow_stage(spark):
    """The real decoder parses PPM and BMP bytes to the SAME pixels
    (format-independent), and the Arrow feature stage reports true
    dimensions + channel histograms; compressed bytes raise."""
    import numpy as np
    import pytest as _pytest

    from moc_indexer_spark.operators.multimodal import (
        decode_image, extract_features_real,
    )

    ppm, px1 = _make_ppm(5, 3, (200, 10, 60))
    bmp, px2 = _make_bmp(5, 3, (200, 10, 60))
    for blob in (ppm, bmp):
        w, h, px = decode_image(blob)
        assert (w, h) == (5, 3)
        assert np.array_equal(px, px1)

    media = spark.createDataFrame(
        [(1, "image", ppm, None), (2, "image", bmp, None)],
        "media_id long, modality string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    rows = {r.media_id: r for r in extract_features_real(media).collect()}
    assert rows[1].width == 5 and rows[1].height == 3
    # identical pixels -> identical features regardless of container format
    assert rows[1].feature == rows[2].feature
    # red channel (=200) lands in bin 12 of 16 with weight 1.0
    assert abs(rows[1].feature[12] - 1.0) < 1e-6

    with _pytest.raises(Exception, match="codec"):
        decode_image(b"\x89PNG\r\n\x1a\nfakedata")


def test_real_wav_decode_and_features(spark):
    """A synthesized 16-bit PCM sine wav decodes to known sample count,
    duration, RMS (~0.707 * amplitude) and zero-cross rate (2f/sr)."""
    import math
    import struct

    import numpy as np

    from moc_indexer_spark.operators.multimodal import (
        decode_audio_wav, extract_audio_features,
    )

    sr, freq, dur_s, amp = 8000, 440, 0.5, 0.5
    n = int(sr * dur_s)
    samples = [int(amp * 32767 * math.sin(2 * math.pi * freq * i / sr)) for i in range(n)]
    data = b"".join(struct.pack("<h", s) for s in samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
    wav = (
        b"RIFF" + (4 + 8 + len(fmt) + 8 + len(data)).to_bytes(4, "little")
        + b"WAVE" + b"fmt " + len(fmt).to_bytes(4, "little") + fmt
        + b"data" + len(data).to_bytes(4, "little") + data
    )
    got_sr, nch, x = decode_audio_wav(wav)
    assert (got_sr, nch, len(x)) == (sr, 1, n)

    media = spark.createDataFrame(
        [(1, "audio", wav, None)],
        "media_id long, modality string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    r = extract_audio_features(media).collect()[0]
    assert r.sample_rate == sr and r.n_samples == n and r.duration_ms == 500
    assert abs(r.rms - amp / math.sqrt(2)) < 0.01
    assert abs(r.zero_cross_rate - 2 * freq / sr) < 0.01


def test_real_y4m_frame_sampling(spark):
    """A synthesized 12-frame Y4M clip with per-frame constant luma:
    sampling every 5th frame must yield frames 0,5,10 with exact luma
    values, and identical frames must share a frame hash."""
    import numpy as np

    from moc_indexer_spark.operators.multimodal import (
        parse_y4m_header, sample_y4m_frames,
    )

    w, h = 8, 6
    header = b"YUV4MPEG2 W8 H6 F25:1 Ip A1:1 C420jpeg\n"
    frames = b""
    for i in range(12):
        luma = 10 * i
        y = bytes([luma]) * (w * h)
        uv = bytes([128]) * (w * h // 2)
        frames += b"FRAME\n" + y + uv
    clip = header + frames
    assert parse_y4m_header(clip)[:2] == (w, h)

    media = spark.createDataFrame(
        [(1, "video", clip, None), (2, "video", clip, None)],
        "media_id long, modality string, content binary, "
        "meta struct<mime:string,width:int,height:int,duration_ms:long>",
    )
    rows = sample_y4m_frames(media, every_k=5).collect()
    by_clip = {}
    for r in rows:
        by_clip.setdefault(r.media_id, {})[r.frame_idx] = r
    for mid in (1, 2):
        assert sorted(by_clip[mid]) == [0, 5, 10]
        for idx in (0, 5, 10):
            assert abs(by_clip[mid][idx].mean_luma - 10 * idx) < 1e-9
            assert (by_clip[mid][idx].width, by_clip[mid][idx].height) == (w, h)
    # identical clips -> identical frame hashes (dedup-ready)
    assert by_clip[1][5].frame_hash == by_clip[2][5].frame_hash


def test_real_resize_roundtrip_and_permissive(spark):
    import numpy as np

    # 6x4 gradient PPM: resize to 3x2 must equal numpy fancy-indexing
    w, h = 6, 4
    px = np.arange(w * h * 3, dtype=np.uint8).reshape(h, w, 3)
    ppm = b"P6\n%d %d\n255\n" % (w, h) + px.tobytes()
    rows = [
        (0, "image", bytearray(ppm), {"mime": "image/ppm", "width": None,
                                      "height": None, "duration_ms": None}),
        (1, "image", bytearray(b"\x89PNG garbage"),
         {"mime": "image/png", "width": None, "height": None,
          "duration_ms": None}),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           MM.resize_images_real(media, out_w=3, out_h=2).collect()}

    assert out[1].ok is False and out[1].out_bytes == 0
    assert out[0].ok is True
    got_w, got_h, got_px = MM.decode_image(bytes(out[0].content))
    assert (got_w, got_h) == (3, 2)
    expect = MM.resize_nearest(px, 3, 2)
    assert (got_px == expect).all()
    # identity resize reproduces the source pixels exactly
    same = {r.media_id: r for r in
            MM.resize_images_real(media, out_w=6, out_h=4).collect()}
    _, _, same_px = MM.decode_image(bytes(same[0].content))
    assert (same_px == px).all()


def test_truncated_known_format_is_permissive(spark):
    # P6 header promising 100x100 but body truncated; and garbage header
    rows = [
        (0, "image", bytearray(b"P6\n100 100\n255\n\x00\x01"), {
            "mime": "image/ppm", "width": None, "height": None,
            "duration_ms": None}),
        (1, "image", bytearray(b"P6\nxx yy\n255\n"), {
            "mime": "image/ppm", "width": None, "height": None,
            "duration_ms": None}),
    ]
    media = spark.createDataFrame(rows, MM.MEDIA_SCHEMA)
    out = {r.media_id: r.ok for r in
           MM.resize_images_real(media, 2, 2).collect()}
    assert out == {0: False, 1: False}


def test_real_decode_pgm_grayscale(spark):
    import numpy as np

    w, h = 4, 3
    gray = np.arange(w * h, dtype=np.uint8).reshape(h, w)
    pgm = b"P5\n# c\n%d %d\n255\n" % (w, h) + gray.tobytes()
    got_w, got_h, px = MM.decode_image(pgm)
    assert (got_w, got_h) == (w, h)
    assert px.shape == (h, w, 3)
    assert (px[:, :, 0] == gray).all() and (px[:, :, 2] == gray).all()


def test_pnm_header_edge_cases():
    import numpy as np

    from moc_indexer_spark.operators.multimodal import (
        _parse_pnm_header, decode_image,
    )

    # multiple comments, CRLF-ish spacing, comments between every token
    hdr = b"P6 #first\n# second comment\n 3 #w\n 2 # h\n 255\n"
    body = bytes(range(3 * 2 * 3))
    w, h, maxval, off = _parse_pnm_header(hdr + body)
    assert (w, h, maxval) == (3, 2, 255)
    got_w, got_h, px = decode_image(hdr + body)
    assert (got_w, got_h) == (3, 2)
    assert px.tobytes() == body

    # 16-bit maxval refuses loudly rather than mis-reading
    import pytest

    with pytest.raises(NotImplementedError):
        decode_image(b"P6\n2 2\n65535\n" + b"\x00" * 24)
