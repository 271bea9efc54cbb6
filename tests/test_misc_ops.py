"""Multimodal plumbing and codecs, CSV backup (S12), search surface (T1/T2,
English analyzer), FIFO dequeue (S3), point gets (S8/S10), scheduler
equivalence."""

from pyspark.sql import Window
from pyspark.sql import functions as F


def test_multimodal_features(spark):
    from adavnceseo_crawler_spark.operators.multimodal import (
        extract_features,
        synth_media,
    )

    media = synth_media(spark, n=120)
    feats = extract_features(media, dim=16)
    rows = feats.collect()
    assert len(rows) == 120
    for r in rows:
        assert len(r["feature"]) == 16
        assert abs(sum(r["feature"]) - 1.0) < 1e-3  # normalized histogram
        assert r["n_bytes"] > 0
    # determinism
    rows2 = extract_features(media, dim=16).collect()
    assert {(r["media_id"], tuple(r["feature"])) for r in rows} == {
        (r["media_id"], tuple(r["feature"])) for r in rows2
    }


def test_csv_backup_roundtrip(spark, tmp_path):
    """S12: COPY ... TO CSV (postgres_storage.py:196-216) as df.write.csv."""
    df = spark.createDataFrame(
        [("https://a/x", "t1", 10), ("https://a/y", "t2", 20)],
        "url string, title string, n int",
    )
    path = str(tmp_path / "backup_csv")
    df.write.option("header", True).mode("overwrite").csv(path)
    back = spark.read.option("header", True).option("inferSchema", True).csv(path)
    assert {(r["url"], r["title"], r["n"]) for r in back.collect()} == {
        ("https://a/x", "t1", 10),
        ("https://a/y", "t2", 20),
    }


def test_search_surface(spark):
    from adavnceseo_crawler_spark.operators.search import (
        search_pages,
        search_with_domain_filter,
    )

    parsed = spark.createDataFrame(
        [
            ("https://a.com/1", "spark engine", "about spark", "spark spark text"),
            ("https://b.com/2", "other", "none", "spark mentioned once"),
            ("https://b.com/3", "unrelated", "x", "nothing here"),
        ],
        "url string, title string, description string, text string",
    )
    hits = search_pages(parsed, "spark", size=10).collect()
    assert [h["url"] for h in hits][:2] == ["https://a.com/1", "https://b.com/2"]
    assert hits[0]["score"] > hits[1]["score"]
    # T2 domain: filter
    dom = search_with_domain_filter(parsed, "domain:b.com", size=10).collect()
    assert {d["url"] for d in dom} == {"https://b.com/2", "https://b.com/3"}


def test_fifo_dequeue_mode(spark):
    """S3: the live-path LPOP special case — order by arrival seq."""
    from adavnceseo_crawler_spark.operators.politeness import schedule_batch

    df = spark.createDataFrame(
        [
            ("h1", "https://h1/b", 0.9, 2),
            ("h1", "https://h1/a", 0.1, 1),
            ("h2", "https://h2/c", 0.5, 0),
        ],
        "host string, url string, score double, seq long",
    )
    fifo = schedule_batch(df, budget=5, batch_size=2, salt_buckets=2, mode="fifo")
    assert [r["url"] for r in fifo.collect()] == ["https://h2/c", "https://h1/a"]
    prio = schedule_batch(df, budget=5, batch_size=2, salt_buckets=2)
    assert [r["url"] for r in prio.collect()] == ["https://h1/b", "https://h2/c"]


def test_point_get_pruned(spark):
    """S8/S10: point lookup by url_hash — filter reaches the parquet scan."""
    import hashlib

    df = spark.createDataFrame(
        [(f"https://h/{i}", hashlib.sha256(f"https://h/{i}".encode()).hexdigest())
         for i in range(100)],
        "url string, url_hash string",
    )
    import tempfile

    path = tempfile.mkdtemp() + "/pages_pq"
    df.write.parquet(path)
    h = hashlib.sha256(b"https://h/7").hexdigest()
    q = spark.read.parquet(path).where(F.col("url_hash") == h)
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "url_hash" in plan
    rows = q.collect()
    assert len(rows) == 1 and rows[0]["url"] == "https://h/7"


def test_schedule_batch_counted_equivalence(spark):
    """schedule_batch_counted returns the identical row set as schedule_batch
    in BOTH branches (cap binds / cap slack — the serial global sort never
    runs in the slack branch).  Both schedulers are also pinned to an
    independent single-stage window reference, trap guard on and off."""
    from adavnceseo_crawler_spark.operators.politeness import (
        schedule_batch,
        schedule_batch_counted,
    )

    rows = [
        (f"https://h{i % 4}.com/p{i}", f"h{i % 4}", float(i % 13), i)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "url string, host string, score double, seq long")
    for batch_size in (7, 1000):  # binds / cannot bind
        want = {
            r["url"]
            for r in schedule_batch(df, budget=9, batch_size=batch_size,
                                    salt_buckets=2).collect()
        }
        got_df, n, caches = schedule_batch_counted(
            df, budget=9, batch_size=batch_size, salt_buckets=2
        )
        got = {r["url"] for r in got_df.collect()}
        assert got == want and n == len(want)
        for c in caches:
            c.unpersist()

    # independent reference: single-stage windows (trap cell cap, then the
    # per-host budget) and a plain global cut, on a frame with trap cells
    # (/cal/<N> on every host, /tag/<N> on two) beside letter-distinct pages
    # and one under-budget host
    rows = [
        (f"https://h{h}.com/cal/{1000 + i}", f"h{h}", float((i * 7 + h) % 11), i)
        for h in range(4) for i in range(12)
    ] + [
        (f"https://h{h}.com/tag/{i}", f"h{h}", float((i * 3 + h) % 10), 50 + i)
        for h in range(2) for i in range(9)
    ] + [
        (f"https://h{h}.com/page-{c}", f"h{h}", float((j * 5 + h) % 9), 100 + j)
        for h in range(4) for j, c in enumerate("abcdef")
    ] + [(f"https://h4.com/page-{c}", "h4", 3.0, 200) for c in "xyz"]
    df = spark.createDataFrame(rows, "url string, host string, score double, seq long")
    order = [F.desc("score"), F.asc("url")]

    def reference(trap, batch_size):
        cand = df
        if trap is not None:
            threshold, cap = trap
            cell = Window.partitionBy(
                "host",
                F.when(F.col("url").contains("/cal/"), "cal")
                .when(F.col("url").contains("/tag/"), "tag")
                .otherwise(F.col("url")),
            )
            cand = (
                cand.withColumn("_cn", F.count(F.lit(1)).over(cell))
                .withColumn("_rc", F.row_number().over(cell.orderBy(*order)))
                .filter((F.col("_cn") <= threshold) | (F.col("_rc") <= cap))
            )
        w = Window.partitionBy("host").orderBy(*order)
        top = cand.withColumn("_rh", F.row_number().over(w)).filter(F.col("_rh") <= 5)
        return {r["url"] for r in top.orderBy(*order).limit(batch_size).collect()}

    for trap in (None, (8, 2)):
        kw = {} if trap is None else {"trap_threshold": trap[0], "trap_cap": trap[1]}
        for batch_size in (7, 1000):  # binds / cannot bind
            want = reference(trap, batch_size)
            lazy = schedule_batch(df, budget=5, batch_size=batch_size,
                                  salt_buckets=2, **kw)
            assert {r["url"] for r in lazy.collect()} == want
            got_df, n, caches = schedule_batch_counted(
                df, budget=5, batch_size=batch_size, salt_buckets=2, **kw
            )
            got = {r["url"] for r in got_df.collect()}
            assert got == want and n == len(want)
            for c in caches:
                c.unpersist()


def test_en_stem_column_matches_python_mirror(spark):
    """en_stem (JVM regexp chain) and en_stem_py (driver-side query-term
    stemmer) must be rule-for-rule identical — q56 stems documents with the
    former and query terms with the latter."""
    from adavnceseo_crawler_spark.operators.search import en_stem, en_stem_py

    words = [
        "queries", "sparks", "tables", "query", "table", "spark", "caresses",
        "ponies", "caress", "cats", "searching", "sing", "crawled", "bed",
        "key", "day", "y", "ss", "s", "pass", "tries", "going", "feed",
        "agreed", "plastered", "motoring", "happy", "sky", "analysis",
        # possessives / apostrophes (Porter step-1 extension, VERDICT r3 #6)
        "dog's", "crawler's", "sites'", "'quoted'", "''", "'s", "o'clock",
        "agreed's", "proceed", "speed", "freed",
        # steps 2-5 (round 5, VERDICT r4 #6): suffix-table + measure-guard
        # words through every new rule family
        "organization", "conditional", "relational", "rational", "agencies",
        "effectiveness", "hopefulness", "callousness", "electrical",
        "information", "operator", "feudalism", "quality", "activity",
        "sensibility", "duplicate", "formative", "formalize", "electriciti",
        "useful", "darkness", "entertainment", "replacement", "allowance",
        "dependence", "adjustable", "defensible", "irritant", "different",
        "adoption", "decision", "communism", "generate", "angulariti",
        "homologous", "effective", "bowdlerize", "radical", "crawler",
        "electric", "piece", "controll", "roll", "see", "use",
    ]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {r["w"]: r["s"] for r in df.select("w", en_stem(F.col("w")).alias("s")).collect()}
    for w in words:
        assert got[w] == en_stem_py(w), (w, got[w], en_stem_py(w))


def test_bm25_english_analyzer_matches_stemmed_docs(spark):
    """Inflected query terms match base-form documents only through the
    english analyzer: the standard-analyzer match set is empty."""
    from adavnceseo_crawler_spark.operators.search import bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "the query planner joins a table"),
            (2, "spark table and query engine"),
            (3, "nothing relevant here"),
        ],
        "doc_id int, text string",
    )
    std = bm25_topk(docs, terms=["queries", "tables", "sparks"], k=5)
    assert std.count() == 0
    from adavnceseo_crawler_spark.operators.search import en_stem_py

    terms = sorted({en_stem_py(t) for t in ("queries", "tables", "sparks")})
    en = bm25_topk(docs, terms=terms, k=5, analyzer="english")
    rows = {r["doc_id"]: r["bm25"] for r in en.collect()}
    assert set(rows) == {1, 2} and all(v > 0 for v in rows.values())


def test_image_codec_roundtrip_pure():
    """decode_real(encode(px)) == px exactly for both supported formats
    (VERDICT r3 #5: the NotImplementedError path is gone for images)."""
    import numpy as np

    from adavnceseo_crawler_spark.operators.multimodal import (
        decode_real,
        encode_bmp,
        encode_ppm,
        synth_pixels,
    )

    for i in range(8):
        w, h = 8 + i % 5, 6 + i % 3
        px = synth_pixels(i, w, h)
        assert np.array_equal(decode_real(encode_bmp(px), "image/bmp"), px)
        assert np.array_equal(
            decode_real(encode_ppm(px), "image/x-portable-pixmap"), px
        )
    # odd width exercises BMP's 4-byte row padding
    px = synth_pixels(3, 7, 5)
    assert np.array_equal(decode_real(encode_bmp(px), "image/bmp"), px)
    # PPM with header comments
    raw = encode_ppm(px)
    commented = raw[:2] + b"\n# a comment\n" + raw[2:]
    assert np.array_equal(
        decode_real(commented, "image/x-portable-pixmap"), px
    )
    # unsupported mimes still raise with the documented integration point
    import pytest

    with pytest.raises(NotImplementedError):
        decode_real(b"\xff\xfb...", "audio/mpeg")  # compressed audio: no codec
    with pytest.raises(NotImplementedError):
        decode_real(b"\x00...ftyp", "video/mp4")  # H.264: no codec
    # supported mime + malformed payload is a decode error, not a stub path
    with pytest.raises(ValueError):
        decode_real(b"RIFF....", "audio/wav")
    with pytest.raises(ValueError):
        decode_real(b"\x89PNG...", "image/png")  # real codec since round 5
    with pytest.raises(ValueError):
        decode_real(b"\xff\xd8\xff...", "image/jpeg")  # real codec since r5


def test_image_features_from_real_pixels():
    """image_features reports true dims, channel means and an integer-binned
    luminance histogram from the decoded pixels."""
    import numpy as np

    from adavnceseo_crawler_spark.operators.multimodal import image_features

    px = np.zeros((4, 6, 3), dtype=np.uint8)
    px[:, :, 0] = 10
    px[:, :, 1] = 20
    px[:, :, 2] = 30
    f = image_features(px, dim=16)
    assert f[0] == 6.0 and f[1] == 4.0           # w, h
    assert tuple(f[2:5]) == (10.0, 20.0, 30.0)   # channel means
    # single luminance value -> one histogram bin holds all mass
    hist = f[5:]
    assert len(hist) == 11
    assert abs(hist.sum() - 1.0) < 1e-6
    assert (hist == 1.0).sum() == 1


def test_extract_features_real_decode(spark):
    """The decode="real" path runs the actual BMP/PPM parse inside
    mapInPandas and yields pixel-derived features; opaque blobs in the same
    run fall back to the stub (mixed-modality batch survives)."""
    import numpy as np

    from adavnceseo_crawler_spark.operators.multimodal import (
        extract_features,
        image_features,
        synth_media,
        synth_media_real,
        synth_pixels,
    )

    real = synth_media_real(spark, n=12)
    rows = {r["media_id"]: r for r in extract_features(real, decode="real").collect()}
    assert len(rows) == 12
    for i in range(12):
        w, h = 8 + i % 5, 6 + i % 3
        expect = image_features(synth_pixels(i, w, h), dim=16)
        got = np.array(rows[i]["feature"], dtype=np.float32)
        assert np.allclose(got, expect, atol=1e-5), i
    # real decodes are flagged so fallbacks are auditable
    assert all(rows[i]["decoded"] for i in range(12))
    # mixed: opaque payloads under decode="real" fall back to the stub
    mixed = synth_media(spark, n=6)
    stub_rows = extract_features(mixed).collect()
    stub = {r["media_id"]: tuple(r["feature"]) for r in stub_rows}
    assert not any(r["decoded"] for r in stub_rows)  # stub mode: all False
    fell_back_rows = extract_features(mixed, decode="real").collect()
    fell_back = {r["media_id"]: tuple(r["feature"]) for r in fell_back_rows}
    assert stub == fell_back
    assert not any(r["decoded"] for r in fell_back_rows)  # fallback flagged


def test_png_codec_roundtrip_pure():
    """decode_png(encode_png(px, ft)) == px exactly for every scanline
    filter 0-4; CRC corruption and unsupported variants rejected."""
    import numpy as np
    import pytest

    from adavnceseo_crawler_spark.operators.multimodal import (
        decode_png,
        decode_real,
        encode_png,
        synth_pixels,
    )

    # gradient pixels hit all branches of the Paeth/Average predictors
    rng = np.arange(23 * 13 * 3, dtype=np.int64)
    hard = ((rng * rng * 2654435761) % 251).astype(np.uint8).reshape(13, 23, 3)
    for ft in range(5):
        px = synth_pixels(ft * 7, 8 + ft, 6 + ft % 3)
        assert np.array_equal(decode_png(encode_png(px, ft)), px)
        assert np.array_equal(decode_png(encode_png(hard, ft)), hard)
    assert np.array_equal(decode_real(encode_png(hard, 4), "image/png"), hard)
    # chunk CRCs are verified
    corrupt = bytearray(encode_png(hard))
    corrupt[20] ^= 0xFF
    with pytest.raises(ValueError, match="CRC"):
        decode_png(bytes(corrupt))
    with pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"\x89PNX" + b"\x00" * 16)
    # unsupported variant (grayscale colortype 0) rejected, not mis-decoded
    import zlib as _z
    from adavnceseo_crawler_spark.operators.multimodal import _png_chunk
    gray_ihdr = (2).to_bytes(4, "big") + (2).to_bytes(4, "big") + bytes(
        [8, 0, 0, 0, 0])
    gray = (b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", gray_ihdr)
            + _png_chunk(b"IDAT", _z.compress(b"\x00ab\x00cd"))
            + _png_chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="unsupported PNG variant"):
        decode_png(gray)


def test_gif_codec_roundtrip_pure():
    """decode_gif(encode_gif(px)) == px exactly for palette-expressible
    images, across LZW table growth (12-bit codes), table resets, the
    multi-chunk sub-block framing and the 2-color mcs floor; unsupported
    variants rejected."""
    import numpy as np
    import pytest

    from adavnceseo_crawler_spark.operators.multimodal import (
        decode_gif,
        decode_real,
        encode_gif,
        synth_pixels,
    )

    for i in range(8):
        px = synth_pixels(i, 8 + i % 6, 6 + i % 5)
        assert np.array_equal(decode_gif(encode_gif(px)), px), i
    # 16-color 200x150: multi-chunk LZW stream + repeated-run cScSc paths
    rng = np.arange(200 * 150, dtype=np.int64)
    few = ((rng * rng * 7919) % 16).astype(np.uint8)
    px = np.stack([few * 16, 255 - few * 16, (few * 37) % 256],
                  axis=-1).astype(np.uint8).reshape(150, 200, 3)
    assert np.array_equal(decode_gif(encode_gif(px)), px)
    # 256 colors: code width grows to 12 bits and the table resets
    big = np.arange(64 * 64, dtype=np.int64) % 256
    px2 = np.stack([big, (big * 3) % 256, (big * 7) % 256],
                   axis=-1).astype(np.uint8).reshape(64, 64, 3)
    assert np.array_equal(decode_gif(encode_gif(px2)), px2)
    # 2 colors: min code size floors at 2 per the spec
    px3 = np.zeros((5, 7, 3), np.uint8)
    px3[::2] = 255
    assert np.array_equal(decode_gif(encode_gif(px3)), px3)
    assert np.array_equal(decode_real(encode_gif(px3), "image/gif"), px3)
    with pytest.raises(ValueError, match="not a GIF"):
        decode_gif(b"NOTGIF" + b"\x00" * 16)
    with pytest.raises(ValueError, match="no global color table"):
        decode_gif(b"GIF89a" + b"\x08\x00\x06\x00\x00\x00\x00" + b"\x3b")
    with pytest.raises(ValueError, match="256 distinct colors"):
        k = np.arange(400, dtype=np.int64)  # 400 distinct colors
        rgb = np.stack([k % 256, k // 256, k * 0], axis=-1)
        encode_gif(rgb.astype(np.uint8).reshape(20, 20, 3))


def test_wav_codec_roundtrip_pure():
    """decode_wav(encode_wav(s)) == s exactly; chunk-walk handles extra
    chunks; non-PCM/stereo variants rejected."""
    import numpy as np
    import pytest

    from adavnceseo_crawler_spark.operators.multimodal import (
        decode_real,
        decode_wav,
        encode_wav,
        synth_samples,
    )

    for i in range(5):
        s = synth_samples(i, 400)
        out, rate = decode_wav(encode_wav(s, rate=8000))
        assert rate == 8000 and np.array_equal(out, s)
    # via the mime dispatcher
    out, rate = decode_real(encode_wav(synth_samples(1), 16000), "audio/wav")
    assert rate == 16000
    # an extra LIST chunk between fmt and data is skipped by the chunk walk
    raw = encode_wav(synth_samples(2, 10), 8000)
    extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
    patched = raw[:36] + extra + raw[36:]
    patched = patched[:4] + (len(patched) - 8).to_bytes(4, "little") + patched[8:]
    out, _ = decode_wav(patched)
    assert np.array_equal(out, synth_samples(2, 10))
    # stereo rejected
    bad = bytearray(raw)
    bad[22:24] = (2).to_bytes(2, "little")
    with pytest.raises(ValueError):
        decode_wav(bytes(bad))


def test_avi_codec_roundtrip_pure():
    """decode_avi(encode_avi(frames)) == frames exactly; video_features
    samples first/middle/last frames."""
    import numpy as np

    from adavnceseo_crawler_spark.operators.multimodal import (
        decode_avi,
        decode_real,
        encode_avi,
        synth_pixels,
        video_features,
    )

    frames = [synth_pixels(s, 8, 6) for s in range(5)]
    out = decode_avi(encode_avi(frames, rate=10))
    assert out.shape == (5, 6, 8, 3)
    assert np.array_equal(out, np.stack(frames))
    out2 = decode_real(encode_avi(frames), "video/x-msvideo")
    assert np.array_equal(out2, np.stack(frames))
    f = video_features(out, dim=16)
    assert (f[0], f[1], f[2]) == (5.0, 8.0, 6.0)
    hist = f[3:]
    assert len(hist) == 13 and abs(hist.sum() - 1.0) < 1e-5
    # sampling: only frames 0, 2, 4 contribute -> recompute by hand
    px = out[[0, 2, 4]].reshape(-1, 3).astype(np.int64)
    lum = 299 * px[:, 0] + 587 * px[:, 1] + 114 * px[:, 2]
    expect = np.bincount(lum * 13 // 255001, minlength=13) / lum.size
    assert np.allclose(hist, expect, atol=1e-6)


def test_jpeg_codec_pure():
    """Baseline JPEG (operators/jpeg.py): block-constant grayscale at
    quality 100 roundtrips EXACTLY (incl. through RSTn restarts); color
    4:4:4 and 4:2:0 roundtrip within JPEG's lossy bounds on smooth
    content; progressive/arithmetic/bad-AC streams rejected."""
    import numpy as np
    import pytest

    from adavnceseo_crawler_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from adavnceseo_crawler_spark.operators.multimodal import (
        decode_real,
        synth_pixels,
        synth_tiles,
    )

    # exact path: q100 block-constant gray, with and without restarts
    for i in range(8):
        px = synth_tiles(i)
        for ri in (0, 2):
            out = decode_jpeg(encode_jpeg(px, quality=100,
                                          restart_interval=ri))
            assert out.shape == (*px.shape, 3)
            assert np.array_equal(out[:, :, 0], px), (i, ri)
            assert np.array_equal(out[:, :, 1], out[:, :, 2])
    # arbitrary gray at q100: DCT-coefficient rounding only (<= 1 LSB)
    g = synth_pixels(5, 24, 16)[:, :, 1]
    out = decode_jpeg(encode_jpeg(g, quality=100))
    assert np.abs(out[:, :, 0].astype(int) - g.astype(int)).max() <= 1
    # color, odd (non-multiple-of-8) dims, smooth gradient: high PSNR
    grad = np.stack(
        [
            np.linspace(0, 255, 37)[None, :].repeat(21, 0),
            np.linspace(0, 255, 21)[:, None].repeat(37, 1),
            np.full((21, 37), 100.0),
        ],
        axis=-1,
    ).round().astype(np.uint8)
    for q, sub in ((75, False), (90, True)):
        out = decode_jpeg(encode_jpeg(grad, quality=q, subsample=sub))
        assert out.shape == grad.shape
        mse = ((out.astype(float) - grad.astype(float)) ** 2).mean()
        assert 10 * np.log10(255 ** 2 / mse) > 30, (q, sub)
    # decode_real dispatch
    out = decode_real(encode_jpeg(grad, quality=100), "image/jpeg")
    assert out.shape == grad.shape
    # restart markers don't change the decoded image
    noisy = synth_pixels(9, 40, 24)
    a = decode_jpeg(encode_jpeg(noisy, quality=100))
    b = decode_jpeg(encode_jpeg(noisy, quality=100, restart_interval=3))
    assert np.array_equal(a, b)
    # explicit rejection, never mis-decode
    prog = bytearray(encode_jpeg(grad, quality=75))
    prog[prog.find(b"\xff\xc0") + 1] = 0xC2
    with pytest.raises(ValueError, match="SOF2"):
        decode_jpeg(bytes(prog))
    with pytest.raises(ValueError, match="not a JPEG"):
        decode_jpeg(b"\x89PNG1234")
    trunc = encode_jpeg(grad, quality=75)
    with pytest.raises(ValueError):
        decode_jpeg(trunc[: len(trunc) // 2])


def test_jpeg_fill_bytes_and_standalone_markers():
    """ADVICE r5: spec-legal 0xFF fill bytes before a marker (T.81
    B.1.1.2) and standalone TEM markers must not desync the segment walk —
    real-world baseline JPEGs pad with them, and the old walk either raised
    'bad JPEG marker sync' or misparsed them as length-prefixed."""
    import numpy as np

    from adavnceseo_crawler_spark.operators.jpeg import decode_jpeg, encode_jpeg
    from adavnceseo_crawler_spark.operators.multimodal import synth_pixels

    px = synth_pixels(3, 16, 16)
    enc = encode_jpeg(px, quality=100)
    want = decode_jpeg(enc)
    # inject a 0xFF fill byte and a standalone TEM (FF 01) before the first
    # DQT segment (right after the SOI + APP0-or-DQT boundary at offset 2)
    padded = enc[:2] + b"\xff" + enc[2:]            # FF fill before marker
    assert np.array_equal(decode_jpeg(padded), want)
    padded2 = enc[:2] + b"\xff\x01" + enc[2:]       # standalone TEM
    assert np.array_equal(decode_jpeg(padded2), want)
    padded3 = enc[:2] + b"\xff\xff\xff\x01\xff" + enc[2:]  # both, stacked
    assert np.array_equal(decode_jpeg(padded3), want)


def test_extract_features_corrupt_payload_falls_back(spark):
    """ADVICE r5: a corrupt payload (truncated GIF / JPEG with a bogus
    component id) must flag decoded=false and take the stub path, never
    fail the Spark task — codecs raise IndexError/KeyError/StopIteration
    on malformed bytes, not just ValueError."""
    from adavnceseo_crawler_spark.operators.multimodal import (
        MEDIA,
        encode_gif,
        extract_features,
        synth_pixels,
    )

    good = encode_gif(synth_pixels(1, 8, 6))
    rows = [
        (0, "image", good, ("image/gif", 8, 6, None)),
        (1, "image", good[:20], ("image/gif", 8, 6, None)),     # truncated
        (2, "image", b"\xff\xd8\xff\xda\x00\x04\x01\x00", ("image/jpeg", 8, 6, None)),
    ]
    media = spark.createDataFrame(rows, MEDIA)
    out = {
        r["media_id"]: r["decoded"]
        for r in extract_features(media, decode="real").collect()
    }
    assert out == {0: True, 1: False, 2: False}, out
