"""Round-6 operator tests: reliable-checkpoint closure, span excision,
PNG decode, IVF-PQ incremental maintenance.

The catalog entries for these get their value check from the DuckDB
oracle via the driver contract; these tests cover the semantics the
oracle can't see (checkpoint-mechanism equivalence, storage-mode
parity, batch-split independence).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdata_capstone_spark.sources.tables import load_table


def test_dedup_clusters_reliable_checkpoint(spark, sf_small, request):
    """On a session with a checkpoint dir, `dedup_clusters` must route
    the iterative closure through reliable `checkpoint()` (files
    actually land in the directory) and produce the IDENTICAL
    clustering as the localCheckpoint default — the mechanism changes,
    the fixpoint doesn't."""
    from bigdata_capstone_spark.operators.dedup import dedup_clusters

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    local = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters(docs, min_jaccard=0.35).collect()
    }
    ckpt = request.getfixturevalue("session_checkpoint_dir")
    reliable = {
        (r["doc_id"], r["cluster_id"], r["cluster_size"])
        for r in dedup_clusters(docs, min_jaccard=0.35).collect()
    }
    assert reliable == local
    assert local, "fixture corpus should produce clusters"
    # reliable checkpoint really wrote to the session's directory
    ckpt_files = list(ckpt.rglob("*"))
    assert ckpt_files, "checkpoint dir should contain RDD checkpoint data"


def test_png_decode_matches_ppm_and_value_checks(spark):
    """The PNG kernel (zlib inflate + scanline unfilter) must produce the
    IDENTICAL feature vector as the PPM parser for the same pixels —
    both fixtures derive pixel p of asset i from md5("42:{i}:{p}")[:3] —
    and first/last pixel values must equal the raw md5 bytes (the BMP
    value-check pattern). Odd assets are RGBA: equality with the RGB PPM
    twin proves alpha is dropped, not composited."""
    import hashlib

    from bigdata_capstone_spark.operators.multimodal import (
        FEATURE_DIM,
        extract_features,
        synthetic_png_assets,
        synthetic_ppm_assets,
    )

    n = 12  # dims cycle every lcm(5,4)=20; 12 covers all five filters
    png = {
        r["asset_id"]: r["features"]
        for r in extract_features(
            synthetic_png_assets(spark, n=n, seed=42), decoder="strict"
        ).collect()
    }
    ppm = {
        r["asset_id"]: r["features"]
        for r in extract_features(
            synthetic_ppm_assets(spark, n=n, seed=42), decoder="strict"
        ).collect()
    }
    assert len(png) == n
    assert png == ppm  # bit-identical across containers
    for i in (0, 7, 11):
        w, h = 4 + i % 5, 3 + i % 4
        first = hashlib.md5(f"42:{i}:0".encode()).digest()[:3]
        last = hashlib.md5(f"42:{i}:{w * h - 1}".encode()).digest()[:3]
        feats = png[i]
        assert len(feats) == FEATURE_DIM
        assert (feats[0], feats[1], feats[15]) == (w, h, w * h)
        assert [round(f * 255) for f in feats[5:8]] == list(first)
        assert [round(f * 255) for f in feats[8:11]] == list(last)


def test_png_unsupported_variants_raise():
    """Gray+alpha/16-bit/interlaced PNGs and corrupt streams raise the
    honest errors the strict contract promises — never a fake vector;
    palette and grayscale (now supported) decode, and a palette image
    with no PLTE is malformed, not unsupported."""
    import zlib

    import pytest

    from bigdata_capstone_spark.operators.multimodal import DECODERS

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            len(body).to_bytes(4, "big") + ctype + body
            + zlib.crc32(ctype + body).to_bytes(4, "big")
        )

    def png(bit_depth=8, color_type=2, interlace=0, idat=None, w=1, h=1,
            plte=None):
        ihdr = (
            w.to_bytes(4, "big") + h.to_bytes(4, "big")
            + bytes((bit_depth, color_type, 0, 0, interlace))
        )
        if idat is None:
            idat = zlib.compress(b"\x00" + b"\x01\x02\x03" * w * h)
        blob = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if plte is not None:
            blob += chunk(b"PLTE", plte)
        return blob + chunk(b"IDAT", idat) + chunk(b"IEND", b"")

    assert DECODERS["strict"](png())[15] == 1.0  # 1x1 RGB decodes
    pal = DECODERS["strict"](png(  # 1x1 palette decodes through PLTE
        color_type=3, plte=b"\x09\x08\x07",
        idat=zlib.compress(b"\x00\x00"),
    ))
    assert [round(v * 255) for v in pal[5:8]] == [9, 8, 7]
    gray = DECODERS["strict"](png(  # 1x1 grayscale expands to (g,g,g)
        color_type=0, idat=zlib.compress(b"\x00\x2a"),
    ))
    assert [round(v * 255) for v in gray[5:8]] == [42, 42, 42]
    with pytest.raises(ValueError):  # palette image without PLTE
        DECODERS["strict"](
            png(color_type=3, idat=zlib.compress(b"\x00\x00"))
        )
    with pytest.raises(ValueError):  # palette index past PLTE end
        DECODERS["strict"](png(
            color_type=3, plte=b"\x09\x08\x07",
            idat=zlib.compress(b"\x00\x05"),
        ))
    with pytest.raises(NotImplementedError):
        DECODERS["strict"](png(color_type=4))  # gray+alpha
    with pytest.raises(NotImplementedError):
        DECODERS["strict"](png(bit_depth=16))
    with pytest.raises(NotImplementedError):
        DECODERS["strict"](png(interlace=1))  # Adam7
    with pytest.raises(ValueError):
        DECODERS["strict"](png(idat=b"\x00garbage-not-deflate"))
    with pytest.raises(ValueError):  # truncated raster (2x1 data for 1x1)
        DECODERS["strict"](
            png(idat=zlib.compress(b"\x00" + b"\x01\x02\x03" * 2))
        )


def test_connected_components_checkpoint_dir_chain(
    spark, session_checkpoint_dir
):
    """A long chain graph (propagation distance >> 1) converges to one
    component under the reliable-checkpoint path — exercising multiple
    checkpointed rounds, not just the trivial first iteration."""
    from bigdata_capstone_spark.operators.dedup import connected_components

    n = 40
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["idA", "idB"]
    )
    comp = connected_components(edges).collect()
    assert len(comp) == n + 1
    assert {r["component"] for r in comp} == {0}
    assert list(session_checkpoint_dir.rglob("*"))


def test_excise_repeated_spans_planted_boilerplate(spark):
    """Planted fixture: a 10-token boilerplate footer shared by two docs
    must be excised from BOTH (anchors need min_docs=2), the surrounding
    unique prose must survive verbatim, a doc that IS only the footer
    must survive as empty text, and a unique doc passes through
    untouched with excised_tokens = 0."""
    import hashlib

    from bigdata_capstone_spark.operators.dedup import (
        excise_repeated_spans,
    )

    footer = "subscribe to our newsletter for daily updates and exclusive offers"
    uniq_a = "alpha beta gamma delta epsilon"
    uniq_b = "zeta eta theta iota kappa"
    solo = "completely unique prose with no repeats anywhere at all here"
    docs = spark.createDataFrame(
        [
            (0, f"{uniq_a} {footer}"),
            (1, f"{footer} {uniq_b}"),
            (2, footer),
            (3, solo),
        ],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in excise_repeated_spans(docs, k=8, min_docs=2).collect()
    }
    assert set(out) == {0, 1, 2, 3}

    def h(s: str) -> str:
        return hashlib.md5(s.encode()).hexdigest()

    assert out[0]["clean_hash"] == h(uniq_a)
    assert out[0]["excised_tokens"] == 10
    assert out[1]["clean_hash"] == h(uniq_b)
    assert out[2]["kept_tokens"] == 0
    assert out[2]["clean_hash"] == h("")
    assert out[3]["excised_tokens"] == 0
    assert out[3]["clean_hash"] == h(solo)
    # count columns are internally consistent
    for r in out.values():
        assert r["n_tokens"] == r["kept_tokens"] + r["excised_tokens"]


def test_ivfpq_incremental_batch_split_independent(spark, sf_small):
    """Frozen medoids AND codebook => encoding the arrivals batch in one
    go or in two sub-batches yields identical (cell, code) rows — the
    coordination-free parallel-ingest property of the composed index.
    Also pins the row shape: m rows per vector, codes/cells in range."""
    from bigdata_capstone_spark.operators.simsearch import ivfpq_encode_prf

    emb = load_table(spark, sf_small, "embeddings")
    base = emb.filter(F.col("vec_id") < 400).cache()
    new = emb.filter(F.col("vec_id") >= 400)
    kw = dict(dim=64, m=16, k_codes=32, n_centroids=16, train_on=base)
    whole = {
        (r["vec_id"], r["s"]): (r["cell"], r["code"])
        for r in ivfpq_encode_prf(new, **kw).collect()
    }
    split = {}
    for part in (
        new.filter(F.col("vec_id") < 450),
        new.filter(F.col("vec_id") >= 450),
    ):
        for r in ivfpq_encode_prf(part, **kw).collect():
            split[(r["vec_id"], r["s"])] = (r["cell"], r["code"])
    assert whole == split
    n_vecs = new.count()
    assert len(whole) == 16 * n_vecs
    assert all(0 <= cell < 16 and 0 <= code < 32 for cell, code in whole.values())
    # a vector's cell is constant across its m subspace rows
    by_vec = {}
    for (vid, _s), (cell, _c) in whole.items():
        by_vec.setdefault(vid, set()).add(cell)
    assert all(len(cells) == 1 for cells in by_vec.values())


def test_warc_parser_framing_and_robustness(spark):
    """The WARC kernel must (a) split gzip members exactly (interleaved
    request/metadata records advance the stream but emit nothing),
    (b) number response records in stream order, (c) skip malformed
    members rather than mis-frame the rest, and (d) raise on a
    truncated member (silent data loss is worse than failure)."""
    import gzip

    import pytest

    from bigdata_capstone_spark.operators.webingest import (
        _mk_html,
        _split_gzip_members,
        _warc_record,
        extract_html_text,
        parse_warc_records,
        synthetic_warc_shards,
    )

    shards = synthetic_warc_shards(spark, n_shards=2, docs_per_shard=3)
    rows = parse_warc_records(shards).collect()
    # only responses emitted: 3 per shard, idx 0..2 in stream order
    assert len(rows) == 6
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard_id"], []).append(r["record_idx"])
        assert r["http_status"] == 200
        assert r["uri"].startswith("https://example.com/")
    assert all(sorted(v) == [0, 1, 2] for v in by_shard.values())

    # malformed members are skipped, the rest still parse
    good = _warc_record(
        "response",
        "https://example.com/9/0",
        b"HTTP/1.1 404 Not Found\r\n\r\n" + _mk_html(9, 0, 42).encode(),
    )
    bad = b"NOT-A-WARC\r\n\r\njunk"
    blob = gzip.compress(bad, mtime=0) + gzip.compress(good, mtime=0)
    df = spark.createDataFrame(
        [(9, bytearray(blob))], "shard_id INT, data BINARY"
    )
    out = parse_warc_records(df).collect()
    assert len(out) == 1 and out[0]["http_status"] == 404
    # the JVM strip stage consumes the parsed frame end-to-end
    stripped = extract_html_text(parse_warc_records(df)).collect()
    assert stripped[0]["title"] == "Doc 9-0"

    # truncated member raises rather than silently dropping the tail
    with pytest.raises(ValueError):
        list(_split_gzip_members(gzip.compress(good, mtime=0)[:-5]))


def test_gopher_rules_planted_fixture(spark):
    """Each Gopher rule must individually reject a document crafted to
    violate exactly that rule, and a healthy document must pass all
    seven — the discrimination the synthetic corpus (keyword soup, few
    function words) can't show."""
    from bigdata_capstone_spark.operators.textops import gopher_quality_rules

    healthy = (
        "the quick brown fox jumps over that lazy dog and runs away "
        "to have fun with friends of mine be happy "
    ) * 5  # 90 words, mixed function words
    docs = spark.createDataFrame(
        [
            (0, healthy),
            (1, "too short to have the required fifty words with that"),
            (2, ("a " * 60 + "the of and that be to have with")),  # mwl < 3
            (3, healthy + " #tag" * 30),  # symbol ratio > 0.1
            (4, "\n".join(["- the bullet of and that item"] * 10)),
            (5, "\n".join([f"the line {i} of and that trails..." for i in range(10)])),
            (6, healthy + " " + "1234 5678 9012 " * 30),  # alpha < 0.8
            (7, "alpha beta gamma delta " * 20),  # no stopwords
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in gopher_quality_rules(docs).collect()}
    assert out[0]["passes_gopher"], dict(out[0].asDict())
    assert not out[1]["r_word_count"]
    assert not out[2]["r_mean_word_len"]
    assert not out[3]["r_symbol_ratio"]
    assert not out[4]["r_bullet_lines"]
    assert not out[5]["r_ellipsis_lines"]
    assert not out[6]["r_alpha_words"]
    assert not out[7]["r_stopwords"]
    # every failing doc also fails the bundle
    for d in range(1, 8):
        assert not out[d]["passes_gopher"]


def test_canonicalize_urls_edge_cases(spark):
    """Rules the planted fixture can't exercise: queries that become
    empty (no '?' in canonical), non-default ports kept, param order
    preserved, path defaulting to '/', case-only host changes."""
    from bigdata_capstone_spark.operators.webingest import canonicalize_urls

    cases = [
        (0, "HTTP://Example.COM:80?utm_source=a", "http://example.com/"),
        (1, "https://example.com:8443/a?b=1&a=2", "https://example.com:8443/a?b=1&a=2"),
        (2, "https://example.com:443/x#frag", "https://example.com/x"),
        (3, "http://example.com:8080/", "http://example.com:8080/"),
        (4, "http://a.com/p?gclid=zz&z=1&utm_campaign=c&a=2", "http://a.com/p?z=1&a=2"),
    ]
    df = spark.createDataFrame(
        [(i, u) for i, u, _ in cases], "url_id INT, url STRING"
    )
    got = {
        r["url_id"]: r["canonical_url"]
        for r in canonicalize_urls(df).collect()
    }
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_gif_decode_matches_ppm_and_spec_bytes(spark):
    """The GIF kernel (hand-written LZW + palette) must produce the
    IDENTICAL feature vector as the PPM parser for the same md5-derived
    pixels (even assets: GIF87a/global table; odd: GIF89a + extension +
    local table), and must decode a hand-written spec-level byte
    fixture whose LZW codes were derived on paper — independent of the
    fixture encoder, so a mirrored encoder/decoder bit-order bug cannot
    self-certify."""
    import pytest

    from bigdata_capstone_spark.operators.multimodal import (
        DECODERS,
        extract_features,
        synthetic_gif_assets,
        synthetic_ppm_assets,
    )

    n = 12
    gif = {
        r["asset_id"]: r["features"]
        for r in extract_features(
            synthetic_gif_assets(spark, n=n), decoder="strict"
        ).collect()
    }
    ppm = {
        r["asset_id"]: r["features"]
        for r in extract_features(
            synthetic_ppm_assets(spark, n=n), decoder="strict"
        ).collect()
    }
    assert set(gif) == set(ppm) == set(range(n))
    for i in range(n):
        assert gif[i] == ppm[i], f"asset {i} GIF != PPM features"

    # spec-level bytes: 2x2, palette RGBK, indices [0,1,1,0], LZW codes
    # (4,w3)(0,w3)(1,w3)(1,w4)(0,w4)(5,w4) packed LSB-first = 44 02 0A
    hand = (
        b"GIF87a" + b"\x02\x00\x02\x00" + bytes((0xF1, 0, 0))
        + bytes((255, 0, 0, 0, 255, 0, 0, 0, 255, 0, 0, 0))
        + b"\x2c" + b"\x00" * 4 + b"\x02\x00\x02\x00" + b"\x00"
        + b"\x02" + b"\x03\x44\x02\x0a" + b"\x00" + b"\x3b"
    )
    f = DECODERS["strict"](hand)
    assert (f[0], f[1]) == (2.0, 2.0)
    assert (f[5], f[6], f[7]) == (1.0, 0.0, 0.0)  # first pixel red
    assert (f[8], f[9], f[10]) == (1.0, 0.0, 0.0)  # last pixel red

    # honest failure modes
    interlaced = (
        hand[:13]
        + hand[13:25]
        + b"\x2c" + b"\x00" * 4 + b"\x02\x00\x02\x00" + b"\x40"
        + b"\x02" + b"\x03\x44\x02\x0a" + b"\x00" + b"\x3b"
    )
    with pytest.raises(NotImplementedError):
        DECODERS["strict"](interlaced)
    with pytest.raises(ValueError):  # truncated LZW sub-blocks
        DECODERS["strict"](hand[:-6])
    with pytest.raises(ValueError):  # not a GIF
        DECODERS["gif"](b"NOTAGIF")


def test_jpeg_decode_ac_path_and_failure_modes(spark):
    """The fixture's DC-only blocks leave the AC/ZRL decode path
    unexercised — cover it with a hand-built one-block grayscale JPEG
    carrying AC coefficients, checked against an INDEPENDENT numpy
    matrix IDCT (so the decoder's own loop can't self-certify). Then
    the honest failure modes: progressive SOF2, chroma subsampling, and
    restart intervals raise NotImplementedError; truncated scans raise
    ValueError."""
    import numpy as np
    import pytest

    from bigdata_capstone_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _JpegBitWriter,
        _pixel_features,
        DECODERS,
    )

    def seg(marker, body):
        return bytes((0xFF, marker)) + (len(body) + 2).to_bytes(2, "big") + body

    # DC cats 0..11 at length 4 (as the fixture); AC table with the
    # symbols we emit at length 3: EOB, (0,1), (1,2), ZRL, (0,2)
    ac_syms = [0x00, 0x01, 0x12, 0xF0, 0x02]
    ac_code = {s: (3, i) for i, s in enumerate(ac_syms)}
    w8 = _JpegBitWriter()
    # DC: value 8 -> cat 4, bits 1000
    w8.write(4, 4)
    w8.write(8, 4)
    # AC zigzag: k1: (run0,size1) val 1; k2: (run1,size2) val -2 (k3=val);
    # then ZRL (16 zeros, k4..k19), then (run0,size2) val 3 at k20; EOB
    w8.write(ac_code[0x01][1], 3); w8.write(1, 1)
    w8.write(ac_code[0x12][1], 3); w8.write(1, 2)  # -2 encodes as 01
    w8.write(ac_code[0xF0][1], 3)
    w8.write(ac_code[0x02][1], 3); w8.write(3, 2)
    w8.write(ac_code[0x00][1], 3)
    scan = w8.flush()
    dc_bits = [0, 0, 0, 12] + [0] * 12
    dht = seg(0xC4, bytes((0x00,)) + bytes(dc_bits[:16]) + bytes(range(12)))
    dht += seg(0xC4, bytes((0x10,)) + bytes([0, 0, 5] + [0] * 13) + bytes(ac_syms))
    blob = (
        b"\xff\xd8"
        + seg(0xDB, bytes((0x00,)) + bytes([1] * 64))
        + seg(0xC0, bytes((8,)) + (8).to_bytes(2, "big") + (8).to_bytes(2, "big")
              + bytes((1, 1, 0x11, 0)))
        + dht
        + seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
        + scan
        + b"\xff\xd9"
    )
    got = DECODERS["jpeg"](blob)

    # independent reference: numpy matrix IDCT of the same coefficients
    zz = [0] * 64
    zz[0], zz[1], zz[3], zz[20] = 8, 1, -2, 3
    coef = np.zeros((8, 8))
    for zi, (r, c) in enumerate(_JPEG_ZIGZAG):
        coef[r][c] = zz[zi]
    u = np.arange(8)
    C = np.where(u == 0, 1 / np.sqrt(2), 1.0)
    # s(y,x) = sum_u sum_v C(u)C(v) S(u,v) cos((2y+1)u pi/16)
    #          * cos((2x+1)v pi/16) / 4, as one matrix sandwich
    y = np.arange(8)
    cy = np.cos((2 * y[:, None] + 1) * u[None, :] * np.pi / 16)  # [y, u]
    s = cy @ (C[:, None] * C[None, :] * coef) @ cy.T / 4.0  # [y, x]
    exp_px = np.clip(np.round(s) + 128, 0, 255).astype(int)
    expected = _pixel_features(
        8, 8, [(int(v), int(v), int(v)) for v in exp_px.flatten()]
    )
    assert got == expected

    # failure modes (progressive is SUPPORTED since round 7 — a
    # SOF0->SOF2 rewrite of a baseline scan is now a MALFORMED
    # progressive file, a loud ValueError; arithmetic coding still
    # raises NotImplementedError)
    prog = blob.replace(bytes((0xFF, 0xC0)), bytes((0xFF, 0xC2)), 1)
    with pytest.raises(ValueError):
        DECODERS["jpeg"](prog)
    arith = blob.replace(bytes((0xFF, 0xC0)), bytes((0xFF, 0xC9)), 1)
    with pytest.raises(NotImplementedError):
        DECODERS["jpeg"](arith)
    # since round 7 subsampling is SUPPORTED; for a single-component scan
    # the declared sampling factors are irrelevant (T.81 non-interleaved
    # semantics), so this grayscale decodes identically to its 1x1 twin
    subsampled = blob.replace(bytes((1, 1, 0x11, 0)), bytes((1, 1, 0x22, 0)), 1)
    assert DECODERS["jpeg"](subsampled) == got
    # since round 7 DRI is SUPPORTED; an interval of 8 MCUs on this
    # one-MCU image inserts no restart markers, so it decodes unchanged
    dri = blob[:2] + seg(0xDD, (8).to_bytes(2, "big")) + blob[2:]
    assert DECODERS["jpeg"](dri) == got
    with pytest.raises(ValueError):
        DECODERS["jpeg"](blob[:-8])  # truncated scan
    with pytest.raises(ValueError):
        DECODERS["jpeg"](b"\x89NOTJPEG")


def test_jpeg_fixture_matches_expected_pixels_end_to_end(spark):
    """Spark-side: the strict kernel over synthetic_jpeg_assets through
    mapInPandas must equal the Python-side expected block-constant
    pixel features for every asset (color and grayscale)."""
    import hashlib

    from bigdata_capstone_spark.operators.multimodal import (
        _pixel_features,
        extract_features,
        synthetic_jpeg_assets,
    )

    n = 12
    got = {
        r["asset_id"]: r["features"]
        for r in extract_features(
            synthetic_jpeg_assets(spark, n=n), decoder="strict"
        ).collect()
    }
    assert set(got) == set(range(n))
    for i in range(n):
        w, h = 8 * (1 + i % 2), 8 * (1 + i % 3)
        exp = []
        for y in range(h):
            for x in range(w):
                v = hashlib.md5(f"42:{i}:{x//8}:{y//8}".encode()).digest()[0]
                exp.append((v, v, v))
        expf = [float(np_f) for np_f in _pixel_features(w, h, exp)]
        gotf = [float(v) for v in got[i]]
        import math
        for a, b in zip(gotf, expf):
            assert math.isclose(a, b, rel_tol=1e-6), (i, gotf, expf)


def test_bm25_dfreq_merge_equals_full_recompute(spark, sf_small):
    """df over disjoint shards merged by addition must equal the
    single-pass full recompute — and be independent of how the corpus
    is sharded (1 vs 3 shards)."""
    from bigdata_capstone_spark.operators.retrieval import (
        dfreq_table,
        merge_dfreq,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    full = {
        r["token"]: r["dfc"] for r in dfreq_table(docs).collect()
    }
    parts = [
        docs.filter(F.col("doc_id") % 3 == k) for k in range(3)
    ]
    merged = {
        r["token"]: r["dfc"]
        for r in merge_dfreq(*[dfreq_table(p) for p in parts]).collect()
    }
    assert merged == full
    assert full, "fixture corpus should have a vocabulary"


def _mk_scored(spark, rows):
    return spark.createDataFrame(rows, "score double, label boolean")


def test_roc_auc_closed_form(spark):
    """Hand-checkable AUC values: perfect separation = 1.0, reversed =
    0.0, and a tie case where the half-credit term is exercised."""
    from bigdata_capstone_spark.operators.evaluation import roc_auc

    perfect = _mk_scored(
        spark,
        [(1.0, True), (2.0, True), (-1.0, False), (-2.0, False)],
    )
    r = roc_auc(perfect, "score", "label").collect()[0]
    assert (r["n_pos"], r["n_neg"], r["auc_r"]) == (2, 2, 1.0)

    reverse = _mk_scored(
        spark,
        [(-1.0, True), (-2.0, True), (1.0, False), (2.0, False)],
    )
    assert roc_auc(reverse, "score", "label").collect()[0]["auc_r"] == 0.0

    # one positive tied with one negative at 0.0: pairs = (tie: 0.5) +
    # (pos 0.0 vs neg -1.0: 1) + (pos 1.0 vs both negs: 2) = 3.5 / 4
    ties = _mk_scored(
        spark,
        [(1.0, True), (0.0, True), (0.0, False), (-1.0, False)],
    )
    assert roc_auc(ties, "score", "label").collect()[0]["auc_r"] == 0.875


def test_cohens_kappa_closed_form(spark):
    """Kappa on a textbook 2x2: both=20, a_only=5, b_only=10,
    neither=15 -> po=0.7, pe=(25*30+25*20)/2500=0.5, kappa=0.4; and
    the degenerate constant-rater case yields NULL, perfect agreement
    yields 1.0."""
    from bigdata_capstone_spark.operators.evaluation import cohens_kappa

    rows = (
        [(True, True)] * 20
        + [(True, False)] * 5
        + [(False, True)] * 10
        + [(False, False)] * 15
    )
    df = spark.createDataFrame(rows, "a boolean, b boolean")
    r = cohens_kappa(df, F.col("a"), F.col("b")).collect()[0]
    assert (
        r["n"], r["n_both"], r["n_a_only"], r["n_b_only"], r["n_neither"]
    ) == (50, 20, 5, 10, 15)
    assert abs(r["kappa_r"] - 0.4) < 1e-9

    const = spark.createDataFrame(
        [(True, True)] * 4, "a boolean, b boolean"
    )
    assert (
        cohens_kappa(const, F.col("a"), F.col("b")).collect()[0]["kappa_r"]
        is None
    )

    agree = spark.createDataFrame(
        [(True, True)] * 3 + [(False, False)] * 3, "a boolean, b boolean"
    )
    assert (
        cohens_kappa(agree, F.col("a"), F.col("b")).collect()[0]["kappa_r"]
        == 1.0
    )


def test_spearman_rho_closed_form(spark):
    """Monotone -> 1.0, reversed -> -1.0, and a tie case checked
    against the midrank formula by hand: x=(1,2,2,3) vs y=(1,2,3,4):
    midranks x=(1,2.5,2.5,4), y=(1,2,3,4) -> rho = 4.5/sqrt(4.5*5)
    = 0.9486833, rounded 0.948683."""
    from bigdata_capstone_spark.operators.evaluation import spearman_rho

    mono = spark.createDataFrame(
        [(1.0, 10.0), (2.0, 20.0), (3.0, 25.0), (4.0, 90.0)],
        "a double, b double",
    )
    assert spearman_rho(mono, "a", "b").collect()[0]["rho_r"] == 1.0

    rev = spark.createDataFrame(
        [(1.0, 9.0), (2.0, 7.0), (3.0, 5.0)], "a double, b double"
    )
    assert spearman_rho(rev, "a", "b").collect()[0]["rho_r"] == -1.0

    ties = spark.createDataFrame(
        [(1.0, 1.0), (2.0, 2.0), (2.0, 3.0), (3.0, 4.0)],
        "a double, b double",
    )
    r = ties.transform(lambda d: spearman_rho(d, "a", "b")).collect()[0]
    assert r["n"] == 4
    assert abs(r["rho_r"] - 0.948683) < 1e-9

    const = spark.createDataFrame(
        [(1.0, 5.0), (1.0, 7.0)], "a double, b double"
    )
    assert spearman_rho(const, "a", "b").collect()[0]["rho_r"] is None


def test_margin_calibration_bands_partition(spark):
    """Bands partition the input (sum n_docs = corpus), clamp at both
    edges, and report exact per-band positive rates."""
    from bigdata_capstone_spark.operators.evaluation import (
        margin_calibration,
    )

    rows = [
        (-99.0, False),  # clamps to band 0
        (-2.9, False),   # band 0
        (-1.6, False),   # band 2
        (-1.4, True),    # band 3
        (-0.1, True),    # band 5
        (99.0, True),    # clamps to band 7
    ]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {
        r["band"]: r
        for r in margin_calibration(
            df, "score", "label", lo=-3.0, width=0.5, n_bins=8
        ).collect()
    }
    assert sum(r["n_docs"] for r in out.values()) == len(rows)
    assert out[0]["n_docs"] == 2 and out[0]["n_pos"] == 0
    assert out[7]["n_docs"] == 1 and out[7]["pos_rate_r"] == 1.0
    assert out[3]["pos_rate_r"] == 1.0
    assert abs(out[0]["avg_margin_r"] - (-50.95)) < 1e-9


def test_host_suffix_chain_and_blocklist_semantics(spark):
    """Suffix chain enumerates every dot-suffix; blocking matches exact
    domain and subdomains but never sibling or parent-of-listed hosts."""
    from bigdata_capstone_spark.operators.webingest import (
        domain_blocklist_filter,
        host_suffix_chain,
    )

    chain = (
        spark.range(1)
        .select(host_suffix_chain(F.lit("a.b.example.com")).alias("c"))
        .collect()[0]["c"]
    )
    assert chain == ["a.b.example.com", "b.example.com", "example.com", "com"]

    urls = spark.createDataFrame(
        [
            (0, "https://www.bad.com/x"),      # subdomain of listed
            (1, "https://bad.com/x"),          # exact listed
            (2, "https://notbad.com/x"),       # sibling: substring, no dot
            (3, "https://bad.com.evil.org/x"), # listed as NON-suffix label
            (4, "https://deep.tracker.bad.com/x"),  # deeper subdomain
        ],
        "url_id INT, canonical_url STRING",
    )
    bl = spark.createDataFrame([("bad.com",)], "domain STRING")
    got = {
        r["url_id"]: r["blocked"]
        for r in domain_blocklist_filter(urls, bl).collect()
    }
    assert got == {0: True, 1: True, 2: False, 3: False, 4: True}


def test_roc_auc_by_group_matches_global_and_handles_degenerate(spark):
    """Per-group AUC must equal the single-group global AUC on each
    slice, and a group with no negatives yields NULL (not a crash or a
    fake number). Group layout also exercises the offset subtraction:
    group 'a' is perfect (1.0), 'b' is reversed (0.0), 'c' is
    all-positive (NULL)."""
    from bigdata_capstone_spark.operators.evaluation import (
        roc_auc,
        roc_auc_by_group,
    )

    rows = (
        [("a", 2.0, True), ("a", 1.0, True), ("a", -1.0, False)]
        + [("b", -5.0, True), ("b", 5.0, False)]
        + [("c", 1.0, True), ("c", 2.0, True)]
    )
    df = spark.createDataFrame(rows, "g string, score double, label boolean")
    got = {
        r["g"]: (r["n_pos"], r["n_neg"], r["auc_r"])
        for r in roc_auc_by_group(df, "g", "score", "label").collect()
    }
    assert got == {
        "a": (2, 1, 1.0),
        "b": (1, 1, 0.0),
        "c": (2, 0, None),
    }
    # each group agrees with the global metric computed on that slice
    for g in ("a", "b"):
        solo = roc_auc(
            df.filter(F.col("g") == g), "score", "label"
        ).collect()[0]
        assert (solo["n_pos"], solo["n_neg"], solo["auc_r"]) == got[g]


def test_streaming_dfreq_equals_batch_recompute(spark, sf_small):
    """Draining the documents table through the streaming df
    maintenance (4 files, 1 per trigger) must reproduce the batch
    dfreq_table exactly — batch-split independence of the mergeable
    df counts, the same law the shard-merge test proves."""
    from bigdata_capstone_spark.catalog import QUERIES
    from bigdata_capstone_spark.operators.retrieval import dfreq_table

    drained = {
        r["token"]: r["dfc"]
        for r in QUERIES["streaming_bm25_dfreq"](spark, sf_small).collect()
    }
    docs = load_table(spark, sf_small, "documents")
    batch = {r["token"]: r["dfc"] for r in dfreq_table(docs).collect()}
    assert drained == batch
    assert batch, "fixture corpus should have a vocabulary"


def test_pr_threshold_sweep_closed_form(spark):
    """Counts at each threshold are hand-checkable; empty prediction
    sets yield NULL precision; F1 uses 2TP/(PP+P)."""
    from bigdata_capstone_spark.operators.evaluation import (
        pr_threshold_sweep,
    )

    rows = [(2.0, True), (1.0, True), (0.5, False), (-1.0, False)]
    df = spark.createDataFrame(rows, "score double, label boolean")
    out = {
        r["thr"]: r
        for r in pr_threshold_sweep(
            df, "score", "label", thresholds=(0.0, 1.5, 5.0)
        ).collect()
    }
    r0 = out[0.0]  # preds: 2.0, 1.0, 0.5 -> tp=2, pp=3
    assert (r0["tp"], r0["pp"], r0["n_pos"]) == (2, 3, 2)
    assert abs(r0["precision_r"] - round(2 / 3, 6)) < 1e-9
    assert r0["recall_r"] == 1.0
    assert abs(r0["f1_r"] - 0.8) < 1e-9  # 2*2/(3+2)
    r15 = out[1.5]  # preds: 2.0 -> tp=1, pp=1
    assert (r15["tp"], r15["pp"], r15["precision_r"], r15["recall_r"]) == (
        1, 1, 1.0, 0.5,
    )
    r5 = out[5.0]  # no predictions
    assert (r5["tp"], r5["pp"], r5["precision_r"]) == (0, 0, None)
    assert r5["recall_r"] == 0.0


def test_token_chi2_perfect_association_and_degenerate(spark):
    """A token present in exactly the labeled docs scores chi2 = N
    (perfect 2x2 association); a token present in EVERY doc has a zero
    marginal and yields NULL, not a division error."""
    from bigdata_capstone_spark.operators.evaluation import (
        token_label_chi2_topk,
    )

    docs = spark.createDataFrame(
        [
            (0, "foo common", True),
            (1, "foo common", True),
            (2, "bar common", False),
            (3, "bar common", False),
        ],
        "doc_id int, text string, lab boolean",
    )
    out = {
        r["token"]: r
        for r in token_label_chi2_topk(docs, F.col("lab"), k=10).collect()
    }
    assert out["foo"]["chi2_r"] == 4.0 and out["foo"]["label_enriched"]
    assert out["bar"]["chi2_r"] == 4.0 and not out["bar"]["label_enriched"]
    assert out["common"]["chi2_r"] is None


def test_label_propagation_communities_not_components(spark):
    """Two triangles joined by one bridge: LPA must keep them as TWO
    communities (frequency outvotes the bridge) where the
    connected-components closure would merge them into one blob —
    the semantic difference the operator exists for."""
    from bigdata_capstone_spark.operators.dedup import connected_components
    from bigdata_capstone_spark.operators.graph import label_propagation

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)],
        ["src", "dst"],
    )
    lab = {
        r["node"]: r["label"]
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert lab == {0: 0, 1: 0, 2: 0, 3: 3, 4: 3, 5: 3}
    comp = {
        r["component"]
        for r in connected_components(
            edges.withColumnRenamed("src", "idA").withColumnRenamed(
                "dst", "idB"
            )
        ).collect()
    }
    assert comp == {0}  # closure: one blob


def test_label_propagation_ring_of_cliques_matches_oracle_shape(spark):
    """The registered fixture: all six cliques settle on their minimum
    node id; no cross-clique leakage through the ring bridges."""
    from bigdata_capstone_spark.operators.graph import (
        label_propagation,
        ring_of_cliques,
    )

    lab = {
        r["node"]: r["label"]
        for r in label_propagation(
            ring_of_cliques(spark, n_cliques=6, size=20), rounds=3
        ).collect()
    }
    assert len(lab) == 120
    for node, label in lab.items():
        assert label == (node // 20) * 20, (node, label)


def test_bpe_decode_roundtrip_all_words_lossless(spark, sf_small):
    """Every vocabulary word must round-trip (merges only concatenate);
    n_tokens must be positive and <= word length."""
    from bigdata_capstone_spark.operators.textops import (
        bpe_decode_roundtrip,
    )

    docs = load_table(spark, sf_small, "documents")
    rows = bpe_decode_roundtrip(docs, k=3).collect()
    assert rows
    for r in rows:
        assert r["roundtrip_ok"], r["w"]
        assert 1 <= r["n_tokens"] <= len(r["w"]), (r["w"], r["n_tokens"])


def test_fair_budget_allocation_waterfill_invariants(spark):
    """Closed-form water-filling: supplies (10, 20, 70), budget 60% of
    100 = 60 -> level L solves 10 + 2L = 60 ... first bracket check:
    L1=20<=10? no; L2=(60-10)/2=25>20? not <=20; L3=(60-30)/1=30<=70 yes
    -> L=30: allocs (10, 20, 30), only the big source saturated. And a
    budget covering everything (frac=1.0) allocates full supply with no
    saturation."""
    from bigdata_capstone_spark.operators.selection import (
        fair_budget_allocation,
    )

    sup = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 70)], "src string, sup long"
    )
    out = {
        r["source"]: r
        for r in fair_budget_allocation(sup, budget_frac=0.6).collect()
    }
    assert out["a"]["alloc_r"] == 10.0 and not out["a"]["saturated"]
    assert out["b"]["alloc_r"] == 20.0 and not out["b"]["saturated"]
    assert out["c"]["alloc_r"] == 30.0 and out["c"]["saturated"]
    assert sum(r["alloc_r"] for r in out.values()) == 60.0

    full = {
        r["source"]: r
        for r in fair_budget_allocation(sup, budget_frac=1.0).collect()
    }
    for k, s in (("a", 10.0), ("b", 20.0), ("c", 70.0)):
        assert full[k]["alloc_r"] == s and not full[k]["saturated"]


def test_png_palette_matches_truecolor_twin(spark):
    """Palette PNGs carrying the same md5 pixels as the truecolor
    fixture must produce IDENTICAL feature vectors — the PLTE lookup
    path is bit-equivalent to inline RGB."""
    from bigdata_capstone_spark.operators.multimodal import (
        extract_features,
        synthetic_png_assets,
        synthetic_png_palette_assets,
    )

    pal = {
        r["asset_id"]: r["features"]
        for r in extract_features(
            synthetic_png_palette_assets(spark, n=12, seed=42),
            decoder="strict",
        ).collect()
    }
    # truecolor twins: even ids are RGB with identical pixels (odd ids
    # are RGBA in the truecolor fixture — also identical post-drop)
    true = {
        r["asset_id"]: r["features"]
        for r in extract_features(
            synthetic_png_assets(spark, n=12, seed=42), decoder="strict"
        ).collect()
    }
    assert pal == true


def test_dfreq_delta_equals_recompute_under_updates_deletes(spark, sf_small):
    """df(v1) - df(leaving) + df(arriving) must equal a from-scratch
    df over v2, including tokens whose count hits zero dropping out
    (the group-under-addition law under DELETES, not just appends)."""
    from bigdata_capstone_spark.operators.retrieval import (
        apply_dfreq_delta,
        dfreq_table,
    )

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    v1 = docs
    leaving = docs.filter(F.col("doc_id") % 4 == 0)
    arriving = spark.createDataFrame(
        [(9001, "zzzuniquetoken alpha"), (9002, "alpha beta")],
        "doc_id long, text string",
    )
    v2 = v1.exceptAll(leaving).unionByName(arriving)
    delta = {
        r["token"]: r["dfc"]
        for r in apply_dfreq_delta(
            dfreq_table(v1), dfreq_table(leaving), dfreq_table(arriving)
        ).collect()
    }
    full = {r["token"]: r["dfc"] for r in dfreq_table(v2).collect()}
    assert delta == full
    assert "zzzuniquetoken" in delta


def test_robots_longest_match_precedence(spark):
    """Hand-built rules: an Allow longer than its enclosing Disallow
    wins inside the subtree only; length ties go to allow; unruled
    paths pass with NULL matched_prefix."""
    from bigdata_capstone_spark.operators.webingest import robots_filter

    rules = spark.createDataFrame(
        [
            ("d.com", "disallow", "/a/"),
            ("d.com", "allow", "/a/pub/"),
            ("d.com", "allow", "/t/"),   # same length as next
            ("d.com", "disallow", "/x/"),
        ],
        "domain string, rule string, prefix string",
    )
    urls = spark.createDataFrame(
        [
            (0, "https://d.com/a/hidden"),
            (1, "https://d.com/a/pub/ok"),
            (2, "https://d.com/free"),
            (3, "https://d.com/x/no"),
            (4, "https://d.com/t/yes"),
        ],
        "url_id int, url string",
    )
    got = {
        r["url_id"]: (r["allowed"], r["matched_prefix"])
        for r in robots_filter(urls, rules).collect()
    }
    assert got == {
        0: (False, "/a/"),
        1: (True, "/a/pub/"),
        2: (True, None),
        3: (False, "/x/"),
        4: (True, "/t/"),
    }
