"""Round-7 operator tests: reliable checkpointing for the iterative
graph family, an unchanged session checkpoint dir, robots wildcard
rules, HTML entity decoding, incremental near-dup batch dedup,
main-content extraction, 4:2:0 JPEG decode.

The catalog entries get their value check from the DuckDB oracle via
the driver contract; these tests cover the semantics the oracle can't
see (mechanism equivalence, session-global state left alone,
batch-split independence).
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_label_propagation_reliable_checkpoint(spark, request):
    """On a session with a checkpoint dir, `label_propagation` must
    truncate lineage through reliable `checkpoint()` (files land in the
    directory) and produce IDENTICAL labels as the localCheckpoint
    default — mechanism changes, fixpoint doesn't (the dedup_clusters
    equivalence contract extended to graph.py)."""
    from bigdata_capstone_spark.operators.graph import (
        label_propagation,
        ring_of_cliques,
    )

    edges = ring_of_cliques(spark, n_cliques=4, size=8)
    local = {
        (r["node"], r["label"])
        for r in label_propagation(edges, rounds=3).collect()
    }
    ckpt = request.getfixturevalue("session_checkpoint_dir")
    reliable = {
        (r["node"], r["label"])
        for r in label_propagation(edges, rounds=3).collect()
    }
    assert reliable == local
    # 4 cliques → 4 communities on this fixture
    assert len({lb for _, lb in local}) == 4
    assert list(ckpt.rglob("*")), (
        "reliable checkpoint should write RDD data into the directory"
    )


def test_pagerank_reliable_checkpoint(spark, request):
    """Same mechanism-equivalence contract for pagerank: ranks under
    reliable checkpointing are bit-identical to the localCheckpoint
    default (the per-round arithmetic is DECIMAL-exact, so equality is
    exact, not approximate)."""
    from bigdata_capstone_spark.operators.graph import (
        pagerank,
        ring_of_cliques,
    )

    edges = ring_of_cliques(spark, n_cliques=3, size=6)
    local = {
        (r["node"], r["rank"]) for r in pagerank(edges, iterations=3).collect()
    }
    ckpt = request.getfixturevalue("session_checkpoint_dir")
    reliable = {
        (r["node"], r["rank"]) for r in pagerank(edges, iterations=3).collect()
    }
    assert reliable == local
    assert list(ckpt.rglob("*"))


def test_iterative_operators_leave_checkpoint_dir_unchanged(spark, request):
    """The session's checkpoint dir is deployment state: every iterative
    operator reads it to pick the truncation mechanism and never sets,
    changes or clears it — whether it is unset or set."""
    from bigdata_capstone_spark.operators.dedup import connected_components
    from bigdata_capstone_spark.operators.graph import (
        bfs_depths,
        hits,
        label_propagation,
        pagerank,
        ring_of_cliques,
    )
    from bigdata_capstone_spark.operators.simsearch import (
        nn_descent_trajectory,
    )

    sc = spark.sparkContext
    edges = ring_of_cliques(spark, n_cliques=2, size=4)
    seeds = spark.createDataFrame([(0,)], "node LONG")
    corpus = spark.createDataFrame(
        [(i, [float((i * j) % 7 + 1) for j in range(4)]) for i in range(12)],
        "vec_id LONG, embedding ARRAY<FLOAT>",
    )

    def run_all():
        connected_components(edges, "src", "dst").collect()
        pagerank(edges, iterations=2).collect()
        hits(edges, iterations=2).collect()
        bfs_depths(edges, seeds, rounds=2).collect()
        label_propagation(edges, rounds=2).collect()
        nn_descent_trajectory(corpus, dim=4, k=2, rounds=1)[-1].collect()

    assert sc.getCheckpointDir() is None
    run_all()
    assert sc.getCheckpointDir() is None
    request.getfixturevalue("session_checkpoint_dir")
    before = sc.getCheckpointDir()
    assert before is not None
    run_all()
    assert sc.getCheckpointDir() == before


def test_robots_wildcard_precedence(spark):
    """RFC 9309 §2.2.3 wildcard semantics: '*' spans any sequence,
    trailing '$' anchors the end (so .tmpx escapes /*.tmp$), a longer
    wildcard Allow outranks a shorter directory Disallow, and a literal
    '.' in a rule is NOT a regex metachar (/a.b must not match /axb)."""
    from bigdata_capstone_spark.operators.webingest import robots_filter

    rules = spark.createDataFrame(
        [
            ("d.com", "disallow", "/*.tmp$"),
            ("d.com", "disallow", "/downloads/"),
            ("d.com", "allow", "/downloads/*.html$"),
            ("d.com", "disallow", "/a.b"),
        ],
        "domain STRING, rule STRING, prefix STRING",
    )
    urls = spark.createDataFrame(
        [
            (0, "https://d.com/files/x.tmp"),      # blocked by /*.tmp$
            (1, "https://d.com/files/x.tmpx"),     # $ anchor → unruled
            (2, "https://d.com/downloads/p.html"), # wildcard allow wins
            (3, "https://d.com/downloads/p.pdf"),  # directory disallow
            (4, "https://d.com/a.b/q"),            # literal-dot rule
            (5, "https://d.com/axb/q"),            # must NOT match /a.b
        ],
        "url_id INT, url STRING",
    )
    got = {
        r["url_id"]: (r["allowed"], r["matched_prefix"])
        for r in robots_filter(urls, rules).collect()
    }
    assert got == {
        0: (False, "/*.tmp$"),
        1: (True, None),
        2: (True, "/downloads/*.html$"),
        3: (False, "/downloads/"),
        4: (False, "/a.b"),
        5: (True, None),
    }


def test_robots_user_agent_group_selection(spark):
    """RFC 9309 §2.2.1: a crawler obeys the group naming its product
    token, falls back to '*' only when no specific group exists,
    ignores rules before any User-agent line, and consecutive UA lines
    share one group."""
    from bigdata_capstone_spark.operators.webingest import parse_robots

    txt = (
        "Disallow: /ungrouped/\n"        # no group -> ignored
        "User-agent: alphabot\n"
        "User-agent: betabot\n"          # shares the group above
        "Disallow: /alpha/\n"
        "\n"
        "User-agent: *\n"
        "Disallow: /generic/\n"
    )
    robots = spark.createDataFrame(
        [("d.com", txt)], "domain STRING, robots_txt STRING"
    )

    def rules(ua):
        return {
            (r["rule"], r["prefix"])
            for r in parse_robots(robots, user_agent=ua).collect()
        }

    # specific group wins; '*' group NOT merged in
    assert rules("betabot") == {("disallow", "/alpha/")}
    assert rules("AlphaBot") == {("disallow", "/alpha/")}  # case-insens.
    # unnamed crawler falls back to '*'; ungrouped rule never appears
    assert rules("othercrawler") == {("disallow", "/generic/")}
    assert rules("*") == {("disallow", "/generic/")}


def test_crawl_delay_selected_group_semantics(spark):
    """Crawl-delay comes from the RFC-selected group only: a decoy
    group's delay is ignored, several applicable values take the
    conservative MIN, non-numeric values are skipped, and undeclared
    domains fall back to the default."""
    from bigdata_capstone_spark.operators.webingest import (
        parse_crawl_delays,
    )

    robots = spark.createDataFrame(
        [
            (
                "a.com",
                "User-agent: *\nCrawl-delay: 7\nCrawl-delay: 3\n"
                "User-agent: badbot\nCrawl-delay: 0.1\n",
            ),
            ("b.com", "User-agent: *\nCrawl-delay: soon\n"),  # non-numeric
            ("c.com", "User-agent: *\nDisallow: /x/\n"),      # undeclared
        ],
        "domain STRING, robots_txt STRING",
    )
    got = {
        r["domain"]: r["crawl_delay"]
        for r in parse_crawl_delays(robots, default_delay=2.0).collect()
    }
    assert got == {"a.com": 3.0, "b.com": 2.0, "c.com": 2.0}


def test_html_entity_decode_single_pass(spark):
    """Entity decode is single-pass (HTML semantics): &amp;amp; yields
    the literal '&amp;', decoded '<' is text (never re-stripped — the
    decode runs after tag-strip), and &nbsp; collapses with adjacent
    whitespace."""
    from bigdata_capstone_spark.operators.webingest import (
        decode_html_entities,
    )

    df = spark.createDataFrame(
        [
            ("&amp;amp;", "&amp;"),
            ("&lt;b&gt;", "<b>"),
            ("&#38; &#x26; &#038;", "& & &"),
            ("&quot;q&quot; &apos;a&apos; &#39;b&#39;", "\"q\" 'a' 'b'"),
            ("x&nbsp;y", "x y"),
            ("&unknown; &#9731; stays", "&unknown; &#9731; stays"),
        ],
        "raw STRING, want STRING",
    )
    bad = df.select(
        decode_html_entities(F.col("raw")).alias("got"), "want"
    ).filter(F.col("got") != F.col("want"))
    assert bad.count() == 0, bad.collect()


def test_dedup_doc_lines_order_and_empty_doc(spark):
    """The exploded first-occurrence formulation must keep lines in
    original order (clean_hash is order-sensitive) and must not drop
    documents whose every line filters out."""
    import hashlib

    from bigdata_capstone_spark.operators.textops import dedup_doc_lines

    docs = spark.createDataFrame(
        [
            (0, "b\na\nb\nc\na"),  # kept: b,a,c — NOT sorted a,b,c
            (1, ""),                # all-empty doc must survive
            (2, "\n\n"),            # only empty lines
        ],
        "doc_id INT, text STRING",
    )
    got = {
        r["doc_id"]: (
            r["n_lines"], r["kept_lines"], r["removed_lines"],
            r["clean_hash"],
        )
        for r in dedup_doc_lines(docs).collect()
    }
    assert got[0] == (5, 3, 2, hashlib.md5(b"b\na\nc").hexdigest())
    assert got[1] == (0, 0, 0, hashlib.md5(b"").hexdigest())
    assert got[2] == (0, 0, 0, hashlib.md5(b"").hexdigest())


def test_incremental_near_dup_batch_split_independence(spark, sf_small):
    """The incremental contract: deduping one batch against the corpus
    index equals deduping its halves separately and unioning —
    pairs(b1 ∪ b2) == pairs(b1) ∪ pairs(b2). Holds because the
    hot-bucket cap counts CORPUS-side members only (a combined count
    would flip bucket verdicts with batch size). Also checks the
    planted structure: every changed doc must near-dup its own v1
    version at jaccard ≈ 1."""
    from bigdata_capstone_spark.operators.dedup import (
        incremental_near_dup_pairs,
        near_dup_index,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select("doc_id", "text")
    corpus = docs.cache()
    batch = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" rev2")).alias("text"),
    )
    index = near_dup_index(corpus, n_perm=8, bands=4, shingle_n=3)
    kw = dict(n_perm=8, bands=4, shingle_n=3, min_jaccard=0.35,
              max_bucket_size=100)

    def pairs(b):
        return {
            (r["batch_id"], r["corpus_id"], round(r["jaccard"], 9))
            for r in incremental_near_dup_pairs(index, b, **kw).collect()
        }

    full = pairs(batch)
    split = pairs(batch.filter(F.col("doc_id") % 2 == 0)) | pairs(
        batch.filter(F.col("doc_id") % 2 == 1)
    )
    assert full == split
    # planted twins: each changed doc hits its own previous version
    self_hits = {(b, c) for b, c, _ in full if b == c + 100000}
    n_batch = batch.count()
    assert len(self_hits) >= n_batch * 0.9  # cap may drop a hot bucket


def test_near_dup_index_delta_equals_rebuild(spark, sf_small):
    """The index group law, relation by relation (buckets, shingles,
    sizes): applying a recrawl delta to v1's index must equal the index
    rebuilt from v2 — while only the delta was ever shingled."""
    from bigdata_capstone_spark.operators.dedup import (
        apply_near_dup_index_delta,
        near_dup_index,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", "text"
    ).cache()
    v1 = docs
    # v2: drop head, revise every 5th, add 10
    v2 = (
        docs.filter(F.col("doc_id") >= 10)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(F.col("text"), F.lit(" v2")),
            ).otherwise(F.col("text")).alias("text"),
        )
        .unionByName(
            docs.filter(F.col("doc_id") < 10).select(
                (F.col("doc_id") + 50000).alias("doc_id"), "text"
            )
        )
    )
    # delta: batch = v2 rows not identical in v1; removed = v1 ids not
    # identical in v2 (covers removed + changed-old rows)
    batch = v2.join(v1, on=["doc_id", "text"], how="left_anti")
    removed = v1.join(v2, on=["doc_id", "text"], how="left_anti").select(
        "doc_id"
    )
    kw = dict(n_perm=8, bands=4, shingle_n=3)
    applied = apply_near_dup_index_delta(
        near_dup_index(v1, **kw), batch, removed, **kw
    )
    rebuilt = near_dup_index(v2, **kw)
    for a, b, name in zip(applied, rebuilt, ("buckets", "shingles", "sizes")):
        sa = {tuple(r) for r in a.collect()}
        sb = {tuple(r) for r in b.collect()}
        assert sa == sb, f"{name}: delta-applied != rebuilt"
    assert batch.count() < v2.count() * 0.35  # delta really was a delta


def test_main_content_drops_boilerplate_keeps_linked_prose(spark):
    """The link-density heuristic must cut a nav bar and footer (pure
    anchor text) while KEEPING a long prose block that merely contains
    an inline link — the distinction tag-strip alone cannot make."""
    from bigdata_capstone_spark.operators.webingest import (
        extract_main_content,
    )

    prose = "word " * 20  # 100 chars of plain prose
    html = (
        "<html><head><title>T</title></head><body>"
        '<nav><a href="/">Home</a> <a href="/a">Archives</a> '
        '<a href="/c">Categories</a> <a href="/s">Search</a></nav>'
        f"<p>{prose.strip()} see <a href='/x'>this post</a> too</p>"
        '<footer><a href="/p">Privacy policy</a> '
        '<a href="/i">Imprint</a> (c) 2024</footer>'
        "</body></html>"
    )
    df = spark.createDataFrame([(0, html)], "page_id INT, html STRING")
    row = extract_main_content(df).collect()[0]
    assert row["kept_blocks"] == 1
    assert row["n_blocks"] == 3
    main = row["main_text"]
    assert "this post" in main and "word word" in main
    assert "Home" not in main and "Privacy" not in main
    assert "(c) 2024" not in main  # short footer tail text also cut


def _expected_subsampled_pixels(i, seed, w, h, yh, yv):
    """Formula-side replay of the DC-only subsampled JPEG fixture: Y per
    8x8 block, chroma per MCU, Python-float YCbCr->RGB — the raw-bytes
    reference the decoder must hit exactly (the PNG/BMP value-check
    pattern)."""
    import hashlib

    px = []
    for y in range(h):
        for x in range(w):
            yval = hashlib.md5(
                f"{seed}:{i}:{x // 8}:{y // 8}".encode()
            ).digest()[0]
            d = hashlib.md5(
                f"{seed}:{i}:c:{x // (8 * yh)}:{y // (8 * yv)}".encode()
            ).digest()
            cb, cr = d[0] - 128, d[1] - 128
            r = min(255, max(0, int(round(yval + 1.402 * cr))))
            g = min(
                255,
                max(0, int(round(yval - 0.344136 * cb - 0.714136 * cr))),
            )
            b = min(255, max(0, int(round(yval + 1.772 * cb))))
            px.append((r, g, b))
    return px


def test_jpeg_420_and_422_pixel_value_parity():
    """The subsampled JPEG decode must reproduce the md5-derived pixel
    values exactly for BOTH 4:2:0 (2x2) and 4:2:2 (2x1) geometries —
    the general MCU interleave, per-component DC prediction,
    decode-then-crop of padding blocks, and chroma upsampling, checked
    against the generative formula (no Spark needed: pure kernel)."""
    from bigdata_capstone_spark.operators.multimodal import (
        _dc_only_subsampled_jpeg,
        _jpeg_features,
        _pixel_features,
    )

    for yh, yv in ((2, 2), (2, 1), (1, 2)):
        for i, (w, h) in enumerate(((8, 8), (24, 16), (16, 24), (8, 24))):
            blob = _dc_only_subsampled_jpeg(i, 42, w, h, yh, yv)
            want = _pixel_features(
                w, h, _expected_subsampled_pixels(i, 42, w, h, yh, yv)
            )
            assert _jpeg_features(blob) == want, (yh, yv, w, h)


def test_jpeg_restart_intervals_pixel_parity():
    """DRI/RSTn restart intervals change the entropy byte stream
    (byte-alignment padding, markers, DC predictor resets) but not the
    pixels: a restart-segmented encode must decode identically to its
    plain twin at every interval, including intervals that divide and
    don't divide the MCU count."""
    from bigdata_capstone_spark.operators.multimodal import (
        _dc_only_subsampled_jpeg,
        _jpeg_features,
    )

    w, h = 24, 24  # 4 MCUs at 4:2:0
    plain = _jpeg_features(_dc_only_subsampled_jpeg(3, 42, w, h))
    for ri in (1, 2, 3, 4, 7):
        blob = _dc_only_subsampled_jpeg(3, 42, w, h, restart_interval=ri)
        assert _jpeg_features(blob) == plain, ri
        if ri in (1, 2, 3):
            assert b"\xff\xd0" in blob or b"\xff\xd1" in blob


def test_jpeg_progressive_pixel_parity_and_arithmetic_raises():
    """Progressive (SOF2) decode: the five-scan progressive twin (DC
    first at Al=1, DC refinement bits, per-component AC EOB-run scans)
    must produce pixels identical to its baseline 4:2:0 twin on every
    geometry — and arithmetic coding still raises honestly."""
    import pytest

    from bigdata_capstone_spark.operators.multimodal import (
        _dc_only_progressive_jpeg,
        _dc_only_subsampled_jpeg,
        _jpeg_features,
    )

    for i, (w, h) in enumerate(((8, 8), (24, 16), (16, 24), (24, 24))):
        base = _jpeg_features(_dc_only_subsampled_jpeg(i, 42, w, h))
        prog = _jpeg_features(_dc_only_progressive_jpeg(i, 42, w, h))
        assert prog == base, (i, w, h)
    blob = bytearray(_dc_only_progressive_jpeg(0, 42, 8, 8))
    sof = blob.find(b"\xff\xc2")
    blob[sof + 1] = 0xC9  # arithmetic sequential
    with pytest.raises(NotImplementedError, match="arithmetic"):
        _jpeg_features(bytes(blob))


def test_truncated_ann_recall_vs_exact(spark, sf_small):
    """The 16-of-64-dim prefilter must keep recall@10 high against the
    exact top-10 (the index-quality gate the other ANN families carry):
    with a 50-candidate shortlist over the 500-vector fixture, recall
    should be well above the shortlist's base rate."""
    from bigdata_capstone_spark.operators.simsearch import (
        brute_force_topk,
        truncated_prefilter_topk,
    )
    from bigdata_capstone_spark.sources.tables import load_table

    emb = load_table(spark, sf_small, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["vec_id"])
        for r in brute_force_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["vec_id"])
        for r in truncated_prefilter_topk(
            emb, queries, prefix_dims=16, shortlist=50, k=10
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    # synthetic embeddings are NOT MRL-trained (a random prefix carries
    # ~1/4 of the signal), so the bar is modest — but far above the
    # 50/500 ≈ 0.10 base rate a signal-free prefilter would score
    assert recall >= 0.4, recall
    # with nothing cut (shortlist = corpus) the re-rank must be EXACT
    full = {
        (r["query_id"], r["vec_id"])
        for r in truncated_prefilter_topk(
            emb, queries, prefix_dims=16, shortlist=500, k=10
        ).collect()
    }
    assert full == exact


def test_jpeg_progressive_ac_first_and_refine_coefficients():
    """The progressive AC paths with REAL coefficient data (not just
    EOB runs): a hand-built single-block grayscale SOF2 file whose AC
    band is split across a first scan at Al=1 and a refinement scan
    (correction bits for history-nonzero coefs interleaved with
    newly-nonzero ±1 placements, exactly the G.1.2.3 read order) must
    reconstruct the exact coefficient vector — checked against an
    independent numpy matrix IDCT, so the decoder's own loop can't
    self-certify."""
    import numpy as np

    from bigdata_capstone_spark.operators.multimodal import (
        _JPEG_ZIGZAG,
        _JpegBitWriter,
        _jpeg_features,
        _pixel_features,
    )

    def seg(marker, body):
        return (
            bytes((0xFF, marker))
            + (len(body) + 2).to_bytes(2, "big")
            + body
        )

    # target zigzag coefficients: DC=40; AC: zz1=5, zz2=-4, zz3=1, zz5=-1
    # first AC scan at Al=1 sees (|c|>>1 with sign): zz1=2, zz2=-2, rest 0
    # refine adds: corr bit 1 to zz1 (4->5), 0 to zz2, new +1 at zz3,
    # new -1 at zz5 after one zero-history run
    dc_bits = [0, 0, 0, 12] + [0] * 12
    dc_vals = list(range(12))
    ac_bits = [0, 0, 4] + [0] * 13  # 4 codes of length 3
    ac_vals = [0x00, 0x01, 0x02, 0x11]
    ac_codes = {v: (3, k) for k, v in enumerate(ac_vals)}

    # scan 1: DC only (Ss=0 Se=0 Ah=0 Al=0), diff = 40 -> cat 6
    wr = _JpegBitWriter()
    wr.write(6, 4)      # DC category 6 (canonical code = value, len 4)
    wr.write(40, 6)     # magnitude bits
    s_dc = seg(0xDA, bytes((1, 1, 0x00, 0, 0, 0x00))) + wr.flush()

    # scan 2: AC first, Ss=1 Se=63 Ah=0 Al=1
    wr = _JpegBitWriter()
    ln, c = ac_codes[0x02]; wr.write(c, ln); wr.write(2, 2)       # zz1=+2
    ln, c = ac_codes[0x02]; wr.write(c, ln); wr.write(1, 2)       # zz2=-2
    ln, c = ac_codes[0x00]; wr.write(c, ln)                       # EOB
    s_ac1 = seg(0xDA, bytes((1, 1, 0x00, 1, 63, 0x01))) + wr.flush()

    # scan 3: AC refine, Ss=1 Se=63 Ah=1 Al=0 — exact decoder read
    # order: RS(0x01) sign(+) corr(zz1)=1 corr(zz2)=0 | RS(0x11)
    # sign(-) | RS(0x00) EOB
    wr = _JpegBitWriter()
    ln, c = ac_codes[0x01]; wr.write(c, ln)
    wr.write(1, 1)  # sign +1 at zz3
    wr.write(1, 1)  # correction bit for zz1: 4 -> 5
    wr.write(0, 1)  # correction bit for zz2: stays -4
    ln, c = ac_codes[0x11]; wr.write(c, ln)
    wr.write(0, 1)  # sign -1 at zz5
    ln, c = ac_codes[0x00]; wr.write(c, ln)  # EOB closes the block
    s_ac2 = seg(0xDA, bytes((1, 1, 0x00, 1, 63, 0x10))) + wr.flush()

    blob = (
        b"\xff\xd8"
        + seg(0xDB, bytes((0x00,)) + bytes([1] * 64))
        + seg(0xC2, bytes((8, 0, 8, 0, 8, 1, 1, 0x11, 0)))
        + seg(0xC4, bytes((0x00,)) + bytes(dc_bits[:16]) + bytes(dc_vals))
        + seg(0xC4, bytes((0x10,)) + bytes(ac_bits) + bytes(ac_vals))
        + s_dc + s_ac1 + s_ac2
        + b"\xff\xd9"
    )
    got = _jpeg_features(blob)

    coef = np.zeros((8, 8))
    for zi, v in ((0, 40), (1, 5), (2, -4), (3, 1), (5, -1)):
        rr, cc = _JPEG_ZIGZAG[zi]
        coef[rr, cc] = v
    C = np.array([1 / np.sqrt(2)] + [1.0] * 7)
    cy = np.cos(
        np.outer(2 * np.arange(8) + 1, np.arange(8)) * np.pi / 16
    )
    s = cy @ (C[:, None] * C[None, :] * coef) @ cy.T / 4.0
    exp_px = np.clip(np.round(s) + 128, 0, 255).astype(int)
    expected = _pixel_features(
        8, 8, [(int(v), int(v), int(v)) for v in exp_px.flatten()]
    )
    assert got == expected


def test_hits_known_graph_and_zero_rows(spark):
    """HITS on a tiny star: hub h points at authorities a1,a2; b points
    at a1. Expected after round 1 (L1): auth(a1)=2/3, auth(a2)=1/3,
    hub(h)=3/4... — rather than hand-derive 3 rounds, assert the
    structural invariants the closed form guarantees: scores sum to 1
    per side, a1 strictly out-ranks a2 (an extra citer), h strictly
    out-hubs b (it cites more mass), and pure authorities carry hub 0
    (zero rows materialized, not dropped)."""
    from bigdata_capstone_spark.operators.graph import hits

    edges = spark.createDataFrame(
        [("h", "a1"), ("h", "a2"), ("b", "a1")],
        "src STRING, dst STRING",
    )
    rows = {r["node"]: (r["hub"], r["auth"]) for r in hits(edges).collect()}
    assert set(rows) == {"h", "b", "a1", "a2"}
    assert abs(sum(h for h, _ in rows.values()) - 1.0) < 1e-9
    assert abs(sum(a for _, a in rows.values()) - 1.0) < 1e-9
    assert rows["a1"][1] > rows["a2"][1] > 0.0
    assert rows["h"][0] > rows["b"][0] > 0.0
    assert rows["a1"][0] == 0.0 and rows["a2"][0] == 0.0  # no out-edges
    assert rows["h"][1] == 0.0 and rows["b"][1] == 0.0  # no in-edges


def test_hits_matches_unrolled_oracle_on_ring(spark):
    """Bit-equality of the Spark loop vs the DuckDB unrolled CTE twin
    on the asymmetric-ring fixture — the same contract the catalog
    entry relies on, checked here without the driver."""
    import duckdb

    from bigdata_capstone_spark.operators.graph import (
        hits,
        hits_unrolled_sql,
    )

    edges_rows = [
        (f"n{k}", f"n{(k + 1 + o) % 5}")
        for k in range(5)
        for o in range(2)
    ]
    edges = spark.createDataFrame(edges_rows, "src STRING, dst STRING")
    got = {
        r["node"]: (r["hub"], r["auth"]) for r in hits(edges).collect()
    }
    cte = (
        "SELECT 'n' || k AS src, 'n' || ((k + 1 + o) % 5) AS dst "
        "FROM (SELECT unnest(range(5)) AS k) "
        "CROSS JOIN (SELECT unnest(range(2)) AS o)"
    )
    want = {
        n: (h, a)
        for n, h, a in duckdb.connect()
        .execute(hits_unrolled_sql(cte, iterations=3))
        .fetchall()
    }
    assert got == want


def test_bfs_depths_profile_and_unreached(spark):
    """Planted chain a→b→c→d with rounds=2: depths 0,1,2 and d ABSENT
    (unreached within the round budget — no ∞ rows); a seed that is
    also a target keeps depth 0 (min semantics)."""
    from bigdata_capstone_spark.operators.graph import bfs_depths

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("b", "a")],
        "src STRING, dst STRING",
    )
    seeds = spark.createDataFrame([("a",)], "node STRING")
    got = {
        r["node"]: r["depth"]
        for r in bfs_depths(edges, seeds, rounds=2).collect()
    }
    assert got == {"a": 0, "b": 1, "c": 2}


def test_compaction_plan_boundary_semantics(spark):
    """Fixed-quota packing contract: group = exclusive cum bytes DIV
    target. A file may straddle the quota boundary (group decided by
    bytes BEFORE it); partitions pack independently; a lone oversized
    file still lands in its own group rather than exploding."""
    from bigdata_capstone_spark.operators.maintenance import (
        compaction_plan,
    )

    files = spark.createDataFrame(
        [
            ("p1", 0, 60), ("p1", 1, 60),   # cum_before 0, 60
            ("p1", 2, 60),                   # cum_before 120 -> group 1
            ("p1", 3, 500),                  # oversized, cum 180 -> group 1
            ("p1", 4, 10),                   # cum 680 -> group 6
            ("p2", 0, 10), ("p2", 1, 10),    # independent partition
        ],
        "part_key STRING, file_id INT, bytes INT",
    )
    got = {
        (r["part_key"], r["file_id"]): r["group_id"]
        for r in compaction_plan(files, target_bytes=100).collect()
    }
    assert got == {
        ("p1", 0): 0, ("p1", 1): 0, ("p1", 2): 1, ("p1", 3): 1,
        ("p1", 4): 6, ("p2", 0): 0, ("p2", 1): 0,
    }


def test_perplexity_buckets_tercile_and_per_lang_cut(spark, sf_small):
    """CCNet semantics: terciles are PER LANGUAGE (each lang's head is
    its own top third, not a global cut) and bucket sizes obey the
    integer-arithmetic boundaries |head| = floor(n/3) etc."""
    from bigdata_capstone_spark.catalog_train import (
        docs_perplexity_buckets,
    )

    rows = docs_perplexity_buckets(spark, sf_small).collect()
    by_lang: dict = {}
    for r in rows:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        n = len(rs)
        heads = [r for r in rs if r["ppl_bucket"] == "head"]
        tails = [r for r in rs if r["ppl_bucket"] == "tail"]
        assert len(heads) == n // 3
        assert len(tails) == n - (2 * n) // 3
        # every head doc out-scores every tail doc within the language
        if heads and tails:
            assert min(h["avg_logprob_r"] for h in heads) >= max(
                t["avg_logprob_r"] for t in tails
            )
        # ranks are a 1..n permutation
        assert sorted(r["lang_rank"] for r in rs) == list(range(1, n + 1))


def test_domain_components_two_islands(spark, sf_small):
    """The within-half link filter plants exactly two 4-host islands;
    component ids are the min host of each island and every member
    reports the island size."""
    from bigdata_capstone_spark.catalog import QUERIES

    rows = QUERIES["domain_components"](spark, sf_small).collect()
    comps: dict = {}
    for r in rows:
        comps.setdefault(r["component_id"], set()).add(r["domain"])
        assert r["component_size"] == 4
    assert set(comps) == {"www.example0.com", "www.example4.com"}
    assert comps["www.example0.com"] == {
        f"www.example{i}.com" for i in range(4)
    }
    assert comps["www.example4.com"] == {
        f"www.example{i}.com" for i in range(4, 8)
    }


def test_shard_manifest_order_sensitive_and_partition_invariant(spark):
    """The stream fingerprint must change when two documents swap
    positions (order sensitivity — a set hash would miss this) and must
    NOT change when the same data arrives in a different partitioning
    (associativity — the scale property that lets it distribute)."""
    from bigdata_capstone_spark.functions.portable import md5_long

    def fingerprint(rows, n_parts):
        df = spark.createDataFrame(
            rows, "pos INT, text STRING"
        ).repartition(n_parts)
        item = md5_long(
            F.concat(F.col("pos").cast("string"), F.lit(":"), F.md5("text"))
        )
        return df.agg(
            (F.sum(item.cast("decimal(38,0)")) % F.lit(10**15))
            .cast("long")
            .alias("f")
        ).first()["f"]

    base = [(i, f"doc-{i}") for i in range(20)]
    swapped = list(base)
    swapped[3], swapped[7] = (3, base[7][1]), (7, base[3][1])
    assert fingerprint(base, 1) == fingerprint(base, 13)
    assert fingerprint(base, 4) != fingerprint(swapped, 4)


def test_html_comment_stripping_everywhere(spark):
    """Comments must vanish from extracted text (including the
    bare-'>'-inside-comment leak case) and commented-out absolute links
    must not mint link-graph edges or anchor terms."""
    from bigdata_capstone_spark.operators.webingest import (
        extract_anchor_terms,
        extract_links,
    )

    html = (
        '<html><body><p>real prose here</p>'
        '<!-- nav > crumb <a href="https://ghost.example/x">ghost</a> -->'
        '<a href="https://live.example/y">live link</a></body></html>'
    )
    recs = spark.createDataFrame(
        [(0, "src.example", html)], "page_id INT, host STRING, html STRING"
    )
    edges = {
        (r["src"], r["dst"]) for r in extract_links(recs).collect()
    }
    assert edges == {("src.example", "live.example")}
    terms = {r["term"] for r in extract_anchor_terms(recs).collect()}
    assert terms == {"live", "link"}

    # extract_html_text path: leak-free clean text
    recs2 = spark.createDataFrame(
        [(0, 0, "u", 200, html, len(html))],
        "shard_id INT, record_idx INT, uri STRING, http_status INT, "
        "html STRING, n_html_bytes BIGINT",
    )
    from bigdata_capstone_spark.operators.webingest import (
        extract_html_text,
    )
    import hashlib

    row = extract_html_text(recs2).first()
    assert row["text_hash"] == hashlib.md5(
        b"real prose here live link"
    ).hexdigest()


def test_sitemap_extraction_group_independent(spark):
    """Sitemap directives are global: surfaced from before any group
    AND from inside a foreign group; relative URLs rejected; the
    directive never leaks into the Allow/Disallow rule set."""
    from bigdata_capstone_spark.operators.webingest import (
        extract_sitemaps,
        parse_robots,
    )

    robots = spark.createDataFrame(
        [
            (
                "d.com",
                "Sitemap: https://d.com/a.xml\n"
                "User-agent: *\nDisallow: /x/\n"
                "User-agent: other\n"
                "SITEMAP: https://cdn.d.com/b.xml\n"
                "Sitemap: /relative.xml\n",
            )
        ],
        "domain STRING, robots_txt STRING",
    )
    maps = {
        r["sitemap_url"] for r in extract_sitemaps(robots).collect()
    }
    assert maps == {"https://d.com/a.xml", "https://cdn.d.com/b.xml"}
    rules = {
        (r["rule"], r["prefix"]) for r in parse_robots(robots).collect()
    }
    assert rules == {("disallow", "/x/")}


def test_kmeans_lloyd_tightens_cells_and_handles_empty(spark):
    """Lloyd rounds must not loosen the clustering: the mean assignment
    cosine (objective of spherical k-means) after 2 rounds is >= the
    0-iteration PRF-medoid assignment's. Empty cells keep their
    previous center (k rows in, k rows out, no nulls)."""
    from bigdata_capstone_spark.operators.simsearch import (
        kmeans_assign_scored,
        kmeans_lloyd,
        prf_medoids,
    )

    emb = (
        spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        .cache()
    )
    init = prf_medoids(emb, 8).select(
        "cell",
        F.transform("center", lambda x: x.cast("double")).alias("center"),
    )
    trained = kmeans_lloyd(emb, k=8, rounds=2, dim=64)
    rows = trained.collect()
    assert len(rows) == 8
    assert all(r["center"] is not None and len(r["center"]) == 64
               for r in rows)

    def mean_cos(centers):
        return (
            kmeans_assign_scored(emb, centers)
            .agg(F.avg("cos_r").alias("m"))
            .collect()[0]["m"]
        )

    assert mean_cos(trained) >= mean_cos(init) - 1e-9


def test_kmeans_deterministic_across_partitionings(spark):
    """The DECIMAL mean accumulation must make the trained centers
    independent of the input partitioning (the property the oracle
    comparison relies on)."""
    from bigdata_capstone_spark.operators.simsearch import kmeans_lloyd

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one = {
        r["cell"]: tuple(r["center"])
        for r in kmeans_lloyd(emb.coalesce(1), k=4, rounds=2).collect()
    }
    many = {
        r["cell"]: tuple(r["center"])
        for r in kmeans_lloyd(
            emb.repartition(13, "vec_id"), k=4, rounds=2
        ).collect()
    }
    assert one == many


def test_semdedup_prunes_planted_twin_same_cell_only(spark):
    """A planted exact twin (cosine 1.0) must land in the same cell as
    its original and appear on the prune list with the original as
    kept_id; every prune row must reference a smaller kept_id."""
    from bigdata_capstone_spark.operators.simsearch import (
        kmeans_lloyd,
        semdedup_prune,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    twin = emb.filter(F.col("vec_id") == 0).select(
        (F.col("vec_id") + 100000).alias("vec_id"),
        "embedding",
        "label",
    )
    corpus = emb.unionByName(twin).cache()
    centers = kmeans_lloyd(corpus, k=4, rounds=1, dim=64)
    pruned = semdedup_prune(corpus, centers, min_cosine=0.9).collect()
    by_id = {r["vec_id"]: r for r in pruned}
    assert 100000 in by_id, "exact twin must be pruned"
    assert by_id[100000]["kept_id"] == 0
    assert by_id[100000]["cos_r"] == 1.0
    assert all(r["kept_id"] < r["vec_id"] for r in pruned)


def test_rrf_fuse_known_values_and_single_system_candidates(spark):
    """RRF on a hand-built pair of rank lists: fused score must equal
    1/(60+lex) + 1/(60+dense) for shared candidates, and a candidate
    found by only one system keeps the other's rank at 0 while still
    competing with its single reciprocal."""
    from bigdata_capstone_spark.operators.retrieval import rrf_fuse

    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_doc INT, doc_id INT, lex_rk INT",
    )
    dense = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_doc INT, doc_id INT, dense_rk INT",
    )
    out = {r["doc_id"]: r for r in rrf_fuse(lex, dense, k=10).collect()}
    assert out[11]["rrf_r"] == round(1 / 62 + 1 / 61, 6)
    assert out[11]["fused_rk"] == 1  # in both systems -> wins
    assert out[10]["dense_rk"] == 0 and out[10]["lex_rk"] == 1
    assert out[10]["rrf_r"] == round(1 / 61, 6)
    assert out[13]["lex_rk"] == 0 and out[13]["rrf_r"] == round(1 / 62, 6)
    # 13 (dense rank 2 -> 1/62) ties 10 (lex rank 1 -> 1/61)? no: 1/61 >
    # 1/62, so 10 outranks 13; doc_id breaks any exact tie.
    assert out[10]["fused_rk"] < out[13]["fused_rk"]


def test_key_overlap_depth_planted_layouts(spark):
    """Sweep semantics: nested/overlapping ranges count, disjoint ranges
    give depth 1, and ranges TOUCHING at one key count as overlapping
    (starts sort before ends at the same point)."""
    from bigdata_capstone_spark.operators.maintenance import (
        key_overlap_depth,
    )

    files = spark.createDataFrame(
        [
            # partition a: [0,10], [5,15], [20,30] -> max depth 2
            ("a", 0, 10), ("a", 5, 15), ("a", 20, 30),
            # partition b: disjoint -> depth 1
            ("b", 0, 1), ("b", 2, 3),
            # partition c: touching at 5 -> depth 2
            ("c", 0, 5), ("c", 5, 9),
            # partition d: fully nested triple -> depth 3
            ("d", 0, 100), ("d", 10, 90), ("d", 20, 80),
        ],
        "part_key STRING, min_key INT, max_key INT",
    )
    out = {r["part_key"]: r for r in key_overlap_depth(files).collect()}
    assert out["a"]["max_depth"] == 2 and out["a"]["n_files"] == 3
    assert out["b"]["max_depth"] == 1 and out["b"]["n_files"] == 2
    assert out["c"]["max_depth"] == 2
    assert out["d"]["max_depth"] == 3


def test_image_dhash_sees_through_lsb_flip_exact_dedup_blind(spark):
    """The planted LSB-flipped twins must (a) differ byte-wise — exact
    md5 dedup finds nothing — and (b) sit within Hamming 1 of their
    originals in dHash space, while unrelated images stay far (>= 20);
    the banded join must surface exactly the 8 planted pairs."""
    from bigdata_capstone_spark.operators.dedup import hamming_band_pairs
    from bigdata_capstone_spark.operators.multimodal import (
        image_dhash,
        synthetic_ppm_pair_assets,
    )

    assets = synthetic_ppm_pair_assets(spark, n=16, seed=42).cache()
    # exact-dup view: every payload md5 is unique
    n_exact = (
        assets.select(F.md5(F.hex("media")).alias("h")).distinct().count()
    )
    assert n_exact == 16

    sigs = image_dhash(assets).cache()
    pairs = hamming_band_pairs(sigs, "asset_id", "dhash", 56, 3).collect()
    found = {(r["idA"], r["idB"]): r["hamming"] for r in pairs}
    assert set(found) == {(i, i + 8) for i in range(8)}
    assert all(d <= 1 for d in found.values())

    # unrelated distances stay far: exhaustive check on the 16 sigs
    sig = {r["asset_id"]: r["dhash"] for r in sigs.collect()}
    far = [
        bin(sig[a] ^ sig[b]).count("1")
        for a in range(16)
        for b in range(a + 1, 16)
        if b != a + 8
    ]
    assert min(far) >= 20


def test_image_dhash_fits_signed_64_and_is_deterministic(spark):
    """56-bit packing must stay positive (BIGINT-safe in any engine)
    and identical across partitionings of the asset frame."""
    from bigdata_capstone_spark.operators.multimodal import (
        image_dhash,
        synthetic_ppm_pair_assets,
    )

    assets = synthetic_ppm_pair_assets(spark, n=16, seed=42)
    one = {r["asset_id"]: r["dhash"]
           for r in image_dhash(assets.coalesce(1)).collect()}
    many = {r["asset_id"]: r["dhash"]
            for r in image_dhash(assets.repartition(7)).collect()}
    assert one == many
    assert all(0 <= v < 2**56 for v in one.values())


def test_lr_classifier_first_round_gradient_closed_form(spark):
    """From w=0 the sigmoid is exactly 0.5, so after one round
    w_j = round(-lr * mean((0.5 - y) * x_j), 8) — check the trained
    margin against a hand-computed weight vector on a tiny frame."""
    from bigdata_capstone_spark.operators.selection import (
        lr_source_classifier,
    )

    docs = spark.createDataFrame(
        [
            (1, "src0", "alpha beta gamma delta"),
            (2, "src0", "alpha alpha beta"),
            (3, "src9", "x y"),
            (4, "src9", "longword anotherlongword third fourth fifth"),
        ],
        "doc_id INT, source STRING, text STRING",
    )
    out = {
        r["doc_id"]: r
        for r in lr_source_classifier(docs, rounds=1).collect()
    }

    # hand-compute: features per doc
    def feats(text):
        t = text.lower().split()
        n = len(t)
        return (
            round(n / 100.0, 6),
            round(len(set(t)) / n, 6),
            round(sum(len(x) for x in t) / n, 6),
            1.0,
        )

    rows = [
        (feats("alpha beta gamma delta"), 1.0),
        (feats("alpha alpha beta"), 1.0),
        (feats("x y"), 0.0),
        (feats("longword anotherlongword third fourth fifth"), 0.0),
    ]
    w = [
        round(-0.5 * sum((0.5 - y) * f[j] for f, y in rows) / 4, 8)
        for j in range(4)
    ]
    for doc_id, (f, y) in zip((1, 2, 3, 4), rows):
        want = round(sum(fj * wj for fj, wj in zip(f, w)), 6)
        assert out[doc_id]["lr_margin_r"] == want
        assert out[doc_id]["is_curated"] == (y == 1.0)


def test_lr_classifier_partition_invariant_and_separates(spark):
    """Trained margins must be identical across partitionings (DECIMAL
    gradient law), and on a cleanly separable fixture 3 rounds must
    rank every curated doc above every non-curated one."""
    from bigdata_capstone_spark.operators.selection import (
        lr_source_classifier,
    )

    rows = []
    for i in range(40):
        if i % 2 == 0:  # curated: long, diverse docs
            text = " ".join(f"tok{i}w{j}" for j in range(30))
            rows.append((i, "src0", text))
        else:  # rest: tiny repetitive docs
            rows.append((i, "src7", "a a a"))
    docs = spark.createDataFrame(
        rows, "doc_id INT, source STRING, text STRING"
    )
    out1 = {
        r["doc_id"]: r["lr_margin_r"]
        for r in lr_source_classifier(docs.coalesce(1), rounds=3).collect()
    }
    out2 = {
        r["doc_id"]: r["lr_margin_r"]
        for r in lr_source_classifier(
            docs.repartition(11, "doc_id"), rounds=3
        ).collect()
    }
    assert out1 == out2
    cur = [v for k, v in out1.items() if k % 2 == 0]
    rest = [v for k, v in out1.items() if k % 2 == 1]
    assert min(cur) > max(rest)


def test_sitemap_parse_adversarial_plants(spark):
    """Comment-decoy exclusion, whitespace-wrapped loc trimming,
    relative-loc drop, index-vs-urlset kind separation, and non-sitemap
    XML yielding nothing."""
    from bigdata_capstone_spark.operators.webingest import (
        parse_sitemap_entries,
        synthetic_sitemap_table,
    )

    out = parse_sitemap_entries(
        synthetic_sitemap_table(spark, n_domains=2)
    ).collect()
    by_loc = {r["loc"]: r for r in out}
    assert "https://www.example0.com/products/p0" in by_loc  # multiline loc
    assert by_loc["https://www.example0.com/products/p0"]["lastmod"] is None
    assert "https://evil.example/old0" not in by_loc  # commented-out decoy
    assert not any(loc.startswith("/relative") for loc in by_loc)
    kinds = {r["domain"]: r["kind"] for r in out}
    assert kinds == {
        "www.example0.com": "urlset",
        "www.example1.com": "index",
    }

    junk = spark.createDataFrame(
        [("d", "u", "<rss><item><loc>https://a.b/c</loc></item></rss>")],
        "domain STRING, sitemap_url STRING, sitemap_xml STRING",
    )
    assert parse_sitemap_entries(junk).count() == 0


def test_bitext_planted_translation_surfaces_with_high_margin(spark):
    """A planted en/de vector pair (same direction, slightly scaled)
    must be mined with cosine ~1 and a margin far above the random
    background; every output row must pair en -> de ids only."""
    from bigdata_capstone_spark.operators.simsearch import (
        bitext_margin_pairs,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    )
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select(F.col("doc_id").alias("vec_id"), "lang")
    # plant: copy vec 0's embedding under two fresh ids, one per lang
    base = emb.filter(F.col("vec_id") == 0)
    plant = base.select(
        (F.col("vec_id") + 200000).alias("vec_id"), "embedding", "label"
    ).unionByName(
        base.select(
            (F.col("vec_id") + 200001).alias("vec_id"), "embedding",
            "label",
        )
    )
    lang_plant = spark.createDataFrame(
        [(200000, "en"), (200001, "de")], "vec_id LONG, lang STRING"
    )
    out = bitext_margin_pairs(
        emb.unionByName(plant),
        docs.unionByName(lang_plant),
        min_cosine=0.15,
        min_margin=1.02,
    ).collect()
    by_src = {r["src_id"]: r for r in out}
    assert 200000 in by_src
    assert by_src[200000]["tgt_id"] == 200001
    assert by_src[200000]["cosine_r"] == 1.0
    assert by_src[200000]["margin_r"] > 1.5
    en_ids = {r["vec_id"] for r in docs.filter(F.col("lang") == "en").collect()} | {200000}
    de_ids = {r["vec_id"] for r in docs.filter(F.col("lang") == "de").collect()} | {200001}
    assert all(r["src_id"] in en_ids and r["tgt_id"] in de_ids for r in out)
    assert all(r["margin_r"] >= 1.02 and r["cosine_r"] >= 0.15 for r in out)


def test_hll_overlap_inclusion_exclusion_sanity(spark):
    """Disjoint sets must estimate ~zero overlap, identical sets must
    estimate overlap ~= their own cardinality, and the estimator must
    equal est_a + est_b - est_union exactly (rounded arithmetic law)."""
    from bigdata_capstone_spark.operators.sketches import hll_set_overlap

    a = spark.range(0, 500).select(F.col("id").cast("string").alias("k"))
    b = spark.range(500, 1000).select(
        F.col("id").cast("string").alias("k")
    )
    disjoint = hll_set_overlap(a, b, F.col("k")).collect()[0]
    assert disjoint["est_overlap"] == round(
        round(disjoint["est_a"] + disjoint["est_b"] - disjoint["est_union"], 4), 4
    )
    # raw-HLL error at m=64 is ~13%; disjoint overlap must be small
    # relative to the set sizes
    assert abs(disjoint["est_overlap"]) < 0.5 * disjoint["est_a"]

    same = hll_set_overlap(a, a, F.col("k")).collect()[0]
    assert same["est_union"] == same["est_a"]
    assert same["est_overlap"] == same["est_a"]


def test_audio_segments_island_fusion_and_exact_energy(spark):
    """Hand-built window frame: consecutive active windows fuse into one
    segment, separated actives stay separate, all-quiet assets emit
    nothing, and segment energy is the exact integer sum."""
    from bigdata_capstone_spark.operators.multimodal import (
        audio_energy_segments,
    )

    win = spark.createDataFrame(
        [
            # asset 1: active at 0,1 (fused) and 3 (alone); quiet at 2
            (1, 0, 0, 4, 4_000_000_000), (1, 1, 16, 4, 2_000_000_000),
            (1, 2, 32, 4, 10), (1, 3, 48, 2, 1_000_000_000),
            # asset 2: all quiet
            (2, 0, 0, 4, 10), (2, 1, 16, 4, 20),
        ],
        "asset_id LONG, win_idx INT, start_frame INT, "
        "n_samples INT, sum_sq LONG",
    )
    segs = audio_energy_segments(win, threshold=100_000_000).collect()
    assert {r["asset_id"] for r in segs} == {1}
    by_start = {r["start_win"]: r for r in segs}
    assert set(by_start) == {0, 3}
    assert by_start[0]["end_win"] == 1
    assert by_start[0]["n_windows"] == 2
    assert by_start[0]["sum_sq"] == 6_000_000_000
    assert by_start[0]["n_samples"] == 8
    assert by_start[3]["n_windows"] == 1


def test_cms_join_size_upper_bound_and_exact_when_no_collisions(spark):
    """The CMS inner product must never underestimate, and with a
    handful of keys in 256 slots it equals the exact join size
    (sum of cnt_A * cnt_B over shared keys)."""
    from bigdata_capstone_spark.operators.sketches import (
        cms_join_size_estimate,
    )

    a = spark.createDataFrame(
        [("x",), ("x",), ("y",)], "k STRING"
    )
    b = spark.createDataFrame(
        [("x",), ("y",), ("y",), ("z",)], "k STRING"
    )
    est = cms_join_size_estimate(
        a, F.col("k"), b, F.col("k"), d=4
    ).collect()[0]["est_join_size"]
    assert est == 2 * 1 + 1 * 2  # = 4, no collisions at this scale

    # disjoint keys: exact 0; CMS may only collide upward
    c = spark.createDataFrame([("p",), ("q",)], "k STRING")
    est0 = cms_join_size_estimate(
        a, F.col("k"), c, F.col("k"), d=4
    ).collect()[0]["est_join_size"]
    assert est0 is not None and est0 >= 0


def test_embedding_centroid_drift_identity_and_shift(spark):
    """Identical snapshots give cosine exactly 1.0 per group; negating
    one snapshot's vectors flips the cosine to -1.0; groups missing
    from either side are absent."""
    from bigdata_capstone_spark.operators.drift import (
        embedding_centroid_drift,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).select("vec_id", "embedding", (F.col("vec_id") % 3).alias("source"))
    same = embedding_centroid_drift(emb, emb).collect()
    assert len(same) == 3
    assert all(r["centroid_cos_r"] == 1.0 for r in same)
    assert all(r["n_a"] == r["n_b"] for r in same)

    neg = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: -x).alias("embedding"),
        "source",
    )
    flipped = embedding_centroid_drift(emb, neg).collect()
    assert all(r["centroid_cos_r"] == -1.0 for r in flipped)

    only_a = emb.filter(F.col("source") < 2)
    part = embedding_centroid_drift(only_a, emb).collect()
    assert {r["source"] for r in part} == {0, 1}


def test_zone_map_probe_stats_perfect_vs_degenerate_layouts(spark):
    """Disjoint ranges open exactly one file per in-range probe;
    all-overlapping ranges open every file; probes hitting no file
    still count in the denominator."""
    from bigdata_capstone_spark.operators.maintenance import (
        zone_map_probe_stats,
    )

    files = spark.createDataFrame(
        [
            ("disjoint", 0, 9), ("disjoint", 10, 19), ("disjoint", 20, 29),
            ("overlap", 0, 29), ("overlap", 0, 29), ("overlap", 0, 29),
        ],
        "layout STRING, min_key INT, max_key INT",
    )
    probes = spark.createDataFrame(
        [(5,), (15,), (25,), (100,)], "probe_key INT"
    )  # 100 hits nothing
    out = {r["layout"]: r for r in
           zone_map_probe_stats(files, probes).collect()}
    d, o = out["disjoint"], out["overlap"]
    assert d["files_opened"] == 3 and d["n_probes"] == 4
    assert d["avg_files_opened_r"] == 0.75
    assert o["files_opened"] == 9  # 3 in-range probes x all 3 files
    assert o["pruned_frac_r"] == 0.25  # only the miss probe pruned


def test_viterbi_segmentation_picks_max_likelihood_and_reconstructs(spark):
    """Hand-built vocab: a frequent bigram must beat two singles, every
    word must reconstruct from its pieces, and chars-only words stay
    segmentable (single characters are always in the vocabulary)."""
    from bigdata_capstone_spark.operators.textops import (
        viterbi_segment_words,
    )

    # scores: micro-unit log-probs (bigger = more likely)
    vocab = spark.createDataFrame(
        [
            ("a", -1_000_000), ("b", -1_000_000), ("c", -1_500_000),
            ("ab", -1_200_000),  # cheaper than a+b (-2_000_000)
            ("bc", -3_600_000),  # dearer than b+c (-2_500_000)
        ],
        "piece STRING, score_micro LONG",
    )
    words = spark.createDataFrame(
        [("ab",), ("abc",), ("bbc",), ("cab",)], "word STRING"
    )
    out = {r["word"]: r for r in
           viterbi_segment_words(words, vocab, max_piece_len=2,
                                 max_word_len=4).collect()}
    assert out["ab"]["pieces"] == "ab"
    assert out["ab"]["score_micro"] == -1_200_000
    assert out["abc"]["pieces"] == "ab c"          # ab+c beats a+bc
    assert out["bbc"]["pieces"] == "b b c"          # bc too dear
    assert out["cab"]["pieces"] == "c ab"
    for r in out.values():
        assert r["pieces"].replace(" ", "") == r["word"]
        assert r["n_pieces"] == len(r["pieces"].split(" "))


def test_viterbi_corpus_words_reconstruct_and_scores_negative(spark):
    """On the real corpus vocab, every distinct word must reconstruct
    exactly, and multi-char pieces must actually be used (the top-50
    cut makes frequent stems single pieces)."""
    from bigdata_capstone_spark.operators.textops import (
        unigram_piece_vocab,
        viterbi_segment_words,
        word_frequencies,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vocab = unigram_piece_vocab(docs).cache()
    words = word_frequencies(docs).select("word")
    segs = viterbi_segment_words(words, vocab).collect()
    assert len(segs) == words.count()
    assert all(r["pieces"].replace(" ", "") == r["word"] for r in segs)
    assert all(r["score_micro"] < 0 for r in segs)
    assert any(
        any(len(p) > 1 for p in r["pieces"].split(" ")) for r in segs
    )


def test_kmeans_partial_update_shard_split_independence(spark):
    """The update group law: partials from ANY disjoint shard split
    merge to the identical centers as the single-pass update —
    including empty-cell coalesce behavior."""
    from bigdata_capstone_spark.operators.simsearch import (
        _kmeans_update,
        assign_cells,
        kmeans_centers_from_partials,
        kmeans_merge_partials,
        kmeans_partial_update,
        prf_medoids,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).cache()
    centers0 = prf_medoids(emb, 4).select(
        "cell",
        F.transform("center", lambda x: x.cast("double")).alias("center"),
    ).cache()
    asg = assign_cells(emb, centers0, keep_vec=True)
    single = {
        r["cell"]: tuple(r["center"])
        for r in _kmeans_update(asg, centers0, 64).collect()
    }
    pa = kmeans_partial_update(
        assign_cells(emb.filter(F.col("vec_id") % 3 == 0), centers0,
                     keep_vec=True)
    )
    pb = kmeans_partial_update(
        assign_cells(emb.filter(F.col("vec_id") % 3 != 0), centers0,
                     keep_vec=True)
    )
    merged = {
        r["cell"]: tuple(r["center"])
        for r in kmeans_centers_from_partials(
            kmeans_merge_partials(pa, pb), centers0
        ).collect()
    }
    assert merged == single


def test_mmr_rerank_diversity_beats_pure_relevance(spark):
    """Hand-built panel: candidates b,c are near-duplicates with the
    top relevance; MMR must pick one of them first, then prefer the
    less relevant but DIVERSE d over the redundant twin."""
    from bigdata_capstone_spark.operators.simsearch import mmr_rerank

    cands = spark.createDataFrame(
        [(1, 10, 0.9), (1, 11, 0.89), (1, 12, 0.5)],
        "query_id INT, vec_id INT, rel_r DOUBLE",
    )
    # 10 and 11 nearly identical; 12 orthogonal to both
    sims_rows = []
    for a, b, s in [(10, 11, 0.99), (10, 12, 0.0), (11, 12, 0.0)]:
        sims_rows += [(1, a, b, s), (1, b, a, s)]
    sims = spark.createDataFrame(
        sims_rows, "query_id INT, a INT, b INT, sim_r DOUBLE"
    )
    out = {r["pick"]: r for r in
           mmr_rerank(cands, sims, k=3, lam=0.7).collect()}
    assert out[1]["vec_id"] == 10 and out[1]["mmr_r"] == 0.9
    # pick 2: 11 scores .7*.89-.3*.99=.326; 12 scores .7*.5-0=.35 -> 12
    assert out[2]["vec_id"] == 12
    assert out[2]["mmr_r"] == round(0.7 * 0.5 - (1.0 - 0.7) * 0.0, 6)
    assert out[3]["vec_id"] == 11
    # picks are distinct per query
    assert len({r["vec_id"] for r in out.values()}) == 3


def test_prf_expansion_excludes_query_vocab_and_stopwords(spark):
    """Expansion terms must contain no stopword, no term the query
    document already contains (in ANY form), and be ranked by summed
    feedback tf with the token tie-break."""
    from bigdata_capstone_spark.operators.retrieval import (
        postings_table,
        prf_expansion_terms,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = prf_expansion_terms(
        docs, n_queries=3, fb_k=5, n_terms=5, stop_df_top=20
    ).collect()
    assert out, "expansion must produce terms on the fixture corpus"

    post = postings_table(docs)
    dfreq = post.groupBy("token").count().orderBy(
        F.desc("count"), "token"
    )
    stops = {r["token"] for r in dfreq.limit(20).collect()}
    qvocab = {
        (r["doc_id"], r["token"])
        for r in post.filter(F.col("doc_id") < 3).collect()
    }
    for r in out:
        assert r["token"] not in stops
        assert (r["query_doc"], r["token"]) not in qvocab
        assert 1 <= r["expansion_rank"] <= 5
    # ranks strictly ordered by (fb_tf desc, token) within a query
    from itertools import groupby

    rows = sorted(out, key=lambda r: (r["query_doc"], r["expansion_rank"]))
    for _, grp in groupby(rows, key=lambda r: r["query_doc"]):
        grp = list(grp)
        keys = [(-r["fb_tf"], r["token"]) for r in grp]
        assert keys == sorted(keys)


def test_ks_statistic_known_distributions(spark):
    """Identical samples give D = 0; disjoint ranges give D = 1 at the
    boundary; a known half-shift gives the exact hand-computed D."""
    from bigdata_capstone_spark.operators.drift import ks_statistic

    def frame(vals_a, vals_b):
        rows = [(float(v), False) for v in vals_a] + [
            (float(v), True) for v in vals_b
        ]
        return spark.createDataFrame(rows, "value DOUBLE, is_b BOOLEAN")

    same = ks_statistic(
        frame([1, 2, 3, 4], [1, 2, 3, 4]),
        F.col("is_b"), F.col("value"), 1.0,
    ).collect()[0]
    assert same["ks_d_r"] == 0.0

    disjoint = ks_statistic(
        frame([1, 2], [10, 11]), F.col("is_b"), F.col("value"), 1.0
    ).collect()[0]
    assert disjoint["ks_d_r"] == 1.0
    assert disjoint["at_upper_r"] == 3.0  # sup attained at A's last bin

    # A = {1,2,3,4}, B = {3,4,5,6}: sup |CDF_A - CDF_B| = 1/2 at x<=2
    shift = ks_statistic(
        frame([1, 2, 3, 4], [3, 4, 5, 6]),
        F.col("is_b"), F.col("value"), 1.0,
    ).collect()[0]
    assert shift["ks_d_r"] == 0.5
    assert shift["n_a"] == 4 and shift["n_b"] == 4


def test_lsh_candidate_precision_planted_corpus(spark):
    """Planted twins + noise: precision must equal verified/candidates
    exactly, verified <= candidates, and a corpus of exact twins gives
    precision 1.0 (every candidate verifies)."""
    from bigdata_capstone_spark.operators.dedup import (
        lsh_candidate_precision,
    )

    twins = []
    for i in range(6):
        text = " ".join(f"tok{i}w{j}" for j in range(12))
        twins += [(2 * i, text), (2 * i + 1, text)]
    docs = spark.createDataFrame(twins, "doc_id LONG, text STRING")
    r = lsh_candidate_precision(
        docs, n_perm=8, bands=4, min_jaccard=0.9, max_bucket_size=100
    ).collect()[0]
    assert r["n_candidates"] == 6  # one pair per twin, no cross-pairs
    assert r["n_verified"] == 6
    assert r["precision_r"] == 1.0

    real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    r2 = lsh_candidate_precision(
        real, n_perm=8, bands=4, min_jaccard=0.35, max_bucket_size=100
    ).collect()[0]
    assert 0 <= r2["n_verified"] <= r2["n_candidates"]
    if r2["n_candidates"]:
        assert r2["precision_r"] == round(
            r2["n_verified"] / r2["n_candidates"], 6
        )


def test_lsh_recall_planted_twins_full_recall(spark):
    """Exact twins are found by every band, so recall is 1.0; a
    no-near-dup corpus reports recall 1.0 by the 0/0 convention."""
    from bigdata_capstone_spark.operators.dedup import lsh_pair_recall

    twins = []
    for i in range(5):
        text = " ".join(f"tok{i}w{j}" for j in range(12))
        twins += [(2 * i, text), (2 * i + 1, text)]
    docs = spark.createDataFrame(twins, "doc_id LONG, text STRING")
    r = lsh_pair_recall(
        docs, n_perm=8, bands=4, min_jaccard=0.9, max_bucket_size=100
    ).collect()[0]
    assert r["n_true_pairs"] == 5 and r["n_hits"] == 5
    assert r["recall_r"] == 1.0

    distinct = spark.createDataFrame(
        [(i, " ".join(f"u{i}x{j}" for j in range(12))) for i in range(6)],
        "doc_id LONG, text STRING",
    )
    r0 = lsh_pair_recall(distinct, min_jaccard=0.9).collect()[0]
    assert r0["n_true_pairs"] == 0 and r0["recall_r"] == 1.0
