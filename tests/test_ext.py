"""Behavioral tests for the extension operators: planted duplicates are
found, ANN recall is sane, multimodal decode plumbing produces the
declared schema."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from blspark.ext.dedup import (
    exact_dedup_keys,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_signatures,
    simhash16,
    word_shingles,
)
from blspark.ext.multimodal import attach_binary, decode_features, fake_decode
from blspark.ext.similarity import cosine_topk
from blspark.ext.text import fingerprint, lang_id, quality_score, token_stats

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # near-dup of 1
    (3, "completely different text about spark query engines and columnar data"),
    (4, "the quick brown fox jumps over the lazy dog near the river bank"),  # exact dup of 1
    (5, "short text"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_finds_planted_copy(docs):
    groups = {r["keep_id"]: r["n_copies"] for r in exact_dedup_keys(docs, "doc_id", "text").collect()}
    assert groups[1] == 2  # docs 1 and 4
    assert groups[2] == 1 and groups[3] == 1


def test_jaccard_finds_near_dup_pair(docs):
    sh = word_shingles(docs, "doc_id", "text", n=3)
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jaccard_pairs(sh, 0.5).collect()}
    assert pairs[(1, 4)] == 1.0  # exact dup
    assert 0.8 <= pairs[(1, 2)] < 1.0  # near dup
    assert (1, 3) not in pairs


def test_minhash_lsh_recovers_near_dups(docs):
    sh = word_shingles(docs, "doc_id", "text", n=3)
    sig = minhash_signatures(sh, n_hashes=8)
    cand = {(r["id_a"], r["id_b"]) for r in lsh_candidate_pairs(sig, 8, 2).collect()}
    assert (1, 4) in cand  # identical signatures always collide
    assert (1, 2) in cand  # high-jaccard pair collides w.h.p.


def test_simhash_identical_texts_equal_fingerprints(docs):
    fps = {r["id"]: r["simhash"] for r in simhash16(docs, "doc_id", "text").collect()}
    assert fps[1] == fps[4]
    assert 0 <= fps[1] < 2**16
    assert fps[1] != fps[3]


def test_duplicated_span_fraction(docs):
    """Exact dups -> fraction 1.0; the near-dup (one appended token)
    shares all but its final 8-gram; unique docs -> 0.0; docs under 8
    tokens are dropped."""
    from blspark.ext.dedup import duplicated_span_fraction, positional_ngrams

    grams = positional_ngrams(docs, "doc_id", "text", n=8)
    out = {
        r["id"]: (r["n_grams"], r["dup_fraction"])
        for r in duplicated_span_fraction(grams).collect()
    }
    assert out[1] == (6, 1.0)  # 13 tokens -> 6 grams, all shared with doc 4
    assert out[4] == (6, 1.0)
    assert out[2] == (7, 6 / 7)  # near-dup: only the appended-token gram unique
    assert out[3] == (3, 0.0)  # unique text (10 tokens -> 3 grams)
    assert 5 not in out  # "short text" has < 8 tokens


def test_simhash64_halves_and_exact_dups(docs):
    from blspark.ext.dedup import simhash64

    fps = {
        r["id"]: (r["sh_hi"], r["sh_lo"])
        for r in simhash64(docs, "doc_id", "text").collect()
    }
    assert fps[1] == fps[4]  # identical texts -> identical fingerprints
    assert all(0 <= h < 2**32 and 0 <= lo < 2**32 for h, lo in fps.values())
    assert fps[1] != fps[3]


def test_simhash_hamming_banded_equals_all_pairs(docs):
    """The 4x16-bit banded candidate join must produce exactly the
    all-pairs Hamming<=3 set (pigeonhole guarantee)."""
    from blspark.ext.dedup import simhash64, simhash_hamming_pairs

    fp = simhash64(docs, "doc_id", "text")
    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_hamming_pairs(fp, max_hamming=3).collect()
    }
    rows = {r["id"]: (r["sh_hi"], r["sh_lo"]) for r in fp.collect()}
    want = {}
    ids = sorted(rows)
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            d = bin(rows[a][0] ^ rows[b][0]).count("1") + bin(
                rows[a][1] ^ rows[b][1]
            ).count("1")
            if d <= 3:
                want[(a, b)] = d
    assert got == want
    assert got[(1, 4)] == 0  # exact dup pair at distance zero


def test_cosine_topk_self_similarity(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # close to 0
        (2, [0.0, 1.0, 0.0]),   # orthogonal to 0
        (3, [-1.0, 0.0, 0.0]),  # opposite of 0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = cosine_topk(df, df.filter(F.col("vec_id") == 0), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["rank"])]
    assert ranked == [1, 2, 3]
    by_n = {r["neighbor_id"]: r["cosine"] for r in out}
    assert by_n[2] == 0.0 and by_n[3] == -1.0
    assert 0.99 < by_n[1] <= 1.0


def test_text_operators_shapes(docs):
    ts = {r["id"]: r for r in token_stats(docs, "doc_id", "text").collect()}
    assert ts[5]["n_tokens"] == 2 and ts[5]["n_chars"] == 10
    q = {r["id"]: r for r in quality_score(docs, "doc_id", "text").collect()}
    assert 0.0 <= q[1]["quality"] <= 1.0
    assert q[1]["stopword_ratio"] > 0  # 'the' appears
    li = {r["id"]: r for r in lang_id(docs, "doc_id", "text").collect()}
    assert li[1]["pred_lang"] == "en"
    fp = {r["id"]: r["fp"] for r in fingerprint(docs, "doc_id", "text").collect()}
    assert fp[1] == fp[4]


def test_fingerprint_normalizes_formatting(spark):
    df = spark.createDataFrame(
        [(1, "Hello,   World!"), (2, "hello world"), (3, "different")],
        "doc_id long, text string",
    )
    fp = {r["id"]: r["fp"] for r in fingerprint(df, "doc_id", "text").collect()}
    assert fp[1] == fp[2] != fp[3]


def test_multimodal_decode_schema_and_determinism(docs):
    media = attach_binary(
        docs.withColumnRenamed("doc_id", "doc_id"), "text", modality="image"
    )
    out = decode_features(media)
    assert out.columns == [
        "id", "modality", "n_bytes", "sha1", "width", "height", "n_channels",
    ]
    rows = {r["id"]: r for r in out.collect()}
    assert rows[1]["n_bytes"] == len(DOCS[0][1])
    # identical content -> identical fake-decoded dims
    assert (rows[1]["width"], rows[1]["height"]) == (rows[4]["width"], rows[4]["height"])
    w, h, c = fake_decode(DOCS[0][1].encode(), "image")
    assert (rows[1]["width"], rows[1]["height"], rows[1]["n_channels"]) == (w, h, c)


def test_decoder_hook_dispatch():
    """library_decode raises a clear error naming the missing library
    for undecodable formats; best_decoder returns hybrid_decode, which
    REALLY decodes decodable bytes (stdlib PNG/WAV even without
    PIL/soundfile) and falls back to deterministic fake dimensions for
    everything else — so pipelines get real dims wherever possible."""
    import pytest as _pytest

    from blspark.ext.multimodal import best_decoder, hybrid_decode, library_decode

    try:
        import PIL  # noqa: F401

        have_pil = True
    except ImportError:
        have_pil = False

    assert best_decoder() is hybrid_decode
    if not have_pil:
        with _pytest.raises(NotImplementedError, match="pillow"):
            library_decode(b"xx", "image")
    with _pytest.raises(NotImplementedError):
        library_decode(b"xx", "video")
    # undecodable bytes -> deterministic fake dims; real PNG -> real dims
    assert hybrid_decode(b"xx", "image") == fake_decode(b"xx", "image")
    assert hybrid_decode(_make_png(4, 4, 3), "image") == (4, 4, 3)


def _make_png(width: int, height: int, channels: int = 3) -> bytes:
    """Minimal stdlib PNG encoder (8-bit, filter 0) for decode fixtures."""
    import struct
    import zlib

    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[channels]

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, color_type, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((x * channels + c + y) % 256 for x in range(width) for c in range(channels))
        for y in range(height)
    )
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _make_wav(n_frames: int, n_channels: int = 1) -> bytes:
    import io
    import wave

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(n_channels)
        w.setsampwidth(2)
        w.setframerate(8000)
        w.writeframes(bytes(2 * n_frames * n_channels))
    return buf.getvalue()


def test_library_decode_real_png_and_wav():
    """The REAL decoder branch, exercised in-container: a generated 4x4
    RGB PNG decodes to its true dimensions through full pixel
    reconstruction (PIL when installed, pure-stdlib inflate+unfilter
    otherwise), and a WAV through wave/soundfile. Corrupt pixel data
    must raise — proving this is a decode, not header sniffing."""
    import pytest as _pytest

    from blspark.ext.multimodal import library_decode

    assert library_decode(_make_png(4, 4, 3), "image") == (4, 4, 3)
    assert library_decode(_make_png(7, 2, 1), "image") == (7, 2, 1)
    assert library_decode(_make_png(3, 5, 4), "image") == (3, 5, 4)
    assert library_decode(_make_wav(8, 1), "audio") == (8, 1, 1)
    assert library_decode(_make_wav(5, 2), "audio") == (5, 1, 2)

    good = _make_png(4, 4, 3)
    truncated = good[: len(good) // 2]
    with _pytest.raises(Exception):
        library_decode(truncated, "image")


def test_png_unfilter_all_filter_types():
    """The stdlib PNG path reconstructs Sub/Up/Average/Paeth-filtered
    scanlines (skipped when PIL is installed — PIL covers them)."""
    import struct
    import zlib

    import pytest as _pytest

    try:
        import PIL  # noqa: F401

        _pytest.skip("PIL installed; stdlib unfilter path not reachable")
    except ImportError:
        pass

    from blspark.ext.multimodal import _decode_png_stdlib

    def chunk(ctype: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + ctype
            + data
            + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
        )

    # 2x5 grayscale, one scanline per filter type 0..4
    width, height, ch = 2, 5, 1
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 0, 0, 0, 0)
    raw = (
        b"\x00\x10\x20"  # none
        + b"\x01\x05\x05"  # sub
        + b"\x02\x01\x01"  # up
        + b"\x03\x02\x02"  # average
        + b"\x04\x01\x01"  # paeth
    )
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )
    assert _decode_png_stdlib(png) == (width, height, ch)


def test_decode_features_real_decoder_mapinpandas(spark):
    """End-to-end real decode through the Spark plumbing: binary PNG/WAV
    columns flow through mapInPandas (Arrow batches) with
    library_decode and come back with true dimensions."""
    from blspark.ext.multimodal import decode_features, library_decode

    rows = [
        (1, bytearray(_make_png(4, 4, 3)), "image"),
        (2, bytearray(_make_png(9, 3, 1)), "image"),
        (3, bytearray(_make_wav(16, 2)), "audio"),
    ]
    media = spark.createDataFrame(
        rows, "id long, content binary, modality string"
    )
    got = {r["id"]: r for r in decode_features(media, decoder=library_decode).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["n_channels"]) == (4, 4, 3)
    assert (got[2]["width"], got[2]["height"], got[2]["n_channels"]) == (9, 3, 1)
    assert (got[3]["width"], got[3]["height"], got[3]["n_channels"]) == (16, 1, 2)
    assert got[1]["n_bytes"] == len(_make_png(4, 4, 3))


def test_connected_components_chain_and_singletons(spark):
    from blspark.ext.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "id long"
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (99, 99)}


def test_components_star_chain_and_singletons(spark):
    """Edges given in both directions, repeated and as self-loops
    label the same components as the plain chain: the edge list is an
    undirected graph, and a self-loop joins nothing."""
    from blspark.ext.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 2), (4, 3), (3, 4), (10, 11), (11, 10), (99, 99)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 10, 11, 99]], "id long"
    )
    got = {
        (r["node"], r["component"])
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (99, 99)}


def test_components_star_long_chain_logn_rounds(spark, monkeypatch):
    """A 256-node chain (diameter 255 — label propagation would need
    255 rounds) reaches its fixpoint within ceil(log2(n)) + 2 star
    rounds: every round but the last, which only confirms the edge
    set is stable, changes it."""
    import math

    from blspark.ext import dedup

    calls = []
    star_round = dedup._star_round

    def counted(e, large, dedup=True):
        calls.append(large)
        return star_round(e, large, dedup)

    monkeypatch.setattr(dedup, "_star_round", counted)
    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    ).repartition(8)
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    out = dedup.connected_components(edges, nodes)
    comps = {r["component"] for r in out.collect()}
    assert comps == {0}  # every node labeled with the chain minimum
    rounds = len(calls) // 2  # one large-star + one small-star each
    assert calls == [True, False] * rounds
    assert rounds - 1 <= int(math.ceil(math.log2(n))) + 2, rounds


def _union_find_components(edges, nodes):
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            parent[v] = parent[parent[v]]
            v = parent[v]
        return v

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {(v, find(v)) for v in nodes}


def test_components_match_union_find_on_random_graphs(spark):
    """Star contraction labels every node of an arbitrary (seeded)
    random graph with the minimum id of its union-find component,
    components and singletons alike, over several seeds and densities;
    string ids are the entity-resolution case (names, ordered as
    strings)."""
    import itertools
    import random

    from blspark.ext.dedup import connected_components

    n = 120
    cases = ((42, 90), (7, 40), (2024, 150))
    for (seed, n_edges), ids in itertools.product(cases, ("long", "string")):
        rng = random.Random(seed)
        if ids == "long":
            names = rng.sample(range(10**12), n)
        else:
            names = [
                "".join(rng.choice("abc ") for _ in range(rng.randint(1, 6)))
                + str(i)
                for i in range(n)
            ]
        edges = [(rng.choice(names), rng.choice(names)) for _ in range(n_edges)]
        edf = spark.createDataFrame(edges, f"id_a {ids}, id_b {ids}")
        ndf = spark.createDataFrame([(v,) for v in names], f"id {ids}")
        got = {
            (r["node"], r["component"])
            for r in connected_components(edf, ndf).collect()
        }
        assert got == _union_find_components(edges, names), (seed, ids)


def test_resize_byte_contract_and_partition_invariance(spark):
    """Resized blobs are exactly width*height*channels bytes, follow the
    tile-or-truncate rule, and are identical under different input
    partitionings (the mapInPandas batch boundaries must not leak into
    results)."""
    from blspark.ext.multimodal import fake_decode, resize_images, resize_stub

    rows = [(1, "a" * 10), (2, "xyz"), (3, "long document " * 300)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    media = attach_binary(docs, "text", modality="image")
    out = {r["id"]: r for r in resize_images(media, 4, 5).collect()}
    assert set(out) == {1, 2, 3}
    for doc_id, text in rows:
        r = out[doc_id]
        src = text.encode()
        _, _, c = fake_decode(src, "image")
        assert r["n_channels"] == c
        assert r["n_bytes"] == 4 * 5 * c
        assert len(r["content"]) == r["n_bytes"]
        assert bytes(r["content"]) == resize_stub(src, 4 * 5 * c)

    repart = {
        r["id"]: bytes(r["content"])
        for r in resize_images(media.repartition(7), 4, 5).collect()
    }
    assert repart == {i: bytes(out[i]["content"]) for i in out}


def test_multimodal_arrow_path_matches_pandas_path(spark):
    """mapInArrow decode (zero-copy batches) produces exactly the
    mapInPandas result."""
    from blspark.catalog import load_table
    from blspark.ext.multimodal import (
        attach_binary,
        decode_features_arrow,
        decode_features_checked,
    )
    from tests.conftest import SF_SMOKE

    media = attach_binary(
        load_table(spark, SF_SMOKE, "documents").limit(100), "text"
    )
    a = sorted(map(tuple, decode_features_arrow(media).collect()))
    b = sorted(map(tuple, decode_features_checked(media).collect()))
    assert len(a) == 100 and a == b


def test_hybrid_decode_corrupt_media_degrades_not_raises():
    """Corrupt-but-magic-bearing media (truncated PNG -> struct.error,
    bad IDAT -> zlib.error, garbage RIFF -> wave's RuntimeError) must
    degrade to deterministic fake dims, never kill the job."""
    import struct

    from blspark.ext.multimodal import fake_decode, hybrid_decode

    trunc_png = b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR\x00\x00"
    bad_idat = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 2, 2, 8, 0, 0, 0, 0) + b"crcc"
        + struct.pack(">I", 4) + b"IDATjunkcrcc"
    )
    bad_riff = b"RIFF\x10\x00\x00\x00WAVEgarbagechunks!!"
    assert hybrid_decode(trunc_png, "image") == fake_decode(trunc_png, "image")
    assert hybrid_decode(bad_idat, "image") == fake_decode(bad_idat, "image")
    assert hybrid_decode(bad_riff, "audio") == fake_decode(bad_riff, "audio")


def test_hybrid_decode_decompression_bomb_degrades(monkeypatch):
    """A bomb-dimensioned PNG (hostile IHDR claiming ~10^10 pixels over
    a tiny IDAT) must degrade to fake dims BEFORE any pixel inflation
    (ADVICE r8): the stdlib path refuses it at PIL's 2x
    MAX_IMAGE_PIXELS envelope, and PIL's own DecompressionBombError
    (a bare-Exception subclass, not OSError) is in the fallback set
    wherever pillow is installed."""
    import struct
    import zlib

    from blspark.ext import multimodal as mm
    from blspark.ext.multimodal import fake_decode, hybrid_decode

    # a real (tiny) IDAT so only the bomb guard can reject it
    idat = zlib.compress(b"\x00\x01")
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 100_000, 100_000, 8, 0, 0, 0, 0) + b"crcc"
        + struct.pack(">I", len(idat)) + b"IDAT" + idat + b"crcc"
    )
    assert hybrid_decode(bomb, "image") == fake_decode(bomb, "image")

    # whatever decoder raises PIL's DecompressionBombError (or the
    # stdlib ValueError guard) must be caught by the fallback set
    try:
        from PIL.Image import DecompressionBombError as BombError
    except ImportError:
        BombError = None
    if BombError is not None:
        assert BombError in mm.DECODE_FALLBACK_ERRORS

        def boom(content, modality):
            raise BombError("Image size exceeds limit")

        monkeypatch.setattr(mm, "library_decode", boom)
        assert mm.hybrid_decode(bomb, "image") == fake_decode(bomb, "image")


def test_hybrid_decode_flagged_and_bug_propagation():
    """The flagged variant reports fell_back truthfully (real PNG ->
    False + real dims; corrupt PNG -> True + fake dims), and a genuine
    BUG-class error (TypeError from non-bytes content) propagates
    instead of silently degrading (ADVICE r7: narrow except)."""
    import pytest

    from blspark.ext.multimodal import (
        fake_decode,
        hybrid_decode,
        hybrid_decode_flagged,
    )

    good = _make_png(4, 4, 3)
    assert hybrid_decode_flagged(good, "image") == (4, 4, 3, False)
    corrupt = b"\x89PNG\r\n\x1a\nnot-really-a-png"
    w, h, c = fake_decode(corrupt, "image")
    assert hybrid_decode_flagged(corrupt, "image") == (w, h, c, True)
    with pytest.raises(TypeError):
        hybrid_decode(None, "image")  # bug-class error must NOT degrade
    with pytest.raises(TypeError):
        hybrid_decode_flagged(None, "image")


def test_decode_features_observed_fallback_rate(spark):
    """decode_features_observed emits a decode_fallback flag per row:
    real PNG/WAV rows False, undecodable text rows True — the corpus
    fake-dimension rate is one avg() away."""
    from blspark.ext.multimodal import decode_features_observed

    rows = [
        (1, bytearray(_make_png(4, 4, 3)), "image"),
        (2, bytearray(b"not an image at all"), "image"),
        (3, bytearray(_make_wav(8, 1)), "audio"),
        (4, bytearray(b"junk audio bytes"), "audio"),
    ]
    media = spark.createDataFrame(
        rows, "id long, content binary, modality string"
    )
    got = {r["id"]: r for r in decode_features_observed(media).collect()}
    assert got[1]["decode_fallback"] is False
    assert got[1]["width"] == 4 and got[1]["height"] == 4
    assert got[2]["decode_fallback"] is True
    assert got[3]["decode_fallback"] is False
    assert got[3]["width"] == 8 and got[3]["n_channels"] == 1
    assert got[4]["decode_fallback"] is True


def test_png_small_dims_huge_idat_bomb_degrades():
    """The bomb guard must bound the INFLATE, not just the declared
    dimensions: a 1x1 header over an IDAT that decompresses to far
    more than 1 pixel's worth of data must degrade to fake dims with
    at most declared-size+1 bytes materialized — never inflate the
    whole stream first."""
    import struct
    import zlib

    from blspark.ext.multimodal import fake_decode, hybrid_decode

    # declares 1x1 grayscale (stride 1, expected 2 bytes) but the IDAT
    # inflates to ~10 MB of zeros
    idat = zlib.compress(b"\x00" * 10_000_000)
    bomb = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0) + b"crcc"
        + struct.pack(">I", len(idat)) + b"IDAT" + idat + b"crcc"
    )
    assert hybrid_decode(bomb, "image") == fake_decode(bomb, "image")


def test_png_truncated_adler_trailer_degrades():
    """A PNG whose IDAT deflate payload is complete but whose adler32
    trailer is cut off must still degrade to fake dims: the capped
    decompressobj path returns the payload without complaint, so
    stream completeness (d.eof) is asserted explicitly."""
    import struct
    import zlib

    from blspark.ext.multimodal import fake_decode, hybrid_decode

    full = zlib.compress(b"\x00\x01")  # 1x1 gray: filter byte + pixel
    trunc = full[:-4]  # strip the adler32 trailer
    png = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0) + b"crcc"
        + struct.pack(">I", len(trunc)) + b"IDAT" + trunc + b"crcc"
    )
    assert hybrid_decode(png, "image") == fake_decode(png, "image")
    intact = (
        b"\x89PNG\r\n\x1a\n"
        + struct.pack(">I", 13) + b"IHDR"
        + struct.pack(">IIBBBBB", 1, 1, 8, 0, 0, 0, 0) + b"crcc"
        + struct.pack(">I", len(full)) + b"IDAT" + full + b"crcc"
    )
    assert hybrid_decode(intact, "image") == (1, 1, 1)  # real decode
