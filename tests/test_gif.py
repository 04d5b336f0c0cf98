"""GIF codec (operators/multimodal.py) — staged r12 for the r13 debut
query; real codec #3 through the image adapter seam."""

from __future__ import annotations

import pytest

from mapreduce_system_spark.operators.multimodal import (
    _gif_lzw_decode,
    _pack_lzw_codes,
    decode_image_gif,
    encode_image_gif,
    gif_interlace_order,
    _default_image_decoder,
)

_PAL4 = [(0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 0, 255)]
_LUMA4 = [(299 * r + 587 * g + 114 * b) // 1000 for r, g, b in _PAL4]


def _mean(pixels):
    flat = [p for row in pixels for p in row]
    return sum(_LUMA4[i] for i in flat) / len(flat)


def test_gif_roundtrip_known_mean():
    px = [[0, 1, 2, 3, 0], [1, 1, 2, 0, 3], [3, 2, 1, 0, 0]]
    blob = encode_image_gif(px, _PAL4)
    got = decode_image_gif(blob)
    assert got is not None
    w, h, mean, name = got
    assert (w, h, name) == (5, 3, "gif")
    assert mean == pytest.approx(_mean(px), abs=1e-12)


def test_gif_interlaced_roundtrip_same_mean_and_schedule():
    px = [[(r + c) % 4 for c in range(4)] for r in range(9)]
    plain = decode_image_gif(encode_image_gif(px, _PAL4))
    inter = decode_image_gif(encode_image_gif(px, _PAL4, interlace=True))
    assert plain is not None and inter is not None
    assert plain == inter  # a mean is row-order-free
    # the schedule itself: 4-pass order, a permutation of all rows
    order = gif_interlace_order(9)
    assert order == [0, 8, 4, 2, 6, 1, 3, 5, 7]
    assert sorted(order) == list(range(9))


def test_gif_animated_takes_poster_frame():
    px1 = [[1, 1], [1, 1]]
    px2 = [[0, 0], [0, 0]]
    b1 = encode_image_gif(px1, _PAL4)
    b2 = encode_image_gif(px2, _PAL4)
    # splice frame 2's image descriptor before frame 1's trailer
    animated = b1[:-1] + b2[13 + 3 * 4 :]
    got = decode_image_gif(animated)
    assert got is not None
    assert got[2] == pytest.approx(_LUMA4[1])  # frame 1's all-white mean


def test_gif_lzw_dictionary_growth_and_kwkwk():
    # hand-built variable-width stream, min_code=2: CLEAR 0 1 2 grows the
    # dict to 8 entries as code 2 is processed, so code 3 and everything
    # after (code 6 = the b'\x00\x01' entry added earlier, then EOI) are
    # already read at width 4 — the GIF "next assignable code needs more
    # bits" rule the fixed-width encoder never exercises
    bits = []
    for c, w in [(4, 3), (0, 3), (1, 3), (2, 3), (3, 4), (6, 4), (5, 4)]:
        bits += [(c >> i) & 1 for i in range(w)]
    acc = bytearray()
    for i in range(0, len(bits), 8):
        byte = 0
        for j, b in enumerate(bits[i : i + 8]):
            byte |= b << j
        acc.append(byte)
    out = _gif_lzw_decode(bytes(acc), 2, 100)
    assert out == bytes([0, 1, 2, 3, 0, 1])
    # KwKwK: CLEAR 0 6 EOI at width 3 -> entry 6 is prev+prev[0]
    data = _pack_lzw_codes([4, 0, 6, 5], 3)
    assert _gif_lzw_decode(data, 2, 100) == bytes([0, 0, 0])


def test_gif_rejects_out_of_scope_blobs():
    px = [[0, 1], [2, 3]]
    good = encode_image_gif(px, _PAL4)
    assert decode_image_gif(b"") is None
    assert decode_image_gif(b"GIF89a") is None
    assert decode_image_gif(good[:-4]) is None          # truncated
    assert decode_image_gif(b"PNG" + good) is None      # wrong signature
    assert decode_image_gif(good.replace(b"GIF89a", b"GIF90a")) is None
    # declared-dimensions bomb: 65535x65535 header, no pixel data read
    bomb = bytearray(good)
    bomb[6:10] = b"\xff\xff\xff\xff"
    assert decode_image_gif(bytes(bomb)) is None
    # partial-screen frame (left/top offset) is out of scope, not wrong
    part = bytearray(good)
    di = part.index(0x2C, 13)
    part[di + 1] = 1  # left = 1
    assert decode_image_gif(bytes(part)) is None
    # encoder guards its blob-source role: an out-of-palette index would
    # silently encode black (zero-padded GCT slot) or an undecodable
    # stream — it must fail at encode time (r12 self-review finding)
    with pytest.raises(ValueError, match="outside the palette"):
        encode_image_gif([[3, 3], [3, 3]], _PAL4[:3])
    with pytest.raises(ValueError, match="outside the palette"):
        encode_image_gif([[7]], _PAL4)


def test_gif_through_seam_and_default_chain(spark):
    from mapreduce_system_spark.operators.multimodal import extract_image_features

    px = [[0, 1], [2, 3]]
    gif = encode_image_gif(px, _PAL4)
    df = spark.createDataFrame(
        [(1, bytearray(gif)), (2, bytearray(b"not an image"))],
        "id long, blob binary",
    )
    rows = {r.id: r for r in extract_image_features(df).collect()}
    assert rows[1].decoder == "gif"
    assert (rows[1].width, rows[1].height) == (2, 2)
    assert rows[1].mean_value == pytest.approx(_mean(px))
    assert rows[2].decoder == "fake"
    # chain order: PNG/JPEG signatures never reach the GIF branch
    assert _default_image_decoder(gif)[3] == "gif"


# ---------------------------------------------------------------------------
# properties (r12): the self-review differential-tested the LZW decoder
# offline; these make that evidence durable — random images round-trip
# bit-derived-exactly, and arbitrary/mutated bytes can never crash the
# per-blob contract (None or a tuple, exceptions never escape into the
# Spark stage)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_PAL8 = [
    (0, 0, 0), (255, 255, 255), (255, 0, 0), (0, 255, 0),
    (0, 0, 255), (128, 64, 32), (10, 200, 90), (77, 77, 77),
]


@given(
    w=st.integers(1, 12),
    h=st.integers(1, 12),
    n_colors=st.integers(2, 8),
    interlace=st.booleans(),
    data=st.data(),
)
@settings(max_examples=25, deadline=None)
def test_gif_roundtrip_any_shape_any_palette(w, h, n_colors, interlace, data):
    pal = _PAL8[:n_colors]
    px = [
        [data.draw(st.integers(0, n_colors - 1)) for _ in range(w)]
        for _ in range(h)
    ]
    got = decode_image_gif(encode_image_gif(px, pal, interlace=interlace))
    assert got is not None
    gw, gh, mean, name = got
    assert (gw, gh, name) == (w, h, "gif")
    luma = [(299 * r + 587 * g + 114 * b) // 1000 for r, g, b in pal]
    want = sum(luma[i] for row in px for i in row) / (w * h)
    assert mean == pytest.approx(want, abs=1e-12)


@given(blob=st.binary(max_size=200))
@settings(max_examples=50, deadline=None)
def test_gif_decoder_never_raises_on_arbitrary_bytes(blob):
    out = decode_image_gif(blob)
    assert out is None or (isinstance(out, tuple) and len(out) == 4)
    # GIF-prefixed garbage exercises the container walk, not just the
    # signature check
    out2 = decode_image_gif(b"GIF89a" + blob)
    assert out2 is None or (isinstance(out2, tuple) and len(out2) == 4)


@given(pos=st.integers(0, 10_000), val=st.integers(0, 255))
@settings(max_examples=50, deadline=None)
def test_gif_decoder_never_raises_on_mutated_valid_blob(pos, val):
    px = [[(r * 5 + c) % 4 for c in range(6)] for r in range(5)]
    blob = bytearray(encode_image_gif(px, _PAL4))
    blob[pos % len(blob)] = val
    out = decode_image_gif(bytes(blob))
    assert out is None or (isinstance(out, tuple) and len(out) == 4)


def _lzw_encode_growing(data: bytes, min_code: int) -> bytes:
    """A REAL greedy GIF-LZW compressor (growing dictionary, deferred
    width bump, 4096-entry cap with NO clear — the conformant encoder
    the module's CLEAR-per-pixel fixture encoder deliberately is not).
    Exists to drive the decoder through the full-table regime the
    4096 cap governs (ADVICE r12)."""
    clear, eoi = 1 << min_code, (1 << min_code) + 1
    d = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    size = min_code + 1
    out: list[tuple[int, int]] = [(clear, size)]

    def emit(code: int) -> None:
        out.append((code, size))

    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in d:
            w = wc
            continue
        emit(d[w])
        if next_code < 4096:
            d[wc] = next_code
            # deferred bump: the decoder is one entry behind the
            # encoder, so width grows when the JUST-ASSIGNED code hits
            # the width boundary, not the next assignable one
            if next_code == (1 << size) and size < 12:
                size += 1
            next_code += 1
        w = bytes([ch])
    if w:
        emit(d[w])
    emit(eoi)
    acc = 0
    nbits = 0
    buf = bytearray()
    for code, width in out:
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            buf.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        buf.append(acc & 0xFF)
    return bytes(buf)


@pytest.mark.parametrize("min_code", [2, 8])
def test_gif_lzw_full_table_differential(min_code):
    """Compress enough low-entropy data to FILL the 4096-entry table and
    keep going: decode must stay byte-exact through the table-full
    regime (both sides stop adding at 4096 — the decoder's cap is the
    ADVICE r12 fix; an uncapped decoder desyncs nothing but grows
    without bound, a capped-at-the-wrong-point one desyncs here)."""
    import random

    rng = random.Random(20260816 + min_code)
    n_sym = 1 << min_code
    data = bytes(rng.randrange(n_sym) for _ in range(40000))
    stream = _lzw_encode_growing(data, min_code)
    got = _gif_lzw_decode(stream, min_code, len(data) + 10)
    assert got == data


def test_gif_planes_decoder_roundtrips_indices_and_interlace(spark):
    """decode_image_gif_planes returns the EXACT encoded index plane in
    storage order: plain frames row-major, interlaced frames in the
    four-pass schedule (applying gif_interlace_order recovers the
    source rows) — and pal_luma is the shared 601-2 integer luma of
    every palette slot."""
    from mapreduce_system_spark.operators.multimodal import (
        decode_image_gif_planes,
    )

    pixels = [[(x + y) % 4 for x in range(5)] for y in range(6)]
    rows = [
        (0, encode_image_gif(pixels, _PAL4, interlace=False)),
        (1, encode_image_gif(pixels, _PAL4, interlace=True)),
    ]
    df = spark.createDataFrame(rows, "id long, blob binary")
    got = {r.id: r for r in decode_image_gif_planes(df).collect()}
    assert set(got) == {0, 1}
    for r in got.values():
        assert (r.width, r.height) == (5, 6)
        assert list(r.pal_luma) == _LUMA4
    flat = [p for row in pixels for p in row]
    assert list(got[0].idx) == flat
    # interlaced storage order: rows permuted by the four-pass schedule
    order = gif_interlace_order(6)
    stored = [p for ri in order for p in pixels[ri]]
    assert list(got[1].idx) == stored
    recovered = [None] * 6
    for slot, ri in enumerate(order):
        recovered[ri] = list(got[1].idx)[slot * 5 : (slot + 1) * 5]
    assert recovered == pixels


def test_gif_stats_query_matches_path_substituted_oracle_off_fixture(spark, tmp_path):
    """The registered export-pattern query on a NON-fixture corpus (the
    gate's principled SF_BOUND exclusion, closed here): run
    ``q_image_gif_stats`` against a 20-doc corpus in a scratch dir, then
    run its own registered oracle with the export path substituted for
    the scratch-keyed one — full row comparison, the same strength as a
    driver gate row but off the fixture id range (exercises the id-
    parameterized palette/size/interlace sweep at different moduli)."""
    import duckdb

    from mapreduce_system_spark.queries.multimodal import (
        _GIF_STATS_SQL,
        _gif_path,
        q_image_gif_stats,
    )

    d = tmp_path / "gifcorpus"
    spark.createDataFrame(
        [(i,) for i in range(20)], "doc_id long"
    ).write.parquet(f"{d}/documents.parquet")
    got = sorted(map(tuple, q_image_gif_stats(spark, str(d)).collect()))
    assert len(got) == 20
    sql = _GIF_STATS_SQL.replace(_gif_path("sf0.01"), _gif_path(d.name))
    want = sorted(tuple(r) for r in duckdb.connect().execute(sql).fetchall())
    assert got == want


def test_gif_palette_edge_and_interlace_degenerate_sweep():
    """Palette-edge/interlace adversarial sweep (VERDICT r13 #8), 40
    deterministic cases: palette sizes at every LZW code-width boundary
    (2,3,4,5,8,9,...,255,256 — min-code bumps and GCT zero-padding
    edges, including the 8-bit maximum) crossed with heights that
    DEGENERATE the four-pass interlace schedule (h<8 leaves whole
    passes empty; h=1 reduces it to pass 1's single row). Each case checks
    (a) the public decode seam's mean byte-exactly and (b) the EXACT
    stored index plane against gif_interlace_order — the storage-order
    contract mm_image_gif_stats relies on."""
    from mapreduce_system_spark.operators.multimodal import (
        _gif_parse_first_frame,
        gif_interlace_order,
    )

    n_colors_edges = [2, 3, 4, 5, 8, 9, 16, 17, 32, 33, 64, 65, 128, 129, 255, 256]
    heights = [1, 2, 3, 4, 5, 7, 8, 9, 16, 17]
    cases = [
        (n_colors_edges[i % len(n_colors_edges)],
         heights[(i * 7) % len(heights)],
         3 + (i % 5),
         i % 2 == 0)
        for i in range(40)
    ]
    assert len(cases) == 40
    for case_no, (n_colors, h, w, interlace) in enumerate(cases):
        pal = [
            ((37 * j + case_no) % 256, (11 * j + 3) % 256, (59 * j + 7) % 256)
            for j in range(n_colors)
        ]
        px = [[(x + 2 * y + case_no) % n_colors for x in range(w)] for y in range(h)]
        blob = encode_image_gif(px, pal, interlace=interlace)
        got = decode_image_gif(blob)
        assert got is not None, (case_no, n_colors, h, w, interlace)
        gw, gh, mean, name = got
        assert (gw, gh, name) == (w, h, "gif"), (case_no, n_colors, h, w)
        luma = [(299 * r + 587 * g + 114 * b) // 1000 for r, g, b in pal]
        want_mean = sum(luma[i] for row in px for i in row) / (w * h)
        assert mean == pytest.approx(want_mean, abs=1e-12), (case_no,)
        # exact stored plane: interlaced rows in four-pass order
        parsed = _gif_parse_first_frame(blob)
        assert parsed is not None
        _, _, _, idx = parsed
        order = gif_interlace_order(h) if interlace else list(range(h))
        want_plane = [i for r in order for i in px[r]]
        assert list(idx[: w * h]) == want_plane, (case_no, n_colors, h, w, interlace)
