"""Codec byte-fuzzer (VERDICT r09 item #7): mutated BMP / PGM / WAV /
QOI containers must either parse IDENTICALLY in an independent referee
decoder or RAISE in both — a payload that one side decodes and the other
rejects (or that decodes to different pixels/samples) is a silent
mis-parse, the bug class header fuzzing exists to catch.

Referee decoders below are written fresh against the public specs
(BMP: BITMAPFILEHEADER/INFOHEADER; PGM: P5 grammar; WAV: RIFF chunk
walk; QOI: qoiformat.org op stream) sharing no code with
operators/multimodal.py / operators/qoi.py — byte-slicing loops instead
of numpy frombuffer/reshape, so out-of-bounds behavior is independently
derived.  Two documented permissive points are mirrored deliberately
(they cannot shift the raster, so "identical parse" still holds):
trailing junk after the declared raster is ignored, and the single
separator byte after the PGM maxval may be any value.

Mutations per seed: a byte flip (header- or body-region), a truncation,
appended junk, a zeroed dim/length field, or a magic swap — plus
unmutated seeds pinning roundtrip identity.

A seed agrees iff both sides raise or both decode identically.

Run: python scripts/fuzz.py codec [n_seeds] [out.json]
"""

from __future__ import annotations

from nomad_event_streamer_spark.operators import multimodal as mm
from nomad_event_streamer_spark.operators import qoi as qoi_mod

SEQUENTIAL_SEED = 0xC0DEC


# ---------------------------------------------------------------------------
# Independent referee decoders (pure python, byte-slicing)
# ---------------------------------------------------------------------------


def ref_decode_bmp(p: bytes) -> list[list[tuple[int, int, int]]]:
    if p[:2] != b"BM":
        raise ValueError("magic")
    if len(p) < 14 + 16:
        raise ValueError("short header")
    offset = int.from_bytes(p[10:14], "little")
    bi_size = int.from_bytes(p[14:18], "little")
    w = int.from_bytes(p[18:22], "little", signed=True)
    h = int.from_bytes(p[22:26], "little", signed=True)
    bpp = int.from_bytes(p[28:30], "little")
    compression = int.from_bytes(p[30:34], "little")
    if bi_size < 40:
        raise ValueError("header size")
    if bpp != 24 or compression != 0:
        raise ValueError("format")
    if w < 0:
        raise ValueError("negative width")
    top_down = h < 0
    h = abs(h)
    pad = (4 - (w * 3) % 4) % 4
    row_bytes = w * 3 + pad
    if offset < 0 or offset + row_bytes * h > len(p):
        raise ValueError("raster out of bounds")
    rows = []
    for r in range(h):
        base = offset + r * row_bytes
        row = [
            (p[base + 3 * c], p[base + 3 * c + 1], p[base + 3 * c + 2])
            for c in range(w)
        ]
        rows.append(row)
    if not top_down:
        rows = rows[::-1]
    return rows


def ref_decode_pgm(p: bytes) -> list[list[int]]:
    if p[:2] != b"P5":
        raise ValueError("magic")
    pos, vals = 2, []
    while len(vals) < 3:
        while pos < len(p) and p[pos] in b" \t\r\n\x0b\x0c":
            pos += 1
        if pos < len(p) and p[pos] == 0x23:  # '#'
            while pos < len(p) and p[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < len(p) and 0x30 <= p[pos] <= 0x39:
            pos += 1
        if start == pos:
            raise ValueError("header token")
        vals.append(int(p[start:pos]))
    w, h, maxval = vals
    if maxval > 255:
        raise ValueError("wide samples")
    pos += 1  # separator byte (any value — mirrored permissive point)
    if pos + w * h > len(p):
        raise ValueError("raster out of bounds")
    return [
        [p[pos + r * w + c] for c in range(w)] for r in range(h)
    ]


def ref_decode_wav(p: bytes) -> tuple[list[int], int]:
    if p[:4] != b"RIFF" or p[8:12] != b"WAVE":
        raise ValueError("magic")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(p):
        cid = p[pos : pos + 4]
        size = int.from_bytes(p[pos + 4 : pos + 8], "little")
        pos += 8
        if cid == b"fmt ":
            # Validate against the chunk's DECLARED size, not just the
            # payload length (ADVICE r10 #3): a size-mutated fmt chunk
            # must be rejected, not silently read past its boundary.
            if size < 16 or pos + 16 > len(p):
                raise ValueError("short fmt")
            fmt_tag = int.from_bytes(p[pos : pos + 2], "little")
            nch = int.from_bytes(p[pos + 2 : pos + 4], "little")
            rate = int.from_bytes(p[pos + 4 : pos + 8], "little")
            bits = int.from_bytes(p[pos + 14 : pos + 16], "little")
            if fmt_tag != 1 or nch != 1 or bits != 16:
                raise ValueError("format")
        elif cid == b"data":
            n = size // 2
            if pos + n * 2 > len(p):
                raise ValueError("data out of bounds")
            samples = [
                int.from_bytes(p[pos + 2 * i : pos + 2 * i + 2], "little", signed=True)
                for i in range(n)
            ]
        pos += size + (size & 1)
    if rate is None or samples is None:
        raise ValueError("missing chunk")
    return samples, rate


def ref_decode_qoi(p: bytes) -> list[tuple[int, int, int]]:
    if p[:4] != b"qoif":
        raise ValueError("magic")
    if len(p) < 14:
        raise ValueError("short header")
    w = int.from_bytes(p[4:8], "big")
    h = int.from_bytes(p[8:12], "big")
    channels = p[12]
    if channels not in (3, 4):
        raise ValueError("channels")
    n = w * h
    out: list[tuple[int, int, int]] = []
    index = [(0, 0, 0, 0)] * 64
    prev = (0, 0, 0, 255)
    pos = 14

    def need(k: int) -> None:
        if pos + k > len(p):
            raise ValueError("truncated stream")

    while len(out) < n:
        need(1)
        b0 = p[pos]
        pos += 1
        if b0 == 0xFE:  # RGB
            need(3)
            px = (p[pos], p[pos + 1], p[pos + 2], prev[3])
            pos += 3
        elif b0 == 0xFF:  # RGBA
            need(4)
            px = (p[pos], p[pos + 1], p[pos + 2], p[pos + 3])
            pos += 4
        elif b0 >> 6 == 0:  # INDEX
            px = index[b0 & 0x3F]
        elif b0 >> 6 == 1:  # DIFF
            px = (
                (prev[0] + ((b0 >> 4) & 3) - 2) % 256,
                (prev[1] + ((b0 >> 2) & 3) - 2) % 256,
                (prev[2] + (b0 & 3) - 2) % 256,
                prev[3],
            )
        elif b0 >> 6 == 2:  # LUMA
            need(1)
            dg = (b0 & 0x3F) - 32
            b1 = p[pos]
            pos += 1
            px = (
                (prev[0] + dg + ((b1 >> 4) & 0x0F) - 8) % 256,
                (prev[1] + dg) % 256,
                (prev[2] + dg + (b1 & 0x0F) - 8) % 256,
                prev[3],
            )
        else:  # RUN
            run = (b0 & 0x3F) + 1
            if len(out) + run > n:
                raise ValueError("run overflow")
            out.extend([prev[:3]] * run)
            continue
        idx = (px[0] * 3 + px[1] * 5 + px[2] * 7 + px[3] * 11) % 64
        index[idx] = px
        out.append(px[:3])
        prev = px
    if p[pos : pos + 8] != b"\x00\x00\x00\x00\x00\x00\x00\x01":
        raise ValueError("end marker")
    return out


# ---------------------------------------------------------------------------
# Repo-side adapters returning comparable plain-python structures
# ---------------------------------------------------------------------------


def repo_bmp(p: bytes):
    a = mm.decode_bmp(p)
    return [[tuple(int(v) for v in px) for px in row] for row in a]


def repo_pgm(p: bytes):
    return [[int(v) for v in row] for row in mm.decode_pgm(p)]


def repo_wav(p: bytes):
    s, r = mm.decode_wav(p)
    return [int(v) for v in s], int(r)


def repo_qoi(p: bytes):
    a = qoi_mod.decode_qoi(p)
    return [tuple(int(v) for v in px) for px in a.reshape(-1, 3)]


# ---------------------------------------------------------------------------
# Payload builders + mutations
# ---------------------------------------------------------------------------


def build(fmt: str, rng: random.Random) -> bytes:
    doc_id = rng.randrange(500)
    if fmt == "bmp":
        w, h = 9 + doc_id % 8, 6 + doc_id % 5
        px = mm._pixel_stream(doc_id, w * h * 3).reshape(h, w, 3)
        return mm.encode_bmp(px)
    if fmt == "pgm":
        w, h = 9 + doc_id % 8, 6 + doc_id % 5
        px = mm._pixel_stream(doc_id, w * h).reshape(h, w)
        return mm.encode_pgm(px)
    if fmt == "wav":
        n = 64 + doc_id % 97
        return mm.encode_wav(mm._sample_stream(doc_id, n))
    w, h = 4 + doc_id % 5, 3 + doc_id % 4
    rgb = (
        mm._pixel_stream(doc_id, w * h * 3).reshape(h, w, 3)
    )
    payload, _ = qoi_mod.encode_qoi(rgb)
    return payload


HEADER_SPAN = {"bmp": 54, "pgm": 16, "wav": 44, "qoi": 14}


def mutate_once(p: bytes, fmt: str, rng: random.Random) -> tuple[bytes, str]:
    kind = rng.choice(
        ["none", "flip_header", "flip_body", "truncate", "append", "zero_field", "magic"]
    )
    b = bytearray(p)
    if kind == "none":
        return bytes(b), kind
    if kind == "flip_header":
        i = rng.randrange(min(HEADER_SPAN[fmt], len(b)))
        b[i] ^= 1 << rng.randrange(8)
    elif kind == "flip_body":
        lo = min(HEADER_SPAN[fmt], len(b) - 1)
        i = rng.randrange(lo, len(b))
        b[i] ^= 1 << rng.randrange(8)
    elif kind == "truncate":
        b = b[: rng.randrange(len(b))]
    elif kind == "append":
        b += bytes(rng.randrange(256) for _ in range(rng.randrange(1, 9)))
    elif kind == "zero_field":
        # a dim/length field byte: BMP w/h, PGM header token region,
        # WAV chunk sizes, QOI w/h
        spans = {
            "bmp": range(18, 26),
            "pgm": range(2, 12),
            "wav": list(range(4, 8)) + list(range(40, 44)),
            "qoi": range(4, 12),
        }[fmt]
        i = rng.choice(list(spans))
        if i < len(b):
            b[i] = 0
    else:  # magic
        b[rng.randrange(min(4, len(b)))] ^= 0xFF
    return bytes(b), kind


def mutate(p: bytes, fmt: str, rng: random.Random) -> tuple[bytes, str]:
    """1-3 stacked mutations (round-10 deepening): single-byte damage is
    often caught by one check; STACKED damage (e.g. a dim zeroed AND a
    truncation) probes whether a decoder's later checks still hold after
    an earlier field changed the expected layout."""
    depth = rng.choice([1, 1, 1, 2, 2, 3])
    kinds = []
    for _ in range(depth):
        if not p:
            break
        p, kind = mutate_once(p, fmt, rng)
        kinds.append(kind)
    return p, "+".join(kinds) if kinds else "none"


REPO = {"bmp": repo_bmp, "pgm": repo_pgm, "wav": repo_wav, "qoi": repo_qoi}
REF = {
    "bmp": ref_decode_bmp,
    "pgm": ref_decode_pgm,
    "wav": ref_decode_wav,
    "qoi": ref_decode_qoi,
}


def case(rng, seed):
    fmt = rng.choice(["bmp", "pgm", "wav", "qoi"])
    payload, kind = mutate(build(fmt, rng), fmt, rng)
    return {"fmt": fmt, "mutation": kind, "_payload": payload}


def _decode(decoder, payload):
    try:
        return ("ok", decoder(payload))
    except Exception:
        return ("raise", None)


def check(run, c):
    got = _decode(REPO[c["fmt"]], c["_payload"])
    want = _decode(REF[c["fmt"]], c["_payload"])
    assert got == want, f"repo={got[0]} ref={want[0]}"
    # an unmutated container must decode
    assert c["mutation"] != "none" or got[0] == "ok", "unmutated payload raised"
    return {"fmt": c["fmt"]}
