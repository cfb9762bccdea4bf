"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio assets travel as opaque `binary` columns (or `media_ref`
pointers) with typed metadata structs. Decode / feature extraction run
as Arrow-batched UDFs over ``mapInPandas`` — the Spark-side plumbing
(schema, batch shape, partitioning) is real and tested.

Container/header decode is REAL and dependency-free:
``decode_image_header`` struct-parses PNG / JPEG / GIF / BMP headers
(format, width, height) from the payload bytes. PIXEL decode is REAL
too, through ONE ladder, ``decode_pixels``: binary Netpbm (P5/P6),
8-bit PNG (chunk walk, stdlib-zlib inflate, all five scanline filters),
GIF (variable-width LZW, palette resolution, deinterlacing),
uncompressed 24/32-bit BMP, and baseline JPEG (``kernel.jpeg``: huffman
entropy decode, dequant, exact float IDCT, chroma upsampling, BT.601 —
progressive/arithmetic return unsupported) all decode to one raster
form, which ``channel_means`` and ``luma`` (the perceptual-hash feed)
reduce. Only LEARNED feature extraction remains stubbed (it genuinely
needs a model): ``extract_image_features`` produces deterministic fake
features (seeded by the payload digest) so pipelines are testable
end-to-end.

At scale: media rows are orders of magnitude larger than text rows —
keep them in their own table partitioned by (modality, bucket), size
``spark.sql.files.maxPartitionBytes`` down (e.g. 32m) so a scan split
of binaries fits the Python worker, and never shuffle raw payloads
(extract features first, shuffle features).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IMAGE_FEATURES_DDL = (
    "media_ref string, n_bytes bigint, sha256 string, "
    "fmt string, width int, height int, "
    "feat array<float>, status string, error string"
)

_FEAT_DIM = 8


def decode_image_header(data: bytes):
    """(fmt, width, height) from raw image bytes, or None.

    Pure-Python struct parsing of the container headers — no image
    library needed, so it runs in any executor Python:
      * PNG: 8-byte signature, IHDR width/height as big-endian u32
      * JPEG: marker walk to the first SOF0-SOF15 frame header
      * GIF: logical screen descriptor, little-endian u16
      * BMP: BITMAPINFOHEADER, little-endian i32
    """
    if len(data) >= 24 and data[:8] == b"\x89PNG\r\n\x1a\n":
        w = int.from_bytes(data[16:20], "big")
        h = int.from_bytes(data[20:24], "big")
        return ("png", w, h)
    if len(data) >= 4 and data[:2] == b"\xff\xd8":
        i = 2
        n = len(data)
        while i + 9 < n:
            if data[i] != 0xFF:
                i += 1
                continue
            marker = data[i + 1]
            if marker == 0xFF:
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = int.from_bytes(data[i + 2 : i + 4], "big")
            # SOF0..SOF15 except DHT(C4)/JPG(C8)/DAC(CC)
            if 0xC0 <= marker <= 0xCF and marker not in (0xC4, 0xC8, 0xCC):
                h = int.from_bytes(data[i + 5 : i + 7], "big")
                w = int.from_bytes(data[i + 7 : i + 9], "big")
                return ("jpeg", w, h)
            if seg_len < 2:
                return None
            i += 2 + seg_len
        return None
    if len(data) >= 10 and data[:6] in (b"GIF87a", b"GIF89a"):
        w = int.from_bytes(data[6:8], "little")
        h = int.from_bytes(data[8:10], "little")
        return ("gif", w, h)
    if len(data) >= 26 and data[:2] == b"BM":
        w = int.from_bytes(data[18:22], "little", signed=True)
        h = int.from_bytes(data[22:26], "little", signed=True)
        return ("bmp", w, abs(h))
    return None


AUDIO_FEATURES_DDL = (
    "media_ref string, n_bytes bigint, sha256 string, fmt string, "
    "channels int, sample_rate int, duration_ms int, status string, "
    "error string"
)


def decode_audio_header(data: bytes):
    """(fmt, channels, sample_rate, duration_ms) from raw audio bytes,
    or None. Pure-Python RIFF/WAVE chunk walk — `fmt ` gives channel
    count / sample rate / byte rate, `data` gives payload size;
    duration_ms = data_size * 1000 // byte_rate (floor: deterministic).
    """
    if len(data) < 44 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        return None
    channels = sample_rate = byte_rate = data_size = None
    i = 12
    n = len(data)
    while i + 8 <= n:
        cid = data[i : i + 4]
        size = int.from_bytes(data[i + 4 : i + 8], "little")
        if cid == b"fmt " and i + 24 <= n:
            channels = int.from_bytes(data[i + 10 : i + 12], "little")
            sample_rate = int.from_bytes(data[i + 12 : i + 16], "little")
            byte_rate = int.from_bytes(data[i + 16 : i + 20], "little")
        elif cid == b"data":
            data_size = size
        i += 8 + size + (size & 1)  # chunks are word-aligned
    if not byte_rate or channels is None or data_size is None:
        return None
    return ("wav", channels, sample_rate, data_size * 1000 // byte_rate)


def extract_audio_features(df: DataFrame) -> DataFrame:
    """binary audio payloads -> container metadata via mapInPandas.

    Real WAV/RIFF header decode (no audio library needed); non-RIFF
    payloads get status='unsupported' rows, never task failures.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_ref": [], "n_bytes": [], "sha256": [], "fmt": [],
                "channels": [], "sample_rate": [], "duration_ms": [],
                "status": [], "error": [],
            }
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                out["media_ref"].append(ref)
                if payload is None:
                    out["n_bytes"].append(0)
                    out["sha256"].append(None)
                    out["fmt"].append(None)
                    out["channels"].append(None)
                    out["sample_rate"].append(None)
                    out["duration_ms"].append(None)
                    out["status"].append("error")
                    out["error"].append("null payload")
                    continue
                data = bytes(payload)
                out["n_bytes"].append(len(data))
                out["sha256"].append(hashlib.sha256(data).hexdigest())
                hdr = decode_audio_header(data)
                if hdr is None:
                    out["fmt"].append(None)
                    out["channels"].append(None)
                    out["sample_rate"].append(None)
                    out["duration_ms"].append(None)
                    out["status"].append("unsupported")
                    out["error"].append("not a RIFF/WAVE container")
                else:
                    out["fmt"].append(hdr[0])
                    out["channels"].append(hdr[1])
                    out["sample_rate"].append(hdr[2])
                    out["duration_ms"].append(hdr[3])
                    out["status"].append("ok")
                    out["error"].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=AUDIO_FEATURES_DDL)


def media_manifest(docs: "DataFrame") -> "DataFrame":
    """Manifest of media spans in an interleaved document: one row per
    media span with its offset, ref, and how many text spans precede it
    (the anchor a caption/alt-text joiner or a media fetcher needs).

    Pure array expressions — a map-only operator with no shuffle and no
    Python, so it runs at scan speed on 10^12-row interleaved tables.
    """
    from pyspark.sql import functions as F

    spans = F.col("spans")
    media = F.filter(spans, lambda x: x["kind"] == F.lit("media"))
    entries = F.transform(
        media,
        lambda x: F.struct(
            x["offset"].alias("offset"),
            x["media_ref"].alias("media_ref"),
            F.size(
                F.filter(
                    spans,
                    lambda y: (y["kind"] == F.lit("text"))
                    & (y["offset"] < x["offset"]),
                )
            ).cast("int").alias("texts_before"),
        ),
    )
    return (
        docs.select(F.col("doc_id"), F.explode(entries).alias("m"))
        .select(
            "doc_id",
            F.col("m.offset").alias("offset"),
            F.col("m.media_ref").alias("media_ref"),
            F.col("m.texts_before").alias("texts_before"),
        )
    )


# -- pixel decode: one raster per container ---------------------------------------


def decode_pixels(data: bytes):
    """REAL pixel decode of every supported container into ONE raster
    form: (fmt, width, height, channels, samples) or None.

    ``samples`` holds row-major, top-down, interleaved 8-bit samples
    (len == width * height * channels). Supported: binary Netpbm
    (P5 gray / P6 RGB, 8-bit), PNG (8-bit gray/RGB/+alpha,
    non-interlaced), GIF (first frame, palette-resolved to RGB and
    deinterlaced), uncompressed 24/32-bit BMP (turned into RGB, the
    unused fourth byte dropped), and baseline JPEG
    (``kernel.jpeg.decode_jpeg``: IDCT output rounded and clipped).
    Anything else, including structural corruption, returns None:
    callers surface status='unsupported', never a task failure.
    Channel statistics (:func:`channel_means`) and perceptual hashes
    (:func:`luma`) both reduce this one raster.
    """
    if data[:2] in (b"P5", b"P6"):
        return _netpbm_raster(data)
    if data[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_raster(data)
    if data[:6] in (b"GIF87a", b"GIF89a"):
        return _gif_raster(data)
    if data[:2] == b"BM":
        return _bmp_raster(data)
    if data[:2] == b"\xff\xd8":
        from ..kernel.jpeg import decode_jpeg

        return decode_jpeg(data)
    return None


def channel_means(w: int, h: int, channels: int, samples) -> list:
    """Per-COLOR-channel means of a :func:`decode_pixels` raster: one
    for gray (+alpha), three for RGB (+alpha); alpha never contributes.
    Exact integer sums divided by w*h, so the result does not depend on
    pixel order or summation order."""
    n = w * h
    return [sum(samples[c::channels]) / n
            for c in range(3 if channels >= 3 else 1)]


def luma(channels: int, samples):
    """Row-major gray raster of a :func:`decode_pixels` raster: the gray
    channel as is, or integer BT.601 luma (299r+587g+114b)//1000 of the
    RGB channels — deterministic across platforms, and one formula for
    every container, so one image stored twice hashes alike."""
    if channels < 3:
        return samples[0::channels]
    return [
        (299 * r + 587 * g + 114 * b) // 1000
        for r, g, b in zip(samples[0::channels], samples[1::channels],
                           samples[2::channels])
    ]


def _netpbm_raster(data: bytes):
    """Binary Netpbm: header tokens (width, height, maxval; '#'
    comments allowed), one whitespace byte, then raw samples. 16-bit
    samples (maxval > 255) are out of scope."""
    channels = 3 if data[:2] == b"P6" else 1
    i = 2
    fields = []
    n = len(data)
    while len(fields) < 3 and i < n:
        c = data[i : i + 1]
        if c.isspace():
            i += 1
        elif c == b"#":
            j = data.find(b"\n", i)
            i = n if j < 0 else j + 1
        else:
            j = i
            while j < n and not data[j : j + 1].isspace():
                j += 1
            tok = data[i:j]
            if not tok.isdigit():
                return None
            fields.append(int(tok))
            i = j
    if len(fields) < 3 or i >= n:
        return None
    i += 1  # single whitespace after maxval
    w, h, maxval = fields
    if maxval > 255 or w <= 0 or h <= 0:
        return None
    need = w * h * channels
    pixels = data[i : i + need]
    if len(pixels) < need:
        return None
    return ("ppm" if channels == 3 else "pgm", w, h, channels, pixels)


def _png_raster(data: bytes):
    """PNG, stdlib ``zlib`` only: 8-bit depth, color types 0 (gray),
    2 (RGB), 4 (gray+alpha), 6 (RGBA), non-interlaced. Walks the chunk
    stream, inflates the concatenated IDAT payload and reverses the
    five scanline filters (None/Sub/Up/Average/Paeth, RFC 2083 §6).
    Palette (3), 16-bit and interlaced images return None.

    At corpus scale the per-byte filter loops are the slow path — swap
    in a numpy scanline unfilter (Up/Average vectorize; Sub/Paeth are
    sequential in x but vectorize over rows) before pointing this at
    billions of images.
    """
    import zlib

    i, n = 8, len(data)
    w = h = bit_depth = color_type = interlace = None
    idat = bytearray()
    while i + 8 <= n:
        ln = int.from_bytes(data[i : i + 4], "big")
        ctype = data[i + 4 : i + 8]
        if i + 8 + ln > n:
            return None
        chunk = data[i + 8 : i + 8 + ln]
        if ctype == b"IHDR":
            if ln < 13:
                return None
            w = int.from_bytes(chunk[0:4], "big")
            h = int.from_bytes(chunk[4:8], "big")
            bit_depth, color_type = chunk[8], chunk[9]
            interlace = chunk[12]
        elif ctype == b"IDAT":
            idat += chunk
        elif ctype == b"IEND":
            break
        i += 12 + ln  # length + type + data + crc
    if not w or not h or bit_depth != 8 or interlace != 0:
        return None
    channels = {0: 1, 2: 3, 4: 2, 6: 4}.get(color_type)
    if channels is None or not idat:
        return None
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * channels
    if len(raw) != h * (stride + 1):
        return None
    out = bytearray()
    prev = bytearray(stride)
    pos = 0
    for _y in range(h):
        f = raw[pos]
        pos += 1
        line = bytearray(raw[pos : pos + stride])
        pos += stride
        if f == 1:  # Sub
            for x in range(channels, stride):
                line[x] = (line[x] + line[x - channels]) & 0xFF
        elif f == 2:  # Up
            for x in range(stride):
                line[x] = (line[x] + prev[x]) & 0xFF
        elif f == 3:  # Average
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                line[x] = (line[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            for x in range(stride):
                a = line[x - channels] if x >= channels else 0
                b = prev[x]
                c = prev[x - channels] if x >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[x] = (line[x] + pr) & 0xFF
        elif f != 0:
            return None
        out += line
        prev = line
    return ("png", w, h, channels, bytes(out))


def _gif_lzw(data: bytes, min_code: int, max_pixels: int):
    """GIF variable-width LZW decode (LSB-first bit packing) -> color
    indices, or None on corruption. Bounded by max_pixels."""
    clear = 1 << min_code
    eoi = clear + 1
    out = bytearray()
    acc = nbits = pos = 0
    n = len(data)
    table = None
    code_size = 0
    prev = None

    def reset():
        nonlocal table, code_size, prev
        table = [bytes([i]) for i in range(clear)] + [b"", b""]
        code_size = min_code + 1
        prev = None

    reset()
    while True:
        while nbits < code_size and pos < n:
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        if nbits < code_size:
            break
        code = acc & ((1 << code_size) - 1)
        acc >>= code_size
        nbits -= code_size
        if code == clear:
            reset()
            continue
        if code == eoi:
            break
        if prev is None:
            if code >= clear:
                return None
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            return None
        out += entry
        if len(out) > max_pixels:
            return None
        if len(table) == (1 << code_size) and code_size < 12:
            code_size += 1
        prev = entry
    return out


# GIF interlace passes: (first row, row step) per the GIF89a spec
_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_raster(data: bytes):
    """GIF first image frame (variable-width LZW per the GIF89a spec),
    palette-resolved to RGB and deinterlaced. Local color tables
    override the global one; transparency is ignored (the transparent
    index still contributes its palette color — deterministic)."""
    if len(data) < 13:
        return None
    packed = data[10]
    i = 13
    gct = None
    if packed & 0x80:
        gct_len = 3 * (2 << (packed & 0x07))
        gct = data[i : i + gct_len]
        if len(gct) < gct_len:
            return None
        i += gct_len
    n = len(data)
    while i < n:
        b = data[i]
        if b == 0x3B:  # trailer
            return None
        if b == 0x21:  # extension: label + sub-blocks
            i += 2
            while i < n and data[i] != 0:
                i += 1 + data[i]
            i += 1
            continue
        if b != 0x2C:  # not an image descriptor
            return None
        if i + 10 > n:
            return None
        w = int.from_bytes(data[i + 5 : i + 7], "little")
        h = int.from_bytes(data[i + 7 : i + 9], "little")
        ipacked = data[i + 9]
        i += 10
        pal = gct
        if ipacked & 0x80:
            lct_len = 3 * (2 << (ipacked & 0x07))
            pal = data[i : i + lct_len]
            if len(pal) < lct_len:
                return None
            i += lct_len
        if pal is None or w <= 0 or h <= 0 or i >= n:
            return None
        min_code = data[i]
        i += 1
        if not 2 <= min_code <= 11:
            return None
        lzw = bytearray()
        while i < n and data[i] != 0:
            blen = data[i]
            lzw += data[i + 1 : i + 1 + blen]
            i += 1 + blen
        idx = _gif_lzw(bytes(lzw), min_code, w * h)
        if idx is None or len(idx) < w * h:
            return None
        idx = bytes(idx[: w * h])
        npal = len(pal) // 3
        if max(idx) >= npal:
            return None
        if ipacked & 0x40:  # interlaced: storage rows -> logical rows
            rows = [y for first, step in _GIF_INTERLACE_PASSES
                    for y in range(first, h, step)]
            out = bytearray(w * h)
            for k, y in enumerate(rows):
                out[y * w : (y + 1) * w] = idx[k * w : (k + 1) * w]
            idx = bytes(out)
        rgb = bytearray(w * h * 3)
        for c in range(3):
            rgb[c::3] = idx.translate(pal[c::3].ljust(256, b"\0"))
        return ("gif", w, h, 3, bytes(rgb))
    return None


def _bmp_raster(data: bytes):
    """Uncompressed 24/32-bit BMP with a BITMAPINFOHEADER (or larger).
    Rows are 4-byte aligned (24-bit) and stored bottom-up (negative
    height = top-down); samples come back top-down in RGB order.
    Palette/RLE/16-bit and the 12-byte OS/2 core header return None."""
    if len(data) < 54:
        return None
    pix_off = int.from_bytes(data[10:14], "little")
    dib = int.from_bytes(data[14:18], "little")
    if dib < 40:
        return None
    w = int.from_bytes(data[18:22], "little", signed=True)
    h = int.from_bytes(data[22:26], "little", signed=True)
    bpp = int.from_bytes(data[28:30], "little")
    comp = int.from_bytes(data[30:34], "little")
    if w <= 0 or h == 0 or comp != 0 or bpp not in (24, 32):
        return None
    nrows = abs(h)
    nbytes = bpp // 8
    stride = (w * nbytes + 3) & ~3 if bpp == 24 else w * 4
    if len(data) < pix_off + stride * nrows:
        return None
    rows = []
    for row in range(nrows):
        base = pix_off + row * stride
        line = data[base : base + w * nbytes]
        rgb = bytearray(w * 3)
        for c in range(3):  # stored B, G, R(, unused)
            rgb[c::3] = line[2 - c :: nbytes]
        rows.append(rgb)
    if h > 0:  # bottom-up storage -> top-down
        rows.reverse()
    return ("bmp", w, nrows, 3, b"".join(rows))


PIXEL_STATS_DDL = (
    "media_ref string, fmt string, width int, height int, channels int, "
    "mean_r double, mean_g double, mean_b double, status string, "
    "error string"
)


def extract_pixel_stats(
    df: DataFrame,
    payload_col: str = "payload",
    ref_col: str = "media_ref",
) -> DataFrame:
    """binary image payloads -> real per-channel statistics: one
    :func:`decode_pixels` raster per payload, reduced by
    :func:`channel_means`. Unsupported containers get
    status='unsupported' rows; the Arrow plumbing is shared with the
    other media operators.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_ref": [], "fmt": [], "width": [], "height": [],
                "channels": [], "mean_r": [], "mean_g": [], "mean_b": [],
                "status": [], "error": [],
            }

            def row(ref, fmt=None, w=None, h=None, ch=None, means=None,
                    status="ok", error=None):
                out["media_ref"].append(ref)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(ch)
                # one mean for gray, three for RGB: gray leaves g/b null
                m = (means or []) + [None, None, None]
                out["mean_r"].append(m[0])
                out["mean_g"].append(m[1])
                out["mean_b"].append(m[2])
                out["status"].append(status)
                out["error"].append(error)

            for ref, payload in zip(pdf[ref_col], pdf[payload_col]):
                if payload is None:
                    row(ref, status="error", error="null payload")
                    continue
                dec = decode_pixels(bytes(payload))
                if dec is None:
                    row(ref, status="unsupported",
                        error="not binary netpbm (P5/P6), 8-bit PNG, GIF, "
                              "24/32-bit BMP, or baseline JPEG")
                else:
                    fmt, w, h, ch, samples = dec
                    row(ref, fmt, w, h, ch, channel_means(w, h, ch, samples))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=PIXEL_STATS_DDL)


def _fake_decode(payload: bytes):
    """Deterministic stand-in for image decode + feature extraction.

    Features = first bytes of sha256(payload) scaled to [0,1) — stable
    across runs/machines, so tests can pin values.
    """
    digest = hashlib.sha256(payload).digest()
    return [b / 255.0 for b in digest[:_FEAT_DIM]]


def extract_image_features(df: DataFrame) -> DataFrame:
    """binary payloads -> fixed-dim feature vectors via mapInPandas.

    Real decoders replace `_fake_decode`; everything else (Arrow
    batching, schema, error-as-status rows) is production plumbing.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_ref": [], "n_bytes": [], "sha256": [],
                "fmt": [], "width": [], "height": [],
                "feat": [], "status": [], "error": [],
            }
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                out["media_ref"].append(ref)
                if payload is None:
                    out["n_bytes"].append(0)
                    out["sha256"].append(None)
                    out["fmt"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["feat"].append(None)
                    out["status"].append("error")
                    out["error"].append("null payload")
                    continue
                data = bytes(payload)
                out["n_bytes"].append(len(data))
                out["sha256"].append(hashlib.sha256(data).hexdigest())
                hdr = decode_image_header(data)
                out["fmt"].append(hdr[0] if hdr else None)
                out["width"].append(hdr[1] if hdr else None)
                out["height"].append(hdr[2] if hdr else None)
                out["feat"].append(_fake_decode(data))
                out["status"].append("ok")
                out["error"].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=IMAGE_FEATURES_DDL)


# -- perceptual image hashing (aHash / dHash) -------------------------------------


def _block_grid(w: int, h: int, gray, gw: int, gh: int):
    """gh x gw grid of block means over a row-major gray raster; blocks
    are floor-partitioned with guaranteed-nonempty ranges, so any
    image size (including < grid size) hashes deterministically."""
    grid = []
    for gy in range(gh):
        y0, y1 = gy * h // gh, max(gy * h // gh + 1, (gy + 1) * h // gh)
        row = []
        for gx in range(gw):
            x0, x1 = gx * w // gw, max(gx * w // gw + 1, (gx + 1) * w // gw)
            s = cnt = 0
            for y in range(y0, min(y1, h)):
                base = y * w
                for x in range(x0, min(x1, w)):
                    s += gray[base + x]
                    cnt += 1
            row.append(s / cnt if cnt else 0.0)
        grid.append(row)
    return grid


def _to_i64(bits: int) -> int:
    """64-bit hash -> SIGNED int64 (two's complement) — Spark BIGINT
    has no unsigned form; XOR/bit_count/band masking are bit-identical
    either way (the band mask strips arithmetic-shift sign bits)."""
    return bits - (1 << 64) if bits >= (1 << 63) else bits


def ahash64(w: int, h: int, gray) -> int:
    """Average hash: 8x8 block means, bit = 1 where block >= overall
    mean (row-major, MSB first). Solid images hash to all-ones."""
    grid = _block_grid(w, h, gray, 8, 8)
    mean = sum(sum(r) for r in grid) / 64.0
    bits = 0
    for gy in range(8):
        for gx in range(8):
            bits = (bits << 1) | (1 if grid[gy][gx] >= mean else 0)
    return _to_i64(bits)


def dhash64(w: int, h: int, gray) -> int:
    """Difference hash: 8x9 grid, bit = 1 where left block mean >
    right neighbor (horizontal gradient sign, row-major, MSB first).
    Solid images hash to 0; brightness shifts cancel out."""
    grid = _block_grid(w, h, gray, 9, 8)
    bits = 0
    for gy in range(8):
        for gx in range(8):
            bits = (bits << 1) | (1 if grid[gy][gx] > grid[gy][gx + 1] else 0)
    return _to_i64(bits)


IMAGE_HASHES_DDL = (
    "media_ref string, fmt string, width int, height int, "
    "ahash bigint, dhash bigint, status string, error string"
)


def image_hashes(
    df: DataFrame,
    payload_col: str = "payload",
    ref_col: str = "media_ref",
) -> DataFrame:
    """Perceptual 64-bit image hashes (aHash + dHash) per media row —
    the multimodal arm of the dedup families. One mapInPandas batch
    stage over the binary payloads: one :func:`decode_pixels` raster
    per payload, reduced by :func:`luma` (Netpbm/PNG/BMP/GIF/
    baseline-JPEG — the formats that dominate a web crawl; anything
    else surfaces status='unsupported', never task failures).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {k.split(" ")[0]: []
                   for k in IMAGE_HASHES_DDL.split(", ")}
            for ref, payload in zip(pdf[ref_col], pdf[payload_col]):
                out["media_ref"].append(ref)
                if payload is None:
                    out["fmt"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["ahash"].append(None)
                    out["dhash"].append(None)
                    out["status"].append("error")
                    out["error"].append("null payload")
                    continue
                dec = decode_pixels(bytes(payload))
                if dec is None:
                    out["fmt"].append(None)
                    out["width"].append(None)
                    out["height"].append(None)
                    out["ahash"].append(None)
                    out["dhash"].append(None)
                    out["status"].append("unsupported")
                    out["error"].append(
                        "not netpbm/png/bmp/gif/baseline-jpeg "
                        "(transcode to P6 first)"
                    )
                    continue
                fmt, w, h, ch, samples = dec
                gray = luma(ch, samples)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["ahash"].append(ahash64(w, h, gray))
                out["dhash"].append(dhash64(w, h, gray))
                out["status"].append("ok")
                out["error"].append(None)
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=IMAGE_HASHES_DDL)


PIXEL_STATS_HASHES_DDL = (
    "media_ref string, fmt string, width int, height int, channels int, "
    "mean_r double, mean_g double, mean_b double, status string, "
    "ahash bigint, dhash bigint"
)


def pixel_stats_with_hashes(df: DataFrame) -> DataFrame:
    """Per-channel statistics AND perceptual hashes in ONE decode stage.

    Value-identical to ``extract_pixel_stats(df)`` inner-joined with
    ``image_hashes(df)`` on the (unique) ref column, but the payloads
    cross the Arrow boundary once and there is no join: at corpus scale
    the two-branch form ships every binary payload through two separate
    Python stages and shuffles the results back together. Each payload
    is decoded ONCE by :func:`decode_pixels`; the stats columns reduce
    the raster by :func:`channel_means`, ahash/dhash by :func:`luma`
    (both null when the payload is unsupported — callers coalesce as
    before).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "media_ref": [], "fmt": [], "width": [], "height": [],
                "channels": [], "mean_r": [], "mean_g": [], "mean_b": [],
                "status": [], "ahash": [], "dhash": [],
            }
            for ref, payload in zip(pdf["media_ref"], pdf["payload"]):
                out["media_ref"].append(ref)
                if payload is None:
                    for k in ("fmt", "width", "height", "channels",
                              "mean_r", "mean_g", "mean_b",
                              "ahash", "dhash"):
                        out[k].append(None)
                    out["status"].append("error")
                    continue
                dec = decode_pixels(bytes(payload))
                if dec is None:
                    for k in ("fmt", "width", "height", "channels",
                              "mean_r", "mean_g", "mean_b",
                              "ahash", "dhash"):
                        out[k].append(None)
                    out["status"].append("unsupported")
                    continue
                fmt, w, h, ch, samples = dec
                m = channel_means(w, h, ch, samples) + [None, None]
                gray = luma(ch, samples)
                out["fmt"].append(fmt)
                out["width"].append(w)
                out["height"].append(h)
                out["channels"].append(ch)
                out["mean_r"].append(m[0])
                out["mean_g"].append(m[1])
                out["mean_b"].append(m[2])
                out["status"].append("ok")
                out["ahash"].append(ahash64(w, h, gray))
                out["dhash"].append(dhash64(w, h, gray))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=PIXEL_STATS_HASHES_DDL)
