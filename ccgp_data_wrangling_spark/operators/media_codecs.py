"""REAL media decode kernels for formats the standard library can
parse — no PIL/librosa/decord required.

The multimodal layer (multimodal.py) keeps deterministic fakes for
container formats whose codecs aren't in this environment (MP3,
MP4 …). But several families need nothing beyond the stdlib + numpy,
so their kernels are real: WAV/PCM, netpbm, GIF (LZW), baseline JPEG
(Huffman + IDCT), and PNG (zlib inflate + unfilter). Two are detailed
below; JPEG/PNG live at the end of this module:

* **WAV / PCM audio** (``wave`` + numpy): sample rate, channels,
  duration, and real signal features (RMS, peak) from the decoded
  samples.
* **PPM/PGM images** (netpbm P5/P6; ``struct``-free header parse +
  ``np.frombuffer``): true width/height, per-channel means, and a
  real nearest-neighbor resize that re-emits valid netpbm bytes.

These run inside the same Arrow ``mapInPandas`` plumbing as the
fakes — swap the kernel, not the pipeline. Features are plain floats
rounded at the edge so results are engine-reproducible.
"""

from __future__ import annotations

import io
import math
import wave
from typing import Any

import numpy as np

__all__ = [
    "decode_wav",
    "decode_netpbm",
    "decode_bmp",
    "encode_bmp",
    "decode_tiff",
    "encode_tiff",
    "resize_netpbm",
    "decode_gif",
    "encode_gif",
    "decode_jpeg",
    "encode_jpeg",
    "decode_png",
    "encode_png",
    "phash64",
    "phash_for_payload",
    "audio_fingerprint64",
    "real_decode",
    "parse_mp4_meta",
    "build_mp4",
    "build_fragmented_mp4",
    "parse_mp3_meta",
    "build_mp3",
]


def decode_wav(payload: bytes) -> dict[str, Any]:
    """Decode a PCM WAV payload to real audio features."""
    with wave.open(io.BytesIO(payload), "rb") as wf:
        n_channels = wf.getnchannels()
        rate = wf.getframerate()
        sampwidth = wf.getsampwidth()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    if sampwidth == 1:  # unsigned 8-bit
        x = np.frombuffer(raw, dtype=np.uint8).astype(np.float64)
        x = (x - 128.0) / 128.0
    elif sampwidth == 2:
        x = np.frombuffer(raw, dtype="<i2").astype(np.float64) / 32768.0
    elif sampwidth == 3:  # 24-bit little-endian two's complement
        b = np.frombuffer(raw, dtype=np.uint8).reshape(-1, 3).astype(np.int64)
        v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
        v -= (v >> 23) << 24  # sign-extend bit 23
        x = v.astype(np.float64) / 8388608.0
    elif sampwidth == 4:
        x = np.frombuffer(raw, dtype="<i4").astype(np.float64) / 2147483648.0
    else:
        raise NotImplementedError(f"{8 * sampwidth}-bit PCM not supported")
    duration = n_frames / rate if rate else 0.0
    return {
        "kind": "audio",
        "sample_rate": rate,
        "n_channels": n_channels,
        "n_samples": n_frames,
        "duration_sec": round(duration, 6),
        "rms": round(float(np.sqrt(np.mean(x**2))) if x.size else 0.0, 6),
        "peak": round(float(np.max(np.abs(x))) if x.size else 0.0, 6),
    }


def _parse_netpbm(payload: bytes) -> tuple[str, int, int, int, np.ndarray]:
    """(magic, width, height, maxval, pixels[h, w, c]) for P5/P6."""
    # header tokens: magic, width, height, maxval — whitespace/comment
    # separated; pixel data starts after the single whitespace byte
    # following maxval
    pos, tokens = 0, []
    while len(tokens) < 4:
        if pos >= len(payload):
            raise ValueError("truncated netpbm header")
        c = payload[pos : pos + 1]
        if c == b"#":  # comment to end of line
            while pos < len(payload) and payload[pos : pos + 1] != b"\n":
                pos += 1
        elif c.isspace():
            pos += 1
        else:
            start = pos
            while pos < len(payload) and not payload[pos : pos + 1].isspace():
                pos += 1
            tokens.append(payload[start:pos])
    pos += 1  # single whitespace after maxval
    magic = tokens[0].decode("ascii")
    if magic not in ("P5", "P6"):
        raise NotImplementedError(f"netpbm magic {magic!r} not supported")
    width, height, maxval = (int(t) for t in tokens[1:4])
    if not 0 < maxval < 65536:
        raise ValueError(f"invalid netpbm maxval {maxval}")
    ch = 3 if magic == "P6" else 1
    # maxval > 255 → two bytes per sample, most significant first
    # (netpbm raw-format spec)
    nb = 2 if maxval > 255 else 1
    need = width * height * ch * nb
    data = payload[pos : pos + need]
    if len(data) != need:
        raise ValueError("truncated netpbm pixel data")
    if nb == 1:
        px = np.frombuffer(data, dtype=np.uint8)
    else:
        px = np.frombuffer(data, dtype=">u2").astype(np.uint16)
    return magic, width, height, maxval, px.reshape(height, width, ch)


def decode_netpbm(payload: bytes) -> dict[str, Any]:
    """Decode a P5 (grayscale) / P6 (RGB) image to real features."""
    magic, width, height, _maxval, px = _parse_netpbm(payload)
    means = px.astype(np.float64).mean(axis=(0, 1))
    return {
        "kind": "image",
        "width": width,
        "height": height,
        "n_channels": px.shape[2],
        "channel_means": [round(float(m), 4) for m in means],
        "luma_mean": round(
            float(
                means @ np.array([0.299, 0.587, 0.114])
                if magic == "P6"
                else means[0]
            ),
            4,
        ),
    }


def resize_netpbm(payload: bytes, width: int, height: int) -> bytes:
    """REAL nearest-neighbor resize of a P5/P6 image; returns valid
    netpbm bytes of the same magic."""
    magic, w0, h0, maxval, px = _parse_netpbm(payload)
    rows = (np.arange(height) * h0) // height
    cols = (np.arange(width) * w0) // width
    out = px[rows][:, cols]
    header = f"{magic}\n{width} {height}\n{maxval}\n".encode("ascii")
    return header + out.astype(">u2" if maxval > 255 else np.uint8).tobytes()


# ---------------------------------------------------------------------------
# BMP (Windows BITMAPINFOHEADER) and baseline TIFF — the two
# remaining uncompressed image containers crawled corpora actually
# carry (screenshots, scans, legacy exports). Both are pure layout
# formats here: BMP rows are bottom-up and 4-byte padded, 8-bit
# palette or 24-bit BGR; TIFF reuses the IFD machinery the EXIF layer
# walks (operators/exif.py implements the same ISO 12234-2/TIFF 6.0
# structure) for uncompressed strip-layout grayscale/RGB. Compressed
# variants (RLE BMP, LZW/PackBits TIFF) raise honestly.
# ---------------------------------------------------------------------------


def _bmp_rle_decode(data: bytes, w: int, h: int, bpp: int) -> np.ndarray:
    """RLE8/RLE4 pixel-index decode (Windows BMP spec): encoded runs
    (count, value — RLE4 alternates the value byte's two nibbles),
    and the count-0 escapes: 0 end-of-line, 1 end-of-bitmap, 2 delta
    (dx, dy — skipped pixels stay index 0), n≥3 absolute mode with
    word-aligned literal bytes. Rows come bottom-up, as the spec
    requires for RLE."""
    img = np.zeros((h, w), np.uint8)
    x = y = 0  # y = 0 is the BOTTOM row in the stream
    i = 0
    n_data = len(data)
    while i + 1 < n_data + 1:
        if i + 2 > n_data:
            raise ValueError("truncated BMP RLE stream")
        n, v = data[i], data[i + 1]
        i += 2
        if n > 0:  # encoded run
            if y >= h or x + n > w:
                raise ValueError("BMP RLE run escapes the bitmap")
            if bpp == 8:
                img[y, x : x + n] = v
            else:
                pair = [(v >> 4) & 0xF, v & 0xF]
                for j in range(n):
                    img[y, x + j] = pair[j % 2]
            x += n
        elif v == 0:  # end of line
            x, y = 0, y + 1
        elif v == 1:  # end of bitmap
            return img[::-1]
        elif v == 2:  # delta
            if i + 2 > n_data:
                raise ValueError("truncated BMP RLE delta")
            x += data[i]
            y += data[i + 1]
            i += 2
            if x > w or y > h:
                raise ValueError("BMP RLE delta escapes the bitmap")
        else:  # absolute mode: v literal pixels, word-aligned
            count = v
            nbytes = count if bpp == 8 else (count + 1) // 2
            nbytes += nbytes % 2  # pad to 16-bit boundary
            if i + nbytes > n_data:
                raise ValueError("truncated BMP RLE absolute run")
            if y >= h or x + count > w:
                raise ValueError("BMP RLE absolute run escapes the bitmap")
            if bpp == 8:
                img[y, x : x + count] = np.frombuffer(
                    data[i : i + count], np.uint8
                )
            else:
                for j in range(count):
                    b = data[i + j // 2]
                    img[y, x + j] = (b >> 4) & 0xF if j % 2 == 0 else b & 0xF
            x += count
            i += nbytes
    raise ValueError("BMP RLE stream ended without end-of-bitmap")


def _bmp_rle_encode(idx: np.ndarray, bpp: int) -> bytes:
    """RLE8/RLE4 fixture encoder (same-value encoded runs + absolute
    mode for literal stretches, EOL per row, EOB at the end) —
    ``idx`` rows are in stream order (bottom-up)."""
    out = bytearray()
    h, w = idx.shape
    for y in range(h):
        row = idx[y]
        x = 0
        while x < w:
            run = 1
            while x + run < w and row[x + run] == row[x] and run < 255:
                run += 1
            if run >= 3:
                val = (
                    int(row[x])
                    if bpp == 8
                    else (int(row[x]) << 4) | int(row[x])
                )
                out += bytes([run, val])
                x += run
            else:
                start = x
                while x < w and x - start < 254:
                    r2 = 1
                    while x + r2 < w and row[x + r2] == row[x] and r2 < 3:
                        r2 += 1
                    if r2 >= 3:
                        break
                    x += 1
                n = x - start
                if n < 3:  # too short for absolute mode
                    for j in range(start, x):
                        val = (
                            int(row[j])
                            if bpp == 8
                            else (int(row[j]) << 4) | int(row[j])
                        )
                        out += bytes([1, val])
                else:
                    out += bytes([0, n])
                    if bpp == 8:
                        ab = bytes(int(v) for v in row[start:x])
                    else:
                        abuf = bytearray()
                        for j in range(start, x, 2):
                            hi = int(row[j])
                            lo = int(row[j + 1]) if j + 1 < x else 0
                            abuf.append((hi << 4) | lo)
                        ab = bytes(abuf)
                    if len(ab) % 2:
                        ab += b"\x00"
                    out += ab
        out += bytes([0, 0])  # end of line
    out[-1] = 1  # last escape becomes end-of-bitmap
    return bytes(out)


def decode_bmp(payload: bytes) -> dict[str, Any]:
    """Real BMP decode: BITMAPFILEHEADER + BITMAPINFOHEADER (or the
    OS/2 1.x BITMAPCOREHEADER with its 16-bit dimensions and 3-byte
    palette entries), bottom-up (or top-down via negative height)
    rows, 4-byte row padding, 24-bit BGR, 8/4/1-bit palette (sub-byte
    pixels packed MSB-first per spec), and RLE8 / RLE4 compressed
    palette variants (BI_RLE8 / BI_RLE4 with all escape codes).
    Bitfields compression and 16/32-bit depths raise."""
    if payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_off = int.from_bytes(payload[10:14], "little")
    hdr_size = int.from_bytes(payload[14:18], "little")
    core = hdr_size == 12  # BITMAPCOREHEADER (OS/2 1.x)
    if not core and hdr_size < 40:
        raise ValueError(f"unknown BMP header size {hdr_size}")
    if core:
        w = int.from_bytes(payload[18:20], "little")
        h = int.from_bytes(payload[20:22], "little")
        bpp = int.from_bytes(payload[24:26], "little")
        comp = 0
    else:
        w = int.from_bytes(payload[18:22], "little", signed=True)
        h = int.from_bytes(payload[22:26], "little", signed=True)
        bpp = int.from_bytes(payload[28:30], "little")
        comp = int.from_bytes(payload[30:34], "little")
    if comp not in (0, 1, 2):
        raise NotImplementedError(f"BMP compression {comp}")
    if comp == 0 and bpp not in (1, 4, 8, 24):
        raise NotImplementedError(f"{bpp}-bit BMP")
    if (comp == 1 and bpp != 8) or (comp == 2 and bpp != 4):
        raise ValueError(f"BMP compression {comp} with {bpp} bpp")
    top_down = h < 0
    if comp and top_down:
        raise ValueError("top-down RLE BMP is invalid per spec")
    h = abs(h)
    if w <= 0 or h <= 0:
        raise ValueError("degenerate BMP dimensions")

    def read_palette(n_default: int) -> np.ndarray:
        pal_off = 14 + hdr_size
        if core:  # 3-byte BGR entries, always the full 2^bpp set
            return np.frombuffer(
                payload[pal_off : pal_off + 3 * n_default], np.uint8
            ).reshape(-1, 3)[:, ::-1]  # BGR → RGB
        n_colors = int.from_bytes(payload[46:50], "little") or n_default
        return np.frombuffer(
            payload[pal_off : pal_off + 4 * n_colors], np.uint8
        ).reshape(-1, 4)[:, [2, 1, 0]]  # BGRA → RGB

    if comp:  # RLE8 / RLE4
        size_image = int.from_bytes(payload[34:38], "little")
        end = data_off + size_image if size_image else len(payload)
        idx = _bmp_rle_decode(payload[data_off:end], w, h, bpp)
        pal = read_palette(256 if bpp == 8 else 16)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        px = pal[idx]
        means = px.astype(np.float64).mean(axis=(0, 1))
        return {
            "kind": "image",
            "width": w,
            "height": h,
            "n_channels": 3,
            "channel_means": [round(float(m), 4) for m in means],
            "luma_mean": round(
                float(means @ np.array([0.299, 0.587, 0.114])), 4
            ),
        }
    row_bytes = ((w * bpp + 7) // 8 + 3) & ~3
    need = data_off + row_bytes * h
    if need > len(payload):
        raise ValueError("truncated BMP pixel array")
    raw = np.frombuffer(
        payload[data_off : data_off + row_bytes * h], np.uint8
    ).reshape(h, row_bytes)
    if not top_down:
        raw = raw[::-1]
    if bpp == 24:
        bgr = raw[:, : w * 3].reshape(h, w, 3)
        px = bgr[:, :, ::-1]  # BGR → RGB
    else:
        if bpp == 8:
            idx = raw[:, :w]
        elif bpp == 4:  # two pixels per byte, high nibble first
            nib = np.empty((h, row_bytes * 2), np.uint8)
            nib[:, 0::2] = raw >> 4
            nib[:, 1::2] = raw & 0x0F
            idx = nib[:, :w]
        else:  # 1-bit: MSB-first within each byte
            idx = np.unpackbits(raw, axis=1)[:, :w]
        pal = read_palette(1 << bpp)
        if int(idx.max(initial=0)) >= len(pal):
            raise ValueError("BMP palette index out of range")
        px = pal[idx]
    means = px.astype(np.float64).mean(axis=(0, 1))
    return {
        "kind": "image",
        "width": w,
        "height": h,
        "n_channels": 3,
        "channel_means": [round(float(m), 4) for m in means],
        "luma_mean": round(
            float(means @ np.array([0.299, 0.587, 0.114])), 4
        ),
    }


def encode_bmp(
    px: np.ndarray, *, palette: np.ndarray | None = None,
    top_down: bool = False, compression: int = 0,
    bpp: int | None = None, core_header: bool = False,
) -> bytes:
    """Fixture writer: 24-bit BGR (3-channel input) or palette (2-D
    index input + ``palette`` (n,3) RGB) BMP with correct row padding
    and direction. Palette depth defaults to 8 bpp; ``bpp`` 4 or 1
    bit-packs the indices (MSB-first) the way the spec stores sub-byte
    pixels. ``compression`` 1 (BI_RLE8) or 2 (BI_RLE4, indices < 16)
    RLE-encodes the palette indices — bottom-up only, as the spec
    requires for RLE. ``core_header=True`` writes the OS/2 1.x
    BITMAPCOREHEADER (16-bit dimensions, 3-byte palette entries;
    uncompressed bottom-up only)."""
    h, w = px.shape[:2]
    if compression not in (0, 1, 2):
        raise ValueError("compression must be 0 (none), 1 (RLE8), 2 (RLE4)")
    if compression and palette is None:
        raise ValueError("RLE BMP needs palette indices")
    if compression and top_down:
        raise ValueError("top-down RLE BMP is invalid per spec")
    if core_header and (compression or top_down):
        raise ValueError("BITMAPCOREHEADER is uncompressed bottom-up only")
    if palette is None:
        if px.ndim != 3 or px.shape[2] != 3:
            raise ValueError("24-bit BMP needs (h, w, 3) pixels")
        if bpp not in (None, 24):
            raise ValueError("3-channel input is 24 bpp")
        bpp, pal_entries = 24, 0
        rows = px[:, :, ::-1].astype(np.uint8)  # RGB → BGR
        row_data = rows.reshape(h, w * 3)
    else:
        if bpp is None:
            bpp = 4 if compression == 2 else 8
        if bpp not in (1, 4, 8):
            raise ValueError("palette BMP depth must be 1, 4 or 8")
        if compression and bpp != (4 if compression == 2 else 8):
            raise ValueError(f"BMP compression {compression} needs "
                             f"{4 if compression == 2 else 8} bpp")
        if int(px.max(initial=0)) >= (1 << bpp):
            raise ValueError(f"palette index exceeds {bpp}-bit depth")
        pal_entries = 1 << bpp if core_header else len(palette)
        row_data = px.astype(np.uint8)
    if core_header:
        pal = np.zeros((pal_entries, 3), np.uint8)
        pal[: len(palette) if palette is not None else 0] = (
            palette[:, ::-1] if palette is not None else 0
        )
        pal_bytes = pal.tobytes() if bpp != 24 else b""
    elif palette is not None:
        pal = np.zeros((len(palette), 4), np.uint8)
        pal[:, :3] = palette[:, ::-1]  # RGB → BGRA order
        pal_bytes = pal.tobytes()
    else:
        pal_bytes = b""
    if compression:
        pixel_data = _bmp_rle_encode(row_data[::-1], bpp)
        stored_h = h
    else:
        packed_w = (w * bpp + 7) // 8
        row_bytes = (packed_w + 3) & ~3
        if bpp == 4:
            half = np.zeros((h, packed_w * 2), np.uint8)
            half[:, : row_data.shape[1]] = row_data
            rowbuf = (half[:, 0::2] << 4) | half[:, 1::2]
        elif bpp == 1:
            rowbuf = np.packbits(row_data, axis=1)
        else:
            rowbuf = row_data
        padded = np.zeros((h, row_bytes), np.uint8)
        padded[:, :packed_w] = rowbuf[:, :packed_w]
        if not top_down:
            padded = padded[::-1]
        pixel_data = padded.tobytes()
        stored_h = (-h) if top_down else h
    hdr_len = 12 if core_header else 40
    data_off = 14 + hdr_len + len(pal_bytes)
    size = data_off + len(pixel_data)
    out = bytearray()
    out += b"BM" + size.to_bytes(4, "little") + bytes(4)
    out += data_off.to_bytes(4, "little")
    if core_header:
        out += (12).to_bytes(4, "little")
        out += w.to_bytes(2, "little") + h.to_bytes(2, "little")
        out += (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
    else:
        out += (40).to_bytes(4, "little")
        out += w.to_bytes(4, "little", signed=True)
        out += stored_h.to_bytes(4, "little", signed=True)
        out += (1).to_bytes(2, "little") + bpp.to_bytes(2, "little")
        out += compression.to_bytes(4, "little")
        out += len(pixel_data).to_bytes(4, "little")
        out += bytes(8)  # ppm resolutions
        out += (len(pal_bytes) // 4).to_bytes(4, "little") + bytes(4)
    out += pal_bytes
    out += pixel_data
    return bytes(out)


def decode_tiff(payload: bytes) -> dict[str, Any]:
    """Real TIFF decode: classic header (II/MM + 42), first IFD via
    the same structure the EXIF layer walks, strip layout, 8- or
    16-bit (file byte order) grayscale (PhotometricInterpretation 1)
    or RGB (2). Compression
    1 (none), 2/3/4 (the CCITT bilevel family, TIFF 6.0 §11: MH RLE
    with byte-aligned rows / Group 3 with EOL framing — 1-D, or the
    T.4 mixed 1-D/2-D rows when T4Options bit 0 is set / Group 4
    T.6 MMR — the compressions scanned-document archives actually
    carry),
    5 (LZW, §7, with Predictor 2 horizontal differencing,
    §14), 8/32946 (Deflate — zlib streams per strip, TIFF TechNote 2;
    32946 is the pre-standard code some writers still emit) and 32773
    (PackBits, §9) — the layouts scanned-document corpora actually
    carry; other compressions raise honestly. G4 bilevel pixels
    surface as 0/255 grayscale (white = 255) whatever the
    PhotometricInterpretation (0 or 1), so luma reads as brightness."""
    from ccgp_data_wrangling_spark.operators.exif import _read_ifd

    order = payload[:2]
    if order == b"II":
        bo = "little"
    elif order == b"MM":
        bo = "big"
    else:
        raise ValueError("not a TIFF payload")
    if int.from_bytes(payload[2:4], bo) != 42:
        raise ValueError("TIFF magic != 42")
    ifd = _read_ifd(payload, int.from_bytes(payload[4:8], bo), bo)

    def num(tag: int, default: int | None = None) -> int:
        if tag not in ifd:
            if default is None:
                raise ValueError(f"TIFF missing required tag {tag:#06x}")
            return default
        typ, _cnt, raw = ifd[tag]
        return int.from_bytes(raw[: {3: 2, 4: 4}.get(typ, 2)], bo)

    def nums(tag: int) -> list[int]:
        typ, cnt, raw = ifd[tag]
        sz = {3: 2, 4: 4}.get(typ, 2)
        return [
            int.from_bytes(raw[i * sz : (i + 1) * sz], bo)
            for i in range(cnt)
        ]

    comp = num(0x0103, 1)
    if comp not in (1, 2, 3, 4, 5, 7, 8, 32773, 32946):
        raise NotImplementedError(f"TIFF compression {comp}")
    bilevel = comp in (2, 3, 4)
    predictor = num(0x013D, 1)
    if predictor not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {predictor}")
    w, h = num(0x0100), num(0x0101)
    photo = num(0x0106)
    spp = num(0x0115, 1)
    planar = num(0x011C, 1)
    if planar not in (1, 2):
        raise ValueError(f"invalid PlanarConfiguration {planar}")
    if planar == 2:
        if bilevel or comp == 7:
            raise NotImplementedError(
                "PlanarConfiguration 2 with CCITT/JPEG compression"
            )
        if spp == 1:
            planar = 1  # degenerate: one plane IS chunky
    if bilevel:
        if photo not in (0, 1) or spp != 1:
            raise NotImplementedError(
                f"TIFF CCITT photometric {photo} / {spp} samples"
            )
    elif comp == 7:
        if photo not in (1, 2, 6) or spp not in (1, 3):
            raise NotImplementedError(
                f"TIFF JPEG photometric {photo} / {spp} samples"
            )
    elif photo not in (1, 2) or spp not in (1, 3):
        raise NotImplementedError(
            f"TIFF photometric {photo} / {spp} samples"
        )
    bits = nums(0x0102) if 0x0102 in ifd else [8 if not bilevel else 1]
    depth = bits[0]
    if bilevel:
        if depth != 1 or len(bits) != 1:
            raise NotImplementedError(f"{bits}-bit TIFF CCITT samples")
    elif depth not in (8, 16) or any(b != depth for b in bits):
        raise NotImplementedError(f"{bits}-bit TIFF samples")
    tiled = 0x0142 in ifd or 0x0144 in ifd
    if tiled and planar == 2:
        raise NotImplementedError(
            "PlanarConfiguration 2 with tile organization"
        )
    if tiled:
        # tile organization (TIFF 6.0 §15): TileWidth/TileLength/
        # TileOffsets/TileByteCounts replace the strip tags; tiles
        # run left-to-right then top-to-bottom, each a full padded
        # tw×th block compressed independently
        if 0x0111 in ifd:
            raise ValueError(
                "TIFF carries both strip and tile organization"
            )
        if not all(t in ifd for t in (0x0142, 0x0143, 0x0144, 0x0145)):
            raise ValueError(
                "tiled TIFF is missing one of TileWidth/TileLength/"
                "TileOffsets/TileByteCounts"
            )
        tw, th = num(0x0142), num(0x0143)
        if tw % 16 or th % 16 or tw <= 0 or th <= 0:
            raise ValueError(
                f"TIFF tile dimensions {tw}x{th} must be positive "
                "multiples of 16 (TIFF 6.0 §15)"
            )
        offsets, counts = nums(0x0144), nums(0x0145)
        ta = (w + tw - 1) // tw
        td = (h + th - 1) // th
        # len(counts) must match too — zip() would otherwise silently
        # drop tiles and decode them as all-zero blocks
        if len(offsets) != ta * td or len(counts) != ta * td:
            raise ValueError(
                "TileOffsets/TileByteCounts count disagrees with "
                "the tile grid"
            )
    else:
        offsets, counts = nums(0x0111), nums(0x0117)
    strips = [payload[o : o + c] for o, c in zip(offsets, counts)]
    if any(len(s) != c for s, c in zip(strips, counts)):
        raise ValueError("TIFF strip byte range escapes the file")
    if bilevel:
        if num(0x010A, 1) == 2:
            strips = [bytes(_BITREV[b] for b in s) for s in strips]
        t4opts = num(0x0124, 0)

        def ccitt_block(s: bytes, bw: int, bh: int) -> np.ndarray:
            if comp == 4:
                return decode_ccitt_g4(s, bw, bh)
            if comp == 2:
                return decode_ccitt_mh(s, bw, bh, byte_align=True)
            if t4opts & 1:
                return decode_ccitt_g3_mixed(
                    s, bw, bh, byte_align=bool(t4opts & 4)
                )
            return decode_ccitt_mh(
                s, bw, bh, byte_align=bool(t4opts & 4), eol=True
            )

        if tiled:
            black = np.zeros((h, w), bool)
            for i, s in enumerate(strips):
                ty, tx = divmod(i, ta)
                blk = ccitt_block(s, tw, th)
                ch = min(th, h - ty * th)
                cw = min(tw, w - tx * tw)
                black[
                    ty * th : ty * th + ch, tx * tw : tx * tw + cw
                ] = blk[:ch, :cw]
        else:
            rps = num(0x0116, h)
            parts = [
                ccitt_block(s, w, min(rps, h - si * rps))
                for si, s in enumerate(strips)
            ]
            black = np.concatenate(parts, axis=0)
        px = np.where(black, 0, 255).astype(np.uint8)[:, :, None]
        mean = float(px.astype(np.float64).mean())
        return {
            "kind": "image",
            "width": w,
            "height": h,
            "n_channels": 1,
            "bit_depth": 1,
            "compression": comp,
            "predictor": 1,
            "tiled": tiled,
            "channel_means": [round(mean, 4)],
            "luma_mean": round(mean, 4),
        }
    if comp == 7:
        # new-style JPEG-in-TIFF (TIFF TechNote 2): every strip/tile
        # is a JPEG interchange stream; when the JPEGTables tag
        # (0x015B) is present the strips are ABBREVIATED streams and
        # the tag's SOI..EOI blob supplies the DQT/DHT tables, spliced
        # in ahead of each strip's own segments
        if depth != 8:
            raise NotImplementedError("JPEG-in-TIFF non-8-bit samples")
        if predictor != 1:
            raise ValueError("predictor with JPEG-in-TIFF")
        tbl = ifd[0x015B][2] if 0x015B in ifd else None
        if tbl is not None and (
            tbl[:2] != b"\xff\xd8" or tbl[-2:] != b"\xff\xd9"
        ):
            raise ValueError("malformed JPEGTables blob")

        def jdec(stream: bytes) -> np.ndarray:
            if stream[:2] != b"\xff\xd8":
                raise ValueError("JPEG strip missing SOI")
            if tbl is not None:
                stream = tbl[:-2] + stream[2:]
            blk = _decode_jpeg_pixels(stream)
            if blk.shape[2] != spp:
                raise ValueError(
                    "JPEG strip channel count disagrees with "
                    "SamplesPerPixel"
                )
            return blk

        px = np.zeros((h, w, spp), np.uint8)
        if tiled:
            for i, s_ in enumerate(strips):
                blk = jdec(s_)
                ty, tx = divmod(i, ta)
                ch_ = min(th, h - ty * th)
                cw_ = min(tw, w - tx * tw)
                if blk.shape[0] < ch_ or blk.shape[1] < cw_:
                    raise ValueError("JPEG tile smaller than the grid")
                px[ty * th:ty * th + ch_, tx * tw:tx * tw + cw_] = (
                    blk[:ch_, :cw_]
                )
        else:
            rps = num(0x0116, h)
            for si, s_ in enumerate(strips):
                blk = jdec(s_)
                rows = min(rps, h - si * rps)
                if blk.shape[0] < rows or blk.shape[1] < w:
                    raise ValueError(
                        "JPEG strip smaller than its row band"
                    )
                px[si * rps:si * rps + rows] = blk[:rows, :w]
        means = px.astype(np.float64).mean(axis=(0, 1))
        return {
            "kind": "image",
            "width": w,
            "height": h,
            "n_channels": spp,
            "bit_depth": 8,
            "compression": comp,
            "predictor": 1,
            "tiled": tiled,
            "channel_means": [round(float(m), 4) for m in means],
            "luma_mean": round(
                float(
                    means @ np.array([0.299, 0.587, 0.114])
                    if spp == 3
                    else means[0]
                ),
                4,
            ),
        }
    if comp == 5:
        strips = [_tiff_lzw_decode(s) for s in strips]
    elif comp in (8, 32946):
        import zlib

        strips = [zlib.decompress(s) for s in strips]
    elif comp == 32773:
        strips = [_packbits_decode(s) for s in strips]
    # 16-bit samples follow the FILE's byte order (TIFF 6.0 p.15)
    dt = np.uint8 if depth == 8 else np.dtype(
        ">u2" if bo == "big" else "<u2"
    )
    narrow = np.uint8 if depth == 8 else np.uint16

    def unpredict(block: np.ndarray) -> np.ndarray:
        if predictor != 2:
            return block
        # horizontal differencing (§14): each sample stores the
        # delta from its left neighbor, per channel — undo with a
        # row cumsum (modulo the sample width); tiles difference
        # independently, so this applies per decompressed block
        return np.cumsum(block.astype(np.uint32), axis=1).astype(
            narrow
        )

    if tiled:
        px = np.zeros((h, w, spp), narrow)
        for i, traw in enumerate(strips):
            if len(traw) != tw * th * spp * depth // 8:
                raise ValueError(
                    "TIFF tile bytes disagree with tile dimensions"
                )
            blk = unpredict(
                np.frombuffer(traw, dt).reshape(th, tw, spp)
            )
            ty, tx = divmod(i, ta)
            ch = min(th, h - ty * th)
            cw = min(tw, w - tx * tw)
            px[ty * th : ty * th + ch, tx * tw : tx * tw + cw] = blk[
                :ch, :cw
            ]
    elif planar == 2:
        # planar organization (§ PlanarConfiguration 2): all strips
        # of plane 0 first, then plane 1, ... — horizontal
        # differencing applies within each plane's rows
        rps = num(0x0116, h)
        per_plane = (h + rps - 1) // rps
        if len(strips) != per_plane * spp:
            raise ValueError(
                "planar strip count disagrees with dimensions"
            )
        planes = []
        for c in range(spp):
            praw = b"".join(
                strips[c * per_plane:(c + 1) * per_plane]
            )
            if len(praw) != w * h * depth // 8:
                raise ValueError(
                    "TIFF plane bytes disagree with dimensions"
                )
            planes.append(unpredict(
                np.frombuffer(praw, dt).reshape(h, w, 1)
            ))
        px = np.concatenate(planes, axis=-1)
    else:
        raw = b"".join(strips)
        if len(raw) != w * h * spp * depth // 8:
            raise ValueError(
                "TIFF strip bytes disagree with dimensions"
            )
        px = unpredict(np.frombuffer(raw, dt).reshape(h, w, spp))
    means = px.astype(np.float64).mean(axis=(0, 1))
    return {
        "kind": "image",
        "width": w,
        "height": h,
        "n_channels": spp,
        "bit_depth": depth,
        "compression": comp,
        "predictor": predictor,
        "tiled": tiled,
        "channel_means": [round(float(m), 4) for m in means],
        "luma_mean": round(
            float(
                means @ np.array([0.299, 0.587, 0.114])
                if spp == 3
                else means[0]
            ),
            4,
        ),
    }


def encode_tiff(
    px: np.ndarray,
    *,
    byte_order: str = "II",
    rows_per_strip: int | None = None,
    compression: str = "none",
    predictor: int = 1,
    fill_order: int = 1,
    tile_wh: tuple[int, int] | None = None,
    planar: int = 1,
    jpeg_tables: bool = False,
) -> bytes:
    """Fixture writer: 8-bit grayscale/RGB TIFF (multi-strip when
    ``rows_per_strip`` is set) in either byte order; ``compression``
    in {"none", "lzw", "deflate", "packbits", "g4", "g3", "g3_2d",
    "mh"}, with TIFF Predictor 2 (horizontal differencing) available
    under LZW/Deflate as real scanner output carries it. A uint16
    input writes 16-bit samples in the file's byte order
    (archival/scientific scans). The CCITT family take a 2-D BOOLEAN
    black-mask and write bilevel strips (BitsPerSample 1,
    PhotometricInterpretation 0 — WhiteIsZero, the fax convention;
    each strip an independent block per TIFF 6.0 §11): ``"g4"`` T.6
    MMR, ``"g3"`` Group 3 1-D with EOL framing, ``"g3_2d"`` T.4
    mixed 1-D/2-D rows (Compression 3 with T4Options bit 0, K=4),
    ``"mh"`` Compression 2 MH RLE with byte-aligned rows.
    ``tile_wh`` switches to the §15 TILE organization (dimensions
    must be positive multiples of 16): edge tiles are padded to the
    full tile extent (zeros — white under WhiteIsZero) and each tile
    compresses independently, predictor included.
    ``compression="jpeg"`` writes new-style JPEG-in-TIFF (TechNote 2,
    Compression 7): each strip/tile is a baseline JPEG stream from
    encode_jpeg; ``jpeg_tables=True`` externalizes the shared
    DQT/DHT segments into the JPEGTables tag and strips them from
    every per-strip stream (the abbreviated-stream form archival
    scanners emit). ``planar=2`` stores each channel's strips
    separately (PlanarConfiguration 2, all plane-0 strips first)."""
    if tile_wh is not None:
        twd, thd = tile_wh
        if twd % 16 or thd % 16 or twd <= 0 or thd <= 0:
            raise ValueError(
                "tile dimensions must be positive multiples of 16"
            )
        if rows_per_strip is not None:
            raise ValueError("tiles and strips are exclusive")
    if compression in ("g4", "mh", "g3", "g3_2d"):
        if px.ndim != 2 or px.dtype != np.bool_:
            raise ValueError(
                "CCITT compression needs a 2-D boolean mask"
            )
        h, w = px.shape
        comp_tag = {"mh": 2, "g3": 3, "g3_2d": 3, "g4": 4}[compression]
        bo = "little" if byte_order == "II" else "big"
        rps = rows_per_strip or h

        def _strip(sub: np.ndarray) -> bytes:
            if compression == "g4":
                return encode_ccitt_g4(sub)
            if compression == "g3_2d":
                return encode_ccitt_g3_mixed(sub, k=4)
            return encode_ccitt_mh(
                sub,
                byte_align=compression == "mh",
                eol=compression == "g3",
            )

        tags = [
            (0x0100, 4, [w]),
            (0x0101, 4, [h]),
            (0x0102, 3, [1]),
            (0x0103, 3, [comp_tag]),
            (0x0106, 3, [0]),  # WhiteIsZero
            (0x010A, 3, [fill_order]),
            (0x0115, 3, [1]),
        ]
        if tile_wh is not None:
            blocks = []
            for ty in range(0, h, thd):
                for tx in range(0, w, twd):
                    pad = np.zeros((thd, twd), np.bool_)
                    sub = px[ty : ty + thd, tx : tx + twd]
                    pad[: sub.shape[0], : sub.shape[1]] = sub
                    blocks.append(_strip(pad))
            tags += [(0x0142, 4, [twd]), (0x0143, 4, [thd])]
        else:
            blocks = [_strip(px[r : r + rps]) for r in range(0, h, rps)]
            tags.append((0x0116, 4, [rps]))
        if fill_order == 2:  # fax-native LSB-first bit order
            blocks = [bytes(_BITREV[b] for b in s_) for s_ in blocks]
        if compression == "g3_2d":
            tags.append((0x0124, 4, [1]))  # T4Options: 2-D coding
        return _tiff_container(
            byte_order, bo, blocks, tags, tiled=tile_wh is not None
        )
    if compression == "jpeg":
        return _encode_tiff_jpeg(
            px, byte_order, rows_per_strip, tile_wh, jpeg_tables,
        )
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, spp = px.shape
    bo = "little" if byte_order == "II" else "big"
    depth = 16 if px.dtype == np.uint16 else 8
    rps = rows_per_strip or h
    comp_tag = {"none": 1, "lzw": 5, "deflate": 8, "packbits": 32773}[
        compression
    ]
    if planar == 2:
        if spp == 1:
            raise ValueError("planar=2 needs multiple channels")
        if tile_wh is not None:
            raise ValueError(
                "planar=2 pairs with the strip organization"
            )
    if predictor not in (1, 2):
        raise ValueError("predictor must be 1 or 2")
    wide = np.uint16 if depth == 16 else np.uint8
    src = px.astype(wide)

    def serialize(block: np.ndarray) -> bytes:
        out = block
        if predictor == 2:
            bh, _bw, bc = out.shape
            out = np.diff(
                out.astype(np.int32), axis=1,
                prepend=np.zeros((bh, 1, bc), np.int32),
            ).astype(wide)
        if depth == 16:  # serialize in the declared byte order
            out = out.astype(">u2" if bo == "big" else "<u2")
        return out.tobytes()

    if tile_wh is not None:
        strips = []
        for ty in range(0, h, thd):
            for tx in range(0, w, twd):
                pad = np.zeros((thd, twd, spp), wide)
                sub = src[ty : ty + thd, tx : tx + twd]
                pad[: sub.shape[0], : sub.shape[1]] = sub
                strips.append(serialize(pad))
    elif planar == 2:
        strips = [
            serialize(src[r:r + rps, :, c:c + 1])
            for c in range(spp)
            for r in range(0, h, rps)
        ]
    else:
        strips = [
            serialize(src[r : r + rps]) for r in range(0, h, rps)
        ]
    if comp_tag == 5:
        strips = [_tiff_lzw_encode(s) for s in strips]
    elif comp_tag == 8:
        import zlib

        strips = [zlib.compress(s) for s in strips]
    elif comp_tag == 32773:
        strips = [_packbits_encode(s) for s in strips]
    tags = [
        (0x0100, 4, [w]),          # ImageWidth
        (0x0101, 4, [h]),          # ImageLength
        (0x0102, 3, [depth] * spp),  # BitsPerSample
        (0x0103, 3, [comp_tag]),   # Compression
        (0x0106, 3, [1 if spp == 1 else 2]),  # Photometric
        (0x0115, 3, [spp]),        # SamplesPerPixel
    ]
    if tile_wh is not None:
        tags += [(0x0142, 4, [twd]), (0x0143, 4, [thd])]
    else:
        tags.append((0x0116, 4, [rps]))  # RowsPerStrip
    if predictor == 2:
        tags.append((0x013D, 3, [2]))  # Predictor: horizontal diff
    if planar == 2:
        tags.append((0x011C, 3, [2]))  # PlanarConfiguration
    return _tiff_container(
        byte_order, bo, strips, tags, tiled=tile_wh is not None
    )


def _split_jpeg_tables(stream: bytes) -> tuple[bytes, bytes]:
    """Split a JPEG interchange stream into (tables_blob, abbreviated
    stream): DQT/DHT segments move to an SOI..EOI JPEGTables blob
    (TIFF TechNote 2), everything else stays in order."""
    if stream[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG stream")
    pos = 2
    tables = bytearray(b"\xff\xd8")
    rest = bytearray(b"\xff\xd8")
    while pos + 4 <= len(stream):
        if stream[pos] != 0xFF:
            raise ValueError("JPEG marker desync")
        marker = stream[pos + 1]
        if marker == 0xDA:  # SOS: entropy data + EOI follow verbatim
            rest += stream[pos:]
            break
        seg_len = int.from_bytes(stream[pos + 2:pos + 4], "big")
        seg = stream[pos:pos + 2 + seg_len]
        if marker in (0xDB, 0xC4):  # DQT / DHT
            tables += seg
        else:
            rest += seg
        pos += 2 + seg_len
    tables += b"\xff\xd9"
    return bytes(tables), bytes(rest)


def _encode_tiff_jpeg(
    px: np.ndarray,
    byte_order: str,
    rows_per_strip: int | None,
    tile_wh: tuple[int, int] | None,
    jpeg_tables: bool,
) -> bytes:
    """New-style JPEG-in-TIFF writer (Compression 7): each
    strip/tile is an independent baseline JPEG stream (edge tiles
    edge-padded to the full extent); ``jpeg_tables`` externalizes
    the shared DQT/DHT into the JPEGTables tag."""
    if px.dtype == np.uint16:
        raise ValueError("JPEG-in-TIFF fixture is 8-bit only")
    gray = px.ndim == 2
    h, w = px.shape[:2]
    spp = 1 if gray else px.shape[2]
    bo = "little" if byte_order == "II" else "big"

    def block(sub: np.ndarray) -> bytes:
        return encode_jpeg(sub if not gray else sub)

    blocks = []
    tags = [
        (0x0100, 4, [w]),
        (0x0101, 4, [h]),
        (0x0102, 3, [8] * spp),
        (0x0103, 3, [7]),
        (0x0106, 3, [1 if gray else 2]),
        (0x0115, 3, [spp]),
    ]
    if tile_wh is not None:
        twd, thd = tile_wh
        if twd % 16 or thd % 16 or twd <= 0 or thd <= 0:
            raise ValueError(
                "tile dimensions must be positive multiples of 16"
            )
        for ty in range(0, h, thd):
            for tx in range(0, w, twd):
                sub = px[ty:ty + thd, tx:tx + twd]
                pad_h = thd - sub.shape[0]
                pad_w = twd - sub.shape[1]
                if pad_h or pad_w:
                    widths = [(0, pad_h), (0, pad_w)]
                    if not gray:
                        widths.append((0, 0))
                    sub = np.pad(sub, widths, mode="edge")
                blocks.append(block(sub))
        tags += [(0x0142, 4, [twd]), (0x0143, 4, [thd])]
    else:
        rps = rows_per_strip or h
        for r in range(0, h, rps):
            blocks.append(block(px[r:r + rps]))
        tags.append((0x0116, 4, [rps]))
    if jpeg_tables:
        tbl0, first = _split_jpeg_tables(blocks[0])
        out_blocks = [first]
        for b_ in blocks[1:]:
            tbl_i, rest = _split_jpeg_tables(b_)
            if tbl_i != tbl0:
                raise AssertionError(
                    "fixture strips disagree on JPEG tables"
                )
            out_blocks.append(rest)
        blocks = out_blocks
        tags.append((0x015B, 7, tbl0))
    return _tiff_container(
        byte_order, bo, blocks, tags, tiled=tile_wh is not None
    )


def _tiff_container(
    byte_order: str, bo: str, strips: list[bytes],
    tags: list[tuple], tiled: bool = False,
) -> bytes:
    """Serialize header + IFD + value heap + strip/tile data (shared
    by the grayscale/RGB and the G4 bilevel writers)."""
    n_entries = len(tags) + 2  # + offsets + byte counts
    ifd_off = 8
    ifd_size = 2 + 12 * n_entries + 4
    heap = bytearray()
    heap_off = ifd_off + ifd_size

    def entry(tag: int, typ: int, vals) -> bytes:
        if typ == 7:  # UNDEFINED: raw bytes, count = byte length
            raw = bytes(vals)
        else:
            sz = {3: 2, 4: 4}[typ]
            raw = b"".join(v.to_bytes(sz, bo) for v in vals)
        e = tag.to_bytes(2, bo) + typ.to_bytes(2, bo)
        e += len(vals).to_bytes(4, bo)
        if len(raw) <= 4:
            return e + raw.ljust(4, b"\x00")
        off = heap_off + len(heap)
        heap.extend(raw)
        return e + off.to_bytes(4, bo)

    # strip data goes after the value heap; compute offsets in two
    # passes (heap size depends only on the fixed tag list)
    probe_heap_len = 0
    for _tag, typ, vals in tags:
        sz = {3: 2, 4: 4, 7: 1}[typ]
        if len(vals) * sz > 4:
            probe_heap_len += len(vals) * sz
    n_strips = len(strips)
    for _ in range(2):  # offsets + counts arrays if > 4 bytes
        if n_strips * 4 > 4:
            probe_heap_len += n_strips * 4
    data_start = heap_off + probe_heap_len
    offs, pos = [], data_start
    for s in strips:
        offs.append(pos)
        pos += len(s)
    off_tag, cnt_tag = (0x0144, 0x0145) if tiled else (0x0111, 0x0117)
    all_tags = sorted(
        tags + [(off_tag, 4, offs),
                (cnt_tag, 4, [len(s) for s in strips])]
    )
    body = len(all_tags).to_bytes(2, bo)
    for tag, typ, vals in all_tags:
        body += entry(tag, typ, vals)
    body += (0).to_bytes(4, bo)
    assert len(body) == ifd_size and len(heap) == probe_heap_len
    header = byte_order.encode() + (42).to_bytes(2, bo) + ifd_off.to_bytes(4, bo)
    return header + body + bytes(heap) + b"".join(strips)


def _packbits_decode(data: bytes) -> bytes:
    """PackBits (TIFF 6.0 §9, the Macintosh RLE): control byte n —
    0..127 copies n+1 literals, 129..255 (signed -1..-127) repeats
    the next byte 1-n times, 128 is a no-op."""
    out = bytearray()
    i = 0
    while i < len(data):
        n = data[i]
        i += 1
        if n < 128:
            if i + n + 1 > len(data):
                raise ValueError("truncated PackBits literal run")
            out += data[i : i + n + 1]
            i += n + 1
        elif n > 128:
            if i >= len(data):
                raise ValueError("truncated PackBits repeat run")
            out += bytes([data[i]]) * (257 - n)
            i += 1
        # n == 128: no-op per spec
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits fixture encoder: greedy runs (≥3 repeats become a
    repeat run, else literals, both capped at 128)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # measure the repeat run at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 3:
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        # literal run: until the next ≥3 repeat or 128 bytes
        lit = i
        while i < n and i - lit < 128:
            j = i + 1
            while j < n and j - i < 3 and data[j] == data[i]:
                j += 1
            if j - i >= 3:
                break
            i += 1
        out += bytes([i - lit - 1]) + data[lit:i]
    return bytes(out)


# ---------------------------------------------------------------------------
# CCITT Group 4 (ITU-T T.6 MMR) — the compression scanned-document
# corpora actually carry: bitonal fax coding, 2-D only, no EOLs. Each
# row is coded against the reference row above (imaginary all-white
# first reference) with pass / horizontal / vertical modes; the
# horizontal-mode run lengths use the T.4 modified-Huffman tables
# (terminating 0-63 + makeup 64-1728 per colour + shared extended
# makeup 1792-2560). Public specs: ITU-T T.6 §2, T.4 §4.2 tables 2/3.
# Used by TIFF Compression=4 (TIFF 6.0 §11) and PDF /CCITTFaxDecode
# with /K < 0 (ISO 32000 §7.4.6).
# ---------------------------------------------------------------------------

# T.4 table 2: white run lengths → codes (terminating + makeup)
_T4_WHITE = {
    0: "00110101", 1: "000111", 2: "0111", 3: "1000", 4: "1011",
    5: "1100", 6: "1110", 7: "1111", 8: "10011", 9: "10100",
    10: "00111", 11: "01000", 12: "001000", 13: "000011",
    14: "110100", 15: "110101", 16: "101010", 17: "101011",
    18: "0100111", 19: "0001100", 20: "0001000", 21: "0010111",
    22: "0000011", 23: "0000100", 24: "0101000", 25: "0101011",
    26: "0010011", 27: "0100100", 28: "0011000", 29: "00000010",
    30: "00000011", 31: "00011010", 32: "00011011", 33: "00010010",
    34: "00010011", 35: "00010100", 36: "00010101", 37: "00010110",
    38: "00010111", 39: "00101000", 40: "00101001", 41: "00101010",
    42: "00101011", 43: "00101100", 44: "00101101", 45: "00000100",
    46: "00000101", 47: "00001010", 48: "00001011", 49: "01010010",
    50: "01010011", 51: "01010100", 52: "01010101", 53: "00100100",
    54: "00100101", 55: "01011000", 56: "01011001", 57: "01011010",
    58: "01011011", 59: "01001010", 60: "01001011", 61: "00110010",
    62: "00110011", 63: "00110100",
    64: "11011", 128: "10010", 192: "010111", 256: "0110111",
    320: "00110110", 384: "00110111", 448: "01100100",
    512: "01100101", 576: "01101000", 640: "01100111",
    704: "011001100", 768: "011001101", 832: "011010010",
    896: "011010011", 960: "011010100", 1024: "011010101",
    1088: "011010110", 1152: "011010111", 1216: "011011000",
    1280: "011011001", 1344: "011011010", 1408: "011011011",
    1472: "010011000", 1536: "010011001", 1600: "010011010",
    1664: "011000", 1728: "010011011",
}

# T.4 table 3: black run lengths → codes
_T4_BLACK = {
    0: "0000110111", 1: "010", 2: "11", 3: "10", 4: "011",
    5: "0011", 6: "0010", 7: "00011", 8: "000101", 9: "000100",
    10: "0000100", 11: "0000101", 12: "0000111", 13: "00000100",
    14: "00000111", 15: "000011000", 16: "0000010111",
    17: "0000011000", 18: "0000001000", 19: "00001100111",
    20: "00001101000", 21: "00001101100", 22: "00000110111",
    23: "00000101000", 24: "00000010111", 25: "00000011000",
    26: "000011001010", 27: "000011001011", 28: "000011001100",
    29: "000011001101", 30: "000001101000", 31: "000001101001",
    32: "000001101010", 33: "000001101011", 34: "000011010010",
    35: "000011010011", 36: "000011010100", 37: "000011010101",
    38: "000011010110", 39: "000011010111", 40: "000001101100",
    41: "000001101101", 42: "000011011010", 43: "000011011011",
    44: "000001010100", 45: "000001010101", 46: "000001010110",
    47: "000001010111", 48: "000001100100", 49: "000001100101",
    50: "000001010010", 51: "000001010011", 52: "000000100100",
    53: "000000110111", 54: "000000111000", 55: "000000100111",
    56: "000000101000", 57: "000001011000", 58: "000001011001",
    59: "000000101011", 60: "000000101100", 61: "000001011010",
    62: "000001100110", 63: "000001100111",
    64: "0000001111", 128: "000011001000", 192: "000011001001",
    256: "000001011011", 320: "000000110011", 384: "000000110100",
    448: "000000110101", 512: "0000001101100", 576: "0000001101101",
    640: "0000001001010", 704: "0000001001011", 768: "0000001001100",
    832: "0000001001101", 896: "0000001110010", 960: "0000001110011",
    1024: "0000001110100", 1088: "0000001110101", 1152: "0000001110110",
    1216: "0000001110111", 1280: "0000001010010", 1344: "0000001010011",
    1408: "0000001010100", 1472: "0000001010101", 1536: "0000001011010",
    1600: "0000001011011", 1664: "0000001100100", 1728: "0000001100101",
}

# T.4 table 3 continuation: extended makeup codes, common to both
# colours (1792-2560)
_T4_EXT = {
    1792: "00000001000", 1856: "00000001100", 1920: "00000001101",
    1984: "000000010010", 2048: "000000010011", 2112: "000000010100",
    2176: "000000010101", 2240: "000000010110", 2304: "000000010111",
    2368: "000000011100", 2432: "000000011101", 2496: "000000011110",
    2560: "000000011111",
}


_BITREV = bytes(
    int(f"{b:08b}"[::-1], 2) for b in range(256)
)  # per-byte bit reversal for TIFF FillOrder 2


def _t4_decode_maps() -> tuple[dict, dict]:
    """(code-bitstring → run) maps per colour, extended makeups in
    both. Prefix-freeness is asserted once at build (a transcription
    typo that collides two codes fails loudly at import, not by
    decoding garbage)."""
    out = []
    for table in (_T4_WHITE, _T4_BLACK):
        m = {code: run for run, code in table.items()}
        for run, code in _T4_EXT.items():
            m[code] = run
        if len(m) != len(table) + len(_T4_EXT):
            raise AssertionError("duplicate T.4 code")
        codes = sorted(m)
        for i in range(len(codes) - 1):
            if codes[i + 1].startswith(codes[i]):
                raise AssertionError(f"T.4 code {codes[i]} prefixes another")
        out.append(m)
    return out[0], out[1]


_T4_DEC_WHITE, _T4_DEC_BLACK = _t4_decode_maps()
_T4_MAX_CODE_LEN = 14


class _MsbBitWriter:
    """MSB-first bitstring accumulator for the T.6 encoder (the JPEG
    _BitWriter below is (value, length)-oriented; this one takes the
    T.4 code strings directly)."""

    __slots__ = ("buf", "acc", "nbits")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, bits: str) -> None:
        for b in bits:
            self.acc = (self.acc << 1) | (b == "1")
            self.nbits += 1
            if self.nbits == 8:
                self.buf.append(self.acc)
                self.acc = 0
                self.nbits = 0

    def align(self) -> None:
        """Zero-fill to the next byte boundary (T.4 fill bits /
        /EncodedByteAlign row starts)."""
        if self.nbits:
            self.buf.append(self.acc << (8 - self.nbits))
            self.acc = 0
            self.nbits = 0

    def done(self) -> bytes:
        if self.nbits:
            self.buf.append(self.acc << (8 - self.nbits))
        return bytes(self.buf)


def _t4_emit_run(w: _MsbBitWriter, run: int, black: bool) -> None:
    table = _T4_BLACK if black else _T4_WHITE
    while run >= 2624:  # chains of max makeups for very long runs
        w.write(_T4_EXT[2560])
        run -= 2560
    if run >= 64:
        mk = run - run % 64  # largest makeup multiple ≤ run (≤ 2560 here)
        w.write(table[mk] if mk <= 1728 else _T4_EXT[mk])
        run -= mk
    w.write(table[run])


def _row_changes(row) -> list[int]:
    """Positions i where pixel[i] != pixel[i-1] (pixel[-1] = white).
    ``row`` is a boolean sequence, True = black. Changes alternate
    colours starting with white→black."""
    changes = []
    prev = False
    for i, v in enumerate(row):
        if v != prev:
            changes.append(i)
            prev = v
    return changes


def _t4_encode_2d_row(
    bw: _MsbBitWriter, cur: list[int], ref: list[int], w_px: int
) -> None:
    """Encode ONE two-dimensional row (shared by T.6 MMR and T.4
    mixed G3): pass / vertical / horizontal modes against the
    reference row's changing elements."""
    a0, color = -1, False  # start left of the row, white
    while True:
        # a1: first change after a0 (first change at all when a0<0)
        a1 = next((c for c in cur if c > a0), w_px) if a0 >= 0 else (
            cur[0] if cur else w_px
        )
        # b1: first change on ref past a0 with colour opposite the
        # current colour — change parity: even index = →black
        b1 = w_px
        for idx, c in enumerate(ref):
            if (c > a0 or (a0 < 0 and c >= 0)) and (idx % 2 == 0) != color:
                b1 = c
                break
        b2 = next((c for c in ref if c > b1), w_px)
        if b2 < a1:  # pass mode
            bw.write("0001")
            a0 = b2
        elif abs(a1 - b1) <= 3:  # vertical mode
            bw.write(
                {0: "1", 1: "011", 2: "000011", 3: "0000011",
                 -1: "010", -2: "000010", -3: "0000010"}[a1 - b1]
            )
            a0, color = a1, not color
        else:  # horizontal mode: two runs from a0
            a2 = next((c for c in cur if c > a1), w_px)
            start = a0 if a0 >= 0 else 0
            bw.write("001")
            _t4_emit_run(bw, a1 - start, color)
            _t4_emit_run(bw, a2 - a1, not color)
            a0 = a2
        if a0 >= w_px:
            break


def encode_ccitt_g4(black: "np.ndarray") -> bytes:
    """T.6 MMR encoder over a (h, w) boolean black-mask, EOFB
    terminated — the fixture writer for TIFF Compression=4 strips and
    PDF /CCITTFaxDecode (/K -1) streams."""
    h, _w_px = black.shape
    bw = _MsbBitWriter()
    ref: list[int] = []  # imaginary all-white reference row
    for y in range(h):
        cur = _row_changes(black[y])
        _t4_encode_2d_row(bw, cur, ref, black.shape[1])
        ref = cur
    bw.write("000000000001" * 2)  # EOFB
    return bw.done()


def _t4_take_run(bits: str, pos: int, black: bool) -> tuple[int, int]:
    """Decode one T.4 run (makeups accumulate until a terminating
    code). Returns (run, new_pos)."""
    table = _T4_DEC_BLACK if black else _T4_DEC_WHITE
    total = 0
    while True:
        for ln in range(2, _T4_MAX_CODE_LEN + 1):
            run = table.get(bits[pos : pos + ln])
            if run is not None:
                pos += ln
                total += run
                if run < 64:
                    return total, pos
                break
        else:
            raise ValueError("unrecognized T.4 run-length code")


def _t4_decode_2d_row(
    bits: str, pos: int, ref: list[int], width: int
) -> tuple[list[int], int]:
    """Decode ONE two-dimensional row (shared by T.6 MMR and T.4
    mixed G3) against the reference row's changing elements.
    Returns (changing elements < width, new_pos)."""
    cur: list[int] = []
    a0, color = -1, False
    while True:
        mode = None
        for code, m in (
            ("1", "v0"), ("011", "vr1"), ("010", "vl1"), ("001", "h"),
            ("0001", "p"), ("000011", "vr2"), ("000010", "vl2"),
            ("0000011", "vr3"), ("0000010", "vl3"),
        ):
            if bits.startswith(code, pos):
                pos += len(code)
                mode = m
                break
        if mode is None:
            if bits.startswith("0000001", pos):
                raise NotImplementedError("T.6 2-D extension code")
            raise ValueError("unrecognized T.6 mode code")
        if mode == "p":
            b1 = width
            for idx, c in enumerate(ref):
                if (c > a0 or (a0 < 0 and c >= 0)) and (
                    idx % 2 == 0
                ) != color:
                    b1 = c
                    break
            b2 = next((c for c in ref if c > b1), width)
            a0 = b2
        elif mode == "h":
            start = a0 if a0 >= 0 else 0
            r1, pos = _t4_take_run(bits, pos, color)
            r2, pos = _t4_take_run(bits, pos, not color)
            a1 = start + r1
            a2 = a1 + r2
            cur.append(a1)
            cur.append(a2)
            a0 = a2
        else:
            d = {"v0": 0, "vr1": 1, "vr2": 2, "vr3": 3,
                 "vl1": -1, "vl2": -2, "vl3": -3}[mode]
            b1 = width
            for idx, c in enumerate(ref):
                if (c > a0 or (a0 < 0 and c >= 0)) and (
                    idx % 2 == 0
                ) != color:
                    b1 = c
                    break
            a1 = b1 + d
            cur.append(a1)
            a0, color = a1, not color
        if a0 >= width:
            break
    # trim the sentinel width-change pairs horizontal mode appends
    return [c for c in cur if c < width], pos


def _t4_paint_row(rows: "np.ndarray", y: int, cur: list[int]) -> None:
    """Paint a row from its changing elements (black runs between
    even→odd change pairs; an unpaired final change runs to width)."""
    run_start = None
    for i, c in enumerate(cur):
        if i % 2 == 0:
            run_start = c
        else:
            rows[y, run_start:c] = True
    if len(cur) % 2 == 1:
        rows[y, cur[-1] :] = True


def decode_ccitt_g4(data: bytes, width: int, height: int) -> "np.ndarray":
    """T.6 MMR decoder → (height, width) boolean black-mask. Stops
    after ``height`` rows (EOFB optional — PDF /Rows and TIFF
    RowsPerStrip both bound the block; trailing EOFB is consumed when
    present). The 2-D extension escape (T.6 §2.2.4) gates honestly."""
    bits = "".join(f"{byte:08b}" for byte in data)
    pos = 0
    rows = np.zeros((height, width), bool)
    ref: list[int] = []
    for y in range(height):
        cur, pos = _t4_decode_2d_row(bits, pos, ref, width)
        _t4_paint_row(rows, y, cur)
        ref = cur
        if y == height - 1 and bits.startswith("000000000001" * 2, pos):
            pos += 24
    return rows


def encode_ccitt_g3_mixed(
    black: "np.ndarray", *, k: int = 4, byte_align: bool = False
) -> bytes:
    """T.4 §4.2 mixed one/two-dimensional (Group 3 2-D) encoder —
    the fixture writer for TIFF Compression=3 with T4Options bit 0
    and PDF /CCITTFaxDecode ``/K > 0``. Every row is framed by an EOL
    followed by the tag bit (1 = this row is 1-D MH, 0 = 2-D coded
    against the previous row); a 1-D row leads each group of ``k``
    rows, bounding error propagation the way real fax encoders do.
    ``byte_align`` zero-fills before each EOL (/EncodedByteAlign)."""
    if k < 1:
        raise ValueError("T.4 /K must be >= 1 for mixed G3")
    h, w_px = black.shape
    bw = _MsbBitWriter()
    ref: list[int] = []
    for y in range(h):
        if byte_align:
            bw.align()
        bw.write("000000000001")
        one_d = y % k == 0
        bw.write("1" if one_d else "0")
        cur = _row_changes(black[y])
        if one_d:
            prev, color = 0, False
            for c in cur + [w_px]:
                _t4_emit_run(bw, c - prev, color)
                prev, color = c, not color
        else:
            _t4_encode_2d_row(bw, cur, ref, w_px)
        ref = cur
    return bw.done()


def decode_ccitt_g3_mixed(
    data: bytes, width: int, height: int, *, byte_align: bool = False
) -> "np.ndarray":
    """T.4 §4.2 mixed G3 decoder → (height, width) boolean black-mask
    (TIFF Compression=3 + T4Options bit 0, PDF ``/K > 0``): each row
    is an EOL (with optional zero fill), the 1-D/2-D tag bit, then
    either MH runs summing exactly to the width or a 2-D row coded
    against the previous row's changing elements. Stops after
    ``height`` rows; a trailing RTC (six EOL+1 tags) is tolerated."""
    bits = "".join(f"{byte:08b}" for byte in data)
    pos = 0
    rows = np.zeros((height, width), bool)
    ref: list[int] = []
    for y in range(height):
        if byte_align and pos % 8:
            if "1" in bits[pos : pos + (8 - pos % 8)]:
                raise ValueError("nonzero T.4 byte-align fill bits")
            pos += 8 - pos % 8
        one = bits.find("1", pos)
        if one < 0 or one - pos < 11:
            raise ValueError("missing T.4 EOL")
        pos = one + 1
        if pos >= len(bits):
            raise ValueError("T.4 stream ends at the 1-D/2-D tag bit")
        tag = bits[pos]
        pos += 1
        if tag == "1":
            x, color = 0, False
            while x < width:
                run, pos = _t4_take_run(bits, pos, color)
                if x + run > width:
                    raise ValueError("T.4 run overruns the row width")
                if color:
                    rows[y, x : x + run] = True
                x += run
                color = not color
            cur = _row_changes(rows[y])
        else:
            if y == 0:
                raise ValueError(
                    "T.4 2-D tag on the first row (no reference)"
                )
            cur, pos = _t4_decode_2d_row(bits, pos, ref, width)
            _t4_paint_row(rows, y, cur)
        ref = cur
    return rows


def encode_ccitt_mh(
    black: "np.ndarray", *, byte_align: bool = False, eol: bool = False
) -> bytes:
    """T.4 one-dimensional (Modified Huffman) encoder over a (h, w)
    boolean black-mask: each row is an independent sequence of
    alternating white/black run codes starting with white (a row that
    begins black emits white-0 first). ``eol`` prefixes every row
    with the T.4 EOL code (000000000001 — classic G3 framing);
    ``byte_align`` starts every row on a byte boundary (TIFF
    Compression=2 'MH RLE' and PDF /EncodedByteAlign)."""
    h, w_px = black.shape
    bw = _MsbBitWriter()
    for y in range(h):
        if byte_align:
            bw.align()
        if eol:
            bw.write("000000000001")
        changes = _row_changes(black[y]) + [w_px]
        prev, color = 0, False
        for c in changes:
            _t4_emit_run(bw, c - prev, color)
            prev, color = c, not color
    return bw.done()


def decode_ccitt_mh(
    data: bytes,
    width: int,
    height: int,
    *,
    byte_align: bool = False,
    eol: bool = False,
) -> "np.ndarray":
    """T.4 one-dimensional (MH) decoder → (height, width) boolean
    black-mask — Group 3 1-D (PDF /CCITTFaxDecode /K 0, TIFF
    Compression 2/3). With ``eol`` each row is framed by an EOL code,
    optionally preceded by zero fill bits (§4.1.2); with
    ``byte_align`` each row starts on a byte boundary. Runs must sum
    exactly to ``width`` — an overrun means a mis-read code and
    fails loudly."""
    bits = "".join(f"{byte:08b}" for byte in data)
    pos = 0

    def take_run(black: bool) -> int:
        nonlocal pos
        table = _T4_DEC_BLACK if black else _T4_DEC_WHITE
        total = 0
        while True:
            for ln in range(2, _T4_MAX_CODE_LEN + 1):
                run = table.get(bits[pos : pos + ln])
                if run is not None:
                    pos += ln
                    total += run
                    if run < 64:
                        return total
                    break
            else:
                raise ValueError("unrecognized T.4 run-length code")

    rows = np.zeros((height, width), bool)
    for y in range(height):
        if byte_align and pos % 8:
            if "1" in bits[pos : pos + (8 - pos % 8)]:
                raise ValueError("nonzero T.4 byte-align fill bits")
            pos += 8 - pos % 8
        if eol:
            # fill zeros then the EOL's terminating 1 (§4.1.2)
            one = bits.find("1", pos)
            if one < 0 or one - pos < 11:
                raise ValueError("missing T.4 EOL")
            pos = one + 1
        x, color = 0, False
        while x < width:
            run = take_run(color)
            if x + run > width:
                raise ValueError("T.4 run overruns the row width")
            if color:
                rows[y, x : x + run] = True
            x += run
            color = not color
    return rows


def _tiff_lzw_decode(data: bytes) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §7): MSB-first variable-width codes
    starting at 9 bits, ClearCode 256 / EOI 257, and the spec's
    EARLY CHANGE — the width bumps when the NEXT code to add would be
    2^w - 1, one code earlier than GIF's LSB-first variant below."""
    CLEAR, EOI = 256, 257
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    width = 9
    out = bytearray()
    prev: bytes | None = None
    acc = n_bits = 0
    for byte in data:
        acc = (acc << 8) | byte
        n_bits += 8
        while n_bits >= width:
            code = (acc >> (n_bits - width)) & ((1 << width) - 1)
            n_bits -= width
            if code == CLEAR:
                table = table[:258]
                width = 9
                prev = None
                continue
            if code == EOI:
                return bytes(out)
            if prev is None:
                if code > 255:
                    raise ValueError(
                        "TIFF LZW: non-literal first code after clear"
                    )
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise ValueError("TIFF LZW: code beyond table")
            out += entry
            prev = entry
            # early change (§7): the encoder bumps when ITS next free
            # code hits 2^w - 1; the decoder's table lags the encoder
            # by exactly one entry at the same stream position, hence
            # the +1 — so no code value 2^w - 1 is ever read at w bits
            if len(table) + 1 == (1 << width) - 1 and width < 12:
                width += 1
    raise ValueError("TIFF LZW: stream ended without EOI")


def _tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW fixture encoder, the exact inverse of
    :func:`_tiff_lzw_decode`: MSB-first, early change, Clear emitted
    at start and whenever the table reaches 4094 entries (§7)."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    acc = n_bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, n_bits
        acc = (acc << width) | code
        n_bits += width
        while n_bits >= 8:
            out.append((acc >> (n_bits - 8)) & 0xFF)
            n_bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(CLEAR, width)
    prev = b""
    for b in data:
        cur = prev + bytes([b])
        if cur in table:
            prev = cur
            continue
        emit(table[prev], width)
        table[cur] = next_code
        next_code += 1
        # encoder's early change mirrors the decoder: after ADDING
        # code 2^w - 2, the next emitted code uses w+1 bits
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        if next_code == 4094:
            emit(table[bytes([b])], width)
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code = 258
            width = 9
            prev = b""
            continue
        prev = bytes([b])
    if prev:
        emit(table[prev], width)
        # the DECODER adds a table entry for this final code before
        # reading EOI, so its early-change check sees next_code + 1
        # entries — mirror that, else EOI desyncs by one bit width
        # whenever the final data code lands exactly on a 2^w - 1
        # table boundary (latent bug found by r12 tile fuzzing; the
        # strip path could hit it too)
        if next_code + 1 == (1 << width) - 1 and width < 12:
            width += 1
    emit(EOI, width)
    if n_bits:
        out.append((acc << (8 - n_bits)) & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, min_code_size: int) -> list[int]:
    """GIF-flavor LZW: LSB-first variable-width codes, CLEAR resets
    the dictionary, widths grow at dictionary size 2^w (cap 12)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    width = min_code_size + 1
    dictionary: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    out: list[int] = []
    prev: bytes | None = None
    acc = n_bits = 0
    for byte in data:
        acc |= byte << n_bits
        n_bits += 8
        while n_bits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            n_bits -= width
            if code == clear:
                dictionary = dictionary[: clear + 2]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if code < len(dictionary) and code not in (clear, eoi):
                entry = dictionary[code]
            elif code == len(dictionary) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"corrupt LZW stream: code {code}")
            out.extend(entry)
            if prev is not None and len(dictionary) < 4096:
                dictionary.append(prev + entry[:1])
                if len(dictionary) == (1 << width) and width < 12:
                    width += 1
            prev = entry
    return out


_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def decode_gif_frames(
    payload: bytes,
) -> tuple[list[np.ndarray], list[int]]:
    """REAL GIF87a/89a decode of EVERY frame with animation
    compositing: header + color tables + Graphic Control Extensions
    (delay, transparency, disposal) + sub-block reassembly + LZW
    (variable-width, CLEAR/EOI, KwKwK, 12-bit cap) + optional
    deinterlace, frame rects pasted onto the logical-screen canvas.

    Returns ``(frames, delays_cs)``: one full-canvas ``(sh, sw, 3)``
    uint8 array per frame and its delay in centiseconds (0 when no
    GCE). All four disposal methods are implemented: 0/1 (leave),
    2 (restore rect to the background color) and 3 (restore to
    previous — the frame rect reverts to its pre-render content,
    GIF89a §23).
    """
    if payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise ValueError("not a GIF payload")
    sw = int.from_bytes(payload[6:8], "little")
    sh = int.from_bytes(payload[8:10], "little")
    packed = payload[10]
    bg_index = payload[11]
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(payload[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n

    bg_rgb = (
        gct[bg_index] if gct is not None and bg_index < len(gct)
        else np.zeros(3, np.uint8)
    )
    canvas = np.broadcast_to(bg_rgb, (sh, sw, 3)).copy()
    frames: list[np.ndarray] = []
    delays: list[int] = []
    # pending GCE state for the NEXT image descriptor
    delay_cs = 0
    transparent: int | None = None
    disposal = 0
    while pos < len(payload):
        block = payload[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            label = payload[pos + 1]
            pos += 2
            if label == 0xF9:  # Graphic Control Extension
                blen = payload[pos]
                gce = payload[pos + 1 : pos + 1 + blen]
                disposal = (gce[0] >> 2) & 0x07
                delay_cs = int.from_bytes(gce[1:3], "little")
                transparent = gce[3] if gce[0] & 0x01 else None
                if disposal > 3:
                    raise ValueError(
                        f"invalid GIF disposal method {disposal}"
                    )
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unknown GIF block 0x{block:02x}")
        # image descriptor: left, top, width, height, packed
        ix = int.from_bytes(payload[pos + 1 : pos + 3], "little")
        iy = int.from_bytes(payload[pos + 3 : pos + 5], "little")
        iw = int.from_bytes(payload[pos + 5 : pos + 7], "little")
        ih = int.from_bytes(payload[pos + 7 : pos + 9], "little")
        ipacked = payload[pos + 9]
        pos += 10
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            table = np.frombuffer(
                payload[pos : pos + 3 * n], np.uint8
            ).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("GIF frame without a color table")
        min_code = payload[pos]
        pos += 1
        chunks = []
        while payload[pos] != 0:
            ln = payload[pos]
            chunks.append(payload[pos + 1 : pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = np.array(_lzw_decode(b"".join(chunks), min_code), np.int64)
        if idx.size != iw * ih:
            raise ValueError(f"LZW yielded {idx.size} pixels for {iw}x{ih}")
        grid = idx.reshape(ih, iw)
        if ipacked & 0x40:  # deinterlace
            de = np.empty_like(grid)
            src = 0
            for start, step in _INTERLACE_PASSES:
                for r in range(start, ih, step):
                    de[r] = grid[src]
                    src += 1
            grid = de
        rect = canvas[iy : iy + ih, ix : ix + iw]
        # disposal 3: after display, the overwritten area reverts to
        # what was there BEFORE this graphic rendered (GIF89a §23)
        saved = rect.copy() if disposal == 3 else None
        if transparent is not None:
            mask = grid != transparent
            rect[mask] = table[grid[mask]]
        else:
            rect[...] = table[grid]
        frames.append(canvas.copy())
        delays.append(delay_cs)
        if disposal == 2:  # restore the frame rect to background
            canvas[iy : iy + ih, ix : ix + iw] = bg_rgb
        elif disposal == 3:  # restore to previous
            canvas[iy : iy + ih, ix : ix + iw] = saved
        delay_cs, transparent, disposal = 0, None, 0

    if not frames:
        raise ValueError("GIF contains no image frame")
    return frames, delays


def decode_gif(payload: bytes) -> dict[str, Any]:
    """First-frame features + frame count of a (possibly animated)
    GIF — the :func:`decode_netpbm` feature shape. Full per-frame
    access is :func:`decode_gif_frames`."""
    frames, _ = decode_gif_frames(payload)
    first_px = frames[0]
    means = first_px.astype(np.float64).mean(axis=(0, 1))
    return {
        "kind": "image",
        "width": int(first_px.shape[1]),
        "height": int(first_px.shape[0]),
        "n_channels": 3,
        "channel_means": [round(float(m), 4) for m in means],
        "luma_mean": round(
            float(means @ np.array([0.299, 0.587, 0.114])), 4
        ),
        "n_frames": len(frames),
    }


def encode_gif(px: np.ndarray, *, interlace: bool = False) -> bytes:
    """Encode an (h, w, 3) uint8 array as a single-frame GIF89a
    (fixture writer for round-trip tests; ≤256 distinct colors).

    The LZW stream uses the literal-codes-plus-periodic-CLEAR form:
    emitting only root codes and resetting before the decoder's
    dictionary would force a width increase keeps the encoder tiny
    while remaining a fully conformant stream for any decoder.
    """
    h, w = px.shape[:2]
    table, grid = _gif_quantize(px)
    buf = bytearray()
    buf += b"GIF89a"
    buf += w.to_bytes(2, "little") + h.to_bytes(2, "little")
    buf += bytes([0x80 | 0x07, 0, 0])  # GCT present, 256 entries
    buf += table.tobytes()
    buf += _gif_image_block(grid, 0, 0, interlace=interlace)
    buf += b"\x3b"
    return bytes(buf)


def _gif_quantize(px: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(256-entry color table, index grid) for an (h, w, 3) array."""
    h, w = px.shape[:2]
    colors, idx = np.unique(px.reshape(-1, 3), axis=0, return_inverse=True)
    if len(colors) > 256:
        raise ValueError("fixture encoder supports <= 256 colors")
    table = np.zeros((256, 3), np.uint8)
    table[: len(colors)] = colors
    return table, idx.reshape(h, w)


def _gif_image_block(
    grid: np.ndarray,
    ix: int,
    iy: int,
    *,
    interlace: bool = False,
    local_table: np.ndarray | None = None,
) -> bytes:
    """Image descriptor (+ optional local color table) + LZW data
    sub-blocks for one frame's index grid at offset (ix, iy)."""
    ih, iw = grid.shape
    if interlace:
        order = []
        for start, step in _INTERLACE_PASSES:
            order.extend(range(start, ih, step))
        grid = grid[order]
    seq = grid.reshape(-1)

    min_code = 8
    clear, eoi = 256, 257
    width_bits = 9
    codes: list[int] = [clear]
    budget = (1 << width_bits) - (clear + 2) - 2  # literals before widen
    since_clear = 0
    for v in seq:
        if since_clear >= budget:
            codes.append(clear)
            since_clear = 0
        codes.append(int(v))
        since_clear += 1
    codes.append(eoi)

    acc = n_bits = 0
    out = bytearray()
    for c in codes:
        acc |= c << n_bits
        n_bits += width_bits
        while n_bits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            n_bits -= 8
    if n_bits:
        out.append(acc & 0xFF)

    buf = bytearray()
    buf += b"\x2c"
    buf += ix.to_bytes(2, "little") + iy.to_bytes(2, "little")
    buf += iw.to_bytes(2, "little") + ih.to_bytes(2, "little")
    packed = 0x40 if interlace else 0x00
    if local_table is not None:
        packed |= 0x80 | 0x07
    buf += bytes([packed])
    if local_table is not None:
        buf += local_table.tobytes()
    buf += bytes([min_code])
    for i in range(0, len(out), 255):
        chunk = out[i : i + 255]
        buf += bytes([len(chunk)]) + chunk
    buf += b"\x00"
    return bytes(buf)


def encode_gif_animated(
    frames: list[np.ndarray],
    *,
    delays_cs: list[int] | None = None,
    offsets: list[tuple[int, int]] | None = None,
    disposals: list[int] | None = None,
    transparent_color: tuple[int, int, int] | None = None,
    screen: tuple[int, int] | None = None,
) -> bytes:
    """Fixture ANIMATED GIF89a writer: one Graphic Control Extension +
    image block per frame, each with its own LOCAL color table (so
    frames quantize independently). ``offsets[k]`` places frame k's
    rect on the logical screen; ``transparent_color`` pixels are
    written as the transparent index (they show through to the prior
    canvas); ``disposals[k]`` is the GCE disposal method (0/1/2).
    ``screen`` overrides the inferred logical-screen size.
    """
    if not frames:
        raise ValueError("animated GIF needs at least one frame")
    offsets = offsets or [(0, 0)] * len(frames)
    delays_cs = delays_cs or [10] * len(frames)
    disposals = disposals or [0] * len(frames)
    sw = max(ox + f.shape[1] for f, (ox, _) in zip(frames, offsets))
    sh = max(oy + f.shape[0] for f, (_, oy) in zip(frames, offsets))
    if screen is not None:
        sw, sh = screen

    buf = bytearray()
    buf += b"GIF89a"
    buf += sw.to_bytes(2, "little") + sh.to_bytes(2, "little")
    buf += bytes([0x00, 0, 0])  # no global color table
    for f, (ox, oy), delay, disp in zip(frames, offsets, delays_cs, disposals):
        table, grid = _gif_quantize(f)
        tindex = None
        if transparent_color is not None:
            hit = np.nonzero(
                (table == np.array(transparent_color, np.uint8)).all(axis=1)
            )[0]
            if hit.size:
                tindex = int(hit[0])
        gce_packed = (disp & 0x07) << 2
        if tindex is not None:
            gce_packed |= 0x01
        buf += bytes([0x21, 0xF9, 0x04, gce_packed])
        buf += int(delay).to_bytes(2, "little")
        buf += bytes([tindex or 0, 0x00])
        buf += _gif_image_block(grid, ox, oy, local_table=table)
    buf += b"\x3b"
    return bytes(buf)


_DISPATCH = {
    "audio/wav": decode_wav,
    "image/ppm": decode_netpbm,
    "image/pgm": decode_netpbm,
    "image/gif": decode_gif,
}
# "image/jpeg" registers below, after decode_jpeg is defined


def real_decode(payload: bytes, media_type: str) -> dict[str, Any]:
    """Dispatch to a real stdlib kernel; raise for codecs this
    environment genuinely cannot decode (PNG/MP3/MP4 …)."""
    fn = _DISPATCH.get(media_type)
    if fn is None:
        raise NotImplementedError(
            f"no stdlib decoder for {media_type!r}; available: "
            f"{sorted(_DISPATCH)} (PIL/librosa/decord absent here)"
        )
    return fn(payload)


# ---------------------------------------------------------------------------
# Baseline JPEG (ITU-T T.81 sequential DCT) — decoder + fixture encoder,
# stdlib + numpy only. The biggest "real corpus always has it" format:
# marker parse, DQT/DHT tables, canonical Huffman entropy decode with
# byte-stuffing and restart markers, dequantize, 8x8 IDCT (orthonormal
# matrix form), chroma upsampling, YCbCr->RGB. Progressive (SOF2),
# arithmetic coding, and 12-bit precision raise NotImplementedError —
# honestly, like the other kernels' unsupported branches.
# ---------------------------------------------------------------------------

# zigzag[i] = natural (row-major) index of the i-th coefficient in
# zigzag scan order
_ZIGZAG = np.array([
     0,  1,  8, 16,  9,  2,  3, 10,
    17, 24, 32, 25, 18, 11,  4,  5,
    12, 19, 26, 33, 40, 48, 41, 34,
    27, 20, 13,  6,  7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36,
    29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46,
    53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# orthonormal DCT-II matrix: F = _DCT_T @ f @ _DCT_T.T, f = T.T @ F @ T
_DCT_T = np.zeros((8, 8))
for _u in range(8):
    _c = (1.0 / 8.0) ** 0.5 if _u == 0 else (2.0 / 8.0) ** 0.5
    for _x in range(8):
        _DCT_T[_u, _x] = _c * np.cos((2 * _x + 1) * _u * np.pi / 16.0)


def _huff_canonical(counts: list[int], symbols: bytes) -> dict[tuple[int, int], int]:
    """JPEG canonical Huffman: {(length, code): symbol}."""
    table: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(counts[length - 1]):
            table[(length, code)] = symbols[k]
            k += 1
            code += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over a de-stuffed entropy segment.

    Buffered-accumulator form: ``acc`` holds ``nbits`` right-aligned
    unconsumed bits, refilled bytewise, so ``read_bits(n)`` is one
    shift/mask instead of n single-bit reads and :func:`_huff_decode`
    can peek a whole 16-bit window at once. Consumed-bit accounting
    (``bits_read``) and the truncation error are identical to the
    bit-at-a-time form this replaces."""

    __slots__ = ("d", "nd", "pos", "acc", "nbits")

    def __init__(self, data: bytes):
        self.d = data
        self.nd = len(data)
        self.pos = 0      # next byte to pull into acc
        self.acc = 0      # right-aligned unconsumed bits
        self.nbits = 0

    def read_bit(self) -> int:
        nb = self.nbits
        if not nb:
            p = self.pos
            if p >= self.nd:
                raise ValueError("truncated entropy-coded segment")
            self.acc = self.d[p]
            self.pos = p + 1
            nb = 8
        nb -= 1
        b = (self.acc >> nb) & 1
        self.acc &= (1 << nb) - 1
        self.nbits = nb
        return b

    def read_bits(self, n: int) -> int:
        acc, nb = self.acc, self.nbits
        if nb < n:
            d, p, nd = self.d, self.pos, self.nd
            while nb < n:
                if p >= nd:
                    raise ValueError("truncated entropy-coded segment")
                acc = (acc << 8) | d[p]
                p += 1
                nb += 8
            self.pos = p
        nb -= n
        self.nbits = nb
        v = acc >> nb
        self.acc = acc & ((1 << nb) - 1)
        return v

    def bits_read(self) -> int:
        return 8 * self.pos - self.nbits

    def receive_extend(self, s: int) -> int:
        """T.81 EXTEND: s magnitude bits -> signed amplitude."""
        if s == 0:
            return 0
        v = self.read_bits(s)
        return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


# 16-bit-window Huffman LUTs, one per distinct (counts, symbols) DHT
# body seen: slot i (the next 16 bits of stream, zero-padded at EOS)
# -> (code length, symbol). Bounded: real streams carry at most a
# handful of distinct tables; cleared wholesale if an adversarial
# stream parade ever grows it past the cap.
_HUFF_LUT_CACHE: dict[tuple[bytes, bytes], list] = {}


def _huff_lut(counts: list[int], symbols: bytes) -> list:
    key = (bytes(counts), bytes(symbols))
    lut = _HUFF_LUT_CACHE.get(key)
    if lut is None:
        if len(_HUFF_LUT_CACHE) >= 64:
            _HUFF_LUT_CACHE.clear()
        lut = [None] * 65536
        code = 0
        k = 0
        for length in range(1, 17):
            span = 1 << (16 - length)
            for _ in range(counts[length - 1]):
                start = code << (16 - length)
                if start + span > 65536:
                    # overfull DHT: this canonical code overflows its
                    # bit length, so no 16-bit window can reach it —
                    # without this clamp the slice assignment silently
                    # APPENDS past 65536, caching an oversized LUT.
                    # Keep the code/symbol progression (and the
                    # original IndexError on truncated symbol lists)
                    # so reachable entries stay identical.
                    _ = symbols[k]
                    k += 1
                    code += 1
                    continue
                lut[start : start + span] = [(length, symbols[k])] * span
                k += 1
                code += 1
            code <<= 1
        _HUFF_LUT_CACHE[key] = lut
    return lut


def _huff_decode(r: _BitReader, lut: list) -> int:
    """One canonical-Huffman symbol via a single 16-bit peek.

    Exactly the incremental decode it replaces: canonical JPEG codes
    are prefix-free, so the (unique) code matching the next bits is
    the LUT entry at the 16-bit window; a window with no entry after
    16 real bits is the original "invalid code", and a match (or
    miss) extending past the segment end is the original truncation
    error from the bit-at-a-time reader."""
    acc = r.acc
    nb = r.nbits
    if nb < 16:
        d, p, nd = r.d, r.pos, r.nd
        while nb < 16 and p < nd:
            acc = (acc << 8) | d[p]
            p += 1
            nb += 8
        r.pos = p
    ent = lut[(acc >> (nb - 16)) if nb >= 16 else (acc << (16 - nb))]
    if ent is None:
        raise ValueError(
            "invalid Huffman code in entropy segment"
            if nb >= 16
            else "truncated entropy-coded segment"
        )
    length, sym = ent
    if length > nb:
        raise ValueError("truncated entropy-coded segment")
    nb -= length
    r.nbits = nb
    r.acc = acc & ((1 << nb) - 1)
    return sym


def _decode_block_seq(
    r: _BitReader,
    dc_table: list,
    ac_table: list,
    blk: np.ndarray,
    dc_pred: int,
) -> int:
    """One sequential 8x8 block: Huffman decode the quantized
    coefficients into ``blk`` (zigzag order). Dequant/IDCT happen once
    for all blocks at final assembly. Returns the new dc_pred."""
    s = _huff_decode(r, dc_table)
    dc_pred += r.receive_extend(s)
    blk[0] = dc_pred
    k = 1
    while k < 64:
        rs = _huff_decode(r, ac_table)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL: 16 zeros
                k += 16
                continue
            break  # EOB
        k += run
        if k > 63:
            raise ValueError("AC run past end of block")
        blk[k] = r.receive_extend(size)
        k += 1
    return dc_pred


def _decode_dc_prog(
    r: _BitReader,
    dc_table: list | None,
    blk: np.ndarray,
    dc_pred: int,
    ah: int,
    al: int,
) -> int:
    """Progressive DC scan for one block (T.81 G.2): first pass
    (Ah=0) decodes the DC difference at precision Al; refinement
    passes OR in one more magnitude bit (two's complement, so a plain
    bitwise OR is exact for negatives too — same as libjpeg)."""
    if ah == 0:
        if dc_table is None:
            raise ValueError("DC scan without a DC Huffman table")
        s = _huff_decode(r, dc_table)
        dc_pred += r.receive_extend(s)
        blk[0] = dc_pred << al
    elif r.read_bit():
        blk[0] |= 1 << al
    return dc_pred


def _decode_ac_prog_first(
    r: _BitReader,
    ac_table: list,
    blk: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """Progressive AC first pass (Ah=0) for one block's spectral band
    [ss, se]: run/size symbols as in sequential, plus EOBn symbols
    ((r<<4)|0, r<15) coding a run of 2^r + r-extra-bits all-zero-band
    blocks. Returns the remaining eobrun."""
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _huff_decode(r, ac_table)
        run, size = rs >> 4, rs & 0x0F
        if size == 0:
            if run == 15:  # ZRL
                k += 16
                continue
            eobrun = (1 << run) - 1
            if run:
                eobrun += r.read_bits(run)
            break
        k += run
        if k > se:
            raise ValueError("AC run past end of spectral band")
        blk[k] = r.receive_extend(size) << al
        k += 1
    return eobrun


def _decode_ac_prog_refine(
    r: _BitReader,
    ac_table: list,
    blk: np.ndarray,
    ss: int,
    se: int,
    al: int,
    eobrun: int,
) -> int:
    """Progressive AC refinement (Ah>0, T.81 G.2 / figure G.7): every
    already-nonzero coefficient visited consumes one correction bit;
    newly-nonzero coefficients arrive as run/1 symbols with a sign
    bit; EOBn runs still consume correction bits for the nonzero
    history inside the band. Returns the remaining eobrun."""
    p1 = 1 << al
    m1 = -(1 << al)

    # per-coefficient work runs on a plain-int copy of the band (one
    # tolist/write-back per call): ndarray scalar reads in the inner
    # loops cost ~5-10x a list access and dominated the progressive
    # decode profile; the arithmetic is identical (refine adds ±2^al
    # when the correction bit is set and that bit is absent)
    b = blk[ss : se + 1].tolist()
    n = se - ss
    read_bit = r.read_bit
    k = 0
    if eobrun == 0:
        while k <= n:
            rs = _huff_decode(r, ac_table)
            run, size = rs >> 4, rs & 0x0F
            newval = 0
            if size == 0:
                if run < 15:
                    eobrun = 1 << run
                    if run:
                        eobrun += r.read_bits(run)
                    break
                # run == 15: ZRL — skip 16 zero-history coefficients
            else:
                if size != 1:
                    raise ValueError("refinement symbol with size != 1")
                newval = p1 if read_bit() else m1
            while k <= n:
                v = b[k]
                if v != 0:
                    if read_bit() and (v & p1) == 0:
                        b[k] = v + (p1 if v >= 0 else m1)
                else:
                    if run == 0:
                        break
                    run -= 1
                k += 1
            if size != 0:
                if k > n:
                    raise ValueError("refinement run past end of band")
                b[k] = newval
            k += 1
    if eobrun > 0:
        while k <= n:
            v = b[k]
            if v != 0:
                if read_bit() and (v & p1) == 0:
                    b[k] = v + (p1 if v >= 0 else m1)
            k += 1
        eobrun -= 1
    blk[ss : se + 1] = b
    return eobrun


def _decode_jpeg_pixels(payload: bytes) -> np.ndarray:
    """Sequential-baseline AND progressive (SOF2) JPEG decode to a
    ``(h, w, channels)`` uint8 pixel array. Every scan accumulates
    quantized coefficients (zigzag order, per-component block grids);
    dequantization and a single vectorized IDCT over all blocks run
    once at final assembly — which is also what makes multi-scan
    sequential and multi-pass progressive streams decode correctly
    (nothing is lost between SOS segments)."""
    if payload[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG payload")
    pos = 2
    qtables: dict[int, np.ndarray] = {}
    dc_tables: dict[int, list] = {}
    ac_tables: dict[int, list] = {}
    frame = None  # (H, W, comps) comps: (cid, h, v, tq)
    progressive = False
    restart_interval = 0
    # cid -> (blocks_y, blocks_x, 64) int32 quantized coefficients,
    # allocated at SOF on the MCU-padded sampling grid
    coeffs: dict[int, np.ndarray] | None = None
    any_scan = False

    while pos + 1 < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"expected marker at {pos}")
        # T.81 B.1.1.2 permits any number of 0xFF fill bytes before a
        # marker; real encoders emit them for alignment
        while pos + 1 < len(payload) and payload[pos + 1] == 0xFF:
            pos += 1
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue  # standalone markers
        seglen = int.from_bytes(payload[pos : pos + 2], "big")
        seg = payload[pos + 2 : pos + seglen]
        pos += seglen
        if marker == 0xDB:  # DQT — possibly several tables
            sp = 0
            while sp < len(seg):
                pq, tq = seg[sp] >> 4, seg[sp] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit quantization tables")
                qtables[tq] = np.frombuffer(
                    seg[sp + 1 : sp + 65], np.uint8
                ).astype(np.float64)
                sp += 65
        elif marker == 0xC4:  # DHT — possibly several tables
            sp = 0
            while sp < len(seg):
                tc, th = seg[sp] >> 4, seg[sp] & 0x0F
                counts = list(seg[sp + 1 : sp + 17])
                n = sum(counts)
                symbols = seg[sp + 17 : sp + 17 + n]
                tbl = _huff_lut(counts, symbols)
                (dc_tables if tc == 0 else ac_tables)[th] = tbl
                sp += 17 + n
        elif marker in (0xC0, 0xC1, 0xC2):  # baseline / ext seq / progressive
            if seg[0] != 8:
                raise NotImplementedError("only 8-bit precision supported")
            progressive = marker == 0xC2
            H = int.from_bytes(seg[1:3], "big")
            W = int.from_bytes(seg[3:5], "big")
            nc = seg[5]
            comps = []
            for i in range(nc):
                cid = seg[6 + 3 * i]
                hv = seg[7 + 3 * i]
                comps.append((cid, hv >> 4, hv & 0x0F, seg[8 + 3 * i]))
            frame = (H, W, comps)
            h_max = max(c[1] for c in comps)
            v_max = max(c[2] for c in comps)
            mcux = -(-W // (8 * h_max))
            mcuy = -(-H // (8 * v_max))
            coeffs = {
                cid: np.zeros((mcuy * v, mcux * h, 64), dtype=np.int32)
                for cid, h, v, _ in comps
            }
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(f"JPEG SOF 0x{marker:02x} not supported")
        elif marker == 0xDD:
            restart_interval = int.from_bytes(seg[0:2], "big")
        elif marker == 0xDA:  # SOS + entropy-coded data
            if frame is None:
                raise ValueError("SOS before SOF")
            if coeffs is None:
                raise ValueError("SOS before SOF")  # pragma: no cover
            ns = seg[0]
            scan = []  # (cid, dc_id, ac_id)
            for i in range(ns):
                cid = seg[1 + 2 * i]
                tt = seg[2 + 2 * i]
                scan.append((cid, tt >> 4, tt & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            if not progressive:
                ss, se, ah, al = 0, 63, 0, 0  # sequential ignores these
            elif ss > 0 and ns != 1:
                raise ValueError("progressive AC scan must be non-interleaved")
            elif (ss == 0) != (se == 0):
                raise ValueError("progressive scan mixes DC and AC bands")
            # extract de-stuffed entropy segments, split at RSTn
            segments: list[bytearray] = [bytearray()]
            while pos + 1 < len(payload):
                b = payload[pos]
                if b == 0xFF:
                    nxt = payload[pos + 1]
                    if nxt == 0x00:
                        segments[-1].append(0xFF)
                        pos += 2
                        continue
                    if nxt == 0xFF:  # fill byte before a marker
                        pos += 1
                        continue
                    if 0xD0 <= nxt <= 0xD7:
                        segments.append(bytearray())
                        pos += 2
                        continue
                    break  # real marker (EOI …)
                segments[-1].append(b)
                pos += 1

            H, W, comps = frame
            h_max = max(c[1] for c in comps)
            v_max = max(c[2] for c in comps)
            by_id = {c[0]: c for c in comps}
            if ns > 1:
                mcux = -(-W // (8 * h_max))
                n_units = mcux * -(-H // (8 * v_max))
            else:
                # non-interleaved: the component's own ceil(dim/8) block
                # grid, a (possibly strict) top-left subgrid of the
                # MCU-padded coefficient array
                cid0, _, _ = scan[0]
                _, h, v, _ = by_id[cid0]
                cbw = -(-(-(-W * h // h_max)) // 8)
                cbh = -(-(-(-H * v // v_max)) // 8)
                n_units = cbw * cbh

            seg_iter = iter(segments)
            r = _BitReader(bytes(next(seg_iter)))
            dc_pred = {cid: 0 for cid, _, _ in scan}
            eobrun = 0
            for unit in range(n_units):
                if restart_interval and unit and unit % restart_interval == 0:
                    r = _BitReader(bytes(next(seg_iter)))
                    dc_pred = {cid: 0 for cid, _, _ in scan}
                    eobrun = 0
                if ns > 1:
                    my, mx = divmod(unit, mcux)
                    for cid, dci, aci in scan:
                        _, h, v, _ = by_id[cid]
                        for byi in range(v):
                            for bxi in range(h):
                                blk = coeffs[cid][my * v + byi, mx * h + bxi]
                                if progressive:  # interleaved => DC scan
                                    dc_pred[cid] = _decode_dc_prog(
                                        r, dc_tables.get(dci), blk,
                                        dc_pred[cid], ah, al,
                                    )
                                else:
                                    dc_pred[cid] = _decode_block_seq(
                                        r, dc_tables[dci], ac_tables[aci],
                                        blk, dc_pred[cid],
                                    )
                else:
                    cid, dci, aci = scan[0]
                    my, mx = divmod(unit, cbw)
                    blk = coeffs[cid][my, mx]
                    if not progressive:
                        dc_pred[cid] = _decode_block_seq(
                            r, dc_tables[dci], ac_tables[aci],
                            blk, dc_pred[cid],
                        )
                    elif ss == 0:
                        dc_pred[cid] = _decode_dc_prog(
                            r, dc_tables.get(dci), blk, dc_pred[cid], ah, al
                        )
                    elif ah == 0:
                        eobrun = _decode_ac_prog_first(
                            r, ac_tables[aci], blk, ss, se, al, eobrun
                        )
                    else:
                        eobrun = _decode_ac_prog_refine(
                            r, ac_tables[aci], blk, ss, se, al, eobrun
                        )
            any_scan = True

    if frame is None or coeffs is None or not any_scan:
        raise ValueError("JPEG contains no decoded scan")
    H, W, comps = frame
    h_max = max(c[1] for c in comps)
    v_max = max(c[2] for c in comps)
    full = []
    for cid, h, v, tq in comps:
        # dequantize (zigzag order), dezigzag, then one vectorized IDCT
        # over every block of the component at once
        zz = coeffs[cid].astype(np.float64) * qtables[tq][None, None, :]
        nat = np.empty_like(zz)
        nat[..., _ZIGZAG] = zz
        bh_, bw_ = nat.shape[0], nat.shape[1]
        blocks = nat.reshape(bh_, bw_, 8, 8)
        spatial = np.einsum("ua,ijuv,vb->ijab", _DCT_T, blocks, _DCT_T)
        p = spatial.transpose(0, 2, 1, 3).reshape(bh_ * 8, bw_ * 8) + 128.0
        p = np.repeat(np.repeat(p, v_max // v, axis=0), h_max // h, axis=1)
        full.append(p[:H, :W])
    if len(full) == 1:
        px = np.clip(np.round(full[0]), 0, 255)[..., None]
    elif len(full) == 3:
        y, cb, cr = full
        r_ = y + 1.402 * (cr - 128.0)
        g_ = y - 0.344136 * (cb - 128.0) - 0.714136 * (cr - 128.0)
        b_ = y + 1.772 * (cb - 128.0)
        px = np.clip(np.round(np.stack([r_, g_, b_], axis=-1)), 0, 255)
    else:
        raise NotImplementedError(f"{len(full)}-component JPEG not supported")
    return px.astype(np.uint8)


def decode_jpeg(payload: bytes) -> dict[str, Any]:
    """REAL JPEG decode — sequential baseline (SOF0/1, multi-scan
    included) and progressive (SOF2, spectral selection + successive
    approximation): header/DQT/DHT parse, canonical-Huffman entropy
    decode (byte-stuffing, fill bytes, DRI/RST resets, EOB runs),
    dequantize, vectorized 8x8 IDCT, chroma upsample, BT.601
    YCbCr->RGB. Returns the same feature shape as decode_netpbm.
    """
    px = _decode_jpeg_pixels(payload).astype(np.float64)
    means = px.mean(axis=(0, 1))
    return {
        "kind": "image",
        "width": int(px.shape[1]),
        "height": int(px.shape[0]),
        "n_channels": int(px.shape[2]),
        "channel_means": [round(float(m), 4) for m in means],
        "luma_mean": round(
            float(
                means @ np.array([0.299, 0.587, 0.114])
                if px.shape[2] == 3
                else means[0]
            ),
            4,
        ),
    }


class _BitWriter:
    """MSB-first bit writer with JPEG 0xFF byte-stuffing."""

    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.n = 0

    def write(self, value: int, length: int) -> None:
        # whole-field accumulate (same emitted bytes and 0xFF stuffing
        # as the bit-at-a-time form, one call instead of `length`)
        acc = (self.acc << length) | (value & ((1 << length) - 1))
        n = self.n + length
        out = self.out
        while n >= 8:
            n -= 8
            b = (acc >> n) & 0xFF
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        self.acc = acc & ((1 << n) - 1)
        self.n = n

    def flush(self) -> bytes:
        if self.n:
            pad = self.acc << (8 - self.n) | ((1 << (8 - self.n)) - 1)
            self.out.append(pad)
            if pad == 0xFF:
                self.out.append(0x00)
            self.acc = 0
            self.n = 0
        return bytes(self.out)


# fixture Huffman layout: DC categories 0..11 all at code length 4;
# every baseline AC symbol (EOB, ZRL, run 0-15 × size 1-10) at length 8
_FIX_DC_COUNTS = [0, 0, 0, 12] + [0] * 12
_FIX_DC_SYMBOLS = bytes(range(12))
_FIX_AC_SYMBOLS = bytes(
    [0x00, 0xF0] + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_FIX_AC_COUNTS = [0] * 7 + [len(_FIX_AC_SYMBOLS)] + [0] * 8


_HUFF_ENC_CACHE: dict[tuple[bytes, bytes], dict[int, tuple[int, int]]] = {}


def _huff_encode_map(counts: list[int], symbols: bytes) -> dict[int, tuple[int, int]]:
    key = (bytes(counts), bytes(symbols))
    m = _HUFF_ENC_CACHE.get(key)
    if m is None:
        m = {
            sym: (code, length)
            for (length, code), sym in _huff_canonical(counts, symbols).items()
        }
        _HUFF_ENC_CACHE[key] = m
    return m


def _size_cat(v: int) -> int:
    s = 0
    a = abs(v)
    while a:
        a >>= 1
        s += 1
    return s


def _write_coeff(bw: _BitWriter, huff: dict[int, tuple[int, int]], run: int, v: int) -> None:
    s = _size_cat(v)
    if s > 10:
        raise ValueError("fixture encoder: AC amplitude exceeds size 10")
    code, length = huff[(run << 4) | s]
    bw.write(code, length)
    if s:
        bw.write(v if v >= 0 else v + (1 << s) - 1, s)


def encode_jpeg(
    px: np.ndarray,
    *,
    subsample: bool = False,
    restart_interval: int = 0,
    scan_per_component: bool = False,
) -> bytes:
    """Fixture baseline-JPEG encoder: grayscale ``(h, w)`` or RGB
    ``(h, w, 3)`` uint8 → a conformant SOF0 stream with an all-ones
    quantization table (so flat 8×8 tiles round-trip EXACTLY — only
    the DC coefficient is nonzero and it quantizes losslessly) and the
    fixed-length canonical Huffman layout above (exercises real DHT
    parsing). RGB converts BT.601 to YCbCr; ``subsample`` emits 4:2:0
    (2×2-averaged chroma, 4 luma blocks per MCU); ``restart_interval``
    emits DRI + RSTn resets every n MCUs. ``scan_per_component`` emits
    one non-interleaved SOS per component — a legal multi-scan
    SEQUENTIAL stream (T.81 permits it and real encoders emit it),
    which the decoder must accumulate across SOS segments.
    """
    if scan_per_component and (subsample or restart_interval):
        raise ValueError(
            "scan_per_component fixture requires subsample=False and no DRI"
        )
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        comps_px = [px.astype(np.float64)]
        samp = [(1, 1)]
    else:
        pf = px.astype(np.float64)
        r_, g_, b_ = pf[..., 0], pf[..., 1], pf[..., 2]
        y = 0.299 * r_ + 0.587 * g_ + 0.114 * b_
        cb = 128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_
        cr = 128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_
        comps_px = [np.round(y), np.round(cb), np.round(cr)]
        samp = [(2, 2), (1, 1), (1, 1)] if subsample else [(1, 1), (1, 1), (1, 1)]
    h_max = max(s[0] for s in samp)
    v_max = max(s[1] for s in samp)

    # pad each component plane to its MCU-aligned sampling-grid size
    # (edge-replicate), downsampling chroma by block mean if needed
    mcux = -(-w // (8 * h_max))
    mcuy = -(-h // (8 * v_max))
    planes = []
    for p, (sh, sv) in zip(comps_px, samp):
        if (sh, sv) != (h_max, v_max):
            fy, fx = v_max // sv, h_max // sh
            py, pxw = p.shape
            ey, ex = -(-py // fy) * fy, -(-pxw // fx) * fx
            pp = np.pad(p, ((0, ey - py), (0, ex - pxw)), mode="edge")
            p = pp.reshape(ey // fy, fy, ex // fx, fx).mean(axis=(1, 3))
        ty, tx = mcuy * sv * 8, mcux * sh * 8
        p = np.pad(
            p, ((0, ty - p.shape[0]), (0, tx - p.shape[1])), mode="edge"
        )
        planes.append(p - 128.0)

    dc_map = _huff_encode_map(_FIX_DC_COUNTS, _FIX_DC_SYMBOLS)
    ac_map = _huff_encode_map(_FIX_AC_COUNTS, _FIX_AC_SYMBOLS)

    def encode_block(bw: _BitWriter, plane: np.ndarray, y0: int, x0: int, pred: int) -> int:
        f = _DCT_T @ plane[y0 : y0 + 8, x0 : x0 + 8] @ _DCT_T.T
        zz = np.round(f.reshape(-1)[_ZIGZAG]).astype(np.int64)
        diff = int(zz[0]) - pred
        s = _size_cat(diff)
        if s > 11:
            raise ValueError("fixture encoder: DC difference exceeds size 11")
        code, length = dc_map[s]
        bw.write(code, length)
        if s:
            bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
        nz = np.nonzero(zz[1:])[0]
        if nz.size == 0:  # DC-only block (flat tile): straight to EOB
            c, ln = ac_map[0x00]
            bw.write(c, ln)
            return int(zz[0])
        run = 0
        last = int(nz[-1]) + 1  # last nonzero AC index in zz
        for k in range(1, last + 1):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run >= 16:
                c, ln = ac_map[0xF0]
                bw.write(c, ln)
                run -= 16
            _write_coeff(bw, ac_map, run, v)
            run = 0
        if last < 63:
            c, ln = ac_map[0x00]
            bw.write(c, ln)
        return int(zz[0])

    comp_scans: list[bytes] = []  # one entropy chunk per comp (multi-scan)
    chunks: list[bytes] = []
    if scan_per_component:
        for p in planes:
            bw = _BitWriter()
            pred = 0
            for y0 in range(0, p.shape[0], 8):
                for x0 in range(0, p.shape[1], 8):
                    pred = encode_block(bw, p, y0, x0, pred)
            comp_scans.append(bw.flush())
    else:
        bw = _BitWriter()
        preds = [0] * len(planes)
        n_mcus = mcux * mcuy
        for mcu in range(n_mcus):
            if restart_interval and mcu and mcu % restart_interval == 0:
                chunks.append(bw.flush())
                bw = _BitWriter()
                preds = [0] * len(planes)
            my, mx = divmod(mcu, mcux)
            for ci, (p, (sh, sv)) in enumerate(zip(planes, samp)):
                for byi in range(sv):
                    for bxi in range(sh):
                        preds[ci] = encode_block(
                            bw, p, (my * sv + byi) * 8, (mx * sh + bxi) * 8, preds[ci]
                        )
        chunks.append(bw.flush())

    buf = bytearray(b"\xff\xd8")
    buf += b"\xff\xdb" + (2 + 65).to_bytes(2, "big") + b"\x00" + bytes([1] * 64)
    nc = len(planes)
    buf += b"\xff\xc0" + (8 + 3 * nc).to_bytes(2, "big") + bytes([8])
    buf += h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for i, (sh, sv) in enumerate(samp):
        buf += bytes([i + 1, (sh << 4) | sv, 0])
    for cls, counts, syms in (
        (0, _FIX_DC_COUNTS, _FIX_DC_SYMBOLS),
        (1, _FIX_AC_COUNTS, _FIX_AC_SYMBOLS),
    ):
        buf += b"\xff\xc4" + (2 + 1 + 16 + len(syms)).to_bytes(2, "big")
        buf += bytes([cls << 4]) + bytes(counts) + syms
    if restart_interval:
        buf += b"\xff\xdd" + (4).to_bytes(2, "big") + restart_interval.to_bytes(2, "big")
    if scan_per_component:
        for ci, entropy in enumerate(comp_scans):
            buf += b"\xff\xda" + (8).to_bytes(2, "big") + bytes([1, ci + 1, 0x00])
            buf += b"\x00\x3f\x00"
            buf += entropy
    else:
        buf += b"\xff\xda" + (6 + 2 * nc).to_bytes(2, "big") + bytes([nc])
        for i in range(nc):
            buf += bytes([i + 1, 0x00])
        buf += b"\x00\x3f\x00"  # Ss/Se/AhAl for baseline
        for i, ch in enumerate(chunks):
            if i:
                buf += bytes([0xFF, 0xD0 + ((i - 1) % 8)])
            buf += ch
    buf += b"\xff\xd9"
    return bytes(buf)


# progressive fixture AC table: EOBn (r<15), ZRL, and every run/size —
# all at code length 8 (176 codes, prefix-valid)
_FIX_ACP_SYMBOLS = bytes(
    [r << 4 for r in range(15)]
    + [0xF0]
    + [(run << 4) | size for run in range(16) for size in range(1, 11)]
)
_FIX_ACP_COUNTS = [0] * 7 + [len(_FIX_ACP_SYMBOLS)] + [0] * 8


def encode_jpeg_progressive(
    px: np.ndarray, *, dc_al: int = 1, ac_al: int = 2, split: int = 5
) -> bytes:
    """Fixture PROGRESSIVE JPEG encoder (SOF2): grayscale ``(h, w)``
    or RGB ``(h, w, 3)`` uint8, no chroma subsampling, all-ones
    quantization — so the quantized coefficients are byte-identical to
    :func:`encode_jpeg`'s and the two decodes must agree EXACTLY.

    Scan script exercises the full T.81 G.2 machinery: an interleaved
    DC first scan at precision ``dc_al``, per-component AC first scans
    over the split spectral bands [1, split] and [split+1, 63] at
    precision ``ac_al`` (EOB runs across blocks), then successive-
    approximation refinement scans (DC bit planes down to 0; AC
    refinement with correction bits + EOBRUN-carried bits) — the bit
    discipline mirrors libjpeg's encoder, which is the de-facto
    reading of figure G.7.
    """
    gray = px.ndim == 2
    h, w = px.shape[:2]
    if gray:
        comps_px = [px.astype(np.float64)]
    else:
        pf = px.astype(np.float64)
        r_, g_, b_ = pf[..., 0], pf[..., 1], pf[..., 2]
        comps_px = [
            np.round(0.299 * r_ + 0.587 * g_ + 0.114 * b_),
            np.round(128.0 - 0.168736 * r_ - 0.331264 * g_ + 0.5 * b_),
            np.round(128.0 + 0.5 * r_ - 0.418688 * g_ - 0.081312 * b_),
        ]
    bh, bw_ = -(-h // 8), -(-w // 8)
    # quantized zigzag coefficients per component: (bh, bw, 64) int64
    coefs = []
    for p in comps_px:
        p = np.pad(p, ((0, bh * 8 - h), (0, bw_ * 8 - w)), mode="edge") - 128.0
        blocks = p.reshape(bh, 8, bw_, 8).transpose(0, 2, 1, 3)
        f = np.einsum("au,ijuv,bv->ijab", _DCT_T, blocks, _DCT_T)
        coefs.append(
            np.round(f.reshape(bh, bw_, 64)[..., _ZIGZAG]).astype(np.int64)
        )

    dc_map = _huff_encode_map(_FIX_DC_COUNTS, _FIX_DC_SYMBOLS)
    acp_map = _huff_encode_map(_FIX_ACP_COUNTS, _FIX_ACP_SYMBOLS)
    nc = len(coefs)
    scans: list[tuple[bytes, bytes]] = []  # (SOS header bytes, entropy)

    def sos_header(comp_ids: list[int], ss: int, se: int, ah: int, al: int) -> bytes:
        hdr = bytes([len(comp_ids)])
        for cid in comp_ids:
            hdr += bytes([cid, 0x00])
        return hdr + bytes([ss, se, (ah << 4) | al])

    # --- DC first scan: interleaved, precision dc_al -----------------
    bw = _BitWriter()
    preds = [0] * nc
    for my in range(bh):
        for mx in range(bw_):
            for ci in range(nc):
                t = int(coefs[ci][my, mx, 0]) >> dc_al
                diff = t - preds[ci]
                preds[ci] = t
                s = _size_cat(diff)
                code, ln = dc_map[s]
                bw.write(code, ln)
                if s:
                    bw.write(diff if diff >= 0 else diff + (1 << s) - 1, s)
    scans.append((sos_header(list(range(1, nc + 1)), 0, 0, 0, dc_al), bw.flush()))

    # --- AC first scans: per component, split bands, precision ac_al -
    def ac_first(ci: int, ss: int, se: int) -> None:
        bw = _BitWriter()
        eobrun = 0

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun > 0:
                rb = eobrun.bit_length() - 1
                code, ln = acp_map[rb << 4]
                bw.write(code, ln)
                if rb:
                    bw.write(eobrun - (1 << rb), rb)
                eobrun = 0

        for my in range(bh):
            for mx in range(bw_):
                band = coefs[ci][my, mx, ss : se + 1]
                t = np.sign(band) * (np.abs(band) >> ac_al)
                nz = np.nonzero(t)[0]
                if nz.size == 0:
                    eobrun += 1
                    if eobrun == 32767:
                        flush_eob()
                    continue
                flush_eob()
                run = 0
                for idx in range(int(nz[-1]) + 1):
                    v = int(t[idx])
                    if v == 0:
                        run += 1
                        continue
                    while run >= 16:
                        code, ln = acp_map[0xF0]
                        bw.write(code, ln)
                        run -= 16
                    _write_coeff(bw, acp_map, run, v)
                    run = 0
                if int(nz[-1]) < se - ss:
                    eobrun += 1
        flush_eob()
        scans.append((sos_header([ci + 1], ss, se, 0, ac_al), bw.flush()))

    for ci in range(nc):
        ac_first(ci, 1, split)
        ac_first(ci, split + 1, 63)

    # --- DC refinement scans: one bit plane at a time ----------------
    for al in range(dc_al - 1, -1, -1):
        bw = _BitWriter()
        for my in range(bh):
            for mx in range(bw_):
                for ci in range(nc):
                    bw.write((int(coefs[ci][my, mx, 0]) >> al) & 1, 1)
        scans.append((sos_header(list(range(1, nc + 1)), 0, 0, al + 1, al), bw.flush()))

    # --- AC refinement scans (libjpeg bit discipline) -----------------
    def ac_refine(ci: int, ss: int, se: int, al: int) -> None:
        bw = _BitWriter()
        eobrun = 0
        be: list[int] = []  # correction bits owned by the pending EOB run

        def flush_eob() -> None:
            nonlocal eobrun
            if eobrun > 0:
                rb = eobrun.bit_length() - 1
                code, ln = acp_map[rb << 4]
                bw.write(code, ln)
                if rb:
                    bw.write(eobrun - (1 << rb), rb)
                for b in be:
                    bw.write(b, 1)
                be.clear()
            eobrun = 0

        for my in range(bh):
            for mx in range(bw_):
                band = [int(v) for v in coefs[ci][my, mx, ss : se + 1]]
                absv = [abs(v) >> al for v in band]
                eobk = max((i for i, a in enumerate(absv) if a == 1), default=-1)
                run = 0
                br: list[int] = []  # bits since the last emitted symbol
                for i, a in enumerate(absv):
                    if a == 0:
                        run += 1
                        continue
                    while run > 15 and i <= eobk:
                        flush_eob()
                        code, ln = acp_map[0xF0]
                        bw.write(code, ln)
                        run -= 16
                        for b in br:
                            bw.write(b, 1)
                        br = []
                    if a > 1:  # previously nonzero: one correction bit
                        br.append(a & 1)
                        continue
                    flush_eob()
                    code, ln = acp_map[(run << 4) | 1]
                    bw.write(code, ln)
                    bw.write(1 if band[i] >= 0 else 0, 1)
                    for b in br:
                        bw.write(b, 1)
                    br = []
                    run = 0
                if run > 0 or br:
                    eobrun += 1
                    be.extend(br)
                    if eobrun == 32767:
                        flush_eob()
        flush_eob()
        scans.append((sos_header([ci + 1], ss, se, al + 1, al), bw.flush()))

    for al in range(ac_al - 1, -1, -1):
        for ci in range(nc):
            ac_refine(ci, 1, split, al)
            ac_refine(ci, split + 1, 63, al)

    # --- assemble stream ---------------------------------------------
    buf = bytearray(b"\xff\xd8")
    buf += b"\xff\xdb" + (2 + 65).to_bytes(2, "big") + b"\x00" + bytes([1] * 64)
    buf += b"\xff\xc2" + (8 + 3 * nc).to_bytes(2, "big") + bytes([8])
    buf += h.to_bytes(2, "big") + w.to_bytes(2, "big") + bytes([nc])
    for i in range(nc):
        buf += bytes([i + 1, 0x11, 0])
    for cls, counts, syms in (
        (0, _FIX_DC_COUNTS, _FIX_DC_SYMBOLS),
        (1, _FIX_ACP_COUNTS, _FIX_ACP_SYMBOLS),
    ):
        buf += b"\xff\xc4" + (2 + 1 + 16 + len(syms)).to_bytes(2, "big")
        buf += bytes([cls << 4]) + bytes(counts) + syms
    for hdr, entropy in scans:
        buf += b"\xff\xda" + (2 + len(hdr)).to_bytes(2, "big") + hdr
        buf += entropy
    buf += b"\xff\xd9"
    return bytes(buf)


_DISPATCH["image/jpeg"] = decode_jpeg


# ---------------------------------------------------------------------------
# PNG (RFC 2083) — decoder + fixture encoder, stdlib zlib + numpy.
# Chunk walk, IHDR validation, IDAT concat + inflate, per-scanline
# unfilter (None/Sub/Up/Average/Paeth), palette expansion, Adam7
# interlace (each pass is its own filtered sub-image). Lossless, so
# decode reproduces source pixels EXACTLY — the easiest closed-form
# oracle of all the image kernels. Every legal depth is implemented:
# 8/16-bit for all color types plus 1/2/4-bit grayscale and palette
# (MSB-first packed scanlines, filter distance one byte).
# ---------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}
#: Adam7 pass grid: (x0, y0, dx, dy)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    return b if pb <= pc else c


def _unfilter_lines(
    raw: bytes, offset: int, h: int, stride: int, ch: int
) -> tuple[np.ndarray, int]:
    """Unfilter ``h`` scanlines of ``stride`` bytes starting at
    ``offset`` in the inflated stream; returns (rows[h, stride], next
    offset)."""
    out = np.zeros((h, stride), np.uint8)
    prev = bytearray(stride)
    pos = offset
    for y in range(h):
        if pos + 1 + stride > len(raw):
            raise ValueError("PNG pixel data length mismatch")
        ftype = raw[pos]
        line = bytearray(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        if ftype == 1:  # Sub
            for i in range(ch, stride):
                line[i] = (line[i] + line[i - ch]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = prev[i - ch] if i >= ch else 0
                line[i] = (line[i] + _paeth(a, prev[i], c)) & 0xFF
        elif ftype != 0:
            raise ValueError(f"invalid PNG filter type {ftype}")
        out[y] = line
        prev = line
    return out, pos


def _filter_lines(flat: np.ndarray, ch: int) -> bytearray:
    """Filter scanlines (rows of a [h, stride] int array), cycling all
    five filter types by row — the encoder half of _unfilter_lines."""
    h, stride = flat.shape
    raw = bytearray()
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        line = flat[y]
        ftype = y % 5
        enc = bytearray(stride)
        if ftype == 0:
            enc = bytearray(int(v) & 0xFF for v in line)
        elif ftype == 1:  # Sub
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                enc[i] = int(line[i] - a) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                enc[i] = int(line[i] - prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                enc[i] = int(line[i] - ((a + prev[i]) >> 1)) & 0xFF
        else:  # Paeth
            for i in range(stride):
                a = line[i - ch] if i >= ch else 0
                c = int(prev[i - ch]) if i >= ch else 0
                enc[i] = int(line[i] - _paeth(int(a), int(prev[i]), c)) & 0xFF
        raw.append(ftype)
        raw += enc
        prev = line
    return raw


def decode_png(payload: bytes) -> dict[str, Any]:
    """REAL PNG decode: chunk parse, zlib inflate, scanline unfilter
    (all five filter types, byte-distance = bytes-per-pixel per RFC
    2083 §6.2 — which is what makes the same unfilter code exact for
    8- AND 16-bit depths), palette expansion, big-endian 16-bit sample
    reassembly. Returns the same feature shape as decode_netpbm;
    means are in NATIVE sample units (0..255 or 0..65535)."""
    import zlib

    if payload[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload")
    pos = 8
    ihdr = None
    plte = None
    idat = bytearray()
    while pos + 8 <= len(payload):
        ln = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + ln]
        pos += 12 + ln  # length + type + data + crc
        if typ == b"IHDR":
            w = int.from_bytes(data[0:4], "big")
            h = int.from_bytes(data[4:8], "big")
            depth, ctype, comp, filt, ilace = data[8:13]
            if ctype not in _PNG_CHANNELS:
                raise ValueError(f"invalid PNG color type {ctype}")
            if depth in (1, 2, 4):
                # RFC 2083 §4.1.1: sub-byte depths are legal only for
                # grayscale and palette images
                if ctype not in (0, 3):
                    raise ValueError(
                        f"{depth}-bit PNG invalid for color type {ctype}"
                    )
            elif depth not in (8, 16):
                raise ValueError(f"invalid PNG bit depth {depth}")
            if ctype == 3 and depth == 16:
                raise ValueError("palette PNG cannot be 16-bit")
            if comp != 0 or filt != 0:
                raise ValueError("invalid PNG compression/filter method")
            if ilace not in (0, 1):
                raise ValueError(f"invalid PNG interlace method {ilace}")
            ihdr = (w, h, ctype, ilace, depth)
        elif typ == b"PLTE":
            plte = np.frombuffer(data, np.uint8).reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if ihdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, ctype, ilace, depth = ihdr
    ch = _PNG_CHANNELS[ctype]
    # filter byte-distance (RFC 2083 §6.2): ch * depth / 8 rounded UP
    # to 1 — sub-byte depths filter at distance one whole byte
    bpp = max(1, (ch * depth) // 8)

    def rowbytes(pw: int) -> int:
        """Packed scanline length: ceil(pw * ch * depth / 8)."""
        return (pw * ch * depth + 7) // 8

    def to_px(rows: np.ndarray, ph: int, pw: int) -> np.ndarray:
        """Unfiltered byte rows → (ph, pw, ch) sample array: uint8
        passthrough, big-endian pair reassembly at depth 16, MSB-first
        bit unpack at depths 1/2/4 (native 0..2^depth−1 units)."""
        if depth < 8:
            bits = np.unpackbits(rows, axis=1)[:, : pw * depth]
            weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint8)
            vals = bits.reshape(ph, pw, depth) @ weights
            return vals.astype(np.uint8).reshape(ph, pw, 1)
        if depth == 8:
            return rows.reshape(ph, pw, ch)
        wide = (rows[:, 0::2].astype(np.uint16) << 8) | rows[:, 1::2]
        return wide.reshape(ph, pw, ch)

    raw = zlib.decompress(bytes(idat))
    if ilace == 0:
        rows, pos = _unfilter_lines(raw, 0, h, rowbytes(w), bpp)
        if pos != len(raw):
            raise ValueError("PNG pixel data length mismatch")
        px = to_px(rows, h, w)
    else:  # Adam7: seven independently-filtered sub-images
        px = np.zeros((h, w, ch), np.uint8 if depth <= 8 else np.uint16)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (w - x0 + dx - 1) // dx
            ph = (h - y0 + dy - 1) // dy
            if pw <= 0 or ph <= 0:
                continue
            rows, pos = _unfilter_lines(raw, pos, ph, rowbytes(pw), bpp)
            px[y0::dy, x0::dx] = to_px(rows, ph, pw)
        if pos != len(raw):
            raise ValueError("PNG pixel data length mismatch")
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        px = plte[px[..., 0]]
        ch = 3
    means = px.astype(np.float64).mean(axis=(0, 1))
    luma = (
        float(means[:3] @ np.array([0.299, 0.587, 0.114]))
        if ch >= 3
        else float(means[0])
    )
    return {
        "kind": "image",
        "width": int(w),
        "height": int(h),
        "n_channels": int(px.shape[2]),
        "channel_means": [round(float(m), 4) for m in means],
        "luma_mean": round(luma, 4),
    }


def encode_png(
    px: np.ndarray,
    *,
    interlace: bool = False,
    depth: int | None = None,
    palette: np.ndarray | None = None,
) -> bytes:
    """Fixture PNG encoder: gray ``(h, w)``, RGB ``(h, w, 3)`` or RGBA
    ``(h, w, 4)``; uint8 writes depth 8, uint16 writes depth 16
    (big-endian sample bytes, filters over the byte stream with the
    bytes-per-pixel distance). ``depth`` of 1/2/4 packs grayscale or
    palette samples MSB-first into scanline bytes (RFC 2083 §2.3);
    ``palette`` (n, 3) switches to color type 3 with ``px`` holding
    indices. Scanlines cycle through all five filter types (row % 5)
    so a decoder must implement every unfilter path; the stream stays
    losslessly exact regardless of filter choice. ``interlace`` writes
    Adam7 (seven independently-filtered passes)."""
    import zlib

    if px.ndim == 2:
        px = px[..., None]
    h, w, ch = px.shape
    if palette is not None:
        if ch != 1:
            raise ValueError("palette PNG needs (h, w) index input")
        ctype = 3
    else:
        ctype = {1: 0, 3: 2, 4: 6}[ch]
    if depth is None:
        depth = 16 if px.dtype == np.uint16 else 8
    if depth < 8 and ch != 1:
        raise ValueError(f"{depth}-bit PNG invalid for {ch} channels")
    if depth < 8 and int(px.max(initial=0)) >= (1 << depth):
        raise ValueError(f"sample out of range for {depth}-bit PNG")
    bpp = max(1, (ch * depth) // 8)

    def byte_rows(sub: np.ndarray) -> np.ndarray:
        """(ph, pw, ch) samples → (ph, rowbytes) filter-input bytes."""
        ph, pw = sub.shape[0], sub.shape[1]
        if depth < 8:
            shifts = np.arange(depth - 1, -1, -1)
            bits = (sub.reshape(ph, pw, 1) >> shifts) & 1
            packed = np.packbits(
                bits.reshape(ph, pw * depth).astype(np.uint8), axis=1
            )  # pads the final byte with zero bits, per spec
            return packed.astype(np.int64)
        if depth == 8:
            return sub.reshape(ph, pw * ch).astype(np.int64)
        b = np.ascontiguousarray(sub.astype(">u2")).view(np.uint8)
        return b.reshape(ph, pw * bpp).astype(np.int64)

    if interlace:
        raw = bytearray()
        for x0, y0, dx, dy in _ADAM7:
            sub = px[y0::dy, x0::dx]
            if sub.shape[0] == 0 or sub.shape[1] == 0:
                continue
            raw += _filter_lines(byte_rows(sub), bpp)
    else:
        raw = _filter_lines(byte_rows(px), bpp)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            len(data).to_bytes(4, "big")
            + typ
            + data
            + zlib.crc32(typ + data).to_bytes(4, "big")
        )

    ihdr = (
        w.to_bytes(4, "big")
        + h.to_bytes(4, "big")
        + bytes([depth, ctype, 0, 0, 1 if interlace else 0])
    )
    plte = (
        chunk(b"PLTE", np.ascontiguousarray(palette, np.uint8).tobytes())
        if palette is not None
        else b""
    )
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + plte
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


_DISPATCH["image/png"] = decode_png


def wav_spectral_features(payload: bytes) -> dict[str, Any]:
    """REAL DSP features from a PCM WAV payload: zero-crossing count
    (sign changes between consecutive mono samples) and the dominant
    frequency via an actual numpy rFFT bin argmax (DC excluded,
    lowest-bin tie-break). For a square wave whose period divides the
    sample count both are CLOSED FORMS of the construction — the
    fundamental strictly dominates the 1/k-decaying harmonics and the
    energy sits exactly on the harmonic bins — which is what makes
    the driver-gate oracle possible.
    """
    with wave.open(io.BytesIO(payload), "rb") as wf:
        n_channels = wf.getnchannels()
        rate = wf.getframerate()
        sampwidth = wf.getsampwidth()
        n_frames = wf.getnframes()
        raw = wf.readframes(n_frames)
    if sampwidth != 2:
        raise NotImplementedError("spectral features expect 16-bit PCM")
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if n_channels > 1:
        x = x.reshape(-1, n_channels).mean(axis=1)
    x = x / 32768.0
    zc = int(np.sum(np.sign(x[1:]) != np.sign(x[:-1]))) if x.size > 1 else 0
    if x.size >= 2:
        mag = np.abs(np.fft.rfft(x))
        k = int(np.argmax(mag[1:])) + 1  # DC excluded; argmax = lowest tie
        dom = k * rate / x.size
    else:
        dom = 0.0
    return {
        "kind": "audio",
        "sample_rate": rate,
        "n_samples": int(x.size),
        "zero_crossings": zc,
        "dominant_freq_hz": round(float(dom), 4),
        "rms": round(float(np.sqrt(np.mean(x**2))) if x.size else 0.0, 6),
        "peak": round(float(np.max(np.abs(x))) if x.size else 0.0, 6),
    }


def audio_fingerprint64(payload: bytes, *, n_peaks: int = 8) -> int:
    """63-bit audio content fingerprint from the spectral-peak
    constellation (the Shazam-family idea reduced to a whole-clip
    signature): rFFT magnitudes → the ``n_peaks`` strongest non-DC
    bins (ties to the lower bin) → their frequencies in Hz rounded to
    the nearest integer → md5 of the sorted frequency list, folded to
    63 bits.

    Invariances that make it a DEDUP key where byte hashing fails:
    amplitude scaling (peak RANKING is scale-free), clip length /
    repetition count (frequencies, not bin indices, enter the hash —
    a clip looped twice doubles every bin index but keeps every
    frequency), and phase shifts (magnitude spectrum only). Distinct
    pitch classes produce distinct peak sets and therefore distinct
    fingerprints (pinned by test for the gate-query classes).
    """
    import hashlib

    with wave.open(io.BytesIO(payload), "rb") as wf:
        n_channels = wf.getnchannels()
        rate = wf.getframerate()
        if wf.getsampwidth() != 2:
            raise NotImplementedError("fingerprint expects 16-bit PCM")
        raw = wf.readframes(wf.getnframes())
    x = np.frombuffer(raw, dtype="<i2").astype(np.float64)
    if n_channels > 1:
        x = x.reshape(-1, n_channels).mean(axis=1)
    if x.size < 2:
        return 0
    mag = np.abs(np.fft.rfft(x))[1:]  # DC excluded
    # only REAL peaks may enter the hash: bins below 0.1% of the max
    # are numeric noise whose ranking flips with amplitude/length/
    # phase — exactly the instability a fingerprint must not have
    mag = np.where(mag >= mag.max() * 1e-3, mag, 0.0)
    k = min(n_peaks, mag.size)
    # argsort descending with lower-bin tie-break: stable sort on -mag
    order = [b for b in np.argsort(-mag, kind="stable")[:k] if mag[b] > 0]
    freqs = sorted(round(float((b + 1) * rate / x.size)) for b in order)
    digest = hashlib.md5(",".join(map(str, freqs)).encode()).digest()
    return int.from_bytes(digest[:8], "big") >> 1  # 63 bits, like phash


# ---------------------------------------------------------------------------
# Perceptual image hash (pHash, DCT variant) — the industry-standard
# image near-dup primitive: resize to 32×32 grayscale, 2-D DCT, keep
# the 8×8 low-frequency block, threshold each AC coefficient against
# the block median → a 63-bit fingerprint that survives re-encoding
# and resizing (what byte-level hashing cannot do for images).
#
# Every sum in the block is correctly rounded (math.fsum over IEEE
# products) and the DCT table comes from math.cos, so no BLAS kernel
# or SIMD dispatch picked per CPU enters the hash: identical pixels
# give one hash on every platform. A coefficient that TIES with the
# median in exact arithmetic still sets its bit by rounding, not by
# image content. Images that differ only by a constant brightness
# share every AC coefficient, and on the 16×16 ramp 7c + 3i + 5j
# 55 of the 63 coefficients sit exactly on the median (24 with an
# added ⌊ij/3⌋ term). Such bits are fixed, but a re-encode flips them
# freely; fixtures that need a margin between classes pick classes
# whose coefficients all sit well away from the median.
# ---------------------------------------------------------------------------

_DCT_T32 = np.zeros((32, 32))
for _u in range(32):
    _c32 = (1.0 / 32.0) ** 0.5 if _u == 0 else (2.0 / 32.0) ** 0.5
    for _x in range(32):
        _DCT_T32[_u, _x] = _c32 * math.cos((2 * _x + 1) * _u * math.pi / 64.0)


def _dct_low8(small: np.ndarray) -> np.ndarray:
    """8×8 low-frequency block of the orthonormal 2-D DCT of a 32×32
    float64 array: ``T[:8] @ small @ T[:8].T`` with every sum
    correctly rounded, so the result depends on the inputs alone."""
    t8 = _DCT_T32[:8]
    cols = (t8[:, :, None] * small[None, :, :]).transpose(0, 2, 1)
    half = np.array([[math.fsum(p) for p in r] for r in cols.tolist()])
    prods = half[:, None, :] * t8[None, :, :]
    return np.array([[math.fsum(p) for p in r] for r in prods.tolist()])


def phash64(px: np.ndarray) -> int:
    """63-bit perceptual hash of a grayscale/RGB uint8 pixel array.

    Nearest-neighbor resize to 32×32 (same index arithmetic as
    resize_netpbm), BT.601 luma for color inputs, orthonormal 2-D DCT,
    8×8 low-frequency block, DC dropped, bit i set iff coefficient i
    exceeds the 63-coefficient median. Identical pixels → identical
    hash on every platform: the block's sums are correctly rounded
    (no BLAS), and there is no RNG. A bit whose coefficient ties with
    the median in exact arithmetic comes from that rounding, not from
    the image (see the section comment above)."""
    if px.ndim == 3 and px.shape[2] >= 3:
        g = (
            0.299 * px[..., 0].astype(np.float64)
            + 0.587 * px[..., 1].astype(np.float64)
            + 0.114 * px[..., 2].astype(np.float64)
        )
    else:
        g = px.reshape(px.shape[0], px.shape[1], -1)[..., 0].astype(np.float64)
    h0, w0 = g.shape
    rows = (np.arange(32) * h0) // 32
    cols = (np.arange(32) * w0) // 32
    small = g[rows][:, cols]
    coeffs = _dct_low8(small).reshape(-1)[1:]  # drop DC
    med = float(np.median(coeffs))
    bits = 0
    for i, c in enumerate(coeffs):
        if c > med:
            bits |= 1 << i
    return bits


def phash_for_payload(payload: bytes, media_type: str) -> int:
    """pHash via the real pixel decoders: netpbm P5/P6 and baseline
    JPEG (other media types raise like real_decode does)."""
    if media_type in ("image/pgm", "image/ppm"):
        _, _, _, _, px = _parse_netpbm(payload)
        return phash64(px)
    if media_type == "image/jpeg":
        return phash64(_decode_jpeg_pixels(payload))
    raise NotImplementedError(
        f"no pixel decoder for {media_type!r} (pgm/ppm/jpeg supported)"
    )


# ---------------------------------------------------------------------------
# MP4 / ISO-BMFF (ISO 14496-12) CONTAINER parsing — the metadata
# layer a video pipeline reads BEFORE any expensive decode: duration,
# track count, codec fourccs, visual dimensions. Box walk only; the
# codec payloads themselves still raise honestly (no decoder here).
# ---------------------------------------------------------------------------

_MP4_CONTAINERS = {b"moov", b"trak", b"mdia", b"minf", b"stbl", b"mvex"}


def _mp4_boxes(data: bytes, start: int, end: int):
    """Yield (type, body_start, body_end) for sibling boxes in
    data[start:end]; 64-bit largesize and size==0 (to-end) handled."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:  # 64-bit largesize
            size = int.from_bytes(data[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:  # box extends to end of enclosing scope
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"invalid MP4 box size at byte {pos}")
        yield typ, body, pos + size
        pos += size


def _mp4_boxes4(data: bytes, start: int, end: int):
    """Like :func:`_mp4_boxes` but also yields the BOX start offset —
    needed by the fragment walk, where ``default-base-is-moof``
    (§8.8.7) anchors sample byte offsets at the first byte of the
    enclosing moof box."""
    pos = start
    while pos + 8 <= end:
        size = int.from_bytes(data[pos : pos + 4], "big")
        typ = data[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            size = int.from_bytes(data[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:
            size = end - pos
        if size < 8 or pos + size > end:
            raise ValueError(f"invalid MP4 box size at byte {pos}")
        yield typ, pos, body, pos + size
        pos += size


# tfhd / trun flag bits and the non-sync sample flag (ISO 14496-12
# §8.8.7 / §8.8.8 / §8.8.3.1)
_TFHD_BASE_DATA_OFFSET = 0x000001
_TFHD_SAMPLE_DESC = 0x000002
_TFHD_DEFAULT_DURATION = 0x000008
_TFHD_DEFAULT_SIZE = 0x000010
_TFHD_DEFAULT_FLAGS = 0x000020
_TFHD_DEFAULT_BASE_IS_MOOF = 0x020000
_TRUN_DATA_OFFSET = 0x000001
_TRUN_FIRST_SAMPLE_FLAGS = 0x000004
_TRUN_SAMPLE_DURATION = 0x000100
_TRUN_SAMPLE_SIZE = 0x000200
_TRUN_SAMPLE_FLAGS = 0x000400
_TRUN_SAMPLE_CTS = 0x000800
_SAMPLE_IS_NON_SYNC = 0x00010000


def parse_mp4_meta(payload: bytes) -> dict[str, Any]:
    """REAL ISO-BMFF box walk: ftyp brand, mvhd timescale/duration,
    per-track tkhd dimensions (16.16 fixed point) and stsd codec
    fourccs. Fragmented files take their duration from mvex/mehd
    (§8.8.2) when the mvhd duration is zero, as DASH/CMAF files
    are; encrypted tracks (enc*) raise honestly; so does a missing
    moov."""
    top = list(_mp4_boxes(payload, 0, len(payload)))
    if not any(t == b"ftyp" for t, _, _ in top):
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    fragmented = any(t == b"moof" for t, _, _ in top)

    brand = ""
    duration_sec = None
    movie_ts = 0
    mehd_duration = None
    tracks: list[dict[str, Any]] = []

    def walk(data: bytes, start: int, end: int, path: tuple[bytes, ...]):
        nonlocal brand, duration_sec, movie_ts, mehd_duration
        for typ, b0, b1 in _mp4_boxes(data, start, end):
            if typ == b"ftyp":
                brand = data[b0 : b0 + 4].decode("latin-1")
            elif typ == b"mvhd":
                version = data[b0]
                if version == 1:
                    ts = int.from_bytes(data[b0 + 20 : b0 + 24], "big")
                    dur = int.from_bytes(data[b0 + 24 : b0 + 32], "big")
                else:
                    ts = int.from_bytes(data[b0 + 12 : b0 + 16], "big")
                    dur = int.from_bytes(data[b0 + 16 : b0 + 20], "big")
                movie_ts = ts
                duration_sec = round(dur / ts, 4) if ts else None
            elif typ == b"mehd":
                version = data[b0]
                mehd_duration = int.from_bytes(
                    data[b0 + 4 : b0 + 12]
                    if version == 1
                    else data[b0 + 4 : b0 + 8],
                    "big",
                )
            elif typ == b"tkhd":
                version = data[b0]
                off = b1 - 8  # width/height are the LAST 8 body bytes
                w = int.from_bytes(data[off : off + 4], "big") / 65536
                h = int.from_bytes(data[off + 4 : off + 8], "big") / 65536
                tracks.append({"width": round(w, 2), "height": round(h, 2)})
                _ = version
            elif typ == b"stsd":
                n = int.from_bytes(data[b0 + 4 : b0 + 8], "big")
                fourccs = []
                pos = b0 + 8
                for _ in range(n):
                    esize = int.from_bytes(data[pos : pos + 4], "big")
                    fourcc = data[pos + 4 : pos + 8].decode("latin-1")
                    if fourcc.startswith("enc"):
                        raise NotImplementedError("encrypted MP4 track")
                    fourccs.append(fourcc)
                    pos += esize
                if tracks:
                    tracks[-1]["codecs"] = fourccs
            if typ in _MP4_CONTAINERS:
                walk(data, b0, b1, path + (typ,))

    walk(payload, 0, len(payload), ())
    if movie_ts == 0 and duration_sec is None:
        raise ValueError("MP4 missing moov/mvhd")
    if fragmented and not duration_sec:
        # DASH/CMAF files carry a zero mvhd duration; the whole-movie
        # duration lives in mvex/mehd (§8.8.2)
        if mehd_duration is None:
            raise NotImplementedError(
                "fragmented MP4 without mehd (duration would need a "
                "full fragment walk — use mp4_sample_table)"
            )
        duration_sec = round(mehd_duration / movie_ts, 4) if movie_ts else None
    return {
        "kind": "video",
        "brand": brand,
        "duration_sec": duration_sec,
        "n_tracks": len(tracks),
        "tracks": tracks,
    }


def _mp4_sample_payload(sample: int, size: int) -> bytes:
    """Deterministic filler for fixture sample ``sample`` (1-based):
    tests slice mdat at the stco/stsz-derived byte range and compare
    against this exact pattern, proving the offsets point at the
    right bytes."""
    return bytes(((sample * 31 + i * 7) & 0xFF) for i in range(size))


def build_mp4(
    *,
    brand: str = "isom",
    timescale: int = 1000,
    duration_ms: int,
    tracks: list[dict[str, Any]],
) -> bytes:
    """Fixture writer: minimal conformant ISO-BMFF with ftyp + moov
    (mvhd + one trak(tkhd + mdia(minf(stbl(stsd)))) per track).
    Track dicts: {"width", "height", "codec"} — plus, optionally, a
    real sample layout (ISO 14496-12 §8.5–8.7):

    * ``sample_sizes``: per-sample byte sizes → stsz (and an mdat
      whose chunks the stco offsets point into)
    * ``sample_delta`` (uniform) or ``sample_deltas`` (per sample)
      → stts, run-length-compressed exactly as the spec stores it
    * ``media_timescale`` → mdhd (defaults to the movie timescale)
    * ``chunks``: samples-per-chunk list (sum == n samples) → stsc
      (run-compressed) + one stco entry per chunk
    * ``keyframes``: 1-based sync-sample list → stss; ``None``/absent
      means NO stss box, which per §8.6.2 declares every sample a
      sync sample
    * ``use_co64``: write 64-bit chunk offsets (§8.7.5 co64) instead
      of stco — what real >4 GiB captures carry

    Chunk offsets in stco are ABSOLUTE file offsets, so moov is built
    twice: once with zeroed offsets to fix the layout, then with the
    real mdat positions patched in (box sizes are offset-independent).
    """

    def box(typ: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    def full(typ: bytes, version: int, body: bytes) -> bytes:
        return box(typ, bytes([version, 0, 0, 0]) + body)

    def u32s(vals: list[int]) -> bytes:
        return b"".join(v.to_bytes(4, "big") for v in vals)

    mvhd = full(
        b"mvhd",
        0,
        (0).to_bytes(8, "big")  # creation/modification
        + timescale.to_bytes(4, "big")
        + duration_ms.to_bytes(4, "big")
        + b"\x00" * 80,  # rate/volume/matrix/next-track boilerplate
    )

    # mdat body: per-track chunk extents (byte lengths), so the second
    # pass can turn them into absolute stco offsets
    mdat_body = bytearray()
    track_chunk_spans: list[list[tuple[int, int]]] = []  # (rel_off, len)
    for t in tracks:
        spans: list[tuple[int, int]] = []
        payloads = t.get("sample_payloads")
        sizes = t.get("sample_sizes") or (
            [len(p) for p in payloads] if payloads else None
        )
        if payloads and t.get("sample_sizes"):
            if [len(p) for p in payloads] != list(t["sample_sizes"]):
                raise ValueError("sample_payloads disagree with sample_sizes")
        if sizes:
            n = len(sizes)
            chunks = t.get("chunks") or [1] * n
            if sum(chunks) != n:
                raise ValueError("chunks must cover every sample")
            s = 1
            for spc in chunks:
                rel = len(mdat_body)
                for _ in range(spc):
                    mdat_body += (
                        payloads[s - 1]
                        if payloads
                        else _mp4_sample_payload(s, sizes[s - 1])
                    )
                    s += 1
                spans.append((rel, len(mdat_body) - rel))
        track_chunk_spans.append(spans)

    def build_moov(mdat_body_start: int) -> bytes:
        traks = b""
        for t, spans in zip(tracks, track_chunk_spans):
            tkhd = full(
                b"tkhd",
                0,
                b"\x00" * 72
                + (int(t["width"] * 65536)).to_bytes(4, "big")
                + (int(t["height"] * 65536)).to_bytes(4, "big"),
            )
            entry = (
                (16).to_bytes(4, "big")
                + t["codec"].encode("latin-1")
                + b"\x00" * 8
            )
            stbl_body = full(b"stsd", 0, (1).to_bytes(4, "big") + entry)
            sizes = t.get("sample_sizes") or (
                [len(p) for p in t["sample_payloads"]]
                if t.get("sample_payloads")
                else None
            )
            if sizes:
                n = len(sizes)
                deltas = t.get("sample_deltas") or [
                    t.get("sample_delta", 100)
                ] * n
                if len(deltas) != n:
                    raise ValueError("sample_deltas length != sample count")
                # stts: run-length (count, delta) exactly as stored
                runs: list[tuple[int, int]] = []
                for d in deltas:
                    if runs and runs[-1][1] == d:
                        runs[-1] = (runs[-1][0] + 1, d)
                    else:
                        runs.append((1, d))
                stbl_body += full(
                    b"stts",
                    0,
                    u32s([len(runs)])
                    + u32s([v for run in runs for v in run]),
                )
                keyframes = t.get("keyframes")
                if keyframes is not None:
                    stbl_body += full(
                        b"stss",
                        0,
                        u32s([len(keyframes)]) + u32s(sorted(keyframes)),
                    )
                # stsc: (first_chunk, samples_per_chunk, sdi) runs
                chunks = t.get("chunks") or [1] * n
                centries: list[tuple[int, int, int]] = []
                for ci, spc in enumerate(chunks, start=1):
                    if not centries or centries[-1][1] != spc:
                        centries.append((ci, spc, 1))
                stbl_body += full(
                    b"stsc",
                    0,
                    u32s([len(centries)])
                    + u32s([v for e in centries for v in e]),
                )
                stbl_body += full(
                    b"stsz", 0, u32s([0, n]) + u32s(list(sizes))
                )
                if t.get("use_co64"):
                    stbl_body += full(
                        b"co64",
                        0,
                        u32s([len(spans)])
                        + b"".join(
                            (mdat_body_start + rel).to_bytes(8, "big")
                            for rel, _ in spans
                        ),
                    )
                else:
                    stbl_body += full(
                        b"stco",
                        0,
                        u32s([len(spans)])
                        + u32s([mdat_body_start + rel for rel, _ in spans]),
                    )
            mdhd = full(
                b"mdhd",
                0,
                (0).to_bytes(8, "big")
                + t.get("media_timescale", timescale).to_bytes(4, "big")
                + (
                    sum(t.get("sample_deltas") or [])
                    or t.get("sample_delta", 100) * len(sizes or [])
                ).to_bytes(4, "big")
                + b"\x00" * 4,  # language + pre_defined
            )
            minf = box(b"minf", box(b"stbl", stbl_body))
            mdia = box(b"mdia", mdhd + minf)
            traks += box(b"trak", tkhd + mdia)
        return box(b"moov", mvhd + traks)

    ftyp = box(b"ftyp", brand.encode("latin-1") + (0).to_bytes(4, "big"))
    probe = build_moov(0)
    out = ftyp + build_moov(len(ftyp) + len(probe) + 8)
    assert len(out) == len(ftyp) + len(probe)
    if mdat_body:
        out += box(b"mdat", bytes(mdat_body))
    return out


def build_fragmented_mp4(
    *,
    brand: str = "iso5",
    timescale: int = 1000,
    tracks: list[dict[str, Any]],
    fragments: list[dict[str, Any]],
) -> bytes:
    """Fixture writer for DASH/CMAF-style fragmented ISO-BMFF
    (ISO 14496-12 §8.8): ftyp + moov(mvhd + per-track trak with EMPTY
    sample tables + mvex(mehd + trex)) followed by one moof+mdat pair
    per fragment.

    Track dicts: ``track_ID``, ``width``, ``height``, ``codec``,
    ``media_timescale``, and optional trex defaults
    ``trex_duration`` / ``trex_size`` / ``trex_flags``.

    Fragment dicts: ``track_ID``, ``samples`` (list of
    ``{"size", "duration", "sync"}``), plus knobs exercising every
    default-sample chain the parser supports —

    * ``size_source`` / ``duration_source``: ``"trun"`` (per-sample
      fields), ``"tfhd"`` (tfhd default), or ``"trex"`` (fall through
      to the mvex default; values must equal the trex default)
    * ``flags_source``: ``"trun"`` per-sample flags, ``"first"``
      (trun first-sample-flags + tfhd default for the rest — the
      one-sync-per-segment CMAF layout), ``"tfhd"``, or ``"trex"``
    * ``explicit_base``: True writes a 64-bit tfhd base-data-offset
      (absolute file offset of this fragment's mdat body); False uses
      the ``default-base-is-moof`` flag with a trun data-offset
    * ``tfdt``: baseMediaDecodeTime (written as a v1/64-bit tfdt);
      omit for cursor-accumulated decode times
    * ``chained_trafs``: additional traf dicts (``track_ID``,
      ``samples``, optional ``tfdt``) appended to the SAME moof with
      neither a base-data-offset nor default-base-is-moof nor a trun
      data offset — the §8.8.7 implicit inter-traf chaining layout
      (each traf's data starts where the previous traf's ended);
      their sample payloads are appended to the shared mdat in order

    Layout is resolved in one pass because every offset field is
    fixed-width: moofs are built with placeholder offsets to fix
    sizes, then rebuilt with real positions patched in.
    """

    def box(typ: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    def full(typ: bytes, version: int, body: bytes, flags: int = 0) -> bytes:
        return box(
            typ, bytes([version]) + flags.to_bytes(3, "big") + body
        )

    def u32s(vals: list[int]) -> bytes:
        return b"".join(v.to_bytes(4, "big") for v in vals)

    by_id: dict[int, dict[str, Any]] = {}
    for t in tracks:
        by_id[t["track_ID"]] = t
    frag_end: dict[int, int] = {t["track_ID"]: 0 for t in tracks}
    for f in fragments:
        frag_end[f["track_ID"]] = frag_end.get(f["track_ID"], 0) + sum(
            s["duration"] for s in f["samples"]
        )
        for c in f.get("chained_trafs", []):
            frag_end[c["track_ID"]] = frag_end.get(
                c["track_ID"], 0
            ) + sum(s["duration"] for s in c["samples"])
    movie_dur = max(frag_end.values(), default=0)

    mvhd = full(
        b"mvhd",
        0,
        (0).to_bytes(8, "big")
        + timescale.to_bytes(4, "big")
        + (0).to_bytes(4, "big")  # zero, as DASH files carry
        + b"\x00" * 80,
    )
    traks = b""
    trexes = b""
    for t in tracks:
        tkhd = full(
            b"tkhd",
            0,
            b"\x00" * 8
            + t["track_ID"].to_bytes(4, "big")
            + b"\x00" * 52
            + (int(t["width"] * 65536)).to_bytes(4, "big")
            + (int(t["height"] * 65536)).to_bytes(4, "big"),
        )
        entry = (
            (16).to_bytes(4, "big")
            + t["codec"].encode("latin-1")
            + b"\x00" * 8
        )
        # empty sample tables, as fragmented files carry (§8.8.1)
        stbl_body = (
            full(b"stsd", 0, (1).to_bytes(4, "big") + entry)
            + full(b"stts", 0, u32s([0]))
            + full(b"stsc", 0, u32s([0]))
            + full(b"stsz", 0, u32s([0, 0]))
            + full(b"stco", 0, u32s([0]))
        )
        mdhd = full(
            b"mdhd",
            0,
            (0).to_bytes(8, "big")
            + t.get("media_timescale", timescale).to_bytes(4, "big")
            + (0).to_bytes(4, "big")
            + b"\x00" * 4,
        )
        minf = box(b"minf", box(b"stbl", stbl_body))
        traks += box(b"trak", tkhd + box(b"mdia", mdhd + minf))
        trexes += full(
            b"trex",
            0,
            u32s(
                [
                    t["track_ID"],
                    1,  # default_sample_description_index
                    t.get("trex_duration", 0),
                    t.get("trex_size", 0),
                    t.get("trex_flags", 0),
                ]
            ),
        )
    mvex = box(
        b"mvex",
        full(b"mehd", 0, movie_dur.to_bytes(4, "big")) + trexes,
    )
    moov = box(b"moov", mvhd + traks + mvex)
    ftyp = box(b"ftyp", brand.encode("latin-1") + (0).to_bytes(4, "big"))

    def build_moof(
        f: dict[str, Any], seq: int, base_off: int, trun_doff: int
    ) -> bytes:
        samples = f["samples"]
        ssrc = f.get("size_source", "trun")
        dsrc = f.get("duration_source", "trun")
        fsrc = f.get("flags_source", "trun")
        t = by_id[f["track_ID"]]

        def flags_of(s: dict[str, Any]) -> int:
            return 0 if s["sync"] else _SAMPLE_IS_NON_SYNC

        tf_flags = 0
        tf_body = f["track_ID"].to_bytes(4, "big")
        if f.get("explicit_base"):
            tf_flags |= _TFHD_BASE_DATA_OFFSET
            tf_body += base_off.to_bytes(8, "big")
        else:
            tf_flags |= _TFHD_DEFAULT_BASE_IS_MOOF
        if dsrc == "tfhd":
            durs = {s["duration"] for s in samples}
            if len(durs) != 1:
                raise ValueError("tfhd duration_source needs uniform durations")
            tf_flags |= _TFHD_DEFAULT_DURATION
            tf_body += samples[0]["duration"].to_bytes(4, "big")
        elif dsrc == "trex":
            if any(
                s["duration"] != t.get("trex_duration") for s in samples
            ):
                raise ValueError("trex duration_source disagrees with trex")
        if ssrc == "tfhd":
            szs = {s["size"] for s in samples}
            if len(szs) != 1:
                raise ValueError("tfhd size_source needs uniform sizes")
            tf_flags |= _TFHD_DEFAULT_SIZE
            tf_body += samples[0]["size"].to_bytes(4, "big")
        elif ssrc == "trex":
            if any(s["size"] != t.get("trex_size") for s in samples):
                raise ValueError("trex size_source disagrees with trex")
        if fsrc in ("tfhd", "first"):
            # "first": rest-of-run flags come from the tfhd default
            rest = samples[1:] if fsrc == "first" else samples
            fl = {flags_of(s) for s in rest} or {0}
            if len(fl) != 1:
                raise ValueError(
                    f"{fsrc} flags_source needs uniform non-first flags"
                )
            tf_flags |= _TFHD_DEFAULT_FLAGS
            tf_body += fl.pop().to_bytes(4, "big")
        elif fsrc == "trex":
            if any(
                flags_of(s) != t.get("trex_flags") for s in samples
            ):
                raise ValueError("trex flags_source disagrees with trex")
        tfhd = full(b"tfhd", 0, tf_body, tf_flags)

        traf_body = tfhd
        if f.get("tfdt") is not None:
            traf_body += full(
                b"tfdt", 1, f["tfdt"].to_bytes(8, "big")
            )

        tr_flags = 0
        tr_body = len(samples).to_bytes(4, "big")
        if not f.get("explicit_base"):
            tr_flags |= _TRUN_DATA_OFFSET
            tr_body += trun_doff.to_bytes(4, "big", signed=True)
        if fsrc == "first":
            tr_flags |= _TRUN_FIRST_SAMPLE_FLAGS
            tr_body += flags_of(samples[0]).to_bytes(4, "big")
        if dsrc == "trun":
            tr_flags |= _TRUN_SAMPLE_DURATION
        if ssrc == "trun":
            tr_flags |= _TRUN_SAMPLE_SIZE
        if fsrc == "trun":
            tr_flags |= _TRUN_SAMPLE_FLAGS
        for s in samples:
            if dsrc == "trun":
                tr_body += s["duration"].to_bytes(4, "big")
            if ssrc == "trun":
                tr_body += s["size"].to_bytes(4, "big")
            if fsrc == "trun":
                tr_body += flags_of(s).to_bytes(4, "big")
        traf_body += full(b"trun", 0, tr_body, tr_flags)
        trafs = box(b"traf", traf_body)
        # §8.8.7 implicit chaining: additional trafs written with
        # NEITHER base-data-offset NOR default-base-is-moof nor a trun
        # data offset — their data starts where the previous traf's
        # data ended (the multi-track interleave real muxers emit)
        for c in f.get("chained_trafs", []):
            ctfhd = full(b"tfhd", 0, c["track_ID"].to_bytes(4, "big"), 0)
            cbody = ctfhd
            if c.get("tfdt") is not None:
                cbody += full(b"tfdt", 1, c["tfdt"].to_bytes(8, "big"))
            ctr_flags = (
                _TRUN_SAMPLE_DURATION
                | _TRUN_SAMPLE_SIZE
                | _TRUN_SAMPLE_FLAGS
            )
            ctr_body = len(c["samples"]).to_bytes(4, "big")
            for s in c["samples"]:
                ctr_body += s["duration"].to_bytes(4, "big")
                ctr_body += s["size"].to_bytes(4, "big")
                ctr_body += flags_of(s).to_bytes(4, "big")
            cbody += full(b"trun", 0, ctr_body, ctr_flags)
            trafs += box(b"traf", cbody)
        mfhd = full(b"mfhd", 0, seq.to_bytes(4, "big"))
        return box(b"moof", mfhd + trafs)

    out = bytearray(ftyp + moov)
    for seq, f in enumerate(fragments, start=1):
        probe = build_moof(f, seq, 0, 0)
        moof_start = len(out)
        mdat_body_start = moof_start + len(probe) + 8
        moof = build_moof(
            f,
            seq,
            mdat_body_start,  # explicit base → mdat body directly
            len(probe) + 8,  # moof-relative trun data offset
        )
        assert len(moof) == len(probe)
        body = b"".join(
            _mp4_sample_payload(i + 1, s["size"])
            for i, s in enumerate(f["samples"])
        )
        for c in f.get("chained_trafs", []):
            body += b"".join(
                _mp4_sample_payload(i + 1, s["size"])
                for i, s in enumerate(c["samples"])
            )
        out += moof + box(b"mdat", body)
    return bytes(out)


def mp4_sample_table(payload: bytes) -> list[dict[str, Any]]:
    """Expand the ISO-BMFF sample tables into one row per sample —
    the pre-decode layer that gives a video pipeline keyframe byte
    ranges WITHOUT any codec (ISO 14496-12 §8.5.2 stsd, §8.6.1.2
    stts, §8.6.2 stss, §8.7.3 stsz, §8.7.4 stsc, §8.7.5 stco).

    Per sample: ``track`` (0-based), ``sample`` (1-based), ``chunk``
    (1-based), ``dts`` (media-timescale units), ``time_sec``,
    ``offset`` (absolute file offset), ``mdat_offset`` (relative to
    the mdat body — layout-independent, what the closed-form oracle
    checks), ``size``, ``keyframe``.  A missing stss box means every
    sample is a sync sample (spec §8.6.2).  Cross-table
    inconsistencies (stts vs stsz counts, stsc×stco expansion, byte
    ranges escaping mdat) raise — a wrong offset silently read would
    feed garbage bytes to the downstream decoder."""
    top = list(_mp4_boxes(payload, 0, len(payload)))
    if not any(t == b"ftyp" for t, _, _ in top):
        raise ValueError("not an ISO-BMFF payload (no ftyp)")
    mdat = [(b0, b1) for t, b0, b1 in top if t == b"mdat"]
    mdat_start, mdat_end = mdat[0] if mdat else (0, 0)

    def find(data: bytes, start: int, end: int, typ: bytes):
        for t, b0, b1 in _mp4_boxes(data, start, end):
            if t == typ:
                return b0, b1
        return None

    moov = find(payload, 0, len(payload), b"moov")
    if moov is None:
        raise ValueError("MP4 missing moov")
    rows: list[dict[str, Any]] = []
    # per-track metadata the fragment walk needs: track_ID → (0-based
    # index, media timescale, moov-sample count, dts end-of-moov)
    track_meta: list[dict[str, Any]] = []
    track_idx = -1
    for typ, t0, t1 in _mp4_boxes(payload, *moov):
        if typ != b"trak":
            continue
        track_idx += 1
        mdia = find(payload, t0, t1, b"mdia")
        if mdia is None:
            continue
        tkhd = find(payload, t0, t1, b"tkhd")
        track_id = 0
        if tkhd is not None:
            tv = payload[tkhd[0]]
            id_off = tkhd[0] + (20 if tv == 1 else 12)
            track_id = int.from_bytes(payload[id_off : id_off + 4], "big")
        mdhd = find(payload, *mdia, b"mdhd")
        if mdhd is None:
            raise ValueError("track missing mdhd (no media timescale)")
        version = payload[mdhd[0]]
        ts_off = mdhd[0] + 4 + (16 if version == 1 else 8)
        media_ts = int.from_bytes(payload[ts_off : ts_off + 4], "big")
        meta = {
            "index": track_idx,
            "track_id": track_id,
            "media_ts": media_ts,
            "n_samples": 0,
            "dts_end": 0,
        }
        track_meta.append(meta)
        minf = find(payload, *mdia, b"minf")
        stbl = find(payload, *minf, b"stbl") if minf else None
        if stbl is None:
            continue
        boxes = {
            t: (b0, b1) for t, b0, b1 in _mp4_boxes(payload, *stbl)
        }
        if b"stsz" not in boxes:
            continue  # metadata-only track (no sample layout)
        for required in (b"stts", b"stsc"):
            if required not in boxes:
                raise ValueError(
                    f"stsz without {required.decode()} in track"
                )
        if b"stco" not in boxes and b"co64" not in boxes:
            raise ValueError("stsz without stco/co64 in track")

        def u32(off: int) -> int:
            return int.from_bytes(payload[off : off + 4], "big")

        # stsz → per-sample sizes
        b0 = boxes[b"stsz"][0] + 4
        uniform, n = u32(b0), u32(b0 + 4)
        sizes = (
            [uniform] * n
            if uniform
            else [u32(b0 + 8 + 4 * i) for i in range(n)]
        )

        # stts runs → per-sample dts
        b0 = boxes[b"stts"][0] + 4
        nruns = u32(b0)
        dts, t_acc = [], 0
        for r in range(nruns):
            cnt, delta = u32(b0 + 4 + 8 * r), u32(b0 + 8 + 8 * r)
            for _ in range(cnt):
                dts.append(t_acc)
                t_acc += delta
        if len(dts) != n:
            raise ValueError(
                f"stts covers {len(dts)} samples, stsz says {n}"
            )
        meta["n_samples"] = n
        meta["dts_end"] = t_acc

        # stss → sync set (absent = all sync, §8.6.2)
        if b"stss" in boxes:
            b0 = boxes[b"stss"][0] + 4
            sync = {u32(b0 + 4 + 4 * i) for i in range(u32(b0))}
            if sync and max(sync) > n:
                raise ValueError("stss names a sample beyond stsz count")
        else:
            sync = None

        # stco/co64 chunk offsets + stsc expansion → per-sample offsets
        # (co64 carries 64-bit offsets for >4 GiB files, §8.7.5)
        if b"co64" in boxes:
            b0 = boxes[b"co64"][0] + 4
            nchunks = u32(b0)
            chunk_offs = [
                int.from_bytes(payload[b0 + 4 + 8 * i : b0 + 12 + 8 * i], "big")
                for i in range(nchunks)
            ]
        else:
            b0 = boxes[b"stco"][0] + 4
            nchunks = u32(b0)
            chunk_offs = [u32(b0 + 4 + 4 * i) for i in range(nchunks)]
        b0 = boxes[b"stsc"][0] + 4
        nent = u32(b0)
        entries = [
            (u32(b0 + 4 + 12 * i), u32(b0 + 8 + 12 * i))
            for i in range(nent)
        ]  # (first_chunk, samples_per_chunk)
        spc_by_chunk: list[int] = []
        for i, (first, spc) in enumerate(entries):
            last = (
                entries[i + 1][0] - 1 if i + 1 < nent else nchunks
            )
            spc_by_chunk += [spc] * (last - first + 1)
        if len(spc_by_chunk) != nchunks:
            raise ValueError("stsc runs do not cover every stco chunk")
        if sum(spc_by_chunk) != n:
            raise ValueError(
                f"stsc×stco expand to {sum(spc_by_chunk)} samples, "
                f"stsz says {n}"
            )

        s = 0
        for ci, (coff, spc) in enumerate(
            zip(chunk_offs, spc_by_chunk), start=1
        ):
            rel = 0
            for _ in range(spc):
                off = coff + rel
                if mdat and not (
                    mdat_start <= off and off + sizes[s] <= mdat_end
                ):
                    raise ValueError(
                        f"sample {s + 1} byte range escapes mdat"
                    )
                rows.append(
                    {
                        "track": track_idx,
                        "sample": s + 1,
                        "chunk": ci,
                        "dts": dts[s],
                        "time_sec": round(dts[s] / media_ts, 4),
                        "offset": off,
                        "mdat_offset": off - mdat_start,
                        "size": sizes[s],
                        "keyframe": sync is None or (s + 1) in sync,
                    }
                )
                rel += sizes[s]
                s += 1
    if any(t == b"moof" for t, _, _ in top):
        rows += _mp4_fragment_rows(payload, moov, track_meta)
    return rows


def _mp4_fragment_rows(
    payload: bytes, moov: tuple[int, int], track_meta: list[dict[str, Any]]
) -> list[dict[str, Any]]:
    """Expand movie-fragment sample tables (ISO 14496-12 §8.8) into
    the same per-sample rows the monolithic walk emits — the missing
    piece for real web video, which is overwhelmingly DASH/CMAF
    fragmented (empty moov sample tables, one moof+mdat per segment).

    Per traf: tfhd supplies the track and the default-sample chain
    (explicit ``base-data-offset``, or ``default-base-is-moof``
    anchoring at the moof's first byte — the CMAF profile — or the
    spec's first-traf default of the moof start); tfdt (§8.8.12)
    restates the decode time; trun rows carry per-sample
    size/duration/flags or fall back tfhd → trex (§8.8.3). Keyframes
    come from the ``sample_is_non_sync_sample`` flag bit, with
    ``first-sample-flags`` handling the common one-sync-per-segment
    layout. Sample numbering and the ``chunk`` column continue the
    monolithic scheme: samples number on from the moov count per
    track, chunk = mfhd sequence number. Byte ranges are verified to
    land inside a top-level mdat; ``mdat_offset`` is relative to the
    CONTAINING mdat's body (per-fragment closed form, what the
    oracle replays). A second traf in one moof with neither
    base-data-offset nor default-base-is-moof chains implicitly off
    the previous traf's data end (§8.8.7); only the no-previous-data
    case raises."""
    by_id = {m["track_id"]: m for m in track_meta}
    # trex defaults (§8.8.3): track_ID → (duration, size, flags)
    trex_by_id: dict[int, tuple[int, int, int]] = {}
    for t, t0, t1 in _mp4_boxes(payload, *moov):
        if t != b"mvex":
            continue
        for bt, b0, b1 in _mp4_boxes(payload, t0, t1):
            if bt == b"trex":
                tid = int.from_bytes(payload[b0 + 4 : b0 + 8], "big")
                trex_by_id[tid] = (
                    int.from_bytes(payload[b0 + 12 : b0 + 16], "big"),
                    int.from_bytes(payload[b0 + 16 : b0 + 20], "big"),
                    int.from_bytes(payload[b0 + 20 : b0 + 24], "big"),
                )
    mdats: list[tuple[int, int]] = []
    moofs: list[tuple[int, int, int]] = []  # (box_start, body0, body1)
    for t, bs, b0, b1 in _mp4_boxes4(payload, 0, len(payload)):
        if t == b"mdat":
            mdats.append((b0, b1))
        elif t == b"moof":
            moofs.append((bs, b0, b1))

    def u32(off: int) -> int:
        return int.from_bytes(payload[off : off + 4], "big")

    # per-track running sample number and dts cursor, continuing on
    # from the moov tables
    next_sample = {m["track_id"]: m["n_samples"] for m in track_meta}
    dts_cursor = {m["track_id"]: m["dts_end"] for m in track_meta}
    rows: list[dict[str, Any]] = []
    for moof_start, m0, m1 in moofs:
        seq = None
        traf_no = 0
        prev_data_end = None  # §8.8.7 implicit inter-traf chaining
        for bt, b0, b1 in _mp4_boxes(payload, m0, m1):
            if bt == b"mfhd":
                seq = u32(b0 + 4)
                continue
            if bt != b"traf":
                continue
            traf_no += 1
            tfhd = tfdt = None
            truns: list[tuple[int, int]] = []
            for ct, c0, c1 in _mp4_boxes(payload, b0, b1):
                if ct == b"tfhd":
                    tfhd = (c0, c1)
                elif ct == b"tfdt":
                    tfdt = (c0, c1)
                elif ct == b"trun":
                    truns.append((c0, c1))
            if tfhd is None:
                raise ValueError("traf missing tfhd")
            h0 = tfhd[0]
            tf_flags = int.from_bytes(payload[h0 + 1 : h0 + 4], "big")
            track_id = u32(h0 + 4)
            if track_id not in by_id:
                raise ValueError(
                    f"traf references unknown track_ID {track_id}"
                )
            meta = by_id[track_id]
            pos = h0 + 8
            base_data_offset = None
            if tf_flags & _TFHD_BASE_DATA_OFFSET:
                base_data_offset = int.from_bytes(
                    payload[pos : pos + 8], "big"
                )
                pos += 8
            if tf_flags & _TFHD_SAMPLE_DESC:
                pos += 4
            d_dur = d_size = d_flags = None
            if tf_flags & _TFHD_DEFAULT_DURATION:
                d_dur = u32(pos)
                pos += 4
            if tf_flags & _TFHD_DEFAULT_SIZE:
                d_size = u32(pos)
                pos += 4
            if tf_flags & _TFHD_DEFAULT_FLAGS:
                d_flags = u32(pos)
                pos += 4
            trex = trex_by_id.get(track_id)
            if d_dur is None and trex:
                d_dur = trex[0]
            if d_size is None and trex:
                d_size = trex[1]
            if d_flags is None and trex:
                d_flags = trex[2]
            if base_data_offset is None:
                if tf_flags & _TFHD_DEFAULT_BASE_IS_MOOF:
                    base_data_offset = moof_start
                elif traf_no == 1:
                    # §8.8.7: first traf defaults to the moof start
                    base_data_offset = moof_start
                elif prev_data_end is not None:
                    # §8.8.7 implicit chaining: a subsequent traf with
                    # neither an explicit base nor default-base-is-moof
                    # starts where the previous traf's data ENDED
                    base_data_offset = prev_data_end
                else:
                    raise ValueError(
                        "traf chains implicitly but the previous traf "
                        "defined no data"
                    )
            if tfdt is not None:
                tv = payload[tfdt[0]]
                dts_cursor[track_id] = int.from_bytes(
                    payload[tfdt[0] + 4 : tfdt[0] + 12]
                    if tv == 1
                    else payload[tfdt[0] + 4 : tfdt[0] + 8],
                    "big",
                )
            cur = None  # data cursor: continues across truns (§8.8.8)
            data_end = base_data_offset  # zero-sample traf: end = base
            for r0, r1 in truns:
                tr_flags = int.from_bytes(payload[r0 + 1 : r0 + 4], "big")
                version = payload[r0]
                count = u32(r0 + 4)
                pos = r0 + 8
                if tr_flags & _TRUN_DATA_OFFSET:
                    doff = int.from_bytes(
                        payload[pos : pos + 4], "big", signed=True
                    )
                    cur = base_data_offset + doff
                    pos += 4
                elif cur is None:
                    cur = base_data_offset
                first_flags = None
                if tr_flags & _TRUN_FIRST_SAMPLE_FLAGS:
                    first_flags = u32(pos)
                    pos += 4
                for i in range(count):
                    dur = size = flags = None
                    if tr_flags & _TRUN_SAMPLE_DURATION:
                        dur = u32(pos)
                        pos += 4
                    if tr_flags & _TRUN_SAMPLE_SIZE:
                        size = u32(pos)
                        pos += 4
                    if tr_flags & _TRUN_SAMPLE_FLAGS:
                        flags = u32(pos)
                        pos += 4
                    if tr_flags & _TRUN_SAMPLE_CTS:
                        pos += 4  # composition offset: not surfaced
                    if dur is None:
                        dur = d_dur
                    if size is None:
                        size = d_size
                    if flags is None:
                        flags = (
                            first_flags
                            if (i == 0 and first_flags is not None)
                            else d_flags
                        )
                    if dur is None or size is None:
                        raise ValueError(
                            "no sample duration/size in trun, tfhd "
                            "defaults, or trex"
                        )
                    home = next(
                        (
                            (s0, s1)
                            for s0, s1 in mdats
                            if s0 <= cur and cur + size <= s1
                        ),
                        None,
                    )
                    if home is None:
                        raise ValueError(
                            f"fragment sample byte range [{cur}, "
                            f"{cur + size}) escapes every mdat"
                        )
                    n = next_sample[track_id] = next_sample[track_id] + 1
                    dts = dts_cursor[track_id]
                    dts_cursor[track_id] = dts + dur
                    rows.append(
                        {
                            "track": meta["index"],
                            "sample": n,
                            "chunk": seq if seq is not None else 0,
                            "dts": dts,
                            "time_sec": round(dts / meta["media_ts"], 4),
                            "offset": cur,
                            "mdat_offset": cur - home[0],
                            "size": size,
                            "keyframe": not (
                                (flags or 0) & _SAMPLE_IS_NON_SYNC
                            ),
                        }
                    )
                    cur += size
                    data_end = max(data_end, cur)
            prev_data_end = data_end
    return rows


# ---------------------------------------------------------------------------
# MP3 (MPEG-1/2/2.5 audio, ISO/IEC 11172-3 / 13818-3) — frame-header
# metadata walk, the filter-before-decode screening layer for audio
# corpora (the MP4 twin above does it for video). Every frame header
# is parsed (sync, version, layer, bitrate/samplerate indices,
# padding, channel mode), frame lengths are computed from the spec
# formulas and the walk counts frames exactly — so VBR duration is
# exact, not estimated. ID3v2 (syncsafe size + optional footer) and
# trailing ID3v1 tags are recognized and skipped. A Xing/Info VBR
# header in the first frame's side-info region is read and
# cross-checked against the walked frame count. Only the audio
# DECODE (subband synthesis / MDCT) is out of scope and raises via
# real_decode's honest gate; free-format bitrate (index 0) raises
# NotImplementedError.
# Reference behavior parity: cademirch/ccgp-data-wrangling has no
# media layer; this extends the engine's multimodal screening family.
# ---------------------------------------------------------------------------

_MP3_BITRATES = {  # kbps by (version_group, layer); index 0 = free-format
    ("MPEG1", 1): (0, 32, 64, 96, 128, 160, 192, 224,
                   256, 288, 320, 352, 384, 416, 448),
    ("MPEG1", 2): (0, 32, 48, 56, 64, 80, 96, 112,
                   128, 160, 192, 224, 256, 320, 384),
    ("MPEG1", 3): (0, 32, 40, 48, 56, 64, 80, 96,
                   112, 128, 160, 192, 224, 256, 320),
    ("MPEG2", 1): (0, 32, 48, 56, 64, 80, 96, 112,
                   128, 144, 160, 176, 192, 224, 256),
    ("MPEG2", 2): (0, 8, 16, 24, 32, 40, 48, 56,
                   64, 80, 96, 112, 128, 144, 160),
    ("MPEG2", 3): (0, 8, 16, 24, 32, 40, 48, 56,
                   64, 80, 96, 112, 128, 144, 160),
}

_MP3_RATES = {
    "MPEG1": (44100, 48000, 32000),
    "MPEG2": (22050, 24000, 16000),
    "MPEG2.5": (11025, 12000, 8000),
}

_MP3_VERSIONS = {0: "MPEG2.5", 2: "MPEG2", 3: "MPEG1"}


def _mp3_spf(version: str, layer: int) -> int:
    """Samples per frame (11172-3 §2.4.2.1 / 13818-3)."""
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    return 1152 if version == "MPEG1" else 576


def _mp3_frame_len(
    version: str, layer: int, bitrate_kbps: int, rate: int, padding: int
) -> int:
    """Frame length in bytes from the spec formulas (slot = 4 bytes
    for layer I, 1 byte otherwise)."""
    if layer == 1:
        return (12 * bitrate_kbps * 1000 // rate + padding) * 4
    return _mp3_spf(version, layer) // 8 * bitrate_kbps * 1000 // rate + padding


def _mp3_side_info_len(version: str, mono: bool) -> int:
    """Layer III side-info bytes (before which a Xing tag cannot sit)."""
    if version == "MPEG1":
        return 17 if mono else 32
    return 9 if mono else 17


def build_mp3_layer1(
    *,
    sample_rate: int = 44100,
    bitrate_kbps: int = 448,
    alloc: list[int],
    scf_idx: list[int],
    codes,  # callable (t, sb) -> int, or 12×32 nested list
    n_frames: int = 1,
) -> bytes:
    """Fixture writer: mono MPEG-1 Layer I frames with a REAL coded
    payload (ISO 11172-3 §2.4.1.5): 32 four-bit allocation codes, six-
    bit scalefactor indices for allocated subbands, then 12 transmission
    groups of per-subband sample codes, MSB-first, zero-padded to the
    spec frame length. ``alloc[sb]`` is the 4-bit allocation CODE
    (0 = band off, a → a+1 sample bits); ``codes(t, sb)`` yields the
    raw sample code for group ``t``."""
    if len(alloc) != 32 or len(scf_idx) != 32:
        raise ValueError("alloc and scf_idx must cover 32 subbands")
    ridx = _MP3_RATES["MPEG1"].index(sample_rate)
    bidx = _MP3_BITRATES[("MPEG1", 1)].index(bitrate_kbps)
    flen = _mp3_frame_len("MPEG1", 1, bitrate_kbps, sample_rate, 0)
    need = 32 + 32 * 4
    for sb, a in enumerate(alloc):
        if not 0 <= a <= 14:
            raise ValueError(f"allocation code {a} out of range")
        if a:
            need += 6 + 12 * (a + 1)
    if need > flen * 8:
        raise ValueError(
            f"payload needs {need} bits, frame holds {flen * 8}"
        )
    hdr = (
        (0x7FF << 21)
        | (3 << 19)            # MPEG1
        | (3 << 17)            # layer I
        | (1 << 16)            # no CRC
        | (bidx << 12)
        | (ridx << 10)
        | (3 << 6)             # single_channel
    )
    out = bytearray()
    for _ in range(n_frames):
        bits: list[tuple[int, int]] = []  # (value, nbits)
        for sb in range(32):
            bits.append((alloc[sb], 4))
        for sb in range(32):
            if alloc[sb]:
                if not 0 <= scf_idx[sb] <= 62:
                    raise ValueError("scalefactor index out of range")
                bits.append((scf_idx[sb], 6))
        for t in range(12):
            for sb in range(32):
                if alloc[sb]:
                    nb = alloc[sb] + 1
                    c = (
                        codes(t, sb) if callable(codes) else codes[t][sb]
                    ) & ((1 << nb) - 1)
                    bits.append((c, nb))
        frame = bytearray(flen)
        frame[0:4] = hdr.to_bytes(4, "big")
        acc, n, pos = 0, 0, 4
        for v, ln in bits:
            for i in range(ln - 1, -1, -1):
                acc = (acc << 1) | ((v >> i) & 1)
                n += 1
                if n == 8:
                    frame[pos] = acc
                    pos += 1
                    acc, n = 0, 0
        if n:
            frame[pos] = acc << (8 - n)
        out += frame
    return bytes(out)


def decode_mp3_layer1_subbands(payload: bytes) -> list[dict[str, Any]]:
    """REAL Layer I decode through dequantization (ISO 11172-3
    §2.4.3.3): per frame and allocated subband, read the allocation /
    scalefactor / 12 sample codes and apply the spec formulas —
    s''' = code/2^(nb−1) − 1 + 2^(−nb+1), s'' = s'''·2^nb/(2^nb−1),
    s' = sf·s'' with sf = 2·2^(−idx/3) — yielding the 32-band
    spectral envelope audio screening consumes (band RMS). This is
    every decode stage BEFORE the synthesis filterbank; the polyphase
    window (Annex 3-B table D[512]) stays behind the honest
    real_decode gate, so PCM synthesis still raises.

    Mono Layer I only (the fixture writer's scope); stereo modes and
    layers II/III raise. Returns one dict per (frame, subband):
    frame, subband, nbits, scf_idx, rms (6 dp)."""
    pos = 0
    end = len(payload)
    out: list[dict[str, Any]] = []
    frame_no = 0
    while pos < end:
        if end - pos < 4:
            raise ValueError("truncated Layer I frame header")
        hdr = int.from_bytes(payload[pos : pos + 4], "big")
        if hdr >> 21 != 0x7FF:
            raise ValueError(f"lost frame sync at byte {pos}")
        if (hdr >> 19) & 0x3 != 3 or (hdr >> 17) & 0x3 != 3:
            raise NotImplementedError(
                "subband decode implemented for MPEG-1 Layer I only"
            )
        if (hdr >> 6) & 0x3 != 3:
            raise NotImplementedError("stereo Layer I subband decode")
        crc = not (hdr >> 16) & 0x1
        bidx = (hdr >> 12) & 0xF
        ridx = (hdr >> 10) & 0x3
        bitrate = _MP3_BITRATES[("MPEG1", 1)][bidx]
        rate = _MP3_RATES["MPEG1"][ridx]
        padding = (hdr >> 9) & 0x1
        flen = _mp3_frame_len("MPEG1", 1, bitrate, rate, padding)
        if pos + flen > end:
            raise ValueError("truncated final Layer I frame")
        r = _BitReader(payload[pos + 4 + (2 if crc else 0) : pos + flen])
        alloc = [r.read_bits(4) for _ in range(32)]
        if any(a == 15 for a in alloc):
            raise ValueError("forbidden Layer I allocation code 15")
        scf = [r.read_bits(6) if alloc[sb] else 0 for sb in range(32)]
        acc = [0.0] * 32
        for _t in range(12):
            for sb in range(32):
                if alloc[sb]:
                    nb = alloc[sb] + 1
                    code = r.read_bits(nb)
                    s3 = code / 2.0 ** (nb - 1) - 1 + 2.0 ** (-(nb - 1))
                    s2 = (2.0**nb / (2.0**nb - 1)) * s3
                    v = (2.0 * 2.0 ** (-(scf[sb] // 3))
                         if scf[sb] % 3 == 0
                         else 2.0 * 2.0 ** (-scf[sb] / 3.0)) * s2
                    acc[sb] += v * v
        for sb in range(32):
            if alloc[sb]:
                out.append(
                    {
                        "frame": frame_no,
                        "subband": sb,
                        "nbits": alloc[sb] + 1,
                        "scf_idx": scf[sb],
                        "rms": round((acc[sb] / 12.0) ** 0.5, 6),
                    }
                )
        frame_no += 1
        pos += flen
    return out


# ---------------------------------------------------------------------------
# MPEG-1 Layer II (ISO 11172-3 §2.4.1.6 / §2.4.2.6 / §2.4.3.3) — the
# broadcast/archive layer between I and III: 1152 samples per frame
# (12 granules × 3 samples per subband), per-subband allocation read
# against one of four quantization tables (3-B.2a–d) selected by
# sample rate and per-channel bitrate, scfsi-shared scalefactors over
# three 12-sample parts, and grouped 3/5/9-level sample codes packed
# three-to-a-codeword. Table CONTENTS (nbal widths and steps lists)
# follow the widely-reproduced public form of Tables 3-B.2a–d;
# encode/decode share one definition so round-trip tests pin the
# internal consistency, and the C/D requant constants are DERIVED
# (C = 2^k/steps, D = 0.5 grouped else 2^(1-k)) rather than
# transcribed, matching Table 3-B.4's published values.
# ---------------------------------------------------------------------------

# per-subband rows: (nbal, steps-per-allocation-index)
_L2_STEPS_HI = (3, 7, 15, 31, 63, 127, 255, 511, 1023, 2047,
                4095, 8191, 16383, 32767, 65535)
_L2_STEPS_MID = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023,
                 2047, 4095, 8191, 65535)
_L2_STEPS_LOW = (3, 5, 7, 9, 15, 31, 65535)
_L2_STEPS_TAIL = (3, 5, 65535)
_L2_STEPS_LB0 = (5, 7, 9, 15, 31, 63, 127, 255, 511, 1023, 2047,
                 4095, 8191, 16383, 32767)
_L2_STEPS_LB = (5, 7, 9, 15, 31, 63, 127)

_L2_STEPS_LSF0 = (3, 5, 7, 9, 15, 31, 63, 127, 255, 511, 1023,
                  2047, 4095, 8191, 16383)
_L2_STEPS_LSF1 = (3, 5, 7, 9, 15, 31, 63)
_L2_STEPS_LSF2 = (3, 5, 7)

_L2_TABLES = {
    # Table 3-B.2a: sblimit 27
    "a": [(4, _L2_STEPS_HI)] * 3 + [(4, _L2_STEPS_MID)] * 8
         + [(3, _L2_STEPS_LOW)] * 12 + [(2, _L2_STEPS_TAIL)] * 4,
    # Table 3-B.2b: sblimit 30
    "b": [(4, _L2_STEPS_HI)] * 3 + [(4, _L2_STEPS_MID)] * 8
         + [(3, _L2_STEPS_LOW)] * 12 + [(2, _L2_STEPS_TAIL)] * 7,
    # Table 3-B.2c: sblimit 8
    "c": [(4, _L2_STEPS_LB0)] * 2 + [(3, _L2_STEPS_LB)] * 6,
    # Table 3-B.2d: sblimit 12
    "d": [(4, _L2_STEPS_LB0)] * 2 + [(3, _L2_STEPS_LB)] * 10,
    # ISO 13818-3 Annex B Table B.1 — the single LSF Layer II table
    # (all MPEG-2 rates and bitrates), sblimit 30; contents follow
    # the widely-reproduced public form, same caveat as 3-B.2a-d
    # above (encode/decode share one definition, round-trip-pinned)
    "lsf": [(4, _L2_STEPS_LSF0)] * 4 + [(3, _L2_STEPS_LSF1)] * 7
           + [(2, _L2_STEPS_LSF2)] * 19,
}

_L2_GROUPED = (3, 5, 9)  # classes coded three-samples-per-codeword
_L2_GROUP_BITS = {3: 5, 5: 7, 9: 10}


def _l2_select_table(sample_rate: int, kbps_per_channel: int) -> str:
    """Quantization-table selection (§2.4.2.6): low per-channel rates
    take the 8/12-band tables, 44.1/32 kHz high rates the 30-band
    table, everything else the 27-band table. MPEG-2 LSF rates take
    the single 13818-3 table whatever the bitrate."""
    if sample_rate in _MP3_RATES["MPEG2"]:
        return "lsf"
    if sample_rate not in _MP3_RATES["MPEG1"]:
        raise NotImplementedError(
            "Layer II subband decode implemented for MPEG-1/MPEG-2 "
            "rates only"
        )
    if kbps_per_channel in (32, 48):
        return "d" if sample_rate == 32000 else "c"
    if kbps_per_channel in (56, 64, 80):
        return "a"
    if kbps_per_channel in (96, 112, 128, 160, 192):
        return "a" if sample_rate == 48000 else "b"
    raise ValueError(
        f"invalid Layer II per-channel bitrate {kbps_per_channel} kbps"
    )


def _l2_class(steps: int) -> tuple[int, bool, int]:
    """→ (k, grouped, code_bits): k is the fraction width in the
    requant formula (2^k ≥ steps+1), code_bits the serialized width
    (per codeword when grouped, per sample otherwise)."""
    grouped = steps in _L2_GROUPED
    k = (steps).bit_length() if not grouped else {3: 2, 5: 3, 9: 4}[steps]
    return k, grouped, _L2_GROUP_BITS[steps] if grouped else k


_L2_SCFSI_PARTS = {  # scfsi → transmitted-scalefactor ordinal per part
    0: (0, 1, 2),
    1: (0, 0, 1),
    2: (0, 0, 0),
    3: (0, 1, 1),
}
_L2_SCFSI_COUNT = {0: 3, 1: 2, 2: 1, 3: 2}


def _mp3_scan_free_format(
    payload: bytes, pos: int, hdr: int, end: int
) -> int:
    """Free-format frame length: distance to the next frame sync
    whose version/layer/bitrate-index/samplerate/mode fields equal
    this header's (padding/private/mode-extension may differ). The
    final frame extends to the end of the stream.

    A candidate is only accepted when a SECOND consistent sync sits
    one frame length further on (±1 slot for the padding bit), the
    way reference decoders lock free-format length — sample-code
    bytes that happen to contain 0xFF + matching header fields no
    longer truncate the frame early."""
    mask = 0xFFFFFCC0  # sync+ver+layer+prot | bitrate+rate | mode
    want = hdr & mask

    def _sync_at(q: int) -> bool:
        return (
            q + 4 <= end
            and payload[q] == 0xFF
            and (payload[q + 1] & 0xE0) == 0xE0
            and int.from_bytes(payload[q : q + 4], "big") & mask
            == want
        )

    q = pos + 4
    while q + 4 <= end:
        if _sync_at(q):
            length = q - pos
            nxt = q + length
            if nxt + 4 > end or any(
                _sync_at(nxt + d) for d in (-1, 0, 1)
            ):
                return length
            # false sync inside the payload — keep scanning
        q += 1
    return end - pos


_L2_MODES = {"stereo": 0, "joint": 1, "dual": 2, "mono": 3}


def _l2_bound(mode: str, mode_ext: int, sblimit: int) -> int:
    """Intensity-stereo bound (§2.4.2.6): joint stereo shares sample
    codes from subband 4·(mode_extension+1) up; other modes never."""
    if mode != "joint":
        return sblimit
    return min(4 * (mode_ext + 1), sblimit)


def build_mp3_layer2(
    *,
    sample_rate: int = 44100,
    bitrate_kbps: int = 96,
    alloc_idx: list,
    scfsi: list,
    scf_idx,  # (sb, ordinal) mono / (ch, sb, ordinal) stereo, or list
    codes,  # (t, sb) mono / (ch, t, sb) stereo, sample t in 0..35
    n_frames: int = 1,
    mode: str = "mono",
    mode_ext: int = 0,
    version: str = "MPEG1",
    free_format: bool = False,
) -> bytes:
    """Fixture writer: MPEG-1 / MPEG-2-LSF Layer II frames with a
    REAL coded payload (11172-3 §2.4.1.6 / 13818-3): per-subband
    channel-interleaved allocation (shared above the intensity bound
    in joint stereo), 2-bit scfsi, 6-bit scalefactors (1–3 per
    subband by scfsi), then 12 granules of sample codes — grouped
    classes pack s0 + steps·s1 + steps²·s2 into one codeword. For
    stereo modes ``alloc_idx``/``scfsi`` are [ch0, ch1] lists and
    ``scf_idx``/``codes`` take a leading channel argument; joint
    stereo requires equal allocation above the bound and reads the
    shared codes from channel 0."""
    if mode not in _L2_MODES:
        raise ValueError(f"unknown Layer II mode {mode!r}")
    if version not in ("MPEG1", "MPEG2"):
        raise ValueError("Layer II fixture covers MPEG1/MPEG2 only")
    nch = 1 if mode == "mono" else 2
    if mode == "mono":
        allocs = [alloc_idx]
        scfsis = [scfsi]
        scf_f = (
            (lambda ch, sb, j: scf_idx(sb, j)) if callable(scf_idx)
            else (lambda ch, sb, j: scf_idx[sb][j])
        )
        code_f = lambda ch, t, sb: codes(t, sb)  # noqa: E731
    else:
        allocs = list(alloc_idx)
        scfsis = list(scfsi)
        if len(allocs) != 2 or len(scfsis) != 2:
            raise ValueError(
                "stereo modes take [ch0, ch1] alloc_idx/scfsi"
            )
        scf_f = (
            scf_idx if callable(scf_idx)
            else (lambda ch, sb, j: scf_idx[ch][sb][j])
        )
        code_f = codes
    table = _l2_select_table(
        sample_rate,
        bitrate_kbps // nch if version == "MPEG1" else bitrate_kbps,
    )
    rows = _L2_TABLES[table]
    sblimit = len(rows)
    bound = _l2_bound(mode, mode_ext, sblimit)
    for ch in range(nch):
        if len(allocs[ch]) != sblimit or len(scfsis[ch]) != sblimit:
            raise ValueError(
                f"alloc_idx and scfsi must cover sblimit={sblimit} "
                f"subbands (table {table})"
            )
    for sb in range(bound, sblimit):
        if nch == 2 and allocs[0][sb] != allocs[1][sb]:
            raise ValueError(
                "joint stereo requires equal allocation above the "
                f"bound (subband {sb})"
            )
    ridx = _MP3_RATES[version].index(sample_rate)
    # free_format writes bitrate index 0 — the size (and table) still
    # come from bitrate_kbps; the decoder must rediscover both
    bidx = (
        0 if free_format
        else _MP3_BITRATES[(version, 2)].index(bitrate_kbps)
    )
    flen = _mp3_frame_len(version, 2, bitrate_kbps, sample_rate, 0)
    hdr = (
        (0x7FF << 21)
        | ((3 if version == "MPEG1" else 2) << 19)
        | (2 << 17)            # layer II
        | (1 << 16)            # no CRC
        | (bidx << 12)
        | (ridx << 10)
        | (_L2_MODES[mode] << 6)
        | (mode_ext << 4)
    )
    out = bytearray()
    for _ in range(n_frames):
        bits: list[tuple[int, int]] = []
        for sb in range(sblimit):
            nbal, steps_row = rows[sb]
            for ch in range(nch if sb < bound else 1):
                if not 0 <= allocs[ch][sb] <= len(steps_row):
                    raise ValueError(
                        f"allocation index {allocs[ch][sb]} out of "
                        f"range for subband {sb} (table {table})"
                    )
                bits.append((allocs[ch][sb], nbal))
        for sb in range(sblimit):
            for ch in range(nch):
                if allocs[ch][sb]:
                    if not 0 <= scfsis[ch][sb] <= 3:
                        raise ValueError("scfsi out of range")
                    bits.append((scfsis[ch][sb], 2))
        for sb in range(sblimit):
            for ch in range(nch):
                if allocs[ch][sb]:
                    for j in range(_L2_SCFSI_COUNT[scfsis[ch][sb]]):
                        idx = scf_f(ch, sb, j)
                        if not 0 <= idx <= 62:
                            raise ValueError(
                                "scalefactor index out of range"
                            )
                        bits.append((idx, 6))
        for gr in range(12):
            for sb in range(sblimit):
                for ch in range(nch if sb < bound else 1):
                    if not allocs[ch][sb]:
                        continue
                    steps = rows[sb][1][allocs[ch][sb] - 1]
                    _k, grouped, cbits = _l2_class(steps)
                    s = [code_f(ch, gr * 3 + j, sb) for j in range(3)]
                    if any(not 0 <= v < steps for v in s):
                        raise ValueError(
                            f"sample code out of range for {steps}-"
                            f"step class in subband {sb}"
                        )
                    if grouped:
                        bits.append(
                            (s[0] + steps * s[1]
                             + steps * steps * s[2], cbits)
                        )
                    else:
                        for v in s:
                            bits.append((v, cbits))
        need = sum(ln for _, ln in bits)
        if need > (flen - 4) * 8:
            raise ValueError(
                f"payload needs {need} bits, frame holds {(flen - 4) * 8}"
            )
        frame = bytearray(flen)
        frame[0:4] = hdr.to_bytes(4, "big")
        acc, n, pos = 0, 0, 4
        for v, ln in bits:
            for i in range(ln - 1, -1, -1):
                acc = (acc << 1) | ((v >> i) & 1)
                n += 1
                if n == 8:
                    frame[pos] = acc
                    pos += 1
                    acc, n = 0, 0
        if n:
            frame[pos] = acc << (8 - n)
        out += frame
    return bytes(out)


def decode_mp3_layer2_subbands(
    payload: bytes,
    collect_samples: list | None = None,
) -> list[dict[str, Any]]:
    """REAL Layer II decode through dequantization (§2.4.3.3): per
    frame and allocated subband, read allocation / scfsi /
    scalefactors / 12 granules of (de)grouped sample codes and apply
    s' = sf · C · (s/2^(k−1) − 1 + D) with C = 2^k/steps and
    D = 0.5 (grouped) or 2^(1−k) — the 30-band spectral envelope at
    Layer II's granularity, every stage before the synthesis
    filterbank (PCM synthesis still raises elsewhere).

    MPEG-1 and MPEG-2 LSF, all four channel modes: stereo and dual
    channel carry channel-interleaved allocation/scfsi/scalefactors/
    samples; joint stereo shares allocation and sample codes above
    the 4·(mode_extension+1) intensity bound, each channel applying
    its own scalefactor to the shared codes (§2.4.3.3 intensity
    dequantization). Free-format and MPEG-2.5 raise. Returns one dict
    per (frame, channel, subband): frame, channel, subband, steps,
    scfsi, rms (6 dp over the 36 samples)."""
    pos = 0
    end = len(payload)
    out: list[dict[str, Any]] = []
    frame_no = 0
    while pos < end:
        if end - pos < 4:
            raise ValueError("truncated Layer II frame header")
        hdr = int.from_bytes(payload[pos : pos + 4], "big")
        if hdr >> 21 != 0x7FF:
            raise ValueError(f"lost frame sync at byte {pos}")
        ver_bits = (hdr >> 19) & 0x3
        if (hdr >> 17) & 0x3 != 2:
            raise NotImplementedError(
                "subband decode implemented for Layer II only"
            )
        if ver_bits == 3:
            version = "MPEG1"
        elif ver_bits == 2:
            version = "MPEG2"
        else:
            raise NotImplementedError(
                "MPEG-2.5 Layer II subband decode"
            )
        mode_bits = (hdr >> 6) & 0x3
        mode = {0: "stereo", 1: "joint", 2: "dual", 3: "mono"}[
            mode_bits
        ]
        mode_ext = (hdr >> 4) & 0x3
        nch = 1 if mode == "mono" else 2
        crc = not (hdr >> 16) & 0x1
        bidx = (hdr >> 12) & 0xF
        ridx = (hdr >> 10) & 0x3
        rate = _MP3_RATES[version][ridx]
        padding = (hdr >> 9) & 0x1
        if bidx == 0:
            # free format (ISO 11172-3 §2.4.2.3): a constant
            # encoder-chosen frame length, discovered by scanning for
            # the next sync whose version/layer/rate/mode fields
            # match; the last frame runs to the end of the stream.
            # The quantization table is selected from the bitrate the
            # length implies (nearest allowed value).
            flen = _mp3_scan_free_format(payload, pos, hdr, end)
            implied = flen * rate / 144000.0
            bitrate = min(
                _MP3_BITRATES[(version, 2)][1:],
                key=lambda b: abs(b - implied),
            )
        else:
            bitrate = _MP3_BITRATES[(version, 2)][bidx]
            flen = _mp3_frame_len(version, 2, bitrate, rate, padding)
        if pos + flen > end:
            raise ValueError("truncated final Layer II frame")
        table = _l2_select_table(
            rate, bitrate // nch if version == "MPEG1" else bitrate
        )
        rows = _L2_TABLES[table]
        sblimit = len(rows)
        bound = _l2_bound(mode, mode_ext, sblimit)
        r = _BitReader(payload[pos + 4 + (2 if crc else 0) : pos + flen])
        alloc = [[0] * sblimit for _ in range(nch)]
        for sb in range(sblimit):
            for ch in range(nch if sb < bound else 1):
                alloc[ch][sb] = r.read_bits(rows[sb][0])
            if sb >= bound and nch == 2:
                alloc[1][sb] = alloc[0][sb]
        for sb in range(sblimit):
            for ch in range(nch):
                if alloc[ch][sb] > len(rows[sb][1]):
                    raise ValueError(
                        f"allocation index {alloc[ch][sb]} exceeds "
                        f"table {table} row for subband {sb}"
                    )
        scfsi = [[0] * sblimit for _ in range(nch)]
        for sb in range(sblimit):
            for ch in range(nch):
                if alloc[ch][sb]:
                    scfsi[ch][sb] = r.read_bits(2)
        scf = [
            [[0, 0, 0] for _ in range(sblimit)] for _ in range(nch)
        ]
        for sb in range(sblimit):
            for ch in range(nch):
                if not alloc[ch][sb]:
                    continue
                sent = [
                    r.read_bits(6)
                    for _ in range(_L2_SCFSI_COUNT[scfsi[ch][sb]])
                ]
                for idx6 in sent:
                    if idx6 > 62:
                        # ISO 11172-3 Table 3-B.1: index 63 reserved
                        raise ValueError(
                            f"reserved Layer II scalefactor index "
                            f"{idx6} in subband {sb}"
                        )
                scf[ch][sb] = [
                    sent[j] for j in _L2_SCFSI_PARTS[scfsi[ch][sb]]
                ]
        acc = [[0.0] * sblimit for _ in range(nch)]
        frame_samples = (
            np.zeros((nch, 36, 32)) if collect_samples is not None
            else None
        )
        for gr in range(12):
            for sb in range(sblimit):
                shared: list[int] | None = None
                for ch in range(nch if sb < bound else 1):
                    if not alloc[ch][sb]:
                        continue
                    steps = rows[sb][1][alloc[ch][sb] - 1]
                    k, grouped, cbits = _l2_class(steps)
                    if grouped:
                        c = r.read_bits(cbits)
                        s = [c % steps, (c // steps) % steps,
                             c // (steps * steps)]
                        if s[2] >= steps:
                            raise ValueError(
                                f"grouped codeword {c} out of range "
                                f"for {steps}-step class"
                            )
                        d_const = 0.5
                    else:
                        s = [r.read_bits(cbits) for _ in range(3)]
                        d_const = 2.0 ** (1 - k)
                    shared = s
                    for tch in (
                        (ch,) if sb < bound else range(nch)
                    ):
                        if not alloc[tch][sb]:
                            continue
                        idx = scf[tch][sb][gr // 4]
                        sf = (
                            2.0 * 2.0 ** (-(idx // 3))
                            if idx % 3 == 0
                            else 2.0 * 2.0 ** (-idx / 3.0)
                        )
                        for vi, v in enumerate(shared):
                            x = sf * (
                                (2.0**k / steps)
                                * (v / 2.0 ** (k - 1) - 1 + d_const)
                            )
                            acc[tch][sb] += x * x
                            if frame_samples is not None:
                                frame_samples[
                                    tch, 3 * gr + vi, sb
                                ] = x
        for sb in range(sblimit):
            for ch in range(nch):
                if alloc[ch][sb]:
                    steps = rows[sb][1][alloc[ch][sb] - 1]
                    out.append(
                        {
                            "frame": frame_no,
                            "channel": ch,
                            "subband": sb,
                            "steps": steps,
                            "scfsi": scfsi[ch][sb],
                            "rms": round(
                                (acc[ch][sb] / 36.0) ** 0.5, 6
                            ),
                        }
                    )
        if frame_samples is not None:
            collect_samples.append(frame_samples)
        frame_no += 1
        pos += flen
    return out


def mp3_synthesize_pcm(
    subband_frames: "np.ndarray", window=None
) -> "np.ndarray":
    """ISO 11172-3 §2.4.3.2 synthesis filterbank: 32 subband samples
    per step → 32 PCM samples (the matrixing cosines are formulas;
    only the 512-tap Table 3-B.3 window is a memorized constant).
    ``subband_frames`` is (n, 32) dequantized subband samples for ONE
    channel — e.g. a channel slice of what
    ``decode_mp3_layer2_subbands(collect_samples=...)`` gathers.

    The window arrives through the SPARK_GRAFT_CODEC_TABLES
    verified-constants hook (codec_tables — loader validates 512
    finite taps AND >= 40 dB reconstruction through the analysis
    twin); pass ``window`` explicitly only for declared-synthetic
    test windows. Gates when absent: this is the one memorized
    constant between the implemented subband decode and real PCM."""
    from ccgp_data_wrangling_spark.codec_tables import (
        _pqmf_synthesize,
        mp3_synthesis_window,
    )

    if window is None:
        window = mp3_synthesis_window()
        if window is None:
            raise NotImplementedError(
                "MP3 PCM synthesis needs the ISO 11172-3 Table "
                "3-B.3 window (untranscribed); supply it via "
                "SPARK_GRAFT_CODEC_TABLES"
            )
    frames = np.asarray(subband_frames, np.float64)
    if frames.ndim != 2 or frames.shape[1] != 32:
        raise ValueError("subband_frames must be (n, 32)")
    return _pqmf_synthesize(frames, np.asarray(window, np.float64))


# ---------------------------------------------------------------------------
# MPEG-1 Layer III (ISO 11172-3 §2.4.1.7 / §2.4.2.7) — side info,
# scalefactors, big-value + count1 Huffman regions and spectral
# requantization: every decode stage BEFORE the IMDCT/polyphase
# synthesis, which stays behind the honest real_decode gate. This is
# the same filter-before-decode screening depth the Layer I subband
# decoder provides, at Layer III's spectral-line granularity — the
# per-scalefactor-band energy envelope audio curation consumes.
#
# Huffman tables are spec constants with no computational derivation
# (unlike the AES S-box); tables 1-3 (pair, linbits 0) and the two
# count1 quadruple tables are transcribed from ISO 11172-3 Table B.7
# and validated prefix-free at import; the remaining 29 pair tables
# (incl. all linbits/ESC tables) raise honestly by table id.
# ---------------------------------------------------------------------------

# scalefac_compress → (slen1, slen2)  (§2.4.2.7)
_L3_SLEN = [
    (0, 0), (0, 1), (0, 2), (0, 3), (3, 0), (1, 1), (1, 2), (1, 3),
    (2, 1), (2, 2), (2, 3), (3, 1), (3, 2), (3, 3), (4, 2), (4, 3),
]
# preemphasis table, long blocks (Table B.6)
_L3_PRETAB = [0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 3, 3, 3, 2, 0]
# long-block scalefactor band boundaries in spectral lines (Table B.8)
_L3_SFB_LONG = {
    44100: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 52, 62, 74, 90, 110,
            134, 162, 196, 238, 288, 342, 418, 576],
    48000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 42, 50, 60, 72, 88, 106,
            128, 156, 190, 230, 276, 330, 384, 576],
    32000: [0, 4, 8, 12, 16, 20, 24, 30, 36, 44, 54, 66, 82, 102, 126,
            156, 194, 240, 296, 364, 448, 550, 576],
}
# short-block boundaries, PER WINDOW (Table B.8 short: 13 bands, the
# last untransmitted; ×3 windows covers the 576 lines)
_L3_SFB_SHORT = {
    44100: [0, 4, 8, 12, 16, 22, 30, 40, 52, 66, 84, 106, 136, 192],
    48000: [0, 4, 8, 12, 16, 22, 28, 38, 50, 64, 80, 100, 126, 192],
    32000: [0, 4, 8, 12, 16, 22, 30, 42, 58, 78, 104, 138, 180, 192],
}

# LSF (MPEG-2 / MPEG-2.5, ISO 13818-3 Table B.2) long-block
# scalefactor band boundaries. 16, 22.05, 11.025 and 12 kHz share one
# band layout; 24 kHz and the 8 kHz tail-heavy layout are their own.
_L3_SFB_LONG_LSF_COMMON = [
    0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 116, 140, 168, 200,
    238, 284, 336, 396, 464, 522, 576,
]
_L3_SFB_LONG.update(
    {
        22050: _L3_SFB_LONG_LSF_COMMON,
        16000: _L3_SFB_LONG_LSF_COMMON,
        11025: _L3_SFB_LONG_LSF_COMMON,
        12000: _L3_SFB_LONG_LSF_COMMON,
        24000: [0, 6, 12, 18, 24, 30, 36, 44, 54, 66, 80, 96, 114,
                136, 162, 194, 232, 278, 332, 394, 464, 540, 576],
        8000: [0, 12, 24, 36, 48, 60, 72, 88, 108, 132, 160, 192, 232,
               280, 336, 400, 476, 566, 568, 570, 572, 574, 576],
    }
)
# LSF short-block boundaries per window (13 bands, last untransmitted)
_L3_SFB_SHORT_LSF_COMMON = [
    0, 4, 8, 12, 18, 24, 32, 42, 56, 74, 100, 132, 174, 192,
]
_L3_SFB_SHORT.update(
    {
        22050: _L3_SFB_SHORT_LSF_COMMON,
        11025: _L3_SFB_SHORT_LSF_COMMON,
        12000: _L3_SFB_SHORT_LSF_COMMON,
        24000: [0, 4, 8, 12, 18, 26, 36, 48, 62, 80, 104, 136, 180, 192],
        16000: [0, 4, 8, 12, 18, 26, 36, 48, 62, 80, 104, 134, 174, 192],
        8000: [0, 8, 16, 24, 36, 52, 72, 96, 124, 160, 162, 164, 166, 192],
    }
)

# LSF scalefactor group sizes by blocktypenumber (ISO 13818-3
# §2.4.3.2 nr_of_sfb): four groups, read with slen1..slen4, covering
# 21 long bands / 12×3 short slots / 6 long + 9×3 short mixed slots.
_L3_LSF_NSFB = {
    0: {"long": (6, 5, 5, 5), "short": (9, 9, 9, 9), "mixed": (6, 9, 9, 9)},
    1: {"long": (6, 5, 7, 3), "short": (9, 9, 12, 6), "mixed": (6, 9, 12, 6)},
    2: {"long": (11, 10, 0, 0), "short": (18, 18, 0, 0),
        "mixed": (15, 18, 0, 0)},
}


def _l3_lsf_slens(scalefac_compress: int) -> tuple[list[int], int, int]:
    """LSF scalefactor field widths (ISO 13818-3 §2.4.3.2, the
    non-intensity branch): the 9-bit scalefac_compress selects four
    slen widths, an implied preflag (no preflag bit exists in LSF
    side info) and the blocktypenumber that picks the nr_of_sfb
    group-partition row. Intensity-stereo right channels interpret
    the field differently and gate in the caller."""
    sc = scalefac_compress
    if not 0 <= sc < 512:
        raise ValueError("LSF scalefac_compress is a 9-bit field")
    if sc < 400:
        return (
            [(sc >> 4) // 5, (sc >> 4) % 5, (sc % 16) >> 2, sc % 4],
            0,
            0,
        )
    if sc < 500:
        t = sc - 400
        return [(t >> 2) // 5, (t >> 2) % 5, t % 4, 0], 0, 1
    t = sc - 500
    return [t // 3, t % 3, 0, 0], 1, 2


# Table B.2, intensity rows (blocktypenumbers 3-5): the group
# partitions the INTENSITY channel's scalefactors use in LSF frames
_L3_LSF_INT_NSFB = {
    3: {"long": (7, 7, 7, 0), "short": (12, 12, 12, 0),
        "mixed": (6, 15, 12, 0)},
    4: {"long": (6, 6, 6, 3), "short": (12, 9, 9, 6),
        "mixed": (6, 12, 9, 6)},
    5: {"long": (8, 8, 5, 0), "short": (15, 12, 9, 0),
        "mixed": (6, 18, 9, 0)},
}


def _l3_lsf_int_slens(
    scalefac_compress: int,
) -> tuple[list[int], int, int]:
    """LSF scalefactor widths for the INTENSITY channel (ISO 13818-3
    §2.4.3.2, intensity branch): the LSB is intensity_scale and the
    remaining 8 bits partition as int_scalefac_compress; the implied
    preflag is always 0 and blocktypenumber runs 3-5."""
    int_sc = scalefac_compress >> 1
    if int_sc < 180:
        return [int_sc // 36, (int_sc % 36) // 6, int_sc % 6, 0], 0, 3
    if int_sc < 244:
        t = int_sc - 180
        return [(t % 64) >> 4, (t % 16) >> 2, t % 4, 0], 0, 4
    if int_sc < 255:
        t = int_sc - 244
        return [t // 3, t % 3, 0, 0], 0, 5
    raise ValueError("intensity scalefac_compress 255 is reserved")

# pair tables: {(x, y): (hlen, hcod)} — Table B.7, tables 1-3
_L3_PAIR_TABLES: dict[int, dict[tuple[int, int], tuple[int, int]]] = {
    1: {
        (0, 0): (1, 0b1), (0, 1): (3, 0b001),
        (1, 0): (2, 0b01), (1, 1): (3, 0b000),
    },
    2: {
        (0, 0): (1, 0b1), (0, 1): (3, 0b010), (0, 2): (6, 0b000001),
        (1, 0): (3, 0b011), (1, 1): (3, 0b001), (1, 2): (5, 0b00001),
        (2, 0): (5, 0b00011), (2, 1): (5, 0b00010), (2, 2): (6, 0b000000),
    },
    3: {
        (0, 0): (2, 0b11), (0, 1): (2, 0b10), (0, 2): (6, 0b000001),
        (1, 0): (3, 0b001), (1, 1): (2, 0b01), (1, 2): (5, 0b00001),
        (2, 0): (5, 0b00011), (2, 1): (5, 0b00010), (2, 2): (6, 0b000000),
    },
}
# count1 quadruple tables: index = v<<3 | w<<2 | x<<1 | y
_L3_COUNT1_A: dict[int, tuple[int, int]] = {
    0: (1, 0b1), 1: (4, 0b0101), 2: (4, 0b0100), 3: (5, 0b00101),
    4: (4, 0b0110), 5: (6, 0b000101), 6: (5, 0b00100), 7: (6, 0b000100),
    8: (4, 0b0111), 9: (6, 0b000011), 10: (5, 0b00110),
    11: (6, 0b000001), 12: (5, 0b00111), 13: (6, 0b000010),
    14: (6, 0b000110), 15: (6, 0b000000),
}
_L3_COUNT1_B: dict[int, tuple[int, int]] = {
    i: (4, (~i) & 0xF) for i in range(16)
}


def _prefix_free(table: dict) -> None:
    codes = [(ln, code) for ln, code in table.values()]
    if len({(ln, c) for ln, c in codes}) != len(codes):
        raise AssertionError("duplicate Huffman code in table")
    for ln1, c1 in codes:
        for ln2, c2 in codes:
            if ln1 < ln2 and (c2 >> (ln2 - ln1)) == c1:
                raise AssertionError("Huffman table is not prefix-free")


def _by_code(table: dict) -> dict:
    """``(length, code) -> symbol`` inversion of a prefix-free
    ``symbol -> (length, code)`` table, for decoding."""
    _prefix_free(table)
    return {lc: sym for sym, lc in table.items()}


_L3_PAIR_BYCODE = {t: _by_code(tab) for t, tab in _L3_PAIR_TABLES.items()}
_L3_COUNT1_A_BYCODE = _by_code(_L3_COUNT1_A)
_L3_COUNT1_B_BYCODE = _by_code(_L3_COUNT1_B)


def _l3_huff_decode(reader: "_BitReader", by_code: dict) -> Any:
    """Walk bits MSB-first until a code in ``by_code`` (a
    :func:`_by_code` inversion) matches; the tables are prefix-free
    (validated at import), so first match is THE match. Returns the
    symbol key."""
    read_bit = reader.read_bit
    get = by_code.get
    code, ln = 0, 0
    while ln <= 19:
        code = (code << 1) | read_bit()
        ln += 1
        sym = get((ln, code))
        if sym is not None:
            return sym
    raise ValueError("invalid Layer III Huffman code")


def parse_mp3_layer3_sideinfo(payload: bytes) -> list[dict[str, Any]]:
    """Parse the Layer III side information (§2.4.1.7) of every frame:
    one dict per (frame, granule, channel) with main_data_begin,
    scfsi, part2_3_length, big_values, global_gain,
    scalefac_compress, window switching / block type, table_select,
    region counts, preflag, scalefac_scale, count1table_select.

    All four channel modes parse: MPEG-1 mono reads the 17-byte side
    info (5 private bits), stereo / joint stereo / dual channel the
    32-byte layout (3 private bits, scfsi and the 59-bit granule
    struct PER CHANNEL, granule-major channel-minor). The dict also
    carries ``mode`` and ``mode_extension`` so the spectrum stage can
    apply (or gate) the joint-stereo matrix.

    LSF frames (MPEG-2 / MPEG-2.5, ISO 13818-3 §2.4.1.7) parse too:
    ONE granule per frame, 9/17-byte side info (1/2 private bits), an
    8-bit main_data_begin, NO scfsi, a 9-bit scalefac_compress and NO
    preflag bit — ``preflag`` is the value §2.4.3.2 implies from
    scalefac_compress (blocktypenumber 2 → 1). Each dict carries
    ``version`` and ``n_granules`` so the spectrum stage can branch."""
    pos = 0
    end = len(payload)
    out: list[dict[str, Any]] = []
    frame_no = 0
    while pos < end:
        if end - pos < 4:
            raise ValueError("truncated Layer III frame header")
        hdr = int.from_bytes(payload[pos : pos + 4], "big")
        if hdr >> 21 != 0x7FF:
            raise ValueError(f"lost frame sync at byte {pos}")
        vcode = (hdr >> 19) & 0x3
        if vcode == 1 or (hdr >> 17) & 0x3 != 1:
            raise NotImplementedError(
                "side-info parse implemented for Layer III only"
            )
        version = _MP3_VERSIONS[vcode]
        lsf = version != "MPEG1"
        n_gr = 1 if lsf else 2
        mode = (hdr >> 6) & 0x3
        mode_ext = (hdr >> 4) & 0x3
        nch = 1 if mode == 3 else 2
        crc = not (hdr >> 16) & 0x1
        bidx = (hdr >> 12) & 0xF
        ridx = (hdr >> 10) & 0x3
        bitrate = _MP3_BITRATES[
            ("MPEG2" if lsf else "MPEG1", 3)
        ][bidx]
        if bitrate == 0:
            raise NotImplementedError("free-format Layer III bitrate")
        rate = _MP3_RATES[version][ridx]
        padding = (hdr >> 9) & 0x1
        flen = _mp3_frame_len(version, 3, bitrate, rate, padding)
        if pos + flen > end:
            raise ValueError("truncated final Layer III frame")
        si = _BitReader(
            payload[pos + 4 + (2 if crc else 0) : pos + flen]
        )
        main_data_begin = si.read_bits(8 if lsf else 9)
        if lsf:
            si.read_bits(1 if nch == 1 else 2)  # private_bits
            scfsi = [0] * nch
        else:
            si.read_bits(5 if nch == 1 else 3)  # private_bits
            scfsi = [si.read_bits(4) for _ in range(nch)]
        for gr in range(n_gr):
            for ch in range(nch):
                g: dict[str, Any] = {
                    "frame": frame_no,
                    "granule": gr,
                    "channel": ch,
                    "n_channels": nch,
                    "n_granules": n_gr,
                    "version": version,
                    "mode": mode,
                    "mode_extension": mode_ext,
                    "sample_rate": rate,
                    "main_data_begin": main_data_begin,
                    "scfsi": scfsi[ch],
                    "part2_3_length": si.read_bits(12),
                    "big_values": si.read_bits(9),
                    "global_gain": si.read_bits(8),
                    "scalefac_compress": si.read_bits(9 if lsf else 4),
                }
                wsf = si.read_bits(1)
                g["window_switching"] = bool(wsf)
                if wsf:
                    g["block_type"] = si.read_bits(2)
                    g["mixed_block"] = bool(si.read_bits(1))
                    g["table_select"] = [si.read_bits(5) for _ in range(2)]
                    g["subblock_gain"] = [si.read_bits(3) for _ in range(3)]
                    # §2.4.2.7 implied regions: the boundary is the
                    # first three short bands (line 36 in MPEG-1,
                    # 3·sbounds[3] generally)
                    g["region0_count"] = (
                        8 if g["block_type"] == 2 and not g["mixed_block"]
                        else 7
                    )
                    g["region1_count"] = 36
                else:
                    g["block_type"] = 0
                    g["mixed_block"] = False
                    g["table_select"] = [si.read_bits(5) for _ in range(3)]
                    g["region0_count"] = si.read_bits(4)
                    g["region1_count"] = si.read_bits(3)
                if lsf:
                    if mode == 1 and (mode_ext & 1) and ch == 1:
                        # intensity channel: §2.4.3.2 reinterprets the
                        # field (intensity_scale LSB + 8-bit int part);
                        # no preflag in either reading
                        g["preflag"] = 0
                    else:
                        g["preflag"] = _l3_lsf_slens(
                            g["scalefac_compress"]
                        )[1]
                else:
                    g["preflag"] = si.read_bits(1)
                g["scalefac_scale"] = si.read_bits(1)
                g["count1table_select"] = si.read_bits(1)
                out.append(g)
        frame_no += 1
        pos += flen
    return out


def decode_mp3_layer3_spectrum(payload: bytes) -> list[dict[str, Any]]:
    """REAL Layer III decode through requantization (§2.4.3.4): per
    (granule, channel), read the scalefactors (long 21-band or SHORT
    12-band × 3-window layouts), decode the big-value pair region
    (tables 1-3) and the count1 quadruple region (tables A/B) from
    the Huffman-coded main data, requantize —

    * long / start / stop blocks (block_type 0/1/3):
      ``xr = sign·|is|^(4/3)·2^((global_gain−210)/4)
      ·2^(−mult·(scalefac+preflag·pretab))``
    * short blocks (block_type 2): the spectrum interleaves the
      three windows per band (window-minor), and
      ``xr = sign·|is|^(4/3)
      ·2^((global_gain−210−8·subblock_gain[win])/4)
      ·2^(−mult·scalefac[band][win])`` — no preemphasis (§2.4.3.4.10)
    * MIXED blocks (block_type 2, mixed_block_flag): lines 0-35 are
      long-coded (sfb 0-7, preemphasis applies), the short interleave
      starts at band 3 — 3·sbounds[3] == 36 at every MPEG-1 rate, so
      the two layouts butt exactly (§2.4.2.7)

    — and emit one row per scalefactor band (and per window for short
    blocks, ``window`` −1 marking long): (frame, granule, channel,
    sfb, window, width, n_nonzero, rms). This is the
    spectral-envelope screening layer; IMDCT + synthesis still raise
    via real_decode's gate.

    STEREO: all four MPEG-1 modes decode; joint stereo applies the
    M/S matrix ``L=(M+S)/√2, R=(M−S)/√2`` over the full spectrum when
    mode_extension bit 1 is set (§2.4.3.4.9.2); intensity stereo
    (bit 0) gates honestly. The BIT RESERVOIR (§2.4.2.7
    main_data_begin) is handled the way real streams demand: each
    frame's main-data region feeds a rolling reservoir, and a frame
    whose ``main_data_begin = N`` starts its granules N bytes BEFORE
    the end of the bytes accumulated from prior frames. A begin
    pointer reaching past the accumulated reservoir raises. ``scfsi``
    scalefactor reuse is decoded per §2.4.2.7 PER CHANNEL: for each
    of the four scfsi band groups (sfb 0-5 / 6-10 / 11-15 / 16-20)
    with its bit set, granule 1 reuses granule 0's scalefactors and
    reads none from the stream (long blocks only — a set scfsi over a
    short granule raises, as the spec forbids it).

    LSF frames (MPEG-2 / MPEG-2.5) decode through the same chain with
    the §2.4.3.2 differences applied: one 576-line granule per frame,
    8-bit main_data_begin, no scfsi, the 9-bit scalefac_compress
    driving the four-slen group partition (nr_of_sfb by implied
    blocktypenumber), implied preflag, LSF band tables (Table B.2),
    and a 6-band long head for mixed blocks (vs MPEG-1's 8).

    Scope gates (each raises honestly): Huffman tables beyond
    0-3/A/B; intensity stereo (both the MPEG-1 mode_extension bit
    and the LSF intensity scalefac_compress interpretation)."""
    sis = parse_mp3_layer3_sideinfo(payload)
    by_key = {
        (s["frame"], s["granule"], s["channel"]): s for s in sis
    }
    # main data: rolling-reservoir walk — every frame's region is
    # appended after decode; main_data_begin indexes back into it
    reservoir = bytearray()
    pos = 0
    end = len(payload)
    out: list[dict[str, Any]] = []
    frame_no = 0
    sqrt_half = 2.0 ** -0.5
    while pos < end:
        hdr = int.from_bytes(payload[pos : pos + 4], "big")
        crc = not (hdr >> 16) & 0x1
        mode = (hdr >> 6) & 0x3
        mode_ext = (hdr >> 4) & 0x3
        nch = 1 if mode == 3 else 2
        ms_on = mode == 1 and bool(mode_ext & 2)
        is_on = mode == 1 and bool(mode_ext & 1)
        version = _MP3_VERSIONS[(hdr >> 19) & 0x3]
        is_lsf = version != "MPEG1"
        n_gr = 1 if is_lsf else 2
        bidx = (hdr >> 12) & 0xF
        ridx = (hdr >> 10) & 0x3
        bitrate = _MP3_BITRATES[
            ("MPEG2" if is_lsf else "MPEG1", 3)
        ][bidx]
        rate = _MP3_RATES[version][ridx]
        padding = (hdr >> 9) & 0x1
        flen = _mp3_frame_len(version, 3, bitrate, rate, padding)
        bounds = _L3_SFB_LONG[rate]
        sbounds = _L3_SFB_SHORT[rate]
        # mixed-block long head: MPEG-1 keeps 8 long bands, LSF 6;
        # both end exactly where the short interleave starts
        n_long_mixed = 6 if is_lsf else 8
        mixed_head = 3 * sbounds[3]
        si_bytes = _mp3_side_info_len(version, nch == 1)
        md_region = payload[
            pos + 4 + (2 if crc else 0) + si_bytes : pos + flen
        ]
        mdb = by_key[(frame_no, 0, 0)]["main_data_begin"]
        if mdb > len(reservoir):
            raise ValueError(
                f"bit reservoir underflow: frame {frame_no} begins "
                f"{mdb} bytes back but only {len(reservoir)} are "
                "accumulated"
            )
        main = _BitReader(
            bytes(reservoir[len(reservoir) - mdb :]) + md_region
            if mdb
            else md_region
        )
        prev_scalefac: list[list[int]] = [[0] * 22 for _ in range(nch)]
        for gr in range(n_gr):
            gxr: list[list[float]] = []
            gnz: list[list[bool]] = []
            gshort: list[bool] = []
            gsf: list[list[int] | None] = []
            gslen: list[list[int] | None] = []
            for ch in range(nch):
                g = by_key[(frame_no, gr, ch)]
                short = g["window_switching"] and g["block_type"] == 2
                mixed = short and g["mixed_block"]
                bits_before = main.bits_read()
                int_ch = is_lsf and is_on and ch == 1
                if is_lsf:
                    if int_ch:
                        # §2.4.3.2 intensity branch: LSB is
                        # intensity_scale, the rest partitions with
                        # the Table B.2 intensity rows (btn 3-5)
                        lsf_slens, _lsf_pre, lsf_btn = (
                            _l3_lsf_int_slens(g["scalefac_compress"])
                        )
                    else:
                        lsf_slens, _lsf_pre, lsf_btn = _l3_lsf_slens(
                            g["scalefac_compress"]
                        )
                    lsf_nsfb = (
                        _L3_LSF_INT_NSFB if int_ch else _L3_LSF_NSFB
                    )[lsf_btn]
                    slen1 = slen2 = 0  # unused on the LSF path
                else:
                    slen1, slen2 = _L3_SLEN[g["scalefac_compress"]]
                gain = 2.0 ** (0.25 * (g["global_gain"] - 210))
                mult = 0.5 * (g["scalefac_scale"] + 1)
                xr = [0.0] * 576
                is_nonzero = [False] * 576
                if short:
                    if gr == 1 and g["scfsi"]:
                        raise ValueError(
                            "scfsi set over a short-block granule"
                        )
                    ssf = [[0] * 3 for _ in range(13)]
                    lhead = [0] * n_long_mixed
                    if is_lsf:
                        # §2.4.3.2: four slen groups partition the
                        # slot sequence — mixed: 6 long bands then
                        # bands 3-11 ×3 windows; short: bands 0-11
                        # ×3 windows (window-minor, as in MPEG-1)
                        if mixed:
                            slots: list[tuple] = [
                                ("L", b) for b in range(6)
                            ] + [
                                ("S", b, w)
                                for b in range(3, 12)
                                for w in range(3)
                            ]
                        else:
                            slots = [
                                ("S", b, w)
                                for b in range(12)
                                for w in range(3)
                            ]
                        groups = lsf_nsfb["mixed" if mixed else "short"]
                        if sum(groups) != len(slots):
                            raise ValueError(
                                "LSF scalefactor groups do not cover "
                                "the block layout"
                            )
                        it = iter(slots)
                        for gi, cnt in enumerate(groups):
                            sl = lsf_slens[gi]
                            for _ in range(cnt):
                                slot = next(it)
                                v = main.read_bits(sl) if sl else 0
                                if slot[0] == "L":
                                    lhead[slot[1]] = v
                                else:
                                    ssf[slot[1]][slot[2]] = v
                    elif mixed:
                        # §2.4.2.7 mixed layout: long sfb 0-7 (slen1),
                        # then short bands 3-5 ×3 windows (slen1) and
                        # 6-11 ×3 (slen2); lines 0-35 stay long-coded,
                        # the short interleave starts at band 3
                        # (3·sbounds[3] == 36 at every MPEG-1 rate)
                        for b in range(8):
                            lhead[b] = (
                                main.read_bits(slen1) if slen1 else 0
                            )
                        for b in range(3, 12):
                            sl = slen1 if b < 6 else slen2
                            for win in range(3):
                                ssf[b][win] = (
                                    main.read_bits(sl) if sl else 0
                                )
                    else:
                        # 12 transmitted bands × 3 windows (§2.4.2.7);
                        # band 12 is untransmitted (scalefactor 0)
                        for b in range(12):
                            sl = slen1 if b < 6 else slen2
                            for win in range(3):
                                ssf[b][win] = (
                                    main.read_bits(sl) if sl else 0
                                )
                    sbgain = g["subblock_gain"]

                    def requant(i: int, val: int, neg: bool) -> None:
                        if mixed and i < mixed_head:
                            # long-coded head of a mixed granule
                            for b in range(n_long_mixed):
                                if bounds[b] <= i < bounds[b + 1]:
                                    break
                            fac = 2.0 ** (
                                -mult
                                * (
                                    lhead[b]
                                    + g["preflag"] * _L3_PRETAB[b]
                                )
                            )
                            v = (abs(val) ** (4.0 / 3.0)) * gain * fac
                            xr[i] = -v if neg else v
                            is_nonzero[i] = val != 0
                            return
                        # interleaved layout: band s spans lines
                        # [3·lo, 3·hi); window-minor within
                        for b in range(13):
                            if 3 * sbounds[b] <= i < 3 * sbounds[b + 1]:
                                ln = sbounds[b + 1] - sbounds[b]
                                win = (i - 3 * sbounds[b]) // ln
                                break
                        else:
                            raise ValueError("spectral line beyond 576")
                        fac = 2.0 ** (-mult * ssf[b][win])
                        g2 = 2.0 ** (
                            0.25
                            * (g["global_gain"] - 210 - 8 * sbgain[win])
                        )
                        v = (abs(val) ** (4.0 / 3.0)) * g2 * fac
                        xr[i] = -v if neg else v
                        is_nonzero[i] = val != 0

                else:
                    scalefac = [0] * 22
                    band_slen = [0] * 22
                    if is_lsf:
                        # §2.4.3.2: the four nr_of_sfb groups cover
                        # the 21 transmitted bands sequentially; no
                        # scfsi exists in LSF side info
                        b = 0
                        for gi, cnt in enumerate(lsf_nsfb["long"]):
                            sl = lsf_slens[gi]
                            for _ in range(cnt):
                                scalefac[b] = (
                                    main.read_bits(sl) if sl else 0
                                )
                                band_slen[b] = sl
                                b += 1
                        if b != 21:
                            raise ValueError(
                                "LSF long scalefactor groups do not "
                                "cover 21 bands"
                            )
                    else:
                        # scfsi band groups (§2.4.2.7): granule 1
                        # reuses granule 0's scalefactors for each set
                        # group and reads NO bits for them
                        for gi, (lo, hi, sl) in enumerate(
                            ((0, 6, slen1), (6, 11, slen1),
                             (11, 16, slen2), (16, 21, slen2))
                        ):
                            if gr == 1 and (g["scfsi"] >> (3 - gi)) & 1:
                                scalefac[lo:hi] = prev_scalefac[ch][lo:hi]
                            else:
                                for b in range(lo, hi):
                                    scalefac[b] = (
                                        main.read_bits(sl) if sl else 0
                                    )
                        if gr == 0:
                            prev_scalefac[ch] = list(scalefac)

                    def band_of(i: int) -> int:
                        for b in range(22):
                            if bounds[b] <= i < bounds[b + 1]:
                                return b
                        raise ValueError("spectral line beyond 576")

                    def requant(i: int, val: int, neg: bool) -> None:
                        b = band_of(i)
                        fac = 2.0 ** (
                            -mult
                            * (
                                scalefac[b]
                                + g["preflag"] * _L3_PRETAB[b]
                            )
                        )
                        v = (abs(val) ** (4.0 / 3.0)) * gain * fac
                        xr[i] = -v if neg else v
                        is_nonzero[i] = val != 0

                # big-value pair region (window-switched granules use
                # the spec-implied line-36 region boundary; the parse
                # already encodes it in region0/1_count)
                line = 0
                for _p in range(g["big_values"]):
                    if g["window_switching"]:
                        r0_end, r1_end = mixed_head, 576
                    else:
                        r0_end = bounds[
                            min(g["region0_count"] + 1, 22)
                        ]
                        r1_end = bounds[
                            min(
                                g["region0_count"] + 1
                                + g["region1_count"] + 1,
                                22,
                            )
                        ]
                    region = (
                        0 if line < r0_end
                        else (1 if line < r1_end else 2)
                    )
                    tsel = g["table_select"][region]
                    if tsel == 0:
                        x = y = 0
                    elif tsel in _L3_PAIR_BYCODE:
                        x, y = _l3_huff_decode(
                            main, _L3_PAIR_BYCODE[tsel]
                        )
                    else:
                        raise NotImplementedError(
                            f"Layer III Huffman table {tsel} "
                            "not transcribed"
                        )
                    for val in (x, y):
                        neg = bool(val and main.read_bits(1))
                        requant(line, val, neg)
                        line += 1
                # count1 region: quads until the channel's bit budget
                # is spent (fixtures are exact — overshoot raises)
                c1tab = (
                    _L3_COUNT1_B_BYCODE
                    if g["count1table_select"]
                    else _L3_COUNT1_A_BYCODE
                )
                budget = g["part2_3_length"]
                while main.bits_read() - bits_before < budget:
                    quad = _l3_huff_decode(main, c1tab)
                    for val in (
                        (quad >> 3) & 1, (quad >> 2) & 1,
                        (quad >> 1) & 1, quad & 1,
                    ):
                        neg = bool(val and main.read_bits(1))
                        if line >= 576:
                            raise ValueError(
                                "count1 region exceeds 576 spectral "
                                "lines"
                            )
                        requant(line, val, neg)
                        line += 1
                if main.bits_read() - bits_before != budget:
                    raise ValueError(
                        "Layer III granule overran part2_3_length"
                    )
                gxr.append(xr)
                gnz.append(is_nonzero)
                gshort.append("mixed" if mixed else ("short" if short else "long"))
                gsf.append(None if short else scalefac)
                gslen.append(None if short else band_slen)
            if is_on:
                # §2.4.3.4.9.3 intensity stereo: every scalefactor
                # band lying entirely in the RIGHT channel's zero
                # part (above its last Huffman-decoded nonzero line)
                # is intensity-coded — the right channel's
                # scalefactor there is the position is_pos, and the
                # left (carrier) spectrum splits by the tan ratio
                #   L = xr·ratio/(1+ratio), R = xr·1/(1+ratio),
                #   ratio = tan(is_pos·π/12)
                # is_pos = 7 is forbidden and falls back to M/S (if
                # mode_extension bit 1 is set) or plain L/R. Bands
                # below the boundary use M/S or L/R the same way.
                if any(s != "long" for s in gshort):
                    raise NotImplementedError(
                        "intensity stereo over window-switched "
                        "granules"
                    )
                last_nz = 0
                for i in range(575, -1, -1):
                    if gnz[1][i]:
                        last_nz = i + 1
                        break
                left = list(gxr[0])
                right = list(gxr[1])
                if is_lsf:
                    # §2.4.3.2: intensity_scale (the LSB the slen
                    # derivation stripped) picks the io ladder base
                    io = 2.0 ** (
                        -0.25
                        * ((by_key[(frame_no, gr, 1)][
                            "scalefac_compress"] & 1) + 1)
                    )
                for b in range(22):
                    lo, hi = bounds[b], bounds[b + 1]
                    is_pos = gsf[1][b]
                    if is_lsf:
                        # illegal marker = all-ones of the band's
                        # slen field (slen 0 → is_pos 0, legal)
                        sl = gslen[1][b]
                        illegal = (1 << sl) - 1 if sl else None
                        intensity_band = (
                            lo >= last_nz and is_pos != illegal
                        )
                    else:
                        intensity_band = lo >= last_nz and is_pos != 7
                    if intensity_band and is_lsf:
                        # §2.4.3.2 reconstruction: odd positions
                        # scale the LEFT by io^((p+1)/2), even ones
                        # the RIGHT by io^(p/2); p = 0 passes both
                        if is_pos == 0:
                            kl = kr = 1.0
                        elif is_pos & 1:
                            kl = io ** ((is_pos + 1) // 2)
                            kr = 1.0
                        else:
                            kl = 1.0
                            kr = io ** (is_pos // 2)
                        for i in range(lo, hi):
                            v = gxr[0][i]
                            left[i] = v * kl
                            right[i] = v * kr
                    elif intensity_band:
                        ratio = math.tan(is_pos * math.pi / 12.0)
                        for i in range(lo, hi):
                            v = gxr[0][i]
                            left[i] = v * (ratio / (1 + ratio))
                            right[i] = v * (1 / (1 + ratio))
                    elif ms_on:
                        for i in range(lo, hi):
                            m_v, s_v = gxr[0][i], gxr[1][i]
                            left[i] = (m_v + s_v) * sqrt_half
                            right[i] = (m_v - s_v) * sqrt_half
                gxr = [left, right]
                gnz = [
                    [v != 0.0 for v in left],
                    [v != 0.0 for v in right],
                ]
            elif ms_on:
                # §2.4.3.4.9.2: full-spectrum M/S matrix
                m_xr, s_xr = gxr
                left = [
                    (m + s) * sqrt_half for m, s in zip(m_xr, s_xr)
                ]
                right = [
                    (m - s) * sqrt_half for m, s in zip(m_xr, s_xr)
                ]
                gxr = [left, right]
                gnz = [
                    [v != 0.0 for v in left],
                    [v != 0.0 for v in right],
                ]
            for ch in range(nch):
                xr, is_nonzero = gxr[ch], gnz[ch]
                if gshort[ch] == "mixed":
                    # long head (8 bands MPEG-1, 6 LSF) at window −1
                    for b in range(n_long_mixed):
                        lo, hi = bounds[b], bounds[b + 1]
                        acc = sum(
                            xr[i] * xr[i] for i in range(lo, hi)
                        )
                        out.append(
                            {
                                "frame": frame_no,
                                "granule": gr,
                                "channel": ch,
                                "sfb": b,
                                "window": -1,
                                "width": hi - lo,
                                "n_nonzero": sum(
                                    1
                                    for i in range(lo, hi)
                                    if is_nonzero[i]
                                ),
                                "rms": round(
                                    (acc / (hi - lo)) ** 0.5, 6
                                ),
                            }
                        )
                    # short tail: bands 3-12 × 3 windows
                    for b in range(3, 13):
                        ln = sbounds[b + 1] - sbounds[b]
                        for win in range(3):
                            lo = 3 * sbounds[b] + win * ln
                            hi = lo + ln
                            acc = sum(
                                xr[i] * xr[i] for i in range(lo, hi)
                            )
                            out.append(
                                {
                                    "frame": frame_no,
                                    "granule": gr,
                                    "channel": ch,
                                    "sfb": b,
                                    "window": win,
                                    "width": ln,
                                    "n_nonzero": sum(
                                        1
                                        for i in range(lo, hi)
                                        if is_nonzero[i]
                                    ),
                                    "rms": round(
                                        (acc / ln) ** 0.5, 6
                                    ),
                                }
                            )
                elif gshort[ch] == "short":
                    for b in range(13):
                        ln = sbounds[b + 1] - sbounds[b]
                        for win in range(3):
                            lo = 3 * sbounds[b] + win * ln
                            hi = lo + ln
                            acc = sum(
                                xr[i] * xr[i] for i in range(lo, hi)
                            )
                            out.append(
                                {
                                    "frame": frame_no,
                                    "granule": gr,
                                    "channel": ch,
                                    "sfb": b,
                                    "window": win,
                                    "width": ln,
                                    "n_nonzero": sum(
                                        1
                                        for i in range(lo, hi)
                                        if is_nonzero[i]
                                    ),
                                    "rms": round(
                                        (acc / ln) ** 0.5, 6
                                    ),
                                }
                            )
                else:
                    for b in range(22):
                        lo, hi = bounds[b], bounds[b + 1]
                        acc = sum(
                            xr[i] * xr[i] for i in range(lo, hi)
                        )
                        out.append(
                            {
                                "frame": frame_no,
                                "granule": gr,
                                "channel": ch,
                                "sfb": b,
                                "window": -1,
                                "width": hi - lo,
                                "n_nonzero": sum(
                                    1
                                    for i in range(lo, hi)
                                    if is_nonzero[i]
                                ),
                                "rms": round(
                                    (acc / (hi - lo)) ** 0.5, 6
                                ),
                            }
                        )
        reservoir += md_region
        if len(reservoir) > 511:  # 9-bit pointer: older bytes are dead
            del reservoir[: len(reservoir) - 511]
        frame_no += 1
        pos += flen
    return out


def _l3_pack_pairs_quads(
    g: dict[str, Any], bits: list[tuple[int, int]]
) -> None:
    """Append a granule's Huffman-coded big-value pairs and count1
    quads (shared by the MPEG-1 and LSF builder paths)."""
    table = _L3_PAIR_TABLES[g["table"]]
    for x, y in g["pairs"]:
        ln, code = table[(abs(x), abs(y))]
        bits.append((code, ln))
        if x:
            bits.append((1 if x < 0 else 0, 1))
        if y:
            bits.append((1 if y < 0 else 0, 1))
    c1 = _L3_COUNT1_A if g.get("count1table", "A") == "A" else _L3_COUNT1_B
    for quad in g.get("quads", []):
        idx = 0
        for v in quad:
            idx = (idx << 1) | (1 if v else 0)
        ln, code = c1[idx]
        bits.append((code, ln))
        for v in quad:
            if v:
                bits.append((1 if v < 0 else 0, 1))


def build_mp3_layer3(
    *,
    sample_rate: int = 44100,
    bitrate_kbps: int = 192,
    granules: list[Any] | None = None,
    n_frames: int = 1,
    frames: list[dict[str, Any]] | None = None,
    reservoir: bool = False,
    mode: str = "mono",
    version: str = "MPEG1",
) -> bytes:
    """Fixture writer: Layer III frames with REAL side info
    and Huffman-coded main data (§2.4.1.7). Each granule dict:
    ``global_gain``, ``scalefac_compress``, ``scalefac`` (21 values
    fitting the slen widths), ``preflag``, ``scalefac_scale``,
    ``table`` (1-3, used for all regions), ``pairs`` (signed
    big-value pairs, |v| within the table), ``quads`` (signed count1
    4-tuples), ``count1table`` ('A' or 'B'), ``region0_count``,
    ``region1_count`` — or, for SHORT blocks, ``block_type: 2`` with
    ``scalefac_short`` (12 bands × 3 windows) and ``subblock_gain``
    (3 values ≤ 7) instead of ``scalefac``/``preflag`` (§2.4.2.7
    short layout; regions are then spec-implied). part2_3_length is
    computed exactly from the emitted bits.

    ``mode``: "mono" writes the 17-byte side info; "stereo",
    "joint_ms" (joint stereo with the M/S bit set) and "dual" write
    the 32-byte two-channel layout — granule entries are then
    PER-CHANNEL pairs ``[g_ch0, g_ch1]`` and ``scfsi`` a
    ``[ch0, ch1]`` list. Main data packs granule-major channel-minor
    as the spec requires.

    ``granules``+``n_frames`` repeats one 2-granule frame;
    ``frames`` instead takes per-frame dicts ``{"granules": [g0,
    g1], "scfsi": ...}`` — scfsi band groups (sfb 0-5/6-10/11-15/
    16-20, MSB first) with a set bit make granule 1 REUSE granule
    0's scalefactors: no bits are written for them (the dicts must
    agree on the reused bands — validated; long blocks only).

    ``reservoir=True`` packs the frames' main data as one contiguous
    byte stream across frame regions the way real encoders do: each
    frame's ``main_data_begin`` is the distance back into the
    accumulated prior regions where its granules start. With
    ``False`` every frame's main data sits in its own region
    (main_data_begin 0).

    ``version``: "MPEG1" (default) or the LSF variants "MPEG2" /
    "MPEG2.5" (ISO 13818-3): ONE granule per frame, 8-bit
    main_data_begin, no scfsi, 9-bit scalefac_compress whose
    §2.4.3.2 derivation fixes the four slen widths, the implied
    preflag (an explicit ``preflag`` must match it) and the
    nr_of_sfb group partition — long blocks still take 21
    scalefactors, mixed blocks a 6-long + 9×3-short layout."""
    mode_bits = {
        "stereo": 0, "joint_ms": 1, "joint_is": 1, "joint_is_ms": 1,
        "dual": 2, "mono": 3,
    }[mode]
    vbits = {"MPEG1": 3, "MPEG2": 2, "MPEG2.5": 0}[version]
    lsf_mode = version != "MPEG1"
    n_gr = 1 if lsf_mode else 2
    mode_ext = {"joint_ms": 2, "joint_is": 1, "joint_is_ms": 3}.get(mode, 0)
    nch = 1 if mode == "mono" else 2
    if frames is None:
        if granules is None:
            raise ValueError("need granules or frames")
        frames = [{"granules": granules}] * n_frames
    norm_frames: list[dict[str, Any]] = []
    for fr in frames:
        if len(fr["granules"]) != n_gr:
            raise ValueError(
                f"{version} Layer III frames carry exactly {n_gr} "
                "granule(s)"
            )
        grs = []
        for entry in fr["granules"]:
            chans = entry if isinstance(entry, (list, tuple)) else [entry]
            if len(chans) != nch:
                raise ValueError(
                    f"mode {mode} needs {nch} channel dict(s) per granule"
                )
            grs.append(list(chans))
        scfsi = fr.get("scfsi", 0)
        if isinstance(scfsi, int):
            scfsi = [scfsi] * nch
        if lsf_mode and any(scfsi):
            raise ValueError("scfsi does not exist in LSF side info")
        norm_frames.append({"granules": grs, "scfsi": list(scfsi)})
    ridx = _MP3_RATES[version].index(sample_rate)
    bidx = _MP3_BITRATES[
        ("MPEG2" if lsf_mode else "MPEG1", 3)
    ].index(bitrate_kbps)
    flen = _mp3_frame_len(version, 3, bitrate_kbps, sample_rate, 0)
    si_bytes = _mp3_side_info_len(version, nch == 1)
    hdr = (
        (0x7FF << 21) | (vbits << 19) | (1 << 17) | (1 << 16)
        | (bidx << 12) | (ridx << 10) | (mode_bits << 6)
        | (mode_ext << 4)
    )

    def granule_main_bits(
        g: dict[str, Any],
        skip_groups: frozenset[int] = frozenset(),
        intensity_ch: bool = False,
    ) -> list[tuple[int, int]]:
        bits: list[tuple[int, int]] = []
        if lsf_mode:
            if intensity_ch:
                lsf_slens, pre_implied, btn = _l3_lsf_int_slens(
                    g["scalefac_compress"]
                )
            else:
                lsf_slens, pre_implied, btn = _l3_lsf_slens(
                    g["scalefac_compress"]
                )
            if "preflag" in g and g["preflag"] != pre_implied:
                raise ValueError(
                    "LSF preflag is implied by scalefac_compress "
                    f"({pre_implied}); no preflag bit exists"
                )
            if skip_groups:
                raise ValueError("scfsi does not exist in LSF side info")
            if g.get("block_type", 0) == 2:
                ssf = g["scalefac_short"]
                if g.get("mixed", False):
                    lhead = g["scalefac"]
                    if len(lhead) != 6:
                        raise ValueError(
                            "LSF mixed blocks need 6 long scalefactors"
                        )
                    if len(ssf) != 9 or any(len(w) != 3 for w in ssf):
                        raise ValueError(
                            "LSF mixed blocks need 9×3 short "
                            "scalefactors (bands 3-11)"
                        )
                    vals = list(lhead) + [
                        ssf[b - 3][w]
                        for b in range(3, 12)
                        for w in range(3)
                    ]
                    kind = "mixed"
                else:
                    if len(ssf) != 12 or any(len(w) != 3 for w in ssf):
                        raise ValueError("need 12×3 short scalefactors")
                    vals = [
                        ssf[b][w] for b in range(12) for w in range(3)
                    ]
                    kind = "short"
            else:
                sf = g["scalefac"]
                if len(sf) != 21:
                    raise ValueError("need 21 long-block scalefactors")
                vals = list(sf)
                kind = "long"
            groups = (
                _L3_LSF_INT_NSFB if intensity_ch else _L3_LSF_NSFB
            )[btn][kind]
            if sum(groups) != len(vals):
                raise ValueError(
                    "LSF scalefactor groups do not cover the layout"
                )
            i = 0
            for gi, cnt in enumerate(groups):
                sl = lsf_slens[gi]
                for _ in range(cnt):
                    v = vals[i]
                    i += 1
                    if sl:
                        if v >= (1 << sl):
                            raise ValueError(
                                "scalefactor exceeds slen width"
                            )
                        bits.append((v, sl))
                    elif v:
                        raise ValueError(
                            "nonzero scalefactor with slen 0"
                        )
            _l3_pack_pairs_quads(g, bits)
            return bits
        slen1, slen2 = _L3_SLEN[g["scalefac_compress"]]
        if g.get("block_type", 0) == 2:
            if skip_groups:
                raise ValueError("scfsi is invalid over short blocks")
            ssf = g["scalefac_short"]
            if g.get("mixed", False):
                # §2.4.2.7 mixed: long sfb 0-7 (slen1), then short
                # bands 3-11 (3-5 slen1, 6-11 slen2), window-minor
                lsf = g["scalefac"]
                if len(lsf) != 8:
                    raise ValueError(
                        "mixed blocks need 8 long scalefactors"
                    )
                if len(ssf) != 9 or any(len(w) != 3 for w in ssf):
                    raise ValueError(
                        "mixed blocks need 9×3 short scalefactors "
                        "(bands 3-11)"
                    )
                for v in lsf:
                    if slen1:
                        if v >= (1 << slen1):
                            raise ValueError(
                                "scalefactor exceeds slen width"
                            )
                        bits.append((v, slen1))
                    elif v:
                        raise ValueError(
                            "nonzero scalefactor with slen 0"
                        )
                for b in range(3, 12):
                    sl = slen1 if b < 6 else slen2
                    for win in range(3):
                        v = ssf[b - 3][win]
                        if sl:
                            if v >= (1 << sl):
                                raise ValueError(
                                    "short scalefactor exceeds slen "
                                    "width"
                                )
                            bits.append((v, sl))
                        elif v:
                            raise ValueError(
                                "nonzero short scalefactor with slen 0"
                            )
            else:
                if len(ssf) != 12 or any(len(w) != 3 for w in ssf):
                    raise ValueError("need 12×3 short scalefactors")
                for b in range(12):
                    sl = slen1 if b < 6 else slen2
                    for win in range(3):
                        if sl:
                            if ssf[b][win] >= (1 << sl):
                                raise ValueError(
                                    "short scalefactor exceeds slen "
                                    "width"
                                )
                            bits.append((ssf[b][win], sl))
                        elif ssf[b][win]:
                            raise ValueError(
                                "nonzero short scalefactor with slen 0"
                            )
        else:
            sf = g["scalefac"]
            if len(sf) != 21:
                raise ValueError("need 21 long-block scalefactors")
            for gi, (lo, hi, sl) in enumerate(
                ((0, 6, slen1), (6, 11, slen1),
                 (11, 16, slen2), (16, 21, slen2))
            ):
                if gi in skip_groups:  # scfsi: granule 1 writes no bits
                    continue
                for b in range(lo, hi):
                    if sl:
                        if sf[b] >= (1 << sl):
                            raise ValueError(
                                "scalefactor exceeds slen width"
                            )
                        bits.append((sf[b], sl))
                    elif sf[b]:
                        raise ValueError("nonzero scalefactor with slen 0")
        _l3_pack_pairs_quads(g, bits)
        return bits

    def pack(bits: list[tuple[int, int]]) -> bytes:
        buf = bytearray()
        acc, n = 0, 0
        for v, ln in bits:
            for i in range(ln - 1, -1, -1):
                acc = (acc << 1) | ((v >> i) & 1)
                n += 1
                if n == 8:
                    buf.append(acc)
                    acc, n = 0, 0
        if n:
            buf.append(acc << (8 - n))
        return bytes(buf)

    def granule_side_bits(
        g: dict[str, Any], part23: int
    ) -> list[tuple[int, int]]:
        if part23 >= 1 << 12:
            raise ValueError("granule main data exceeds 12-bit length")
        side = [
            (part23, 12),
            (len(g["pairs"]), 9),
            (g["global_gain"], 8),
            (g["scalefac_compress"], 9 if lsf_mode else 4),
        ]
        bt = g.get("block_type", 0)
        if bt:
            side += [
                (1, 1),  # window_switching_flag
                (bt, 2),
                (1 if g.get("mixed", False) else 0, 1),
                (g["table"], 5), (g["table"], 5),
            ]
            for sb in g.get("subblock_gain", [0, 0, 0]):
                side.append((sb, 3))
        else:
            side += [
                (0, 1),
                (g["table"], 5), (g["table"], 5), (g["table"], 5),
                (g.get("region0_count", 3), 4),
                (g.get("region1_count", 3), 3),
            ]
        if not lsf_mode:  # LSF has no preflag bit (§2.4.3.2 implies it)
            side.append((g.get("preflag", 0), 1))
        side += [
            (g.get("scalefac_scale", 0), 1),
            (1 if g.get("count1table", "A") == "B" else 0, 1),
        ]
        return side

    groups = ((0, 6), (6, 11), (11, 16), (16, 21))
    frame_md: list[bytes] = []
    frame_side: list[list[tuple[int, int]]] = []
    for fr in norm_frames:
        grans_fr, scfsi = fr["granules"], fr["scfsi"]
        skips: list[frozenset[int]] = [frozenset()] * nch
        if not lsf_mode:
            (g0s, g1s) = grans_fr
            skips = []
            for ch in range(nch):
                sk = frozenset(
                    gi for gi in range(4) if (scfsi[ch] >> (3 - gi)) & 1
                )
                if sk and (
                    g0s[ch].get("block_type", 0) == 2
                    or g1s[ch].get("block_type", 0) == 2
                ):
                    raise ValueError("scfsi is invalid over short blocks")
                for gi in sk:
                    lo, hi = groups[gi]
                    if (
                        g0s[ch]["scalefac"][lo:hi]
                        != g1s[ch]["scalefac"][lo:hi]
                    ):
                        raise ValueError(
                            "scfsi group reuses unequal scalefactors"
                        )
                skips.append(sk)
        # main data packs granule-major channel-minor (§2.4.2.7)
        mains = [
            [
                granule_main_bits(
                    grans_fr[gr][ch],
                    skips[ch] if gr else frozenset(),
                    intensity_ch=(
                        lsf_mode and bool(mode_ext & 1) and ch == 1
                    ),
                )
                for ch in range(nch)
            ]
            for gr in range(n_gr)
        ]
        side: list[tuple[int, int]] = [
            # main_data_begin — patched at layout time (8-bit in LSF)
            (0, 8 if lsf_mode else 9),
            (0, (1 if nch == 1 else 2) if lsf_mode
             else (5 if nch == 1 else 3)),  # private_bits
        ]
        if not lsf_mode:
            for ch in range(nch):
                side.append((scfsi[ch], 4))
        for gr in range(n_gr):
            for ch in range(nch):
                part23 = sum(ln for _v, ln in mains[gr][ch])
                side += granule_side_bits(grans_fr[gr][ch], part23)
        frame_side.append(side)
        frame_md.append(
            pack([b for gr in mains for chbits in gr for b in chbits])
        )

    # layout: each frame's region (flen - header - side info) either
    # carries its own main data (reservoir=False) or a slice of the
    # CONTIGUOUS cross-frame main-data stream, with main_data_begin
    # measuring how far back into the accumulated prior regions this
    # frame's granules start (§2.4.2.7)
    region_cap = flen - 4 - si_bytes
    stream = b"".join(frame_md)
    out = bytearray()
    region_bytes = 0  # W: region capacity laid down so far
    stream_off = 0  # S: stream offset of this frame's main data
    for i, (side, md) in enumerate(zip(frame_side, frame_md)):
        if reservoir:
            mdb = region_bytes - stream_off
            if mdb > (255 if lsf_mode else 511):
                raise ValueError(
                    f"frame {i}: reservoir back-pointer {mdb} exceeds "
                    f"the {8 if lsf_mode else 9}-bit field — shrink "
                    "earlier frames' slack"
                )
            if stream_off + len(md) > region_bytes + region_cap:
                raise ValueError(
                    f"frame {i} main data ({len(md)} B) extends past "
                    "its own region"
                )
            region = stream[region_bytes : region_bytes + region_cap]
            region = region.ljust(region_cap, b"\x00")
        else:
            mdb = 0
            if len(md) > region_cap:
                raise ValueError(
                    f"frame needs {32 + si_bytes * 8 + len(md) * 8} "
                    f"bits, holds {flen * 8}"
                )
            region = md.ljust(region_cap, b"\x00")
        side[0] = (mdb, 8 if lsf_mode else 9)
        side_bytes = pack(side)
        assert len(side_bytes) == si_bytes
        out += hdr.to_bytes(4, "big") + side_bytes + region
        region_bytes += region_cap
        stream_off += len(md)
    return bytes(out)


def _unsync_encode(data: bytes) -> bytes:
    """ID3v2 unsynchronisation (id3.org §5 / v2.4 §6.1): insert 0x00
    after every 0xFF that precedes a byte with the top three bits set
    (a false MPEG sync) or another 0x00; a trailing 0xFF also gets
    the guard byte."""
    out = bytearray()
    n = len(data)
    for i, b in enumerate(data):
        out.append(b)
        if b == 0xFF and (
            i + 1 == n or data[i + 1] >= 0xE0 or data[i + 1] == 0x00
        ):
            out.append(0x00)
    return bytes(out)


def _unsync_decode(data: bytes) -> bytes:
    """Inverse of :func:`_unsync_encode`: every FF 00 becomes FF."""
    return data.replace(b"\xff\x00", b"\xff")


def _syncsafe(n: int) -> bytes:
    return bytes(
        [(n >> 21) & 0x7F, (n >> 14) & 0x7F, (n >> 7) & 0x7F, n & 0x7F]
    )


# v2.2 (id3v2-00 §4) used 3-character frame ids; parse/build translate
# the text frames the provenance layer reads to their modern names
_ID3V22_TO_V23 = {
    "TT1": "TIT1", "TT2": "TIT2", "TT3": "TIT3",
    "TP1": "TPE1", "TP2": "TPE2", "TAL": "TALB",
    "TYE": "TYER", "TRK": "TRCK", "TCO": "TCON", "TEN": "TENC",
}
_ID3V23_TO_V22 = {v: k for k, v in _ID3V22_TO_V23.items()}


def build_id3v2(
    frames: dict[str, str],
    *,
    encoding: int = 3,
    pad: int = 16,
    version: int = 3,
    unsync: bool = False,
    footer: bool = False,
) -> bytes:
    """Fixture writer: an ID3v2.2, v2.3 or v2.4 tag with real text
    frames (TIT2 / TPE1 / TALB / TYER …; v2.2 takes the same modern
    ids and writes their 3-character spellings per id3v2-00 §4).
    ``encoding`` is the ID3 text-encoding byte: 0 latin-1, 1 UTF-16
    with BOM, 2 UTF-16BE without BOM (v2.4-only), 3 UTF-8 (v2.4's
    default, widely written into v2.3 tags in the wild — the parser
    takes both; v2.2 defines only 0/1). ``unsync=True`` applies
    unsynchronisation the way each version prescribes: whole-tag for
    v2.2/v2.3, per-frame (with the frame format flag set) for v2.4.
    ``footer`` appends the v2.4 10-byte '3DI' footer (which also
    forbids padding, per §3.1)."""
    if version not in (2, 3, 4):
        raise ValueError("only ID3v2.2 / v2.3 / v2.4 fixtures")
    if footer and version != 4:
        raise ValueError("footer is v2.4-only")
    if version == 2 and encoding not in (0, 1):
        raise ValueError("ID3v2.2 defines only encodings 0 (latin-1)/1 (UCS-2)")
    body = bytearray()
    for fid, text in frames.items():
        if encoding == 0:
            payload = bytes([0]) + text.encode("latin-1")
        elif encoding == 1:
            payload = bytes([1]) + text.encode("utf-16")  # BOM included
        elif encoding == 2:
            if version != 4:
                raise ValueError("UTF-16BE (enc 2) is v2.4-only")
            payload = bytes([2]) + text.encode("utf-16-be")
        elif encoding == 3:
            payload = bytes([3]) + text.encode("utf-8")
        else:
            raise ValueError(f"unsupported ID3 text encoding {encoding}")
        if version == 2:
            fid22 = _ID3V23_TO_V22.get(fid, fid)
            if len(fid22) != 3:
                raise ValueError(f"no ID3v2.2 spelling for frame {fid!r}")
            body += fid22.encode("latin-1")
            body += len(payload).to_bytes(3, "big")  # v2.2: 3-byte size,
            body += payload                          # no frame flags
            continue
        fflags = b"\x00\x00"
        if version == 4:
            if unsync:
                payload = _unsync_encode(payload)
                fflags = b"\x00\x02"  # frame-level unsync format flag
            body += fid.encode("latin-1")
            body += _syncsafe(len(payload))  # v2.4: syncsafe
        else:
            body += fid.encode("latin-1")
            body += len(payload).to_bytes(4, "big")  # v2.3: plain
        body += fflags
        body += payload
    if not footer:
        body += bytes(pad)
    tag_flags = 0
    if version in (2, 3) and unsync:
        body = bytearray(_unsync_encode(bytes(body)))
        tag_flags |= 0x80
    if version == 4 and unsync:
        tag_flags |= 0x80  # announces all frames are unsynchronised
    if footer:
        tag_flags |= 0x10
    out = (
        b"ID3" + bytes([version, 0, tag_flags])
        + _syncsafe(len(body)) + bytes(body)
    )
    if footer:
        out += b"3DI" + bytes([version, 0, tag_flags]) + _syncsafe(
            len(body)
        )
    return out


def parse_id3v2(payload: bytes) -> dict[str, Any]:
    """Parse the leading ID3v2.2 / v2.3 / v2.4 tag's TEXT frames
    (id3.org specs — the provenance layer of audio screening:
    title/artist/album/year without touching a single audio frame).

    Returns ``{"frames": {id: text, …}, "tag_bytes": total}`` with
    text decoded per the frame's encoding byte (0 latin-1, 1 UTF-16
    BOM, 2 UTF-16BE v2.4-only, 3 UTF-8; v2.2 defines only 0/1).
    Version differences handled per spec: v2.4 frame sizes are
    SYNCSAFE and unsynchronisation is per-frame (format flag 0x02, or
    announced tag-wide by header flag 0x80), v2.2/v2.3
    unsynchronisation covers the whole tag body; v2.2 frames carry
    6-byte headers (3-char id + 3-byte size, no flags, id3v2-00 §3.2)
    and the well-known text ids are translated to their modern
    spellings (TT2 → TIT2 …) so downstream columns are
    version-independent; the v2.4 footer ('3DI', header flag 0x10)
    adds 10 bytes to ``tag_bytes``. Extended headers are skipped by
    their own size field (v2.3 excludes itself, v2.4 includes
    itself); the v2.2 header compression bit (0x40) gates honestly —
    the spec defines no scheme for it, only "discard the tag".
    Non-text frames (no leading 'T') are skipped but bounds-checked;
    padding terminates the walk. No tag → empty frames, tag_bytes 0 —
    absence is data in a crawled corpus."""
    if payload[:3] != b"ID3" or len(payload) < 10:
        return {"frames": {}, "tag_bytes": 0, "version": 0}
    ver, flags = payload[3], payload[5]
    if ver not in (2, 3, 4):
        raise NotImplementedError(f"ID3v2.{ver} tag (only v2.2/v2.3/v2.4)")
    if ver == 2 and flags & 0x40:
        raise NotImplementedError("ID3v2.2 compression bit")
    size = 0
    for b in payload[6:10]:
        if b & 0x80:
            raise ValueError("invalid ID3v2 syncsafe size")
        size = (size << 7) | b
    end = 10 + size
    if end > len(payload):
        raise ValueError("ID3v2 size exceeds payload")
    tag_bytes = end + (10 if ver == 4 and flags & 0x10 else 0)
    body = payload[10:end]
    tag_unsync = bool(flags & 0x80)
    if ver in (2, 3) and tag_unsync:
        body = _unsync_decode(body)
    if ver != 2 and flags & 0x40:  # extended header
        if ver == 4:
            # syncsafe size INCLUDING itself (§3.2)
            ehs = 0
            for b in body[:4]:
                ehs = (ehs << 7) | (b & 0x7F)
            body = body[ehs:]
        else:
            # v2.3: plain 4-byte size EXCLUDING the size field
            ehs = int.from_bytes(body[:4], "big")
            body = body[4 + ehs:]
    frames: dict[str, str] = {}
    pos = 0
    n = len(body)
    hdr = 6 if ver == 2 else 10  # v2.2: 3-char id + 3-byte size, no flags
    id_len = 3 if ver == 2 else 4
    while pos + hdr <= n:
        fid = body[pos : pos + id_len]
        if fid[0] == 0:  # padding reached
            break
        raw_len = body[pos + id_len : pos + hdr - (0 if ver == 2 else 2)]
        if ver == 4:
            if any(b & 0x80 for b in raw_len):
                raise ValueError("invalid v2.4 syncsafe frame size")
            flen = 0
            for b in raw_len:
                flen = (flen << 7) | b
        else:
            flen = int.from_bytes(raw_len, "big")
        fmt_flags = 0 if ver == 2 else body[pos + 9]
        if pos + hdr + flen > n:
            raise ValueError(f"ID3v2 frame at {pos} escapes the tag")
        data = body[pos + hdr : pos + hdr + flen]
        pos += hdr + flen
        if ver == 4 and (fmt_flags & 0x02 or tag_unsync):
            data = _unsync_decode(data)
        if not fid.startswith(b"T") or not data:
            continue
        enc = data[0]
        raw = data[1:].split(
            b"\x00\x00" if enc in (1, 2) else b"\x00", 1
        )[0]
        if ver == 2 and enc not in (0, 1):
            raise NotImplementedError(f"ID3v2.2 text encoding {enc}")
        if enc == 0:
            text = raw.decode("latin-1")
        elif enc == 1:
            text = raw.decode("utf-16")
        elif enc == 2:
            if ver != 4:
                raise NotImplementedError("UTF-16BE text in a v2.3 tag")
            text = raw.decode("utf-16-be")
        elif enc == 3:
            text = raw.decode("utf-8")
        else:
            raise NotImplementedError(f"ID3 text encoding {enc}")
        name = fid.decode("latin-1")
        if ver == 2:
            name = _ID3V22_TO_V23.get(name, name)
        frames[name] = text
    return {"frames": frames, "tag_bytes": tag_bytes, "version": ver}


def parse_mp3_meta(payload: bytes) -> dict[str, Any]:
    """REAL MP3 metadata walk: every frame header parsed, frame count
    and VBR-exact duration from the walk itself, Xing/Info header
    read and cross-checked. See the section comment for scope."""
    id3v2 = False
    pos = 0
    if payload[:3] == b"ID3" and len(payload) >= 10:
        id3v2 = True
        flags = payload[5]
        size = 0
        for b in payload[6:10]:
            if b & 0x80:
                raise ValueError("invalid ID3v2 syncsafe size")
            size = (size << 7) | b
        pos = 10 + size + (10 if flags & 0x10 else 0)  # bit4 = footer
    end = len(payload)
    if end - pos >= 128 and payload[end - 128 : end - 125] == b"TAG":
        end -= 128  # trailing ID3v1 tag

    first: dict[str, Any] | None = None
    n_frames = 0
    bitrates: dict[int, int] = {}  # kbps → frame count (VBR histogram)
    xing_frames = None
    vbr_tag = False
    while pos < end:
        if end - pos < 4:
            raise ValueError(f"truncated MP3 frame header at byte {pos}")
        hdr = int.from_bytes(payload[pos : pos + 4], "big")
        if hdr >> 21 != 0x7FF:
            raise ValueError(f"lost MP3 frame sync at byte {pos}")
        vbits = (hdr >> 19) & 0x3
        if vbits == 1:
            raise ValueError("reserved MPEG version id")
        version = _MP3_VERSIONS[vbits]
        lbits = (hdr >> 17) & 0x3
        if lbits == 0:
            raise ValueError("reserved MPEG layer")
        layer = 4 - lbits  # 01→III, 10→II, 11→I
        crc = not (hdr >> 16) & 0x1  # protection bit 0 = CRC present
        bidx = (hdr >> 12) & 0xF
        if bidx == 0:
            raise NotImplementedError("free-format MP3 bitrate")
        if bidx == 15:
            raise ValueError("invalid MP3 bitrate index")
        ridx = (hdr >> 10) & 0x3
        if ridx == 3:
            raise ValueError("invalid MP3 sampling rate index")
        if (hdr & 0x3) == 2:
            raise ValueError("reserved MP3 emphasis")
        group = "MPEG1" if version == "MPEG1" else "MPEG2"
        bitrate = _MP3_BITRATES[(group, layer)][bidx]
        rate = _MP3_RATES[version][ridx]
        padding = (hdr >> 9) & 0x1
        mono = ((hdr >> 6) & 0x3) == 3
        if first is None:
            first = {
                "version": version,
                "layer": layer,
                "sample_rate": rate,
                "n_channels": 1 if mono else 2,
                "bitrate_kbps": bitrate,
            }
            # Xing/Info sits after the layer III side info
            if layer == 3:
                xoff = pos + 4 + (2 if crc else 0) + _mp3_side_info_len(
                    version, mono
                )
                tag = payload[xoff : xoff + 4]
                if tag in (b"Xing", b"Info"):
                    vbr_tag = tag == b"Xing"
                    xflags = int.from_bytes(
                        payload[xoff + 4 : xoff + 8], "big"
                    )
                    if xflags & 0x1:  # frame count present
                        xing_frames = int.from_bytes(
                            payload[xoff + 8 : xoff + 12], "big"
                        )
                # Fraunhofer VBRI: fixed slot 32 bytes after the
                # 4-byte header, independent of side-info length
                voff = pos + 4 + 32
                if payload[voff : voff + 4] == b"VBRI":
                    vbr_tag = True
                    xing_frames = int.from_bytes(
                        payload[voff + 14 : voff + 18], "big"
                    )
        elif (version, layer, rate) != (
            first["version"],
            first["layer"],
            first["sample_rate"],
        ):
            raise ValueError(f"MP3 stream parameters change at byte {pos}")
        n_frames += 1
        bitrates[bitrate] = bitrates.get(bitrate, 0) + 1
        flen = _mp3_frame_len(version, layer, bitrate, rate, padding)
        if flen <= 4:
            raise ValueError("degenerate MP3 frame length")
        if pos + flen > end:
            # the header promises flen bytes the stream doesn't have —
            # counting the tail as a full frame would overstate the
            # duration, so fail loudly like every other malformation
            raise ValueError(
                f"truncated final MP3 frame at byte {pos}: header "
                f"promises {flen} bytes, {end - pos} remain"
            )
        pos += flen
    if first is None:
        raise ValueError("MP3 contains no audio frame")
    if xing_frames is not None and xing_frames != n_frames:
        raise ValueError(
            f"Xing frame count {xing_frames} != walked {n_frames}"
        )
    # stream parameters are enforced constant across the walk, so the
    # VBR-exact duration is the closed form n_frames · spf / rate
    spf = _mp3_spf(first["version"], first["layer"])
    return {
        "kind": "audio",
        **first,
        "n_frames": n_frames,
        "duration_sec": round(n_frames * spf / first["sample_rate"], 4),
        "vbr": vbr_tag or len(bitrates) > 1,
        "id3v2": id3v2,
        # per-frame bitrate histogram from the walk — the VBR profile
        # an audio-screening stage filters on without decoding
        "bitrate_hist": sorted(bitrates.items()),
        "n_bitrates": len(bitrates),
        "min_bitrate_kbps": min(bitrates),
        "max_bitrate_kbps": max(bitrates),
        "avg_bitrate_kbps": round(
            sum(k * c for k, c in bitrates.items()) / n_frames, 2
        ),
    }


def build_mp3(
    *,
    version: str = "MPEG1",
    layer: int = 3,
    bitrate_kbps: int | list[int] = 128,
    sample_rate: int = 44100,
    n_frames: int = 4,
    mono: bool = False,
    pad_every: int = 0,
    xing: bool = False,
    vbri: bool = False,
    id3v2_bytes: int = 0,
    id3v2_frames: dict[str, str] | None = None,
    id3v2_encoding: int = 3,
    id3v2_version: int = 3,
    id3v2_unsync: bool = False,
    id3v2_footer: bool = False,
    id3v1: bool = False,
    crc: bool = False,
) -> bytes:
    """Fixture writer: a conformant MP3 frame sequence (headers +
    spec-exact frame lengths; payload slots are deterministic filler —
    this layer never decodes audio). ``bitrate_kbps`` may be a
    per-frame list (VBR). ``pad_every`` sets the padding bit on every
    k-th frame. ``xing`` writes a Xing tag (flags=frames|bytes) into
    the first frame's post-side-info slot; ``vbri`` writes a
    Fraunhofer VBRI header at its fixed 32-bytes-after-header slot."""
    group = "MPEG1" if version == "MPEG1" else "MPEG2"
    rates = _MP3_RATES[version]
    ridx = rates.index(sample_rate)
    vbits = {v: k for k, v in _MP3_VERSIONS.items()}[version]
    brs = (
        list(bitrate_kbps)
        if isinstance(bitrate_kbps, list)
        else [bitrate_kbps] * n_frames
    )
    out = bytearray()
    if id3v2_frames:
        out += build_id3v2(
            id3v2_frames,
            encoding=id3v2_encoding,
            version=id3v2_version,
            unsync=id3v2_unsync,
            footer=id3v2_footer,
        )
    elif id3v2_bytes:
        size = id3v2_bytes
        ss = bytes(
            [(size >> 21) & 0x7F, (size >> 14) & 0x7F,
             (size >> 7) & 0x7F, size & 0x7F]
        )
        out += b"ID3" + bytes([3, 0, 0]) + ss + bytes(size)
    for i, kbps in enumerate(brs):
        bidx = _MP3_BITRATES[(group, layer)].index(kbps)
        padding = 1 if pad_every and (i + 1) % pad_every == 0 else 0
        hdr = (
            (0x7FF << 21)
            | (vbits << 19)
            | ((4 - layer) << 17)
            | ((0 if crc else 1) << 16)
            | (bidx << 12)
            | (ridx << 10)
            | (padding << 9)
            | ((3 if mono else 0) << 6)
        )
        flen = _mp3_frame_len(version, layer, kbps, sample_rate, padding)
        frame = bytearray(flen)
        frame[0:4] = hdr.to_bytes(4, "big")
        body = 4
        if crc:
            frame[4:6] = b"\x00\x00"
            body = 6
        for j in range(body, flen):
            frame[j] = (i * 37 + j * 11) % 251
        if xing and i == 0 and layer == 3:
            xoff = body + _mp3_side_info_len(version, mono)
            tag = b"Xing" + (0x3).to_bytes(4, "big") + len(brs).to_bytes(
                4, "big"
            ) + (0).to_bytes(4, "big")
            if xoff + len(tag) > flen:
                raise ValueError("frame too small for a Xing tag")
            frame[xoff : xoff + len(tag)] = tag
        if vbri and i == 0 and layer == 3:
            # VBRI sits exactly 32 bytes after the 4-byte header
            # (Fraunhofer spec), independent of side-info length
            voff = 4 + 32
            tag = (
                b"VBRI"
                + (1).to_bytes(2, "big")   # version
                + (0).to_bytes(2, "big")   # delay
                + (75).to_bytes(2, "big")  # quality
                + (0).to_bytes(4, "big")   # byte count (filler)
                + len(brs).to_bytes(4, "big")  # frame count
            )
            if voff + len(tag) > flen:
                raise ValueError("frame too small for a VBRI tag")
            frame[voff : voff + len(tag)] = tag
        out += frame
    if id3v1:
        out += b"TAG" + bytes(125)
    return bytes(out)


# ---------------------------------------------------------------------------
# WebM / Matroska (EBML) — the other half of real web video next to
# MP4: an EBML varint walk (RFC 8794) over Segment → Info / Tracks /
# Cluster, surfacing container metadata and per-block keyframe byte
# ranges WITHOUT any codec — the same filter-before-decode shape as
# mp4_sample_table. SimpleBlock keyframes come from the 0x80 flag
# bit; BlockGroup keyframes from the ABSENCE of a ReferenceBlock
# sibling (Matroska semantics). All four lacing modes decode, and
# unknown-size Segments/Clusters (live-remuxed WebM) terminate per
# RFC 8794 §6.2's schema rule; other unknown-size elements gate.
# ---------------------------------------------------------------------------

_EBML_IDS = {
    "ebml": 0x1A45DFA3, "doctype": 0x4282, "segment": 0x18538067,
    "info": 0x1549A966, "timestamp_scale": 0x2AD7B1, "duration": 0x4489,
    "tracks": 0x1654AE6B, "track_entry": 0xAE, "track_number": 0xD7,
    "track_type": 0x83, "codec_id": 0x86, "video": 0xE0,
    "pixel_width": 0xB0, "pixel_height": 0xBA, "audio": 0xE1,
    "cluster": 0x1F43B675, "cluster_ts": 0xE7, "simple_block": 0xA3,
    "block_group": 0xA0, "block": 0xA1, "reference_block": 0xFB,
    "void": 0xEC,
}


def _ebml_vint(
    buf: bytes, pos: int, *, keep_marker: bool, size_field: bool = False
) -> tuple[int | None, int]:
    """Read one EBML variable-length integer at ``pos`` (RFC 8794
    §4): the count of leading zero bits in the first byte gives the
    total width; element IDs keep the marker bit, sizes strip it.
    Returns (value, width). The all-ones VINT_DATA value is reserved
    ONLY in element-size fields (RFC 8794 §6.2 "unknown size") —
    there ``size_field=True`` returns ``(None, width)``; in plain
    data vints (track numbers, lace lengths) it is an ordinary
    value."""
    if pos >= len(buf):
        raise ValueError("EBML varint past end of buffer")
    first = buf[pos]
    if first == 0:
        raise ValueError("invalid EBML varint (>8 bytes)")
    width = 9 - first.bit_length()
    if pos + width > len(buf):
        raise ValueError("truncated EBML varint")
    val = int.from_bytes(buf[pos : pos + width], "big")
    if not keep_marker:
        marker_bits = 7 * width
        val &= (1 << marker_bits) - 1
        if size_field and val == (1 << marker_bits) - 1:
            return None, width
    return val, width


# Matroska Cluster child IDs — the set that decides where an
# unknown-size Cluster ends (Timestamp, Position, PrevSize,
# SimpleBlock, BlockGroup, EncryptedBlock, Void, CRC-32)
_EBML_CLUSTER_CHILDREN = frozenset(
    {0xE7, 0xA7, 0xAB, 0xA3, 0xA0, 0xAF, 0xEC, 0xBF}
)


def _ebml_unknown_end(buf: bytes, eid: int, data_start: int, end: int) -> int:
    """RFC 8794 §6.2 termination for an unknown-size element: it ends
    at the first element that is not one of its valid children (or at
    the parent's end). Live-remuxed WebM writes exactly two shapes —
    an unknown-size Segment (ends at EOF) and unknown-size Clusters
    (end at the next Cluster / top-level element); anything else
    still gates honestly."""
    if eid == _EBML_IDS["segment"]:
        return end
    if eid != _EBML_IDS["cluster"]:
        raise NotImplementedError(
            "unknown-size EBML element (only Segment and Cluster "
            "terminate per the Matroska schema)"
        )
    pos = data_start
    while pos < end:
        ceid, idw = _ebml_vint(buf, pos, keep_marker=True)
        if ceid not in _EBML_CLUSTER_CHILDREN:
            break
        csize, szw = _ebml_vint(
            buf, pos + idw, keep_marker=False, size_field=True
        )
        if csize is None:
            raise NotImplementedError(
                "unknown-size element inside an unknown-size Cluster"
            )
        nxt = pos + idw + szw + csize
        if nxt > end:
            raise ValueError("EBML element escapes its parent")
        pos = nxt
    return pos


def _ebml_elements(buf: bytes, start: int, end: int):
    """Yield (element_id, data_start, data_end) for the children of a
    master element's span. Unknown-size children (streamed Segment /
    Cluster) are terminated per RFC 8794 §6.2."""
    pos = start
    while pos < end:
        eid, idw = _ebml_vint(buf, pos, keep_marker=True)
        size, szw = _ebml_vint(
            buf, pos + idw, keep_marker=False, size_field=True
        )
        data_start = pos + idw + szw
        if size is None:
            data_end = _ebml_unknown_end(buf, eid, data_start, end)
        else:
            data_end = data_start + size
            if data_end > end:
                raise ValueError("EBML element escapes its parent")
        yield eid, data_start, data_end
        pos = data_end


def _ebml_uint(buf: bytes, s: int, e: int) -> int:
    return int.from_bytes(buf[s:e], "big")


def parse_webm(payload: bytes) -> dict[str, Any]:
    """Container metadata: doctype, timestamp scale (ns per tick,
    default 1,000,000), duration in seconds, and one dict per
    TrackEntry (number, type video/audio, codec id, pixel
    dimensions)."""
    it = _ebml_elements(payload, 0, len(payload))
    eid, s, e = next(it)
    if eid != _EBML_IDS["ebml"]:
        raise ValueError("not an EBML stream (missing header)")
    doctype = ""
    for ceid, cs, ce in _ebml_elements(payload, s, e):
        if ceid == _EBML_IDS["doctype"]:
            doctype = payload[cs:ce].decode("ascii")
    eid, s, e = next(it)
    if eid != _EBML_IDS["segment"]:
        raise ValueError("EBML header not followed by a Segment")
    scale = 1_000_000
    duration_ticks: float | None = None
    tracks: list[dict[str, Any]] = []
    for ceid, cs, ce in _ebml_elements(payload, s, e):
        if ceid == _EBML_IDS["info"]:
            for ieid, is_, ie in _ebml_elements(payload, cs, ce):
                if ieid == _EBML_IDS["timestamp_scale"]:
                    scale = _ebml_uint(payload, is_, ie)
                elif ieid == _EBML_IDS["duration"]:
                    import struct as _struct

                    raw = payload[is_:ie]
                    duration_ticks = (
                        _struct.unpack(">f", raw)[0]
                        if len(raw) == 4
                        else _struct.unpack(">d", raw)[0]
                    )
        elif ceid == _EBML_IDS["tracks"]:
            for teid, ts, te in _ebml_elements(payload, cs, ce):
                if teid != _EBML_IDS["track_entry"]:
                    continue
                tr: dict[str, Any] = {
                    "number": None, "type": None, "codec": None,
                    "width": None, "height": None,
                }
                for feid, fs, fe in _ebml_elements(payload, ts, te):
                    if feid == _EBML_IDS["track_number"]:
                        tr["number"] = _ebml_uint(payload, fs, fe)
                    elif feid == _EBML_IDS["track_type"]:
                        t = _ebml_uint(payload, fs, fe)
                        tr["type"] = {1: "video", 2: "audio"}.get(
                            t, str(t)
                        )
                    elif feid == _EBML_IDS["codec_id"]:
                        tr["codec"] = payload[fs:fe].decode("ascii")
                    elif feid == _EBML_IDS["video"]:
                        for veid, vs, ve in _ebml_elements(
                            payload, fs, fe
                        ):
                            if veid == _EBML_IDS["pixel_width"]:
                                tr["width"] = _ebml_uint(
                                    payload, vs, ve
                                )
                            elif veid == _EBML_IDS["pixel_height"]:
                                tr["height"] = _ebml_uint(
                                    payload, vs, ve
                                )
                tracks.append(tr)
    return {
        "doctype": doctype,
        "timestamp_scale": scale,
        "duration_sec": (
            round(duration_ticks * scale / 1e9, 6)
            if duration_ticks is not None
            else None
        ),
        "tracks": tracks,
    }


def _webm_block_frames(
    payload: bytes, s: int, e: int
) -> tuple[int, int, int, list[tuple[int, int]]]:
    """(track, rel_ts, flags, [(frame_start, frame_size), ...]) of a
    (Simple)Block — all four lacing modes (Matroska §Lacing): none,
    Xiph (255-run size bytes), EBML (first size VINT + signed-VINT
    deltas), and fixed-size (equal split). The LAST laced frame's
    size is the remainder, in every mode."""
    track, tw = _ebml_vint(payload, s, keep_marker=False)
    if s + tw + 3 > e:
        raise ValueError("truncated block header")
    rel = int.from_bytes(payload[s + tw : s + tw + 2], "big", signed=True)
    flags = payload[s + tw + 2]
    pos = s + tw + 3
    lacing = (flags >> 1) & 0x3
    if lacing == 0:
        return track, rel, flags, [(pos, e - pos)]
    if pos >= e:
        raise ValueError("laced block missing frame count")
    nframes = payload[pos] + 1
    pos += 1
    sizes: list[int] = []
    if lacing == 2:  # fixed-size: equal split, no size table
        total = e - pos
        if total % nframes:
            raise ValueError("fixed lacing does not divide evenly")
        sizes = [total // nframes] * nframes
    elif lacing == 1:  # Xiph: 255-run bytes for all but the last
        for _ in range(nframes - 1):
            sz = 0
            while True:
                if pos >= e:
                    raise ValueError("truncated Xiph lacing sizes")
                b = payload[pos]
                pos += 1
                sz += b
                if b != 255:
                    break
            sizes.append(sz)
    else:  # 3 = EBML: first size VINT, then signed-VINT deltas
        if nframes > 1:
            first, w = _ebml_vint(payload, pos, keep_marker=False)
            pos += w
            sizes.append(first)
            for _ in range(nframes - 2):
                raw, w = _ebml_vint(payload, pos, keep_marker=False)
                pos += w
                # signed VINT: raw - (2^(7w-1) - 1)
                sizes.append(sizes[-1] + raw - ((1 << (7 * w - 1)) - 1))
    if lacing != 2:
        used = sum(sizes)
        if pos + used > e:
            raise ValueError("laced frame sizes escape the block")
        sizes.append(e - pos - used)  # last frame = remainder
    frames: list[tuple[int, int]] = []
    for sz in sizes:
        if sz < 0:
            raise ValueError("negative laced frame size")
        frames.append((pos, sz))
        pos += sz
    if pos != e:
        raise ValueError("laced frames do not fill the block")
    return track, rel, flags, frames


def webm_blocks(payload: bytes) -> list[dict[str, Any]]:
    """One row per (Simple)Block across all Clusters: track, cluster
    index, timestamps (ticks and seconds), the KEYFRAME flag
    (SimpleBlock bit 0x80, or no-ReferenceBlock for BlockGroup), and
    the frame payload's absolute byte range — the screening layer
    that lets a 100 TB pipeline fetch only keyframe ranges for
    thumbnailing, exactly like mp4_sample_table's."""
    meta = parse_webm(payload)
    scale = meta["timestamp_scale"]
    it = _ebml_elements(payload, 0, len(payload))
    next(it)  # EBML header (validated by parse_webm)
    _eid, seg_s, seg_e = next(it)
    out: list[dict[str, Any]] = []
    cluster_idx = -1
    for ceid, cs, ce in _ebml_elements(payload, seg_s, seg_e):
        if ceid != _EBML_IDS["cluster"]:
            continue
        cluster_idx += 1
        cluster_ts = 0
        for beid, bs, be in _ebml_elements(payload, cs, ce):
            if beid == _EBML_IDS["cluster_ts"]:
                cluster_ts = _ebml_uint(payload, bs, be)
            elif beid == _EBML_IDS["simple_block"]:
                track, rel, flags, frames = _webm_block_frames(
                    payload, bs, be
                )
                for li, (ds, sz) in enumerate(frames):
                    out.append(
                        {
                            "track": track,
                            "cluster": cluster_idx,
                            "cluster_ts": cluster_ts,
                            "ts_ticks": cluster_ts + rel,
                            "time_sec": round(
                                (cluster_ts + rel) * scale / 1e9, 6
                            ),
                            "keyframe": bool(flags & 0x80),
                            "lace": li,
                            "offset": ds,
                            "size": sz,
                        }
                    )
            elif beid == _EBML_IDS["block_group"]:
                block = None
                has_ref = False
                for geid, gs, ge in _ebml_elements(payload, bs, be):
                    if geid == _EBML_IDS["block"]:
                        block = (gs, ge)
                    elif geid == _EBML_IDS["reference_block"]:
                        has_ref = True
                if block is None:
                    raise ValueError("BlockGroup without a Block")
                track, rel, _flags, frames = _webm_block_frames(
                    payload, *block
                )
                for li, (ds, sz) in enumerate(frames):
                    out.append(
                        {
                            "track": track,
                            "cluster": cluster_idx,
                            "cluster_ts": cluster_ts,
                            "ts_ticks": cluster_ts + rel,
                            "time_sec": round(
                                (cluster_ts + rel) * scale / 1e9, 6
                            ),
                            "keyframe": not has_ref,
                            "lace": li,
                            "offset": ds,
                            "size": sz,
                        }
                    )
    # byte ranges must land inside the file (mirrors the mp4 check)
    for r in out:
        if r["offset"] + r["size"] > len(payload):
            raise ValueError("WebM block range escapes the file")
    return out


def _ebml_encode_vint(value: int, *, min_width: int = 1) -> bytes:
    """Encode a size/track VINT with the marker bit."""
    for width in range(min_width, 9):
        if value < (1 << (7 * width)) - 1:  # all-ones = unknown size
            return (value | (1 << (7 * width))).to_bytes(width, "big")
    raise ValueError("EBML varint overflow")


def _ebml_el(eid: int, data: bytes) -> bytes:
    idb = eid.to_bytes((eid.bit_length() + 7) // 8, "big")
    return idb + _ebml_encode_vint(len(data)) + data


def _ebml_uint_el(eid: int, v: int) -> bytes:
    return _ebml_el(eid, v.to_bytes(max(1, (v.bit_length() + 7) // 8), "big"))


def build_webm(
    *,
    tracks: list[dict[str, Any]],
    clusters: list[dict[str, Any]],
    timestamp_scale: int = 1_000_000,
    duration_ticks: float | None = None,
    doctype: str = "webm",
    unknown_size_segment: bool = False,
    unknown_size_clusters: bool = False,
) -> bytes:
    """Fixture writer: EBML header + Segment(Info, Tracks, Clusters).
    ``tracks``: dicts with number, type ('video'/'audio'), codec, and
    width/height for video. ``clusters``: dicts with ``timestamp``
    (ticks) and ``blocks`` — tuples ``(track, rel_ts, keyframe,
    payload)``; a dict entry with ``group=True`` writes a BlockGroup
    (keyframe = omit ReferenceBlock) instead of a SimpleBlock.

    ``unknown_size_segment`` / ``unknown_size_clusters`` write the
    1-byte all-ones size (0xFF) live remuxers emit for a Segment (and
    often Clusters) whose extent isn't known at write time — the RFC
    8794 §6.2 shapes the parser terminates by schema."""
    import struct as _struct

    head = _ebml_el(
        _EBML_IDS["ebml"],
        _ebml_uint_el(0x4286, 1)        # EBMLVersion
        + _ebml_uint_el(0x42F7, 1)      # EBMLReadVersion
        + _ebml_uint_el(0x42F2, 4)      # EBMLMaxIDLength
        + _ebml_uint_el(0x42F3, 8)      # EBMLMaxSizeLength
        + _ebml_el(_EBML_IDS["doctype"], doctype.encode("ascii"))
        + _ebml_uint_el(0x4287, 4)      # DocTypeVersion
        + _ebml_uint_el(0x4285, 2),     # DocTypeReadVersion
    )
    info = _ebml_uint_el(_EBML_IDS["timestamp_scale"], timestamp_scale)
    if duration_ticks is not None:
        info += _ebml_el(
            _EBML_IDS["duration"],
            _struct.pack(">d", float(duration_ticks)),
        )
    seg = _ebml_el(_EBML_IDS["info"], info)
    tr_payload = b""
    for t in tracks:
        entry = (
            _ebml_uint_el(_EBML_IDS["track_number"], t["number"])
            + _ebml_uint_el(
                _EBML_IDS["track_type"],
                {"video": 1, "audio": 2}[t["type"]],
            )
            + _ebml_el(
                _EBML_IDS["codec_id"], t["codec"].encode("ascii")
            )
        )
        if t["type"] == "video":
            entry += _ebml_el(
                _EBML_IDS["video"],
                _ebml_uint_el(_EBML_IDS["pixel_width"], t["width"])
                + _ebml_uint_el(_EBML_IDS["pixel_height"], t["height"]),
            )
        tr_payload += _ebml_el(_EBML_IDS["track_entry"], entry)
    seg += _ebml_el(_EBML_IDS["tracks"], tr_payload)
    for cl in clusters:
        body = _ebml_uint_el(_EBML_IDS["cluster_ts"], cl["timestamp"])
        for blk in cl["blocks"]:
            if isinstance(blk, dict):
                track, rel, key = (
                    blk["track"], blk["rel_ts"], blk["keyframe"]
                )
                group = blk.get("group", False)
                lacing = blk.get("lacing")
                frames = (
                    blk["payloads"] if lacing else [blk["payload"]]
                )
            else:
                track, rel, key = blk[0], blk[1], blk[2]
                frames = [blk[3]]
                group, lacing = False, None
            hdr = (
                _ebml_encode_vint(track)
                + rel.to_bytes(2, "big", signed=True)
            )
            if lacing is None:
                lace_bits, lace_body = 0, frames[0]
            else:
                lace_bits = {"xiph": 1, "fixed": 2, "ebml": 3}[lacing]
                tail = bytearray([len(frames) - 1])
                if lacing == "xiph":
                    for f in frames[:-1]:
                        n = len(f)
                        while n >= 255:
                            tail.append(255)
                            n -= 255
                        tail.append(n)
                elif lacing == "ebml":
                    if len(frames) > 1:
                        tail += _ebml_encode_vint(len(frames[0]))
                        prev = len(frames[0])
                        for f in frames[1:-1]:
                            delta = len(f) - prev
                            # signed VINT, 2-byte form: raw = delta
                            # + (2^13 - 1), marker 0x4000
                            raw = delta + ((1 << 13) - 1)
                            tail += (raw | (1 << 14)).to_bytes(2, "big")
                            prev = len(f)
                else:  # fixed
                    if len({len(f) for f in frames}) != 1:
                        raise ValueError(
                            "fixed lacing needs equal frame sizes"
                        )
                lace_body = bytes(tail) + b"".join(frames)
            if group:
                inner = _ebml_el(
                    _EBML_IDS["block"],
                    hdr + bytes([lace_bits << 1]) + lace_body,
                )
                if not key:
                    inner += _ebml_el(
                        _EBML_IDS["reference_block"],
                        (-1 & 0xFF).to_bytes(1, "big"),
                    )
                body += _ebml_el(_EBML_IDS["block_group"], inner)
            else:
                flags = (0x80 if key else 0x00) | (lace_bits << 1)
                body += _ebml_el(
                    _EBML_IDS["simple_block"],
                    hdr + bytes([flags]) + lace_body,
                )
        if unknown_size_clusters:
            seg += (
                _EBML_IDS["cluster"].to_bytes(4, "big") + b"\xff" + body
            )
        else:
            seg += _ebml_el(_EBML_IDS["cluster"], body)
    if unknown_size_segment:
        return (
            head + _EBML_IDS["segment"].to_bytes(4, "big") + b"\xff" + seg
        )
    return head + _ebml_el(_EBML_IDS["segment"], seg)


def webm_split_stream(payload: bytes) -> tuple[bytes, list[bytes]]:
    """Split a WebM file into live-stream pieces the way a remuxer
    delivers them (the EBML twin of :func:`mp4_split_segments`): the
    INIT chunk — EBML header plus the Segment rewritten to UNKNOWN
    size (all-ones, RFC 8794 §6.2) carrying everything before the
    first Cluster — and one chunk per Cluster. ``init + chunk``
    concatenations parse with the ordinary walkers because the
    unknown-size Segment terminates at end-of-bytes."""
    it = _ebml_elements(payload, 0, len(payload))
    eid, hs, he = next(it)
    if eid != _EBML_IDS["ebml"]:
        raise ValueError("not an EBML stream (missing header)")
    # locate the Segment's own header to rewrite its size
    seg_id_at = he
    seg_eid, idw = _ebml_vint(payload, seg_id_at, keep_marker=True)
    if seg_eid != _EBML_IDS["segment"]:
        raise ValueError("EBML header not followed by a Segment")
    _size, szw = _ebml_vint(
        payload, seg_id_at + idw, keep_marker=False, size_field=True
    )
    seg_s = seg_id_at + idw + szw
    _eid2, seg_s2, seg_e = next(it)
    assert seg_s2 == seg_s
    # walk Segment children tracking HEADER starts (not data starts)
    chunks: list[bytes] = []
    first_cluster_at: int | None = None
    pos = seg_s
    while pos < seg_e:
        ceid, cidw = _ebml_vint(payload, pos, keep_marker=True)
        csize, cszw = _ebml_vint(
            payload, pos + cidw, keep_marker=False, size_field=True
        )
        data_start = pos + cidw + cszw
        if csize is None:
            data_end = _ebml_unknown_end(payload, ceid, data_start, seg_e)
        else:
            data_end = data_start + csize
        if ceid == _EBML_IDS["cluster"]:
            if first_cluster_at is None:
                first_cluster_at = pos
            chunks.append(payload[pos:data_end])
        pos = data_end
    cut = first_cluster_at if first_cluster_at is not None else seg_e
    init = (
        payload[:seg_id_at]
        + _EBML_IDS["segment"].to_bytes(4, "big")
        + b"\xff"
        + payload[seg_s:cut]
    )
    return init, chunks


def mp4_split_segments(payload: bytes) -> tuple[bytes, list[bytes]]:
    """Split a fragmented ISO-BMFF file into DASH-style pieces: the
    INIT segment (everything up to the first moof — ftyp + moov, ISO
    23009-1 §6.3.3) and one MEDIA segment per moof (the moof plus its
    following boxes through the next moof). Segments produced this
    way are relocatable only when fragments use default-base-is-moof
    (the CMAF layout) — an explicit 64-bit base-data-offset points
    into the ORIGINAL file and is refused here rather than silently
    emitting segments whose offsets dangle."""
    cuts: list[int] = []
    pos = 0
    while pos + 8 <= len(payload):  # top-level walk keeping box STARTS
        size = int.from_bytes(payload[pos : pos + 4], "big")
        typ = payload[pos + 4 : pos + 8]
        body = pos + 8
        if size == 1:
            size = int.from_bytes(payload[pos + 8 : pos + 16], "big")
            body = pos + 16
        elif size == 0:
            size = len(payload) - pos
        if size < 8 or pos + size > len(payload):
            raise ValueError(f"invalid MP4 box size at byte {pos}")
        if typ == b"moof":
            cuts.append(pos)
            for bt, bs, be in _mp4_boxes(payload, body, pos + size):
                if bt != b"traf":
                    continue
                for tt, ts_, _te in _mp4_boxes(payload, bs, be):
                    if tt == b"tfhd":
                        flags = int.from_bytes(
                            payload[ts_ + 1 : ts_ + 4], "big"
                        )
                        if flags & 0x1:  # base-data-offset present
                            raise ValueError(
                                "explicit base-data-offset fragments "
                                "are not relocatable into DASH "
                                "segments"
                            )
        pos += size
    if not cuts:
        raise ValueError("no moof boxes: not a fragmented MP4")
    init = payload[: cuts[0]]
    segs = [
        payload[cuts[i] : cuts[i + 1] if i + 1 < len(cuts) else len(payload)]
        for i in range(len(cuts))
    ]
    return init, segs


def mp4_segment_table(
    init: bytes, segment: bytes
) -> list[dict[str, Any]]:
    """Sample rows for ONE media segment given its init segment: the
    concatenation init+segment IS a conformant fragmented file (the
    init carries ftyp + moov with empty sample tables + mvex), so the
    existing fragment walker runs unchanged — per-segment incremental
    processing without ever materializing the whole presentation.
    ``chunk`` (the mfhd sequence number) orders segments globally, so
    (track, chunk, sample) is a stable cross-segment key."""
    return mp4_sample_table(init + segment)
