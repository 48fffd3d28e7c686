"""Dependency-free legacy ``.doc`` (MS-DOC / Word 97 binary) text
extraction — the binary-Office tail of the 9-format document-ingest
family, on the same CFB container walk as :mod:`sources.xls`
(``read_cfb_stream``).

A ``.doc`` is a CFB container whose ``WordDocument`` stream starts
with the FIB (File Information Block) and whose text lives as PIECES
addressed by the piece table in the ``1Table``/``0Table`` stream
([MS-DOC], public):

* FIB base: ``wIdent`` 0xA5EC, the flag word at offset 10 whose bit
  0x0200 (``fWhichTblStm``) selects ``1Table`` vs ``0Table`` and
  whose bit 0x0100 (``fEncrypted``) gates; then the variable-length
  ``fibRgW``/``fibRgLw``/``fibRgFcLcb`` groups — ``ccpText`` (main
  document CP count) is fibRgLw dword 3, ``fcClx``/``lcbClx`` are
  fibRgFcLcb dwords 66/67 (pair 33).
* Clx: optional Prc (0x01) property blocks, then the Pcdt (0x02)
  holding the PlcPcd piece table — n+1 CPs and n PCDs. Each PCD's
  ``fc`` dword carries bit 30 ``fCompressed``: set = 8-bit cp1252
  text at byte offset fc/2, clear = UTF-16LE at byte offset fc.
  Pieces may sit ANYWHERE in the WordDocument stream in ANY order
  (fast-saved files interleave them); CP order is what reconstructs
  the document, and deleted text is simply absent from the table.
* Control characters normalize per the Word model: 0x0D ends a
  paragraph, 0x0B is an in-paragraph line break (→ ``\\n``), 0x07 a
  table cell/row mark (→ ``\\t``), 0x0C a page break (paragraph
  boundary); field instructions between 0x13 and 0x14 are dropped
  and the field RESULT between 0x14 and 0x15 kept; the object
  anchors 0x01/0x02/0x05/0x08 and the optional hyphen 0x1F drop,
  the non-breaking hyphen 0x1E becomes ``-``.

The fixture writer emits multi-piece documents with mixed
ANSI/Unicode pieces stored OUT of CP order, a decoy un-selected
table stream, and a Prc block before the Pcdt — the corners a
single-piece fixture would never exercise.

Reference behavior parity: cademirch/ccgp-data-wrangling has no
document-ingest layer; this extends the corpus surface the way
sources/docx.py does for OOXML.
"""

from __future__ import annotations

import struct
from typing import Any

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs, text_rows

from ccgp_data_wrangling_spark.sources.xls import (
    _CFB_MAGIC,
    _ENDOFCHAIN,
    _FATSECT,
    _FREESECT,
    _NOSTREAM,
    read_cfb_stream,
)

DOC_PARA_SCHEMA = "doc_id long, para int, text string, n_chars int"

_FC_COMPRESSED = 0x40000000
_FC_MASK = 0x3FFFFFFF


def _parse_fib(word: bytes) -> dict[str, int]:
    if len(word) < 34 or struct.unpack_from("<H", word, 0)[0] != 0xA5EC:
        raise ValueError("not a WordDocument stream (bad wIdent)")
    flags = struct.unpack_from("<H", word, 10)[0]
    if flags & 0x0100:
        raise NotImplementedError("encrypted .doc (fEncrypted)")
    which_tbl = 1 if flags & 0x0200 else 0
    off = 32
    (csw,) = struct.unpack_from("<H", word, off)
    off += 2 + csw * 2
    (cslw,) = struct.unpack_from("<H", word, off)
    if cslw < 4:
        raise ValueError("FIB fibRgLw too short for ccpText")
    (ccp_text,) = struct.unpack_from("<I", word, off + 2 + 3 * 4)
    off += 2 + cslw * 4
    (cb_fclcb,) = struct.unpack_from("<H", word, off)
    if cb_fclcb < 34:
        raise ValueError("FIB fibRgFcLcb too short for fcClx")
    fc_clx, lcb_clx = struct.unpack_from(
        "<II", word, off + 2 + 33 * 8
    )
    return {
        "which_tbl": which_tbl,
        "ccp_text": ccp_text,
        "fc_clx": fc_clx,
        "lcb_clx": lcb_clx,
    }


def _parse_piece_table(clx: bytes) -> list[tuple[int, int, bool]]:
    """Clx → [(cp, fc, compressed)] with a trailing (cp_end, 0, ...)
    sentinel implied by returning cps separately — here we return the
    piece list as (cp_start, cp_end, fc, compressed) tuples."""
    pos = 0
    while pos < len(clx) and clx[pos] == 0x01:
        (cb,) = struct.unpack_from("<H", clx, pos + 1)
        pos += 3 + cb  # skip Prc property block
    if pos >= len(clx) or clx[pos] != 0x02:
        raise ValueError("Clx carries no Pcdt piece table")
    (lcb,) = struct.unpack_from("<I", clx, pos + 1)
    plc = clx[pos + 5:pos + 5 + lcb]
    if len(plc) != lcb or (lcb - 4) % 12:
        raise ValueError("malformed PlcPcd")
    n = (lcb - 4) // 12
    cps = list(struct.unpack_from(f"<{n + 1}I", plc, 0))
    if cps != sorted(cps):
        raise ValueError("PlcPcd CPs not ascending")
    pieces = []
    for i in range(n):
        _flags, fc, _prm = struct.unpack_from(
            "<HIH", plc, (n + 1) * 4 + i * 8
        )
        pieces.append((cps[i], cps[i + 1], fc))
    return pieces


def _piece_text(word: bytes, cp0: int, cp1: int, fc: int) -> str:
    ncp = cp1 - cp0
    if fc & _FC_COMPRESSED:
        off = (fc & _FC_MASK) // 2
        raw = word[off:off + ncp]
        if len(raw) != ncp:
            raise ValueError("piece escapes the WordDocument stream")
        return raw.decode("cp1252", "replace")
    off = fc & _FC_MASK
    raw = word[off:off + 2 * ncp]
    if len(raw) != 2 * ncp:
        raise ValueError("piece escapes the WordDocument stream")
    return raw.decode("utf-16-le", "surrogatepass")


def _normalize(text: str) -> list[str]:
    """Word control-character model → paragraph list (the final
    paragraph mark every document carries does not emit an empty
    trailing paragraph)."""
    out: list[str] = []
    cur: list[str] = []
    in_instr = False
    for ch in text:
        o = ord(ch)
        if o == 0x13:
            in_instr = True  # field instruction starts
            continue
        if o == 0x14:
            in_instr = False  # separator: field RESULT follows
            continue
        if o == 0x15:
            in_instr = False  # field end
            continue
        if in_instr:
            continue
        if o in (0x0D, 0x0C):  # paragraph mark / page break
            out.append("".join(cur))
            cur = []
        elif o == 0x0B:
            cur.append("\n")
        elif o == 0x07:
            cur.append("\t")
        elif o == 0x1E:
            cur.append("-")
        elif o in (0x01, 0x02, 0x05, 0x08, 0x1F):
            pass  # object anchors / optional hyphen
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def extract_doc_paragraphs(payload: bytes) -> list[str]:
    """Main-document paragraphs of a legacy ``.doc``, in CP order."""
    word = read_cfb_stream(payload, ("WordDocument",))
    fib = _parse_fib(word)
    tbl_name = "1Table" if fib["which_tbl"] else "0Table"
    table = read_cfb_stream(payload, (tbl_name,))
    clx = table[fib["fc_clx"]:fib["fc_clx"] + fib["lcb_clx"]]
    if len(clx) != fib["lcb_clx"]:
        raise ValueError("Clx escapes the table stream")
    parts: list[str] = []
    remaining = fib["ccp_text"]
    for cp0, cp1, fc in _parse_piece_table(clx):
        if remaining <= 0:
            break  # footnote/header CPs beyond the main document
        take = min(cp1, cp0 + remaining)
        parts.append(_piece_text(word, cp0, take, fc))
        remaining -= take - cp0
    return _normalize("".join(parts))


def doc_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode legacy .doc blobs into one row per paragraph — one
    :func:`explode_blobs` pass."""
    return explode_blobs(
        df,
        lambda b: text_rows(extract_doc_paragraphs(b)),
        DOC_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


# ---------------------------------------------------------------------------
# Fixture writer
# ---------------------------------------------------------------------------


def _build_cfb(streams: list[tuple[str, bytes]]) -> bytes:
    """Multi-stream CFB (v3, 512-byte sectors). Streams are padded
    past the 4096-byte mini cutoff so every chain lives in the
    regular FAT — the sources/xls.py fixture strategy."""
    streams = [
        (name, body + b"\x00" * max(0, 4096 - len(body)))
        for name, body in streams
    ]
    sizes = [(len(b) + 511) // 512 for _, b in streams]
    n_stream = sum(sizes)
    n_dir = (1 + len(streams)) * 128
    n_dir = (n_dir + 511) // 512
    n_fat = 1
    while (n_fat + n_dir + n_stream) > n_fat * 128:
        n_fat += 1
    if n_fat > 109:
        raise ValueError("fixture too large for header DIFAT")
    first_dir = n_fat
    fat = [_FATSECT] * n_fat
    for i in range(n_dir - 1):
        fat.append(first_dir + i + 1)
    fat.append(_ENDOFCHAIN)
    starts = []
    nxt = n_fat + n_dir
    for ns in sizes:
        starts.append(nxt)
        for i in range(ns - 1):
            fat.append(nxt + i + 1)
        fat.append(_ENDOFCHAIN)
        nxt += ns
    fat += [_FREESECT] * (n_fat * 128 - len(fat))

    def dirent(name: str, obj_type: int, start: int, size: int,
               child: int = _NOSTREAM, left: int = _NOSTREAM,
               right: int = _NOSTREAM) -> bytes:
        nm = name.encode("utf-16-le") + b"\x00\x00"
        ent = nm + b"\x00" * (64 - len(nm))
        ent += struct.pack("<H", len(nm))
        ent += struct.pack("<BB", obj_type, 1)
        ent += struct.pack("<III", left, right, child)
        ent += b"\x00" * 16 + b"\x00" * 4 + b"\x00" * 16
        ent += struct.pack("<IQ", start, size)
        return ent

    directory = dirent("Root Entry", 5, _ENDOFCHAIN, 0, child=1)
    for i, ((name, body), start) in enumerate(zip(streams, starts)):
        # naive right-sibling chain; our reader (and real parsers'
        # fallbacks) scan directory sectors linearly
        right = i + 2 if i + 1 < len(streams) else _NOSTREAM
        directory += dirent(name, 2, start, len(body), right=right)
    if len(directory) % 512:
        directory += b"\x00" * (512 - len(directory) % 512)

    header = _CFB_MAGIC + b"\x00" * 16
    header += struct.pack("<HH", 0x003E, 0x0003)
    header += struct.pack("<H", 0xFFFE)
    header += struct.pack("<HH", 9, 6)
    header += b"\x00" * 6
    header += struct.pack("<I", 0)
    header += struct.pack("<I", n_fat)
    header += struct.pack("<I", first_dir)
    header += struct.pack("<I", 0)
    header += struct.pack("<I", 4096)
    header += struct.pack("<II", _ENDOFCHAIN, 0)
    header += struct.pack("<II", _ENDOFCHAIN, 0)
    difat = list(range(n_fat)) + [_FREESECT] * (109 - n_fat)
    header += struct.pack("<109I", *difat)
    out = bytearray(header)
    out += struct.pack(f"<{len(fat)}I", *fat)
    out += directory
    for _, body in streams:
        out += body
        if len(body) % 512:
            out += b"\x00" * (512 - len(body) % 512)
    return bytes(out)


def _entry_text(entry: Any) -> str:
    """Fixture paragraph → raw Word text (no trailing 0x0D)."""
    if isinstance(entry, str):
        return entry
    if isinstance(entry, tuple) and entry[0] == "field":
        # field: instruction (dropped by extraction) + result (kept)
        return "\x13" + entry[1] + "\x14" + entry[2] + "\x15"
    if isinstance(entry, tuple) and entry[0] == "cells":
        return "\x07".join(entry[1])
    if isinstance(entry, tuple) and entry[0] == "br":
        return entry[1] + "\x0b" + entry[2]
    raise ValueError(f"unknown .doc fixture entry {entry!r}")


def _cp1252_ok(s: str) -> bool:
    try:
        s.encode("cp1252")
        return True
    except UnicodeEncodeError:
        return False


def build_doc(paragraphs: list[Any], *, piece_chars: int = 17) -> bytes:
    """Fixture writer: a minimal-but-real Word 97 ``.doc``. The main
    text splits into ~``piece_chars``-CP pieces, each stored ANSI
    (cp1252) when encodable and UTF-16LE otherwise, laid out in the
    WordDocument stream in REVERSED piece order (fast-save shape);
    the piece table lives in ``1Table`` (fWhichTblStm set) next to a
    decoy ``0Table`` stream of garbage that must never be read."""
    text = "\r".join(_entry_text(p) for p in paragraphs) + "\r"
    ccp = len(text)
    pieces: list[str] = [
        text[i:i + piece_chars] for i in range(0, ccp, piece_chars)
    ]
    # piece payloads appended to the WordDocument stream AFTER the
    # FIB, in reversed order so fc offsets are out of CP order
    fib_len = 1024
    word = bytearray(fib_len)
    offs: dict[int, int] = {}
    comp: dict[int, bool] = {}
    for idx in range(len(pieces) - 1, -1, -1):
        s = pieces[idx]
        comp[idx] = _cp1252_ok(s)
        if comp[idx]:
            offs[idx] = len(word)
            word += s.encode("cp1252")
        else:
            if len(word) % 2:
                word += b"\x00"  # UTF-16 pieces at even offsets
            offs[idx] = len(word)
            word += s.encode("utf-16-le")
    # FIB
    struct.pack_into("<H", word, 0, 0xA5EC)
    struct.pack_into("<H", word, 2, 0x00C1)  # nFib (Word 97)
    struct.pack_into("<H", word, 10, 0x0200)  # fWhichTblStm -> 1Table
    struct.pack_into("<H", word, 12, 0x00BF)  # nFibBack
    off = 32
    struct.pack_into("<H", word, off, 14)  # csw
    off += 2 + 14 * 2
    struct.pack_into("<H", word, off, 22)  # cslw
    struct.pack_into("<I", word, off + 2 + 3 * 4, ccp)  # ccpText
    off += 2 + 22 * 4
    struct.pack_into("<H", word, off, 93)  # cbRgFcLcb (Word 97)
    fclcb_at = off + 2
    # piece table -> 1Table stream, Prc block first for realism
    plc = bytearray()
    cp = 0
    for i, s in enumerate(pieces):
        plc += struct.pack("<I", cp)
        cp += len(s)
    plc += struct.pack("<I", cp)
    for i in range(len(pieces)):
        fc = (
            (offs[i] * 2) | _FC_COMPRESSED if comp[i] else offs[i]
        )
        plc += struct.pack("<HIH", 0, fc, 0)
    clx = b"\x01" + struct.pack("<H", 2) + b"\x00\x00"  # dummy Prc
    clx += b"\x02" + struct.pack("<I", len(plc)) + bytes(plc)
    table = bytearray(b"\x00" * 64)  # Clx needn't start at 0
    fc_clx = len(table)
    table += clx
    struct.pack_into("<II", word, fclcb_at + 33 * 8, fc_clx, len(clx))
    decoy = b"\xde\xad" * 128
    return _build_cfb([
        ("WordDocument", bytes(word)),
        ("1Table", bytes(table)),
        ("0Table", decoy),
    ])
