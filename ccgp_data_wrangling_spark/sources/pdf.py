"""PDF text extraction — the other document container every curation
pipeline meets (alongside WARC), implemented from the public PDF 1.4
spec (ISO 32000 subset) with nothing beyond stdlib ``zlib``/``re``.

What this parser implements (and tests):

* object scan: ``N G obj … endobj`` bodies located lexically — the
  robust route for extraction tooling (a damaged xref is the most
  common real-world PDF defect, so extractors don't trust it);
* stream objects: the dict between ``obj`` and ``stream`` is parsed
  for ``/FlateDecode`` (zlib-inflated) — uncompressed streams pass
  through;
* content-stream text operators inside ``BT … ET`` blocks:
  ``Tj`` (show string), ``'``/``"`` (next-line show), ``TJ`` (array
  of strings and kerning numbers), with literal-string escapes
  (``\\n \\r \\t \\( \\) \\\\`` and octal ``\\ddd``) and ``<hex>``
  strings; positioning operators ``Td/TD/T*`` become newlines and
  large negative TJ kerns become spaces — the standard heuristic
  reconstruction every extractor performs (text in PDF has no
  logical structure, only placements);
* PDF 1.5 cross-reference streams (``/Type /XRef``: ``/W`` field
  widths, ``/Index`` subsections, Flate + PNG predictors 10–15 via
  the SAME scanline unfilter the PNG codec uses, TIFF predictor 2,
  ``/Prev`` chains with newest-wins merge — :func:`pdf_xref`) and
  object streams (``/Type /ObjStm``: ``/N``/``/First`` member table,
  member bodies addressable through type-2 xref entries —
  :func:`read_object`). Content streams can never live inside an
  ObjStm (streams don't nest, ISO 32000 §7.5.7), so the lexical text
  scan stays complete on 1.5 files; the xref layer exists for
  conformant navigation and indirect-reference resolution;
* indirect ``/Length N G R`` on stream dicts is resolved (the
  referenced integer object is located lexically — the extractor
  still never TRUSTS offsets for text, it only reads plain integer
  objects through them);
* standard-security-handler encryption: RC4-40, RC4-128 and AES-128
  (ISO 32000-1 §7.6.3, /V 1–4, /R 2–4, /StdCF /AESV2) with password
  verification by the real Algorithm 6 and per-object keys by
  Algorithm 1, plus AES-256 (ISO 32000-2 §7.6.4, /V 5, /R 5–6,
  /StdCF /AESV3) with the revision-6 iterated hash, /UE //OE key
  unwrap and /Perms validation — primitives in :mod:`pdf_crypt`
  (stdlib ``hashlib`` only, AES from FIPS-197). Non-standard
  handlers raise ``NotImplementedError`` honestly;
* CIDFont/ToUnicode remapping and non-Latin encodings raise
  ``NotImplementedError`` honestly — the fixture writer emits
  none of them.

Scale shape: identical to WARC — PDFs land as binary blobs, the
extraction runs inside one Arrow ``mapInPandas`` pass
(:func:`pdf_documents`), one row per page, nothing driver-side.
"""

from __future__ import annotations

import re
import zlib
from typing import Any

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs, text_rows

__all__ = [
    "extract_pdf_pages",
    "pdf_documents",
    "build_pdf",
    "build_pdf15",
    "build_pdf_encrypted",
    "pdf_xref",
    "read_object",
    "PDF_PAGE_SCHEMA",
]

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"^(.*?)stream\r?\n(.*)\nendstream\s*$", re.S)

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _parse_literal(data: bytes, pos: int) -> tuple[bytes, int]:
    """Parse a PDF literal string starting at ``data[pos] == '('``;
    returns (decoded bytes, index past the closing paren). Handles
    balanced parens, backslash escapes, and octal escapes."""
    assert data[pos : pos + 1] == b"("
    out = bytearray()
    depth = 1
    i = pos + 1
    while i < len(data):
        c = data[i : i + 1]
        if c == b"\\":
            nxt = data[i + 1 : i + 2]
            if nxt.isdigit():  # octal, up to 3 digits
                j = i + 1
                digits = b""
                while j < len(data) and len(digits) < 3 and data[j : j + 1].isdigit():
                    digits += data[j : j + 1]
                    j += 1
                out.append(int(digits, 8) & 0xFF)
                i = j
                continue
            out += _ESCAPES.get(nxt, nxt)
            i += 2
            continue
        if c == b"(":
            depth += 1
        elif c == b")":
            depth -= 1
            if depth == 0:
                return bytes(out), i + 1
        out += c
        i += 1
    raise ValueError("unterminated PDF literal string")


def _parse_hex(data: bytes, pos: int) -> tuple[bytes, int]:
    end = data.index(b">", pos)
    hx = re.sub(rb"\s", b"", data[pos + 1 : end])
    if len(hx) % 2:
        hx += b"0"  # spec: odd final digit implies trailing 0
    return bytes.fromhex(hx.decode("ascii")), end + 1


_TOKEN_RE = re.compile(
    rb"\(|<(?![<])|\]|\[|BT\b|ET\b|Tj\b|TJ\b|T\*|Td\b|TD\b|'|\"|(-?\d+(?:\.\d+)?)"
)


def _content_text(content: bytes, *, kern_space: float = 100.0) -> str:
    """Reconstruct text from one content stream: strings shown by
    Tj/TJ/'/\" inside BT..ET, newlines for Td/TD/T*/'/\", spaces for
    TJ kerns more negative than ``kern_space``.

    The token walk parses strings IN PLACE (the scan index jumps past
    each string body), so brackets/parens/operator names inside
    string data can never confuse the operator stream, and TJ arrays
    are collected incrementally in operand order — no re-scanning."""
    out: list[str] = []
    in_text = False
    pending: list[bytes] = []  # string operands since the last operator
    arr_items: list[Any] | None = None  # open TJ array, in order
    i = 0
    while i < len(content):
        m = _TOKEN_RE.search(content, i)
        if not m:
            break
        tok = m.group(0)
        i = m.end()
        if tok == b"(":
            s, i = _parse_literal(content, m.start())
            if arr_items is not None:
                arr_items.append(s)
            elif in_text:
                pending.append(s)
            continue
        if tok == b"<":
            s, i = _parse_hex(content, m.start())
            if arr_items is not None:
                arr_items.append(s)
            elif in_text:
                pending.append(s)
            continue
        if m.group(1) is not None:  # number
            if arr_items is not None:
                arr_items.append(float(m.group(1)))
            continue
        if tok == b"BT":
            in_text = True
        elif tok == b"ET":
            in_text = False
        elif tok == b"[":
            arr_items = []
        elif tok == b"]":
            pass  # keep arr_items until the TJ that consumes it
        elif tok == b"Tj" and pending:
            out.append(pending[-1].decode("latin-1"))
            pending = []
        elif tok in (b"'", b'"') and in_text:
            out.append("\n")
            if pending:
                out.append(pending[-1].decode("latin-1"))
            pending = []
        elif tok == b"TJ":
            for el in arr_items or []:
                if isinstance(el, bytes):
                    out.append(el.decode("latin-1"))
                elif el < -kern_space:
                    out.append(" ")
            arr_items = None
            pending = []
        elif tok in (b"Td", b"TD", b"T*"):
            if in_text and out:
                out.append("\n")
            pending = []
    return "".join(out)


_OBJ_START_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
# direct /Length only: '/Length 6 0 R' (indirect reference) must NOT
# half-match its first number
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s*R)\b")
_STREAM_START_RE = re.compile(rb"stream\r?\n")


_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R\b")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f\s]*)>")


def _encryption_params(payload: bytes) -> dict[str, Any]:
    """Locate and parse the standard-security-handler /Encrypt dict
    (ISO 32000-1 §7.6.1 table 20 / §7.6.3 table 21). Only /Filter
    /Standard with /V 1–4 is supported; /V 5 (AES-256, PDF 2.0) and
    crypt-filter shapes other than /StdCF /AESV2 | /V2 raise."""
    em = _ENCRYPT_REF_RE.search(payload)
    if not em:
        raise ValueError("/Encrypt present but no trailer reference")
    num = int(em.group(1))
    om = re.search(
        rb"(?<![0-9])%d\s+\d+\s+obj\b(.*?)endobj" % num, payload, re.S
    )
    if not om:
        raise ValueError(f"encrypt dict object {num} not found")
    d = om.group(1)
    if b"/Standard" not in d:
        raise NotImplementedError("non-standard PDF security handler")

    def intval(name: bytes, default: int | None = None) -> int:
        m = re.search(rb"/" + name + rb"\s+(-?\d+)", d)
        if m:
            return int(m.group(1))
        if default is None:
            raise ValueError(f"/Encrypt missing /{name.decode()}")
        return default

    def strval(name: bytes) -> bytes:
        m = re.search(rb"/" + name + rb"\s*([(<])", d)
        if not m:
            raise ValueError(f"/Encrypt missing /{name.decode()}")
        if m.group(1) == b"(":
            return _parse_literal(d, m.start(1))[0]
        return _parse_hex(d, m.start(1))[0]

    v = intval(b"V", 0)
    r = intval(b"R")
    if not (
        (v in (1, 2, 4) and r in (2, 3, 4)) or (v == 5 and r in (5, 6))
    ):
        raise NotImplementedError(
            f"PDF encryption /V {v} /R {r} (supported: V1-4/R2-4 RC4 "
            "and AES-128, V5/R5-6 AES-256)"
        )
    aes = False
    if v in (4, 5):
        cf = re.search(rb"/CFM\s*/(\w+)", d)
        cfm = cf.group(1) if cf else b""
        if cfm == (b"AESV3" if v == 5 else b"AESV2"):
            aes = True
        elif v == 5 or cfm != b"V2":
            raise NotImplementedError(f"crypt filter /CFM /{cfm.decode()}")
    out = {
        "v": v,
        "r": r,
        "length_bits": intval(b"Length", 256 if v == 5 else 40),
        "o": strval(b"O"),
        "u": strval(b"U"),
        "p": intval(b"P"),
        "aes": aes,
        "encrypt_metadata": b"/EncryptMetadata false" not in d,
        "encrypt_obj": num,
    }
    if v == 5:
        # AES-256 needs no /ID; the key unwraps from /UE or /OE and
        # /Perms restates /P tamper-evidently (§7.6.4)
        out["ue"] = strval(b"UE")
        out["oe"] = strval(b"OE")
        out["perms"] = strval(b"Perms")
        out["id0"] = b""
        return out
    idm = _ID_RE.search(payload)
    if not idm:
        raise ValueError("encrypted PDF without /ID in trailer")
    out["id0"] = bytes.fromhex(
        re.sub(rb"\s", b"", idm.group(1)).decode("ascii")
    )
    return out


class _CryptState:
    """Per-document decryption state for the standard security
    handler — shared by text extraction and image extraction so the
    §7.6 password/key machinery composes with BOTH (the round-8 gap
    was pdf_images raising on documents pdf_crypt could already
    open)."""

    __slots__ = ("file_key", "aes", "enc_obj", "v5")

    def __init__(self, payload: bytes, password: bytes) -> None:
        self.file_key: bytes | None = None
        self.aes = False
        self.enc_obj = -1
        self.v5 = False
        if b"/Encrypt" not in payload:
            return
        from ccgp_data_wrangling_spark.sources.pdf_crypt import (
            verify_password_v5,
            verify_perms,
            verify_user_password,
        )

        prm = _encryption_params(payload)
        if prm["v"] == 5:
            key = verify_password_v5(
                password, prm["o"], prm["u"], prm["oe"], prm["ue"],
                prm["r"],
            )
            if key is None:
                raise ValueError("invalid PDF password")
            if not verify_perms(
                prm["perms"], key, prm["p"], prm["encrypt_metadata"]
            ):
                raise ValueError(
                    "PDF /Perms does not validate (tampered /P?)"
                )
            self.v5 = True
        else:
            key = verify_user_password(
                password, prm["o"], prm["u"], prm["p"], prm["id0"],
                prm["r"], prm["length_bits"],
                encrypt_metadata=prm["encrypt_metadata"],
            )
            if key is None:
                raise ValueError("invalid PDF password")
        self.file_key = key
        self.aes = prm["aes"]
        self.enc_obj = prm["encrypt_obj"]

    def decrypt(
        self, data: bytes, head: bytes, num: int, gen: int
    ) -> bytes:
        """Decrypt one stream body with its per-object key (no-op for
        unencrypted documents, the /Encrypt dict's own object, and
        xref streams — never encrypted, §7.5.8.2)."""
        if (
            self.file_key is None
            or num == self.enc_obj
            or b"/XRef" in head
        ):
            return data
        from ccgp_data_wrangling_spark.sources.pdf_crypt import (
            decrypt_bytes,
            object_key,
        )

        return decrypt_bytes(
            data,
            # V5 uses the 32-byte file key directly for every object
            # (§7.6.4 — no per-object MD5 derivation)
            self.file_key
            if self.v5
            else object_key(self.file_key, num, gen, aes=self.aes),
            aes=self.aes,
        )


def extract_pdf_pages(payload: bytes, *, password: bytes = b"") -> list[str]:
    """Extract per-page text from a PDF byte blob (one string per
    content stream, in object order — the fixture writer emits one
    content stream per page in page order).

    Stream bodies are sliced by the dict's ``/Length`` when present —
    compressed bytes may legally contain ``endobj``/``endstream``, so
    the lexical ``.*?endobj`` scan alone would truncate such objects;
    only length-less streams fall back to the lexical boundary.
    Indirect ``/Length N 0 R`` references raise honestly (resolving
    them needs the xref this extractor deliberately doesn't trust).

    Encrypted files (standard security handler: RC4-40/128, AES-128
    — §7.6 — or AES-256, ISO 32000-2 §7.6.4) are opened with
    ``password``, tried as the user and (for /V 5) the owner
    password; empty by default, which real-world "encrypted but not
    password-protected" files use. A wrong password — or a /V 5 file
    whose /Perms does not validate against /P — raises
    ``ValueError``.
    """
    if not payload.startswith(b"%PDF-"):
        raise ValueError("not a PDF payload")
    crypt = _CryptState(payload, password)
    pages: list[str] = []
    pos = 0
    while True:
        om = _OBJ_START_RE.search(payload, pos)
        if not om:
            break
        sm = _STREAM_START_RE.search(payload, om.end())
        em = payload.find(b"endobj", om.end())
        if em < 0:
            em = len(payload)
        if sm is None or sm.start() > em:
            pos = em + 6  # no stream in this object
            continue
        head = payload[om.end() : sm.start()]
        lm = _LENGTH_RE.search(head)
        im = _IND_LENGTH_RE.search(head)
        if lm or im:
            ln = (
                int(lm.group(1))
                if lm
                else _resolve_int_object(payload, int(im.group(1)))
            )
            data = payload[sm.end() : sm.end() + ln]
            pos = payload.find(b"endobj", sm.end() + ln)
            pos = pos + 6 if pos >= 0 else len(payload)
        else:
            end = payload.find(b"\nendstream", sm.end())
            if end < 0:
                raise ValueError("unterminated PDF stream")
            data = payload[sm.end() : end]
            pos = end + len(b"\nendstream")
        data = crypt.decrypt(
            data, head, int(om.group(1)), int(om.group(2))
        )
        if re.search(rb"/Subtype\s*/Image\b", head):
            continue  # image XObjects carry no text (pdf_images reads them)
        data = _decode_stream_filters(head, data)
        if b"/ObjStm" in head:
            # members are dict objects (streams never nest, §7.5.7) —
            # no text inside; validate the member table and move on
            _objstm_members(head, data)
            continue
        if b"/XRef" in head:
            continue  # cross-reference metadata; see pdf_xref
        if b"BT" in data:
            pages.append(_content_text(data))
    return pages


_IND_LENGTH_RE = re.compile(rb"/Length\s+(\d+)\s+\d+\s*R\b")
_INT_OBJ_RE_T = rb"(?<![0-9])%d\s+\d+\s+obj\s*(\d+)\s*endobj"


def _resolve_int_object(payload: bytes, num: int) -> int:
    """Resolve an indirect reference that must point at a plain
    integer object (the only indirect target stream dicts use here:
    ``/Length N G R``). Located lexically, like everything else."""
    m = re.search(_INT_OBJ_RE_T % num, payload)
    if not m:
        raise ValueError(f"unresolvable integer object {num}")
    return int(m.group(1))


def _objstm_members(head: bytes, data: bytes) -> list[tuple[int, bytes]]:
    """Split an inflated object stream into ``[(objnum, body)]`` via
    its ``/N`` (member count) and ``/First`` (body offset) fields."""
    nm = re.search(rb"/N\s+(\d+)", head)
    fm = re.search(rb"/First\s+(\d+)", head)
    if not nm or not fm:
        raise ValueError("ObjStm missing /N or /First")
    n, first = int(nm.group(1)), int(fm.group(1))
    pairs = data[:first].split()
    if len(pairs) < 2 * n:
        raise ValueError("ObjStm member table shorter than /N")
    nums = [int(x) for x in pairs[0 : 2 * n : 2]]
    offs = [int(x) for x in pairs[1 : 2 * n : 2]]
    out: list[tuple[int, bytes]] = []
    for k in range(n):
        end = first + offs[k + 1] if k + 1 < n else len(data)
        out.append((nums[k], data[first + offs[k] : end].strip()))
    return out


_FILTER_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")


def _filter_names(head: bytes) -> list[bytes]:
    m = _FILTER_RE.search(head)
    if m is None:
        return []
    v = m.group(1)
    if v.startswith(b"["):
        return re.findall(rb"/([A-Za-z0-9]+)", v)
    return [v[1:]]


def _ascii_hex_decode(data: bytes) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, '>' EOD, an odd final
    digit is padded with 0."""
    out = bytearray()
    acc = ""
    for ch in data:
        c = chr(ch)
        if c == ">":
            if acc:
                out.append(int(acc + "0", 16))
            return bytes(out)
        if c.isspace():
            continue
        if c not in "0123456789abcdefABCDEF":
            raise ValueError(f"ASCIIHexDecode: invalid character {c!r}")
        acc += c
        if len(acc) == 2:
            out.append(int(acc, 16))
            acc = ""
    raise ValueError("ASCIIHexDecode missing '>' EOD")


def _ascii85_decode(data: bytes) -> bytes:
    """§7.4.3: base-85 groups of 5 chars → 4 bytes, 'z' for an
    all-zero group, '~>' EOD, a final partial group of k chars
    yielding k−1 bytes."""
    if data.startswith(b"<~"):
        data = data[2:]
    end = data.find(b"~>")
    if end < 0:
        raise ValueError("ASCII85Decode missing '~>' EOD")
    out = bytearray()
    group: list[int] = []
    for ch in data[:end]:
        if ch in b" \t\r\n\x0c\x0b\x00":
            continue
        if ch == 0x7A:  # 'z'
            if group:
                raise ValueError("'z' inside an ASCII85 group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= ch <= 0x75:
            raise ValueError(f"ASCII85Decode: invalid byte {ch:#04x}")
        group.append(ch - 0x21)
        if len(group) == 5:
            n = 0
            for d in group:
                n = n * 85 + d
            if n > 0xFFFFFFFF:
                raise ValueError("ASCII85 group exceeds 2^32")
            out += n.to_bytes(4, "big")
            group = []
    if len(group) == 1:
        raise ValueError("ASCII85 final group of a single character")
    if group:
        k = len(group)
        n = 0
        for d in group + [84] * (5 - k):
            n = n * 85 + d
        out += n.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """§7.4.5: length byte L — 0-127 copies the next L+1 bytes,
    129-255 repeats the next byte 257−L times, 128 is EOD. (Same
    run/literal scheme as TIFF PackBits, but 128 terminates instead
    of being a no-op — so this is its own small decoder.)"""
    out = bytearray()
    i = 0
    while i < len(data):
        ln = data[i]
        if ln == 128:
            return bytes(out)
        if ln < 128:
            chunk = data[i + 1 : i + 2 + ln]
            if len(chunk) != ln + 1:
                raise ValueError("RunLengthDecode truncated literal")
            out += chunk
            i += 2 + ln
        else:
            if i + 1 >= len(data):
                raise ValueError("RunLengthDecode truncated run")
            out += bytes([data[i + 1]]) * (257 - ln)
            i += 2
    raise ValueError("RunLengthDecode missing EOD")


def _lzw_decode_pdf(head: bytes, data: bytes) -> bytes:
    """§7.4.4: at the default ``/EarlyChange 1`` the code stream is
    bit-identical to TIFF §7 LZW (MSB-first variable width, Clear
    256 / EOD 257, early width change), so the TIFF decoder is the
    shared kernel; ``/EarlyChange 0`` gates honestly."""
    em = re.search(rb"/EarlyChange\s+(\d+)", head)
    if em is not None and int(em.group(1)) == 0:
        raise NotImplementedError("LZWDecode /EarlyChange 0")
    from ccgp_data_wrangling_spark.operators.media_codecs import (
        _tiff_lzw_decode,
    )

    return _tiff_lzw_decode(data)


def _scan_balanced_dict(buf: bytes, i: int) -> tuple[bytes, int]:
    """Return the balanced ``<< ... >>`` slice starting at ``i`` and
    the index just past it. Nesting is counted; strings inside dicts
    are not expected in /DecodeParms fragments (integers/names/bools
    only per §7.4 tables)."""
    if buf[i : i + 2] != b"<<":
        raise ValueError("expected << at /DecodeParms dict")
    depth, j = 0, i
    while j < len(buf) - 1:
        two = buf[j : j + 2]
        if two == b"<<":
            depth += 1
            j += 2
        elif two == b">>":
            depth -= 1
            j += 2
            if depth == 0:
                return buf[i:j], j
        else:
            j += 1
    raise ValueError("unterminated /DecodeParms dict")


def _decode_parms(head: bytes, n_filters: int) -> list[bytes]:
    """Positional ``/DecodeParms`` (§7.3.8.2): one parameter-dict
    fragment per filter, ``b''`` where the entry is ``null`` or
    absent. A single dict pairs with a single filter; a single dict
    against a /Filter ARRAY is ambiguous per spec and raises rather
    than guessing which filter it parameterizes."""
    m = re.search(rb"/(?:DecodeParms|DP)\s*", head)
    if m is None:
        return [b""] * n_filters
    i = m.end()
    if head[i : i + 2] == b"<<":
        if n_filters > 1:
            raise ValueError(
                "single /DecodeParms dict with a /Filter array"
            )
        d, _ = _scan_balanced_dict(head, i)
        return [d] + [b""] * max(0, n_filters - 1)
    if head[i : i + 1] == b"[":
        entries: list[bytes] = []
        j = i + 1
        while j < len(head):
            while j < len(head) and head[j : j + 1] in b" \t\r\n":
                j += 1
            if head[j : j + 1] == b"]":
                break
            if head[j : j + 2] == b"<<":
                d, j = _scan_balanced_dict(head, j)
                entries.append(d)
            elif head[j : j + 4] == b"null":
                entries.append(b"")
                j += 4
            else:
                raise ValueError("unparseable /DecodeParms array entry")
        else:
            raise ValueError("unterminated /DecodeParms array")
        entries += [b""] * max(0, n_filters - len(entries))
        return entries[:n_filters]
    raise ValueError("unparseable /DecodeParms value")


def _maybe_unpredict(parm: bytes, data: bytes) -> bytes:
    """Undo the predictor THIS filter's /DecodeParms entry declares
    (none declared → passthrough). Operates on the per-filter parm
    fragment, never the whole stream dict, so a multi-filter chain
    un-predicts exactly once — at the declaring filter."""
    if b"/Predictor" not in parm:
        return data
    return _unpredict(data, parm)


def _apply_pdf_filter(
    name: bytes, parm: bytes, data: bytes, *, unpredict: bool = True
) -> bytes:
    """Apply ONE decode filter with ITS /DecodeParms fragment."""
    if name in (b"FlateDecode", b"Fl"):
        data = zlib.decompress(data)
        return _maybe_unpredict(parm, data) if unpredict else data
    if name in (b"LZWDecode", b"LZW"):
        data = _lzw_decode_pdf(parm, data)
        return _maybe_unpredict(parm, data) if unpredict else data
    if name in (b"ASCIIHexDecode", b"AHx"):
        return _ascii_hex_decode(data)
    if name in (b"ASCII85Decode", b"A85"):
        return _ascii85_decode(data)
    if name in (b"RunLengthDecode", b"RL"):
        return _runlength_decode(data)
    if name == b"Crypt":
        if b"/Identity" not in parm:
            raise NotImplementedError("non-Identity /Crypt filter")
        return data
    raise NotImplementedError(f"PDF stream filter /{name.decode('latin-1')}")


def _decode_stream_filters(
    head: bytes, data: bytes, *, unpredict: bool = True
) -> bytes:
    """Apply the stream's ``/Filter`` chain in decode order (§7.4):
    ASCIIHex / ASCII85 transport encodings, RunLength, LZW, Flate —
    with each filter's own ``/DecodeParms`` entry (parsed
    POSITIONALLY against the filter array, §7.3.8.2) driving its
    predictor undo (PNG 10-15 / TIFF 2) and LZW /EarlyChange, and
    ``/Crypt /Identity`` passed through (stream encryption is handled
    upstream by the standard security handler). Unknown filters
    (image codecs like DCTDecode) raise honestly. ``unpredict=False``
    leaves the predictor to a caller that validates row width itself
    (pdf_xref)."""
    names = _filter_names(head)
    if not names and b"/Filter" in head:
        raise ValueError("unparseable /Filter entry")
    parms = _decode_parms(head, len(names))
    # Legacy fixture leniency: a bare single filter whose predictor
    # keys sit directly in the stream dict (no /DecodeParms wrapper)
    # still un-predicts — the whole head is its parm fragment then.
    if len(names) == 1 and not parms[0] and b"/DecodeParms" not in head:
        parms = [head]
    for name, parm in zip(names, parms):
        data = _apply_pdf_filter(name, parm, data, unpredict=unpredict)
    return data


def pdf_images(
    payload: bytes, *, password: bytes = b""
) -> list[dict[str, Any]]:
    """Extract embedded image XObjects (``/Subtype /Image``) — the
    figure-mining layer a multimodal corpus pipeline needs next to
    text extraction. Per image: object number, declared dimensions,
    channel count, the codec that carried it, and pixel statistics.

    ``/DCTDecode`` payloads run through the from-scratch baseline/
    progressive JPEG decoder (operators/media_codecs.decode_jpeg);
    ``/JPXDecode`` through the from-scratch JPEG 2000 decoder
    (operators/jpeg2000.decode_jpx — the codestream overrides dict
    /ColorSpace and /BitsPerComponent per §7.4.9); transport filters
    ahead of the image codec (ASCII85/Hex, RunLength, LZW, Flate) are
    unwrapped first; declared vs decoded dimensions are cross-checked
    (a mismatch means corrupt data, not a different picture).
    Raw-sample images (Flate or unfiltered) are interpreted via
    /ColorSpace + /BitsPerComponent (8-bit DeviceGray/DeviceRGB;
    other spaces and depths raise honestly).
    Encrypted documents open through the standard
    security handler (the same ``_CryptState`` the text path uses —
    image XObject stream bodies decrypt with the same per-object
    keys, §7.6.2)."""
    import numpy as np

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        decode_jpeg,
    )

    if payload[:5] != b"%PDF-":
        raise ValueError("not a PDF payload")
    crypt = _CryptState(payload, password)
    out: list[dict[str, Any]] = []
    pos = 0
    while True:
        om = _OBJ_START_RE.search(payload, pos)
        if not om:
            break
        sm = _STREAM_START_RE.search(payload, om.end())
        em = payload.find(b"endobj", om.end())
        if em < 0:
            em = len(payload)
        if sm is None or sm.start() > em:
            pos = em + 6
            continue
        head = payload[om.end() : sm.start()]
        lm = _LENGTH_RE.search(head)
        im_ = _IND_LENGTH_RE.search(head)
        if lm or im_:
            ln = (
                int(lm.group(1))
                if lm
                else _resolve_int_object(payload, int(im_.group(1)))
            )
            data = payload[sm.end() : sm.end() + ln]
            pos = payload.find(b"endobj", sm.end() + ln)
            pos = pos + 6 if pos >= 0 else len(payload)
        else:
            end = payload.find(b"\nendstream", sm.end())
            if end < 0:
                raise ValueError("unterminated PDF stream")
            data = payload[sm.end() : end]
            pos = end + len(b"\nendstream")
        if not re.search(rb"/Subtype\s*/Image\b", head):
            continue
        data = crypt.decrypt(
            data, head, int(om.group(1)), int(om.group(2))
        )
        wm = re.search(rb"/Width\s+(\d+)", head)
        hm = re.search(rb"/Height\s+(\d+)", head)
        if not wm or not hm:
            raise ValueError("image XObject missing /Width or /Height")
        w, h = int(wm.group(1)), int(hm.group(1))
        bm = re.search(rb"/BitsPerComponent\s+(\d+)", head)
        bpc = int(bm.group(1)) if bm else 8
        names = _filter_names(head)
        parms = _decode_parms(head, len(names))
        if names and names[-1] in (b"CCITTFaxDecode", b"CCF"):
            # scanned-document bitonal images (§7.4.6): transport
            # filters unwrap first, then the CCITT decode — /K < 0
            # T.6 MMR, /K 0 T.4 1-D MH, /K > 0 T.4 mixed 1-D/2-D;
            # bilevel surfaces as 0/255 grayscale luma. /BlackIs1
            # does not change luma (it flips sample ENCODING; the
            # runs decode to black/white either way).
            if bpc != 1:
                raise ValueError("CCITTFaxDecode needs /BitsPerComponent 1")
            for nm, parm in zip(names[:-1], parms[:-1]):
                data = _apply_pdf_filter(nm, parm, data, unpredict=True)
            cparm = parms[-1]
            km = re.search(rb"/K\s+(-?\d+)", cparm)
            kval = int(km.group(1)) if km else 0
            byte_align = bool(
                re.search(rb"/EncodedByteAlign\s+true", cparm)
            )
            cm_ = re.search(rb"/Columns\s+(\d+)", cparm)
            cols = int(cm_.group(1)) if cm_ else 1728
            rm_ = re.search(rb"/Rows\s+(\d+)", cparm)
            rows_n = int(rm_.group(1)) if rm_ else h
            if (cols, rows_n) != (w, h):
                raise ValueError(
                    "CCITT /Columns//Rows disagree with the image dict"
                )
            if kval < 0:  # Group 4 (T.6 MMR)
                if byte_align:
                    raise NotImplementedError(
                        "CCITTFaxDecode /EncodedByteAlign with /K < 0"
                    )
                from ccgp_data_wrangling_spark.operators.media_codecs import (  # noqa: E501
                    decode_ccitt_g4,
                )

                black = decode_ccitt_g4(bytes(data), w, h)
                codec_name = "g4"
            elif kval == 0:  # Group 3 one-dimensional (T.4 MH)
                from ccgp_data_wrangling_spark.operators.media_codecs import (  # noqa: E501
                    decode_ccitt_mh,
                )

                black = decode_ccitt_mh(
                    bytes(data), w, h,
                    byte_align=byte_align,
                    eol=bool(re.search(rb"/EndOfLine\s+true", cparm)),
                )
                codec_name = "g3"
            else:  # /K > 0: T.4 mixed one/two-dimensional Group 3
                from ccgp_data_wrangling_spark.operators.media_codecs import (  # noqa: E501
                    decode_ccitt_g3_mixed,
                )

                black = decode_ccitt_g3_mixed(
                    bytes(data), w, h, byte_align=byte_align
                )
                codec_name = "g3_2d"
            lum = round(
                float(np.where(black, 0.0, 255.0).mean()), 4
            )
            out.append(
                {
                    "obj": int(om.group(1)),
                    "width": w,
                    "height": h,
                    "n_channels": 1,
                    "codec": codec_name,
                    "channel_means": [lum],
                    "luma_mean": lum,
                }
            )
            continue
        if names and names[-1] == b"JBIG2Decode":
            # the other scanned-document codec (§7.4.7): an embedded
            # T.88 segment stream — page info + generic regions for
            # scanner output; symbol/text segments gate inside the
            # decoder. 1-pixels are black, same surface as CCITT.
            if bpc != 1:
                raise ValueError("JBIG2Decode needs /BitsPerComponent 1")
            for nm, parm in zip(names[:-1], parms[:-1]):
                data = _apply_pdf_filter(nm, parm, data, unpredict=True)
            if re.search(rb"/JBIG2Globals\b", parms[-1]) or re.search(
                rb"/JBIG2Globals\b", head
            ):
                raise NotImplementedError(
                    "/JBIG2Globals (shared symbol dictionaries)"
                )
            from ccgp_data_wrangling_spark.operators.jbig2 import (
                decode_jbig2_embedded,
            )

            page = decode_jbig2_embedded(bytes(data))
            if (page["width"], page["height"]) != (w, h):
                raise ValueError(
                    "JBIG2 page dimensions disagree with the image dict"
                )
            # /Decode (§8.9.5.2) applies to JBIG2 output like any
            # other 1-bit image: [1 0] flips the sample polarity, so
            # the decoded black mask inverts; partial ranges raise.
            jb_black = page["black"]
            jdm = re.search(rb"/Decode\s*\[([^\]]*)\]", head)
            if jdm:
                jnums = [float(x) for x in jdm.group(1).split()]
                if jnums == [1.0, 0.0]:
                    jb_black = ~jb_black
                elif jnums != [0.0, 1.0]:
                    raise NotImplementedError(
                        "partial-range /Decode array on JBIG2 image"
                    )
            lum = round(
                float(np.where(jb_black, 0.0, 255.0).mean()), 4
            )
            out.append(
                {
                    "obj": int(om.group(1)),
                    "width": w,
                    "height": h,
                    "n_channels": 1,
                    "codec": "jbig2",
                    "channel_means": [lum],
                    "luma_mean": lum,
                }
            )
            continue
        if names and names[-1] == b"JPXDecode":
            # JPEG 2000 (§7.4.9): the codestream defines bit depth
            # and component count — dict /BitsPerComponent and
            # /ColorSpace, when present, are overridden by the JPX
            # data per the spec, so neither is validated here
            for nm, parm in zip(names[:-1], parms[:-1]):
                data = _apply_pdf_filter(nm, parm, data, unpredict=True)
            from ccgp_data_wrangling_spark.operators.jpeg2000 import (
                decode_jpx,
            )

            m = decode_jpx(bytes(data))
            if (m["width"], m["height"]) != (w, h):
                raise ValueError(
                    "JPX dimensions disagree with the image dict"
                )
            jmax = (1 << m["bit_depth"]) - 1
            jmeans = m["samples"].astype(np.float64).mean(
                axis=(0, 1)
            ) * (255.0 / jmax)
            out.append(
                {
                    "obj": int(om.group(1)),
                    "width": w,
                    "height": h,
                    "n_channels": m["n_channels"],
                    "codec": "jpx",
                    "channel_means": [
                        round(float(x), 4) for x in jmeans
                    ],
                    "luma_mean": round(
                        float(
                            jmeans @ np.array([0.299, 0.587, 0.114])
                            if m["n_channels"] == 3
                            else jmeans[0]
                        ),
                        4,
                    ),
                }
            )
            continue
        if bpc not in (1, 2, 4, 8, 16):
            raise ValueError(f"invalid /BitsPerComponent {bpc}")
        if re.search(rb"/ColorSpace\s*/DeviceRGB\b", head):
            ncomp = 3
        elif re.search(rb"/ColorSpace\s*/DeviceGray\b", head):
            ncomp = 1
        else:
            raise NotImplementedError("non-Device PDF image colorspace")
        # /Decode array (§8.9.5.2): [1 0] per gray component inverts
        # the sample scale; only default and fully-inverted arrays of
        # the right arity are meaningful for Device spaces
        dm = re.search(rb"/Decode\s*\[([^\]]*)\]", head)
        inverted = False
        if dm:
            nums = [float(x) for x in dm.group(1).split()]
            if nums == [0.0, 1.0] * ncomp:
                inverted = False
            elif nums == [1.0, 0.0] * ncomp:
                inverted = True
            else:
                raise NotImplementedError(
                    "partial-range /Decode array"
                )
        codec = "raw"
        for i, (nm, parm) in enumerate(zip(names, parms)):
            if nm in (b"DCTDecode", b"DCT"):
                if bpc != 8 or inverted:
                    raise NotImplementedError(
                        "non-8-bit or /Decode-inverted JPEG"
                    )
                if i != len(names) - 1:
                    raise ValueError("/DCTDecode must be the final filter")
                codec = "jpeg"
                m = decode_jpeg(bytes(data))
                if (m["width"], m["height"]) != (w, h):
                    raise ValueError(
                        "JPEG dimensions disagree with the image dict"
                    )
                if m["n_channels"] != ncomp:
                    raise ValueError(
                        "JPEG component count disagrees with /ColorSpace"
                    )
                stats = m
                break
            if nm in (b"JPXDecode", b"CCITTFaxDecode"):
                raise NotImplementedError(
                    f"PDF image codec /{nm.decode('latin-1')}"
                )
            # transport/compression filter ahead of the payload — the
            # REAL /DecodeParms entry rides along (an LZW stream with
            # /EarlyChange 0 gates honestly instead of mis-decoding;
            # a declared predictor on a raw image is undone here)
            data = _apply_pdf_filter(nm, parm, data, unpredict=True)
        else:
            maxval = (1 << bpc) - 1
            if bpc == 8:
                if len(data) != w * h * ncomp:
                    raise ValueError(
                        "raw image samples disagree with dimensions"
                    )
                px = np.frombuffer(data, np.uint8).reshape(
                    h, w, ncomp
                ).astype(np.float64)
            elif bpc == 16:
                # §8.9.5: 16-bit components are big-endian
                if len(data) != w * h * ncomp * 2:
                    raise ValueError(
                        "raw image samples disagree with dimensions"
                    )
                px = np.frombuffer(data, ">u2").reshape(
                    h, w, ncomp
                ).astype(np.float64)
            else:
                # 1/2/4-bit samples pack MSB-first, each row padded
                # to a byte boundary (§8.9.5.1)
                if ncomp != 1:
                    raise NotImplementedError(
                        f"{bpc}-bit RGB PDF image samples"
                    )
                stride = (w * bpc + 7) // 8
                if len(data) != stride * h:
                    raise ValueError(
                        "raw image samples disagree with dimensions"
                    )
                rows = np.frombuffer(data, np.uint8).reshape(h, stride)
                bits = np.unpackbits(rows, axis=1)[:, : w * bpc]
                px = np.zeros((h, w), np.float64)
                for k in range(bpc):
                    px = px * 2 + bits[:, k::bpc]
                px = px.reshape(h, w, 1)
            if inverted:
                px = maxval - px
            # means on the 0-255 luma scale whatever the bit depth
            means = px.mean(axis=(0, 1)) * (255.0 / maxval)
            stats = {
                "channel_means": [round(float(x), 4) for x in means],
                "luma_mean": round(
                    float(
                        means @ np.array([0.299, 0.587, 0.114])
                        if ncomp == 3
                        else means[0]
                    ),
                    4,
                ),
            }
        out.append(
            {
                "obj": int(om.group(1)),
                "width": w,
                "height": h,
                "n_channels": ncomp,
                "codec": codec,
                "channel_means": stats["channel_means"],
                "luma_mean": stats["luma_mean"],
            }
        )
    return out


def _unpredict(
    data: bytes, head: bytes, row_bytes: int | None = None
) -> bytes:
    """Undo a ``/DecodeParms`` predictor (xref streams, images).
    Predictors 10–15 are the PNG row filters — applied with the SAME
    unfilter kernel the PNG codec uses (media_codecs._unfilter_lines;
    the predictor prefixes each row with a PNG filter-type byte).
    Predictor 2 is TIFF horizontal differencing; 1/absent is none.

    The row stride is ``ceil(Columns·Colors·BitsPerComponent / 8)``
    bytes — /Columns counts SAMPLES, not bytes (§7.4.4.4 Table 10);
    the two coincide only at the xref-stream defaults Colors=1 bpc=8.
    ``row_bytes``, when given, is the caller's independent width
    expectation and is validated against the derived stride."""
    pm = re.search(rb"/Predictor\s+(\d+)", head)
    pred = int(pm.group(1)) if pm else 1
    if pred == 1:
        return data
    cm = re.search(rb"/Columns\s+(\d+)", head)
    columns = int(cm.group(1)) if cm else 1
    colm = re.search(rb"/Colors\s+(\d+)", head)
    bpcm = re.search(rb"/BitsPerComponent\s+(\d+)", head)
    colors = int(colm.group(1)) if colm else 1
    bpc = int(bpcm.group(1)) if bpcm else 8
    bpp = max(1, colors * bpc // 8)
    stride = (columns * colors * bpc + 7) // 8
    if row_bytes is not None and stride != row_bytes:
        raise ValueError(
            f"predictor stride {stride} != expected row width {row_bytes}"
        )
    if pred == 2:  # TIFF horizontal differencing
        out = bytearray(data)
        for r0 in range(0, len(out), stride):
            for i in range(bpp, min(stride, len(out) - r0)):
                out[r0 + i] = (out[r0 + i] + out[r0 + i - bpp]) & 0xFF
        return bytes(out)
    if 10 <= pred <= 15:
        from ccgp_data_wrangling_spark.operators.media_codecs import (
            _unfilter_lines,
        )

        h = len(data) // (stride + 1)
        rows, endpos = _unfilter_lines(data, 0, h, stride, bpp)
        if endpos != len(data):
            raise ValueError("predictor data length mismatch")
        return rows.astype("uint8").tobytes()
    raise NotImplementedError(f"predictor {pred}")


def pdf_xref(payload: bytes) -> dict[int, tuple]:
    """Parse the cross-reference the way a conformant reader does:
    follow ``startxref`` to the newest section (classic table or 1.5
    xref stream), then the ``/Prev`` chain, newest entry winning.
    Returns ``{objnum: ("free",) | ("offset", byte_off, gen) |
    ("objstm", container_objnum, index)}``."""
    tail = payload.rsplit(b"startxref", 1)
    if len(tail) != 2:
        raise ValueError("PDF missing startxref")
    entries: dict[int, tuple] = {}
    off: int | None = int(tail[1].split()[0])
    seen: set[int] = set()
    while off is not None and off not in seen:
        seen.add(off)
        if payload[off : off + 4] == b"xref":  # classic table
            p = off + 4
            while True:
                m = re.match(rb"\s*(\d+)\s+(\d+)\s*\n", payload[p:])
                if not m:
                    break
                start, count = int(m.group(1)), int(m.group(2))
                p += m.end()
                for k in range(count):
                    line = payload[p : p + 20]
                    f1, f2, typ = (
                        int(line[0:10]), int(line[11:16]),
                        line[17:18],
                    )
                    entries.setdefault(
                        start + k,
                        ("free",) if typ == b"f" else ("offset", f1, f2),
                    )
                    p += 20
            tm = re.search(rb"trailer\s*<<(.*?)>>", payload[p:], re.S)
            pm = (
                re.search(rb"/Prev\s+(\d+)", tm.group(1)) if tm else None
            )
            off = int(pm.group(1)) if pm else None
            continue
        # 1.5 xref stream object at this offset
        om = _OBJ_START_RE.match(payload, off)
        if not om:
            raise ValueError(f"no xref section at byte {off}")
        sm = _STREAM_START_RE.search(payload, om.end())
        head = payload[om.end() : sm.start()]
        if b"/XRef" not in head:
            raise ValueError("startxref target is not an XRef stream")
        lm = _LENGTH_RE.search(head)
        data = payload[sm.end() : sm.end() + int(lm.group(1))]
        # xref streams allow the compression filters (§7.5.8.2); the
        # row-width-validated predictor undo below stays in charge
        data = _decode_stream_filters(head, data, unpredict=False)
        wm = re.search(
            rb"/W\s*\[\s*(\d+)\s+(\d+)\s+(\d+)\s*\]", head
        )
        if not wm:
            raise ValueError("XRef stream missing /W")
        w = [int(wm.group(i)) for i in (1, 2, 3)]
        row = sum(w)
        data = _unpredict(data, head, row)
        sz = re.search(rb"/Size\s+(\d+)", head)
        im = re.search(rb"/Index\s*\[([^\]]*)\]", head)
        idx = (
            [int(x) for x in im.group(1).split()]
            if im
            else [0, int(sz.group(1))]
        )
        p = 0
        for s in range(0, len(idx), 2):
            start, count = idx[s], idx[s + 1]
            for k in range(count):
                fields = []
                for pos_i, width in enumerate(w):
                    if width:
                        v = int.from_bytes(data[p : p + width], "big")
                        p += width
                    else:  # §7.5.8.2: zero-width type defaults to 1
                        v = 1 if pos_i == 0 else 0
                    fields.append(v)
                typ, f2, f3 = fields
                entries.setdefault(
                    start + k,
                    ("free",)
                    if typ == 0
                    else ("offset", f2, f3)
                    if typ == 1
                    else ("objstm", f2, f3),
                )
        pm = re.search(rb"/Prev\s+(\d+)", head)
        off = int(pm.group(1)) if pm else None
    return entries


def read_object(payload: bytes, num: int) -> bytes:
    """Fetch object ``num``'s body bytes through the cross-reference:
    type-1 entries parse at their byte offset, type-2 entries open the
    containing object stream and return the member body."""
    ent = pdf_xref(payload).get(num)
    if ent is None or ent[0] == "free":
        raise ValueError(f"object {num} not in xref (or free)")
    if ent[0] == "offset":
        om = _OBJ_START_RE.match(payload, ent[1])
        if not om or int(om.group(1)) != num:
            raise ValueError(f"xref offset for object {num} is wrong")
        em = payload.find(b"endobj", om.end())
        return payload[om.end() : em].strip()
    container = ent[1]
    m = re.search(rb"(?<![0-9])%d\s+\d+\s+obj\b" % container, payload)
    if not m:
        raise ValueError(f"ObjStm {container} not found")
    sm = _STREAM_START_RE.search(payload, m.end())
    head = payload[m.end() : sm.start()]
    lm = _LENGTH_RE.search(head)
    data = payload[sm.end() : sm.end() + int(lm.group(1))]
    data = _decode_stream_filters(head, data)
    members = _objstm_members(head, data)
    for onum, body in members:
        if onum == num:
            return body
    raise ValueError(f"object {num} not in ObjStm {container}")


PDF_PAGE_SCHEMA = "doc_id long, page int, text string, n_chars int"


def pdf_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    password: bytes = b"",
    pre: Any = None,
) -> DataFrame:
    """Explode PDF blobs into one row per page with extracted text —
    one :func:`explode_blobs` pass. ``password`` opens
    standard-security-handler encrypted files (one corpus-wide
    password — per-document passwords would be a join column, which
    a caller can model by partitioning the corpus)."""
    return explode_blobs(
        df,
        lambda b: text_rows(extract_pdf_pages(b, password=password)),
        PDF_PAGE_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _escape_literal(s: str) -> bytes:
    b = s.encode("latin-1")
    return (
        b.replace(b"\\", rb"\\").replace(b"(", rb"\(").replace(b")", rb"\)")
    )


def _content_for(segs: list[Any]) -> bytes:
    """Build one page's content stream from fixture segments."""
    lines = [b"BT", b"/F1 12 Tf", b"72 720 Td"]
    first = True
    for seg in segs:
        if not first:
            lines.append(b"0 -14 Td")
        first = False
        if isinstance(seg, str):
            lines.append(b"(" + _escape_literal(seg) + b") Tj")
        elif isinstance(seg, tuple) and seg[0] == "hex":
            lines.append(
                b"<" + seg[1].encode("latin-1").hex().encode() + b"> Tj"
            )
        else:  # TJ array
            parts = []
            for el in seg:
                if isinstance(el, str):
                    parts.append(b"(" + _escape_literal(el) + b")")
                else:
                    parts.append(str(el).encode())
            lines.append(b"[" + b" ".join(parts) + b"] TJ")
    lines.append(b"ET")
    return b"\n".join(lines)


def _rl_encode(data: bytes) -> bytes:
    """RunLengthDecode-compatible encoder (§7.4.5): runs ≥ 2 become
    (257−n, byte), literals chunk at 128, EOD 128 terminates."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        j = i
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        j = i
        while (
            j < n
            and j - i < 128
            and not (j + 2 < n and data[j] == data[j + 1] == data[j + 2])
        ):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    out.append(128)
    return bytes(out)


def _encode_filter_chain(
    raw: bytes, chain: tuple[str, ...]
) -> tuple[bytes, bytes]:
    """Encode ``raw`` through ``chain`` (given in DECODE order, the
    order the /Filter array lists) and return (data, head-fragment)."""
    import base64
    import binascii

    from ccgp_data_wrangling_spark.operators.media_codecs import (
        _tiff_lzw_encode,
    )

    enc = {
        "flate": zlib.compress,
        "lzw": _tiff_lzw_encode,
        "rl": _rl_encode,
        "ahx": lambda d: binascii.hexlify(d) + b">",
        "a85": lambda d: base64.a85encode(d) + b"~>",
    }
    names = {
        "flate": b"/FlateDecode",
        "lzw": b"/LZWDecode",
        "rl": b"/RunLengthDecode",
        "ahx": b"/ASCIIHexDecode",
        "a85": b"/ASCII85Decode",
    }
    data = raw
    for f in reversed(chain):  # encode order is the reverse of decode
        data = enc[f](data)
    if len(chain) == 1:
        frag = b"/Filter " + names[chain[0]]
    else:
        frag = b"/Filter [" + b" ".join(names[f] for f in chain) + b"]"
    return data, frag


def build_pdf(
    pages: list[list[Any]],
    *,
    compress: bool = True,
    filter_chain: tuple[str, ...] | None = None,
    page_images: list[list[Any]] | None = None,
) -> bytes:
    """Fixture writer: a conformant single-font PDF 1.4 with a correct
    xref table. Each page is a list of segments: a plain string →
    one ``Tj`` line (``Td`` positioning, so extraction shows it on its
    own line); a list of strings/ints → one ``TJ`` array (ints are
    kern amounts); a tuple ``("hex", s)`` → hex-string ``Tj``.
    ``compress`` Flate-encodes the content streams (the common case);
    ``filter_chain`` instead writes any /Filter chain in decode order
    from {"flate", "lzw", "rl", "ahx", "a85"} — e.g. ("a85",
    "flate") emits Flate output wrapped in ASCII85 transport.

    ``page_images`` embeds image XObjects (one inner list per page):
    ``("dct", jpeg_bytes, w, h, n_channels)`` stores a JPEG stream
    behind /DCTDecode; ``("flate", px)`` (a uint8 (h,w) or (h,w,3)
    numpy array) stores Flate-compressed raw samples with the
    matching /DeviceGray or /DeviceRGB colorspace; ``("g4", mask)``
    (a boolean (h,w) black-mask) stores a CCITT Group 4 stream
    behind /CCITTFaxDecode with ``/K -1`` (§7.4.6 — the
    scanned-document layout). Each page's content stream paints its
    images with ``Do`` operators.
    """
    objects: list[bytes] = []
    content_for = _content_for

    n_pages = len(pages)
    # object layout: 1 catalog, 2 pages, 3 font, then per page:
    # (4+2k) page, (5+2k) content, then one object per embedded image
    kids = b" ".join(
        b"%d 0 R" % (4 + 2 * k) for k in range(n_pages)
    )
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    img_objs: list[bytes] = []
    page_xobjs: list[list[tuple[bytes, int]]] = [[] for _ in range(n_pages)]
    if page_images:
        next_obj = 4 + 2 * n_pages
        for k, imgs in enumerate(page_images):
            for j, spec in enumerate(imgs or []):
                if spec[0] == "dct":
                    _, jpg, iw, ih, ncomp = spec
                    cs = b"/DeviceRGB" if ncomp == 3 else b"/DeviceGray"
                    head = (
                        b"<< /Type /XObject /Subtype /Image"
                        b" /Width %d /Height %d /ColorSpace %s"
                        b" /BitsPerComponent 8 /Filter /DCTDecode"
                        b" /Length %d >>" % (iw, ih, cs, len(jpg))
                    )
                    body = head + b"\nstream\n" + jpg + b"\nendstream"
                elif spec[0] == "flate":
                    px = spec[1]
                    ih, iw = px.shape[:2]
                    ncomp = 1 if px.ndim == 2 else px.shape[2]
                    cs = b"/DeviceRGB" if ncomp == 3 else b"/DeviceGray"
                    data = zlib.compress(px.tobytes())
                    head = (
                        b"<< /Type /XObject /Subtype /Image"
                        b" /Width %d /Height %d /ColorSpace %s"
                        b" /BitsPerComponent 8 /Filter /FlateDecode"
                        b" /Length %d >>" % (iw, ih, cs, len(data))
                    )
                    body = head + b"\nstream\n" + data + b"\nendstream"
                elif spec[0] in ("g4", "g3", "g3a", "g3_2d"):
                    from ccgp_data_wrangling_spark.operators.media_codecs import (  # noqa: E501
                        encode_ccitt_g3_mixed,
                        encode_ccitt_g4,
                        encode_ccitt_mh,
                    )

                    mask = spec[1]
                    ih, iw = mask.shape
                    if spec[0] == "g4":
                        data = encode_ccitt_g4(mask)
                        kparm = b"/K -1 "
                    elif spec[0] == "g3_2d":  # mixed 1-D/2-D rows
                        data = encode_ccitt_g3_mixed(mask, k=4)
                        kparm = b"/K 4 "
                    else:  # g3 = 1-D MH; g3a = byte-aligned rows
                        ba = spec[0] == "g3a"
                        data = encode_ccitt_mh(mask, byte_align=ba)
                        kparm = b"/K 0 " + (
                            b"/EncodedByteAlign true " if ba else b""
                        )
                    head = (
                        b"<< /Type /XObject /Subtype /Image"
                        b" /Width %d /Height %d /ColorSpace /DeviceGray"
                        b" /BitsPerComponent 1 /Filter /CCITTFaxDecode"
                        b" /DecodeParms << %s/Columns %d /Rows %d >>"
                        b" /Length %d >>"
                        % (iw, ih, kparm, iw, ih, len(data))
                    )
                    body = head + b"\nstream\n" + data + b"\nendstream"
                elif spec[0] == "packed":
                    # low-/high-bit-depth grayscale: ("packed", arr,
                    # bpc, invert) — 1/2/4-bit rows pack MSB-first
                    # padded to bytes (§8.9.5.1), 16-bit big-endian;
                    # invert rides a full-range /Decode [1 0] array
                    import numpy as np

                    _, arr, pbpc, invert = spec
                    ih, iw = arr.shape
                    if pbpc == 16:
                        raw16 = arr.astype(">u2").tobytes()
                        data = zlib.compress(raw16)
                    else:
                        vals = arr.astype(np.uint8)
                        bits = np.zeros((ih, iw * pbpc), np.uint8)
                        for kk in range(pbpc):
                            bits[:, kk::pbpc] = (
                                vals >> (pbpc - 1 - kk)
                            ) & 1
                        data = zlib.compress(
                            np.packbits(bits, axis=1).tobytes()
                        )
                    dec_frag = (
                        b" /Decode [1 0]" if invert else b""
                    )
                    head = (
                        b"<< /Type /XObject /Subtype /Image"
                        b" /Width %d /Height %d /ColorSpace /DeviceGray"
                        b" /BitsPerComponent %d /Filter /FlateDecode%s"
                        b" /Length %d >>"
                        % (iw, ih, pbpc, dec_frag, len(data))
                    )
                    body = head + b"\nstream\n" + data + b"\nendstream"
                elif spec[0] in ("jpx", "jpx_stream"):
                    if spec[0] == "jpx_stream":
                        # a pre-built codestream (callers that already
                        # ran encode_jpx pass it through instead of
                        # paying a second identical encode)
                        _, data, iw, ih = spec
                    else:
                        # JPEG 2000: ("jpx", samples, opts?) — samples
                        # is (h, w) gray or (h, w, 3) RGB; opts pass
                        # through to encode_jpx (levels, eps_slack,
                        # bit_depth, jp2_container)
                        from ccgp_data_wrangling_spark.operators.jpeg2000 import (  # noqa: E501
                            encode_jpx,
                        )

                        arr = spec[1]
                        jopts = dict(spec[2]) if len(spec) > 2 else {}
                        ih, iw = arr.shape[:2]
                        data = encode_jpx(arr, **jopts)
                    head = (
                        b"<< /Type /XObject /Subtype /Image"
                        b" /Width %d /Height %d"
                        b" /Filter /JPXDecode"
                        b" /Length %d >>" % (iw, ih, len(data))
                    )
                    body = head + b"\nstream\n" + data + b"\nendstream"
                elif spec[0] in ("jbig2", "jbig2_stream"):
                    if spec[0] == "jbig2_stream":
                        # a pre-built embedded stream (e.g. the
                        # symbol/text path from build_jbig2_text_embedded)
                        _, data, iw, ih = spec
                    else:
                        from ccgp_data_wrangling_spark.operators.jbig2 import (  # noqa: E501
                            build_jbig2_embedded,
                        )

                        mask = spec[1]
                        opts = dict(spec[2]) if len(spec) > 2 else {}
                        ih, iw = mask.shape
                        data = build_jbig2_embedded(mask, **opts)
                    head = (
                        b"<< /Type /XObject /Subtype /Image"
                        b" /Width %d /Height %d /ColorSpace /DeviceGray"
                        b" /BitsPerComponent 1 /Filter /JBIG2Decode"
                        b" /Length %d >>" % (iw, ih, len(data))
                    )
                    body = head + b"\nstream\n" + data + b"\nendstream"
                else:
                    raise ValueError(f"unknown image spec {spec[0]!r}")
                name = b"/Im%d_%d" % (k, j)
                page_xobjs[k].append((name, next_obj + len(img_objs)))
                img_objs.append(body)
    for k, segs in enumerate(pages):
        res = b"/Font << /F1 3 0 R >>"
        if page_xobjs[k]:
            res += b" /XObject << " + b" ".join(
                b"%s %d 0 R" % (nm, on) for nm, on in page_xobjs[k]
            ) + b" >>"
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << " + res + b" >> "
            b"/Contents %d 0 R >>" % (5 + 2 * k)
        )
        raw = content_for(segs)
        for nm, _on in page_xobjs[k]:
            raw += b"\nq 100 0 0 100 50 400 cm %s Do Q" % nm
        if filter_chain:
            data, frag = _encode_filter_chain(raw, filter_chain)
            head = b"<< %s /Length %d >>" % (frag, len(data))
        elif compress:
            data = zlib.compress(raw)
            head = b"<< /Filter /FlateDecode /Length %d >>" % len(data)
        else:
            data = raw
            head = b"<< /Length %d >>" % len(data)
        objects.append(head + b"\nstream\n" + data + b"\nendstream")
    objects += img_objs

    buf = bytearray(b"%PDF-1.4\n")
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objects) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, xref_at)
    )
    return bytes(buf)


def build_pdf_encrypted(
    pages: list[list[Any]],
    *,
    user_pw: bytes = b"",
    owner_pw: bytes = b"owner",
    v: int = 2,
    r: int = 3,
    length_bits: int = 128,
    aes: bool = False,
    compress: bool = True,
    page_images: list[list[Any]] | None = None,
) -> bytes:
    """Fixture writer: the :func:`build_pdf` layout with standard-
    security-handler encryption applied to every content stream (and
    every image XObject stream — ``page_images`` takes the same specs
    as :func:`build_pdf`, and the image bodies encrypt with their own
    per-object keys exactly like content streams, §7.6.2) —
    RC4-40 (v=1, r=2, 40 bits), RC4-128 (v=2, r=3), AES-128 (v=4,
    r=4, ``aes=True`` → /StdCF /AESV2), or AES-256 (v=5 with r=6, or
    the deprecated r=5 → /StdCF /AESV3, §7.6.4 with /UE /OE /Perms).
    /O and /U come from the real algorithms (3–5 for ≤R4, 8–10 for
    R5/R6), so the extractor's password verification is exercised for
    real, and all are written as hex strings (they are arbitrary
    bytes). The /ID, file key, salts and AES IVs are derived
    deterministically so fixtures are reproducible — a real writer
    would use fresh randomness for all of them."""
    import hashlib

    from ccgp_data_wrangling_spark.sources.pdf_crypt import (
        compute_file_key,
        compute_o,
        compute_r6_entries,
        compute_u,
        encrypt_bytes,
        object_key,
    )

    if v == 1:
        r, length_bits = 2, 40
    if aes and v not in (4, 5):
        raise ValueError("AES-128 requires /V 4 /R 4")
    p = -44  # print+modify denied; any value participates in the key
    id0 = hashlib.md5(
        b"ccgp-pdf-fixture" + len(pages).to_bytes(2, "big")
    ).digest()
    v5_entries: dict[str, bytes] | None = None
    if v == 5:
        if r not in (5, 6):
            raise ValueError("/V 5 requires /R 5 or 6")
        aes, length_bits = True, 256
        key = hashlib.sha256(
            b"ccgp-filekey" + len(pages).to_bytes(2, "big")
        ).digest()
        v5_entries = compute_r6_entries(
            user_pw, owner_pw, key, p, r=r,
            salts=len(pages).to_bytes(2, "big"),
        )
        o, u = v5_entries["O"], v5_entries["U"]
    else:
        o = compute_o(owner_pw, user_pw, r, length_bits)
        key = compute_file_key(user_pw, o, p, id0, r, length_bits)
        u = compute_u(key, id0, r)

    n_pages = len(pages)
    enc_num = 4 + 2 * n_pages  # after catalog/pages/font + page pairs
    objects: list[bytes] = []
    kids = b" ".join(b"%d 0 R" % (4 + 2 * k) for k in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n_pages
    )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    )
    def _enc(data: bytes, onum: int) -> bytes:
        iv = hashlib.md5(b"iv" + onum.to_bytes(3, "little")).digest()
        return encrypt_bytes(
            data,
            key if v == 5 else object_key(key, onum, 0, aes=aes),
            aes=aes,
            iv=iv,
        )

    # image XObjects go AFTER the encrypt dict: enc_num+1, enc_num+2, …
    img_objs: list[bytes] = []
    page_xobjs: list[list[tuple[bytes, int]]] = [[] for _ in range(n_pages)]
    if page_images:
        for k, imgs in enumerate(page_images):
            for j, spec in enumerate(imgs or []):
                onum = enc_num + 1 + len(img_objs)
                if spec[0] == "dct":
                    _, jpg, iw, ih, ncomp = spec
                    cs = b"/DeviceRGB" if ncomp == 3 else b"/DeviceGray"
                    data = _enc(jpg, onum)
                    flt = b"/DCTDecode"
                elif spec[0] == "flate":
                    px = spec[1]
                    ih, iw = px.shape[:2]
                    ncomp = 1 if px.ndim == 2 else px.shape[2]
                    cs = b"/DeviceRGB" if ncomp == 3 else b"/DeviceGray"
                    data = _enc(zlib.compress(px.tobytes()), onum)
                    flt = b"/FlateDecode"
                else:
                    raise ValueError(f"unknown image spec {spec[0]!r}")
                head = (
                    b"<< /Type /XObject /Subtype /Image"
                    b" /Width %d /Height %d /ColorSpace %s"
                    b" /BitsPerComponent 8 /Filter %s"
                    b" /Length %d >>" % (iw, ih, cs, flt, len(data))
                )
                page_xobjs[k].append((b"/Im%d_%d" % (k, j), onum))
                img_objs.append(head + b"\nstream\n" + data + b"\nendstream")
    for k, segs in enumerate(pages):
        res = b"/Font << /F1 3 0 R >>"
        if page_xobjs[k]:
            res += b" /XObject << " + b" ".join(
                b"%s %d 0 R" % (nm, on) for nm, on in page_xobjs[k]
            ) + b" >>"
        objects.append(
            b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            b"/Resources << " + res + b" >> "
            b"/Contents %d 0 R >>" % (5 + 2 * k)
        )
        raw = _content_for(segs)
        for nm, _on in page_xobjs[k]:
            raw += b"\nq 100 0 0 100 50 400 cm %s Do Q" % nm
        data = zlib.compress(raw) if compress else raw
        data = _enc(data, 5 + 2 * k)
        head = (
            b"<< /Filter /FlateDecode /Length %d >>" % len(data)
            if compress
            else b"<< /Length %d >>" % len(data)
        )
        objects.append(head + b"\nstream\n" + data + b"\nendstream")
    if v in (4, 5):
        cfm = b"/AESV3" if v == 5 else (b"/AESV2" if aes else b"/V2")
        cf = (
            b"/CF << /StdCF << /CFM " + cfm
            + b" /AuthEvent /DocOpen /Length %d >> >> " % (length_bits // 8)
            + b"/StmF /StdCF /StrF /StdCF "
        )
    else:
        cf = b""
    v5 = b""
    if v5_entries is not None:
        v5 = (
            b"/UE <" + v5_entries["UE"].hex().encode() + b"> "
            b"/OE <" + v5_entries["OE"].hex().encode() + b"> "
            b"/Perms <" + v5_entries["Perms"].hex().encode() + b"> "
        )
    objects.append(
        b"<< /Filter /Standard /V %d /R %d /Length %d " % (v, r, length_bits)
        + cf
        + b"/O <" + o.hex().encode() + b"> "
        + b"/U <" + u.hex().encode() + b"> "
        + v5
        + b"/P %d >>" % p
    )
    objects += img_objs

    buf = bytearray(b"%%PDF-1.%d\n" % (6 if v == 4 else 4))
    offsets = [0]
    for i, body in enumerate(objects, start=1):
        offsets.append(len(buf))
        buf += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref_at = len(buf)
    buf += b"xref\n0 %d\n" % (len(objects) + 1)
    buf += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        buf += b"%010d 00000 n \n" % off
    idhex = b"<" + id0.hex().encode() + b">"
    buf += (
        b"trailer\n<< /Size %d /Root 1 0 R /Encrypt %d 0 R "
        b"/ID [%s %s] >>\nstartxref\n%d\n%%%%EOF\n"
        % (len(objects) + 1, enc_num, idhex, idhex, xref_at)
    )
    return bytes(buf)


def build_pdf15(
    pages: list[list[Any]], *, predictor: int = 12
) -> bytes:
    """Fixture writer for the PDF 1.5 layout real files use: the
    document dicts (catalog / pages / font / page dicts) packed into
    one Flate ``/ObjStm``, content streams top-level with INDIRECT
    ``/Length`` references, and a Flate ``/Type /XRef`` cross-
    reference stream (``/W [1 4 2]``, type-2 entries pointing into
    the ObjStm) as the only trailer. ``predictor``: 1 (none),
    2 (TIFF) or 10–15 (PNG row filters; 12 = Up, what real encoders
    emit) applied to the xref rows.

    Same segment vocabulary as :func:`build_pdf`, and extraction
    output is identical between the two writers — pinned by tests.
    """
    n = len(pages)
    objstm_nums = [1, 2, 3] + [4 + k for k in range(n)]
    c0 = 4 + n  # first content object
    l0 = 4 + 2 * n  # first length object
    o_num = 4 + 3 * n  # ObjStm
    x_num = 5 + 3 * n  # XRef stream
    size = x_num + 1

    kids = b" ".join(b"%d 0 R" % (4 + k) for k in range(n))
    member_bodies = [
        b"<< /Type /Catalog /Pages 2 0 R >>",
        b"<< /Type /Pages /Kids [" + kids + b"] /Count %d >>" % n,
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
    ] + [
        b"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 3 0 R >> >> "
        b"/Contents %d 0 R >>" % (c0 + k)
        for k in range(n)
    ]
    offs = []
    at = 0
    for b in member_bodies:
        offs.append(at)
        at += len(b) + 1
    table = b" ".join(
        b"%d %d" % (num, off) for num, off in zip(objstm_nums, offs)
    ) + b"\n"
    stm_raw = table + b"\n".join(member_bodies) + b"\n"
    first = len(table)
    stm_z = zlib.compress(stm_raw)

    buf = bytearray(b"%PDF-1.5\n")
    top_offsets: dict[int, int] = {}

    def emit(num: int, body: bytes) -> None:
        top_offsets[num] = len(buf)
        buf.extend(b"%d 0 obj\n" % num + body + b"\nendobj\n")

    for k, segs in enumerate(pages):
        data = zlib.compress(_content_for(segs))
        emit(
            c0 + k,
            b"<< /Filter /FlateDecode /Length %d 0 R >>" % (l0 + k)
            + b"\nstream\n" + data + b"\nendstream",
        )
        emit(l0 + k, b"%d" % len(data))
    emit(
        o_num,
        b"<< /Type /ObjStm /N %d /First %d /Filter /FlateDecode "
        b"/Length %d >>" % (len(objstm_nums), first, len(stm_z))
        + b"\nstream\n" + stm_z + b"\nendstream",
    )

    # xref rows: W = [1, 4, 2]
    xref_at = len(buf)
    top_offsets[x_num] = xref_at
    rows = [bytes([0]) + (0).to_bytes(4, "big") + (0xFFFF).to_bytes(2, "big")]
    for i, num in enumerate(objstm_nums):
        rows.append(
            bytes([2]) + o_num.to_bytes(4, "big") + i.to_bytes(2, "big")
        )
    for num in (
        list(range(c0, c0 + n)) + list(range(l0, l0 + n)) + [o_num, x_num]
    ):
        rows.append(
            bytes([1])
            + top_offsets[num].to_bytes(4, "big")
            + (0).to_bytes(2, "big")
        )
    row_w = 7
    if predictor == 1:
        enc = b"".join(rows)
        parms = b""
    elif predictor == 2:
        out = bytearray()
        for r in rows:
            e = bytearray(r)
            for i in range(len(e) - 1, 0, -1):
                e[i] = (e[i] - e[i - 1]) & 0xFF
            out += e
        enc = bytes(out)
        parms = (
            b" /DecodeParms << /Predictor 2 /Columns %d >>" % row_w
        )
    elif 10 <= predictor <= 15:
        out = bytearray()
        prev = bytes(row_w)
        for r in rows:  # PNG filter type 2 (Up) on every row
            out.append(2)
            out += bytes((a - b) & 0xFF for a, b in zip(r, prev))
            prev = r
        enc = bytes(out)
        parms = (
            b" /DecodeParms << /Predictor 12 /Columns %d >>" % row_w
        )
    else:
        raise ValueError(f"unsupported predictor {predictor}")
    enc_z = zlib.compress(enc)
    buf.extend(
        b"%d 0 obj\n<< /Type /XRef /Size %d /W [1 4 2] /Index [0 %d] "
        b"/Root 1 0 R /Filter /FlateDecode%s /Length %d >>"
        b"\nstream\n" % (x_num, size, size, parms, len(enc_z))
        + enc_z
        + b"\nendstream\nendobj\n"
    )
    buf.extend(b"startxref\n%d\n%%%%EOF\n" % xref_at)
    return bytes(buf)
