"""RTF text extraction — the legacy rich-text format still common in
e-mail archives and old document dumps (Microsoft RTF 1.9 spec).

RTF is a plain-text format of control words (``\\word`` with an
optional signed numeric parameter), grouped by braces. Extraction
implements the subset that affects plain text:

* group state: ``{`` pushes, ``}`` pops (the ``\\ucN`` skip count is
  group-scoped state, per spec §"Unicode RTF");
* destinations that never contribute body text are skipped as whole
  groups: ``fonttbl``, ``colortbl``, ``stylesheet``, ``info``,
  ``pict``, plus every ``{\\*\\...}`` ignorable destination;
* character-emitting controls: ``\\par`` ends a paragraph, ``\\line``
  is an in-paragraph newline, ``\\tab`` a TAB, ``\\~`` a no-break
  space, ``\\{ \\} \\\\`` the escaped literals, ``\\'hh`` a cp1252
  byte, ``\\uN`` a Unicode scalar (negative N wraps mod 2**16)
  followed by ``\\ucN`` fallback characters to skip;
* ``\\binN`` skips N raw bytes (embedded objects).

Reference behavior parity: cademirch/ccgp-data-wrangling has no
document-ingest layer; north-star corpus surface as with PDF/DOCX.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame

from ccgp_data_wrangling_spark.sources.blobs import explode_blobs, text_rows

RTF_PARA_SCHEMA = "doc_id long, para int, text string, n_chars int"

_SKIP_DESTINATIONS = {
    b"fonttbl", b"colortbl", b"stylesheet", b"info", b"pict",
    b"themedata", b"generator", b"header", b"footer", b"footnote",
}


def extract_rtf_paragraphs(payload: bytes) -> list[str]:
    """Parse the control stream → one string per ``\\par``-delimited
    paragraph (a trailing non-empty fragment counts)."""
    if not payload.startswith(b"{\\rtf"):
        raise ValueError("not an RTF document (missing {\\rtf header)")
    paras: list[str] = []
    cur: list[str] = []
    i, n = 0, len(payload)
    uc = 1
    uc_stack: list[int] = []
    skip_above: int | None = None  # skipping while depth > this
    depth = 0
    pending_skip = 0  # \uN fallback characters still to swallow

    def emit(ch: str) -> None:
        nonlocal pending_skip
        if skip_above is not None:
            return
        if pending_skip:
            pending_skip -= 1
            return
        cur.append(ch)

    while i < n:
        b = payload[i]
        if b == 0x7B:  # {
            depth += 1
            uc_stack.append(uc)
            i += 1
        elif b == 0x7D:  # }
            depth -= 1
            if uc_stack:
                uc = uc_stack.pop()
            if skip_above is not None and depth <= skip_above:
                skip_above = None
            i += 1
        elif b == 0x5C:  # backslash
            i += 1
            if i >= n:
                break
            c = payload[i : i + 1]
            if c == b"'":
                h = payload[i + 1 : i + 3].decode("latin-1")
                emit(bytes([int(h, 16)]).decode("cp1252"))
                i += 3
            elif c in (b"\\", b"{", b"}"):
                emit(c.decode())
                i += 1
            elif c == b"~":
                emit("\u00a0")
                i += 1
            elif c in (b"-", b"_"):  # optional/nb hyphen
                emit("-" if c == b"_" else "")
                i += 1
            elif c == b"*":
                # ignorable destination: skip the enclosing group
                if skip_above is None:
                    skip_above = depth - 1
                i += 1
            elif c.isalpha():
                j = i
                while j < n and bytes([payload[j]]).isalpha():
                    j += 1
                word = payload[i:j]
                k = j
                neg = False
                if k < n and payload[k : k + 1] == b"-":
                    neg = True
                    k += 1
                num_start = k
                while k < n and bytes([payload[k]]).isdigit():
                    k += 1
                param = (
                    int(payload[num_start:k]) * (-1 if neg else 1)
                    if k > num_start
                    else None
                )
                if k < n and payload[k : k + 1] == b" ":
                    k += 1  # the delimiter space is consumed
                i = k
                if word == b"bin":
                    i += max(0, param or 0)
                elif word in _SKIP_DESTINATIONS:
                    if skip_above is None:
                        skip_above = depth - 1
                elif word == b"uc":
                    uc = max(0, param if param is not None else 1)
                elif word == b"u":
                    cp = param if param is not None else 0
                    if cp < 0:
                        cp += 1 << 16
                    if skip_above is None:
                        emit(chr(cp))
                        # emit() may have swallowed it as a fallback
                        # char of a PREVIOUS \u — either way the NEXT
                        # uc chars are this escape's fallback
                        pending_skip += uc
                elif word == b"par":
                    # a character-emitting control word inside a \uN
                    # fallback window counts as the swallowed fallback
                    # (RTF 1.9 Unicode skipping) — consume, no break
                    if skip_above is None:
                        if pending_skip:
                            pending_skip -= 1
                        else:
                            paras.append("".join(cur))
                            cur.clear()
                elif word == b"line":
                    emit("\n")
                elif word == b"tab":
                    emit("\t")
                # every other control word is formatting — no text
            else:
                i += 1  # \<newline> and friends: ignore
        elif b in (0x0D, 0x0A, 0x00):
            i += 1  # raw CR/LF are not document text
        else:
            emit(bytes([b]).decode("cp1252"))
            i += 1
    if cur and "".join(cur):
        paras.append("".join(cur))
    return paras


def rtf_documents(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    pre: Any = None,
) -> DataFrame:
    """Explode RTF blobs into one row per paragraph — one
    :func:`explode_blobs` pass."""
    return explode_blobs(
        df,
        lambda b: text_rows(extract_rtf_paragraphs(b)),
        RTF_PARA_SCHEMA,
        id_col=id_col,
        payload_col=payload_col,
        pre=pre,
    )


def _rtf_escape(s: str) -> bytes:
    out = bytearray()
    for ch in s:
        o = ord(ch)
        if ch in "\\{}":
            out += b"\\" + ch.encode()
        elif o < 128:
            out += ch.encode()
        elif 128 <= o < 256 and ch.encode("cp1252", "ignore"):
            out += b"\\'%02x" % ch.encode("cp1252")[0]
        else:
            # \uN with one '?' fallback (the default \uc1 state)
            n = o if o < 0x8000 else o - 0x10000
            out += b"\\u%d?" % n
    return bytes(out)


def build_rtf(paragraphs: list[Any]) -> bytes:
    """Fixture writer: a document with a font table, a colour table
    and an ``{\\*\\generator}`` block (decoy text the extractor must
    skip), then one ``\\par``-terminated paragraph per entry — a
    string or a token list (strings, ``("tab",)``, ``("br",)``)."""
    body = bytearray(
        b"{\\rtf1\\ansi\\ansicpg1252\\deff0"
        b"{\\fonttbl{\\f0 Times New Roman;}{\\f1 Decoy Font Name;}}"
        b"{\\colortbl ;\\red255\\green0\\blue0;}"
        b"{\\*\\generator ccgp fixture writer 1.0;}"
    )
    for entry in paragraphs:
        tokens = entry if isinstance(entry, list) else [entry]
        body += b"\\pard\\f0\\fs24 "
        for t in tokens:
            if isinstance(t, str):
                body += _rtf_escape(t)
            elif t == ("tab",):
                body += b"\\tab "
            elif t == ("br",):
                body += b"\\line "
            else:
                raise ValueError(f"unknown RTF token {t!r}")
        body += b"\\par\n"
    body += b"}"
    return bytes(body)
