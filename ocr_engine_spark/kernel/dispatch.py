"""Payload-kind dispatch + per-turn extraction (SURVEY.md §2.2 P1).

``detect_kind`` mirrors the reference's type dispatch
(/root/reference/app.py:635-645: extension → magic bytes → MIME →
default) re-based on content sniffing, since turns have no filenames:

    1. magic prefix   — base64 of "%PDF-TOKENS..." starts with the
                        constant "JVBERi1UT0tF" (first 9 bytes of the
                        decoded payload are fixed) → "pdf";
    2. role           — role == "tool" → "tool";
    3. structural     — first non-ASCII-whitespace char "<" → "html";
    4. default        — "text" (the reference defaults unknown to
                        image, /root/reference/app.py:645; our neutral
                        default is plain text).

The same decision table is mirrored 1:1 by the native Catalyst
expression in ``ocr_engine_spark.functions.columns.payload_kind_col``;
a property test asserts the two agree on every generated payload.

``extract_turn`` is the single per-turn extraction entry point used by
BOTH the sequential golden-fixture oracle and the Spark Arrow operator.
It returns ordered spans with the invariant

    extracted_text == "\\n".join(span.text for span in spans)

with char offsets ``start``/``end`` into ``extracted_text``.
"""

from __future__ import annotations

from typing import Dict, List, Optional, Tuple

from . import htmlblocks, lines, pdfstream, tooljson
from .textutil import ASCII_TRAIL, ASCII_WS

KIND_PDF = "pdf"
KIND_TOOL = "tool"
KIND_HTML = "html"
KIND_TEXT = "text"


def detect_kind(role: Optional[str], text: Optional[str]) -> str:
    if not text:
        return KIND_TEXT
    if text.startswith(pdfstream.B64_MAGIC_PREFIX):
        return KIND_PDF
    if role == "tool":
        return KIND_TOOL
    if text.lstrip(ASCII_WS).startswith("<"):
        return KIND_HTML
    return KIND_TEXT


def _text_paragraph_blocks(text: Optional[str]) -> List[Tuple[str, str]]:
    """Plain text → paragraph blocks: lines are rstripped of trailing
    ASCII whitespace, empty lines dropped (reference empty-line filter,
    /root/reference/app.py:304-306), consecutive kept lines grouped
    into paragraphs at the original blank-line boundaries.
    """
    blocks: List[Tuple[str, str]] = []
    para: List[str] = []
    if not text:
        return blocks
    for raw in text.split("\n"):
        ln = raw.rstrip(ASCII_TRAIL)
        if ln:
            para.append(ln)
        elif para:
            blocks.append(("text", "\n".join(para)))
            para = []
    if para:
        blocks.append(("text", "\n".join(para)))
    return blocks


def extract_turn(role: Optional[str], text: Optional[str]) -> Dict:
    """Extract one turn. Returns a dict:

    - ``kind``: payload kind ("pdf"/"tool"/"html"/"text")
    - ``extracted_text``: "\\n"-join of kept span texts
    - ``spans``: list of ``{span_idx, kind, text, start, end}``
    - ``blocks_kept`` / ``blocks_dropped``: classifier counters
    - ``parse_failed``: 1 iff a structured payload failed to parse and
      the deterministic raw-text fallback was taken (the reference's
      fallback-ladder analogue, SURVEY.md §2.2 P9).
    """
    kind = detect_kind(role, text)
    parse_failed = 0
    dropped = 0
    blocks: List[Tuple[str, str]]

    if kind == KIND_PDF:
        try:
            pages = pdfstream.extract_pages(text)  # type: ignore[arg-type]
            blocks = [("pdf_page", b) for _, b in lines.page_blocks(pages)]
            dropped = len(pages) - len(blocks)
        except pdfstream.PdfStreamError:
            parse_failed = 1
            blocks = _text_paragraph_blocks(text)
    elif kind == KIND_TOOL:
        obj = tooljson.first_json_object(text)
        if obj:
            blocks = [("tool_kv", ln) for ln in tooljson.flatten_json(obj)]
        else:
            # No parseable object: the probe's {}-fallback
            # (/root/reference/app.py:218-224) → raw text fallback,
            # counted as a parse failure only when braces were present.
            if text and "{" in text and "}" in text:
                parse_failed = 1
            blocks = _text_paragraph_blocks(text)
    elif kind == KIND_HTML:
        kept, dropped = htmlblocks.extract_blocks(text or "")
        blocks = kept
    else:
        blocks = _text_paragraph_blocks(text)

    spans = []
    pos = 0
    for i, (bkind, btext) in enumerate(blocks):
        if i > 0:
            pos += 1  # the "\n" joiner
        spans.append(
            {
                "span_idx": i,
                "kind": bkind,
                "text": btext,
                "start": pos,
                "end": pos + len(btext),
            }
        )
        pos += len(btext)

    return {
        "kind": kind,
        "extracted_text": "\n".join(b[1] for b in blocks),
        "spans": spans,
        "blocks_kept": len(blocks),
        "blocks_dropped": dropped,
        "parse_failed": parse_failed,
    }
