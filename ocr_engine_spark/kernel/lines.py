"""Break-type line-assembly fold (SURVEY.md §2.5 A1–A3) — the semantic
core of PDF/layout segmentation. Pure Python, no Spark.

The reference assembles lines from a stream of ``(word_text, break)``
pairs, where ``break`` is the layout engine's detected-break type
attached to the word's last symbol. Two variants exist and differ only
in how the end-of-paragraph tail is flushed:

- proto variant (/root/reference/app.py:289-311): tail flushed with
  ``.strip()``;
- dict variant (/root/reference/app.py:382-406): tail flushed with
  ``.rstrip()``.

Our PDF-token-stream payload mirrors the dict (JSON) layout tree, so
``TAIL_RSTRIP`` is the default; ``TAIL_STRIP`` is kept (and unit
tested) because the asymmetry is fixture-relevant (SURVEY.md §7.3.1).
"""

from __future__ import annotations

from typing import Iterable, List, Optional, Tuple

# Break-type codes (parity: /root/reference/app.py:273-276).
BREAK_SPACE = 1
BREAK_EOL_SURE = 2
BREAK_SURE_SPACE = 3
BREAK_LINE_BREAK = 5

TAIL_RSTRIP = "rstrip"
TAIL_STRIP = "strip"

Word = Tuple[str, Optional[int]]


def assemble_lines(words: Iterable[Word], tail_mode: str = TAIL_RSTRIP) -> List[str]:
    """Fold a word stream into lines.

    Semantics (parity: /root/reference/app.py:289-311 proto,
    app.py:382-406 dict):

    - empty word text is skipped entirely (its break is *not*
      consulted — matches the reference's ``continue``);
    - before appending a word, a single " " is inserted iff the buffer
      is non-empty and does not already end with " " (idempotent space
      insertion — a word that itself ends in " " suppresses the next
      separator);
    - break in {SPACE=1, SURE_SPACE=3} → append " " iff the buffer does
      not already end with " ";
    - break in {EOL_SURE=2, LINE_BREAK=5} → flush ``"".join(buf).rstrip()``
      as a line iff non-empty, reset the buffer;
    - any other break value (None included) → no separator action;
    - tail: remaining buffer flushed with ``.rstrip()`` (dict variant)
      or ``.strip()`` (proto variant), kept iff non-empty.
    """
    # Implementation note: ``ends_space`` tracks whether the buffer
    # currently ends with " " — equivalent to the reference's
    # ``buf[-1].endswith(" ")`` probes (the buffer only ever ends with
    # a separator " " we appended, or the word's own trailing spaces),
    # without re-scanning strings. Semantics are byte-identical; the
    # truth-table unit tests and golden fixtures pin this.
    lines: List[str] = []
    buf: List[str] = []
    buf_append = buf.append
    lines_append = lines.append
    ends_space = True  # empty buffer: no separator before first word
    for wtxt, br in words:
        if not wtxt:
            continue
        if not ends_space:
            buf_append(" ")
        buf_append(wtxt)
        ends_space = wtxt[-1] == " "
        if br == BREAK_SPACE or br == BREAK_SURE_SPACE:
            if not ends_space:
                buf_append(" ")
                ends_space = True
        elif br == BREAK_EOL_SURE or br == BREAK_LINE_BREAK:
            line = "".join(buf).rstrip()
            if line:
                lines_append(line)
            buf.clear()
            ends_space = True
    tail = "".join(buf)
    tail = tail.strip() if tail_mode == TAIL_STRIP else tail.rstrip()
    if tail:
        lines_append(tail)
    return lines


def page_text(lines: List[str]) -> str:
    """Page text = lines joined by "\\n" (parity:
    /root/reference/app.py:456, app.py:490)."""
    return "\n".join(lines)


def dense_pages(per_page: dict[int, List[str]], page_count: int) -> List[Tuple[int, str]]:
    """Dense page relabel + gap fill: emit pages 1..max(1, page_count);
    a page missing from ``per_page`` becomes "" (parity:
    /root/reference/app.py:453-459).
    """
    return [
        (pno, page_text(per_page.get(pno, [])))
        for pno in range(1, max(1, page_count) + 1)
    ]


def page_blocks(pages: List[Tuple[int, str]]) -> List[Tuple[int, str]]:
    """Keep only non-blank pages, rendered as ``"Page N:\\n<stripped>"``
    blocks (parity: the interpretation-prompt assembly,
    /root/reference/app.py:548-551 — in the new engine this shape is
    the canonical extracted-text block for PDF payloads).
    """
    blocks: List[Tuple[int, str]] = []
    for pno, txt in pages:
        if txt and txt.strip():
            blocks.append((pno, f"Page {pno}:\n{txt.strip()}"))
    return blocks
