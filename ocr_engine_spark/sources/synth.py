"""Deterministic synthetic transcript generator (FIXTURES.md §1).

All randomness is derived from ``sha256(seed, conv_id)`` via
``random.Random`` (CPython's Mersenne Twister is documented
platform-stable), so generation is (a) reproducible byte-for-byte and
(b) order-independent per conversation — any subset of conversations
can be regenerated in any order, which is what lets the benchmark
build large inputs in parallel without a wall clock anywhere.

Distribution (FIXTURES.md §1 "skew realism"):
- turns per conversation ~ bounded Pareto (Zipf-ish, s≈1.2), plus
  explicitly forced mega-conversations so the skew/salting path is
  genuinely exercised;
- payload mix ≈ 45% text / 25% html / 15% tool / 15% pdf;
- payloads include every fixture-relevant edge case: trailing
  whitespace, blank lines, Devanagari, link farms, nested tables,
  empty HTML blocks, out-of-order PDF shards, empty PDF pages,
  paragraphs with no terminal break, words pre-ending in spaces,
  malformed / absent / multiple JSON objects in tool output.
"""

from __future__ import annotations

import base64
import datetime as dt
import hashlib
import json
import random
from typing import Dict, Iterator, List

from ..kernel.pdfstream import MAGIC

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega data table "
    "query plan shuffle partition broadcast join filter scan column row "
    "batch stream window agg sort merge hash spill skew salt vector arrow"
).split()

_HINDI = "नमस्ते दुनिया भारत भाषा लेख अनुवाद पृष्ठ शब्द वाक्य सूचना".split()

_EPOCH = dt.datetime(2024, 1, 1, 0, 0, 0)

PAYLOAD_MIX = (("text", 0.45), ("html", 0.25), ("tool", 0.15), ("pdf", 0.15))


def _conv_rng(seed: int, conv_id: str) -> random.Random:
    h = hashlib.sha256(f"{seed}:{conv_id}".encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def _sentence(rng: random.Random, lo: int = 4, hi: int = 14, hindi: bool = False) -> str:
    n = rng.randint(lo, hi)
    pool = _HINDI if hindi else _WORDS
    return " ".join(rng.choice(pool) for _ in range(n))


def _gen_text(rng: random.Random) -> str:
    lines: List[str] = []
    for _ in range(rng.randint(1, 10)):
        r = rng.random()
        if r < 0.15:
            lines.append("")  # blank line → paragraph boundary
        elif r < 0.25:
            lines.append(_sentence(rng) + rng.choice([" ", "\t", "  ", " \r"]))
        elif r < 0.32:
            lines.append(_sentence(rng, hindi=True))
        elif r < 0.36:
            lines.append("   ")  # whitespace-only line → dropped
        else:
            lines.append(_sentence(rng))
    return "\n".join(lines)


def _gen_html(rng: random.Random) -> str:
    parts: List[str] = []
    if rng.random() < 0.3:
        parts.append("  ")  # leading whitespace before "<"
    parts.append("<div>")
    if rng.random() < 0.7:
        links = " ".join(
            f'<a href="/{w}">{w}</a>' for w in rng.sample(_WORDS, rng.randint(3, 6))
        )
        parts.append(f"<nav>{links}</nav>")
    if rng.random() < 0.5:
        parts.append(f"<header><h1>{_sentence(rng, 2, 5)}</h1></header>")
    for _ in range(rng.randint(1, 6)):
        r = rng.random()
        if r < 0.12:
            parts.append(f"<h2>{_sentence(rng, 2, 6)}</h2>")
        elif r < 0.2:
            parts.append("<p>   </p>")  # whitespace-only block
        elif r < 0.3:
            # link farm: high link density → must be dropped
            farm = " ".join(
                f'<a href="#{w}">{w} {rng.choice(_WORDS)}</a>'
                for w in rng.sample(_WORDS, rng.randint(4, 8))
            )
            parts.append(f"<div>{farm}</div>")
        elif r < 0.42:
            items = "".join(
                f"<li>{_sentence(rng, 1, 6)}</li>" for _ in range(rng.randint(2, 5))
            )
            parts.append(f"<ul>{items}</ul>")
        elif r < 0.54:
            rows = []
            for _ in range(rng.randint(1, 4)):
                cells = "".join(
                    f"<td>{_sentence(rng, 0, 4)}</td>" for _ in range(rng.randint(2, 4))
                )
                rows.append(f"<tr>{cells}</tr>")
            inner = ""
            if rng.random() < 0.25:
                inner = (
                    "<tr><td>outer cell<table><tr><td>"
                    + _sentence(rng, 2, 4)
                    + "</td></tr></table></td></tr>"
                )
            parts.append(f"<table>{''.join(rows)}{inner}</table>")
        elif r < 0.62:
            # short content with an inline link (low link density)
            parts.append(
                f"<p>{_sentence(rng, 8, 16)} "
                f'<a href="/x">{rng.choice(_WORDS)}</a> {_sentence(rng, 4, 9)}</p>'
            )
        elif r < 0.68:
            parts.append(f"<p>{_sentence(rng, 6, 20, hindi=True)}</p>")
        else:
            parts.append(f"<p>{_sentence(rng, 8, 30)}</p>")
    if rng.random() < 0.6:
        parts.append(f"<footer><p>{_sentence(rng, 3, 8)}</p></footer>")
    parts.append("</div>")
    return "".join(parts)


def _gen_pdf(rng: random.Random) -> str:
    n_shards = rng.randint(1, 3)
    # deliberately non-lexicographic emission order (shard sort must fix)
    names = [f"out-{i:03d}.json" for i in range(n_shards)]
    emit_order = list(range(n_shards))
    rng.shuffle(emit_order)
    shards = []
    for si in emit_order:
        pages = []
        for _ in range(rng.randint(0, 3)):
            if rng.random() < 0.2:
                pages.append({"blocks": []})  # empty page → gap-ish
                continue
            blocks = []
            for _ in range(rng.randint(1, 2)):
                paras = []
                for _ in range(rng.randint(1, 3)):
                    words = []
                    for wi in range(rng.randint(1, 12)):
                        t = rng.choice(_WORDS)
                        r = rng.random()
                        if r < 0.06:
                            t = t + " "  # word already ending in space
                        elif r < 0.09:
                            t = ""  # empty word → skipped by the fold
                        br_r = rng.random()
                        if br_r < 0.5:
                            br = 1
                        elif br_r < 0.6:
                            br = 3
                        elif br_r < 0.75:
                            br = rng.choice([2, 5])
                        elif br_r < 0.85:
                            br = None
                        else:
                            br = 1
                        words.append({"t": t, "br": br})
                    # ~40% of paragraphs end without a line break →
                    # exercises the per-paragraph tail flush
                    if rng.random() < 0.6 and words:
                        words[-1]["br"] = rng.choice([2, 5])
                    paras.append({"words": words})
                blocks.append({"paragraphs": paras})
            pages.append({"blocks": blocks})
        shards.append({"name": names[si], "pages": pages})
    return pdf_payload({"shards": shards})


def pdf_payload(stream: dict) -> str:
    """A PDF turn's text: base64 of the token-stream magic followed by
    ``stream`` as JSON."""
    payload = MAGIC + json.dumps(stream, ensure_ascii=False)
    return base64.b64encode(payload.encode("utf-8")).decode("ascii")


def _gen_tool(rng: random.Random) -> str:
    r = rng.random()
    prefix = _sentence(rng, 0, 6)
    if r < 0.5:  # valid JSON object, possibly nested
        obj: Dict = {
            "status": rng.choice(["ok", "error", "partial"]),
            "count": rng.randint(0, 500),
        }
        if rng.random() < 0.5:
            obj["meta"] = {"elapsed_ms": rng.randint(1, 9999), "tags": rng.sample(_WORDS, 2)}
        if rng.random() < 0.3:
            obj["items"] = [{"id": i, "name": rng.choice(_WORDS)} for i in range(rng.randint(1, 3))]
        body = json.dumps(obj, ensure_ascii=False)
        if rng.random() < 0.3:
            body = body + " trailing " + json.dumps({"second": True})
        return f"{prefix} {body} {_sentence(rng, 0, 4)}"
    if r < 0.7:  # malformed JSON
        return f"{prefix} {{broken: [1, 2, }} {_sentence(rng, 0, 4)}"
    if r < 0.85:  # no JSON at all
        return _sentence(rng, 3, 12)
    # empty-ish
    return rng.choice(["", "{}", "   "])


def gen_conversation(seed: int, conv_id: str, n_turns: int) -> List[Dict]:
    rng = _conv_rng(seed, conv_id)
    rows: List[Dict] = []
    for ti in range(n_turns):
        r = rng.random()
        acc = 0.0
        kind = "text"
        for k, p in PAYLOAD_MIX:
            acc += p
            if r < acc:
                kind = k
                break
        if kind == "text":
            role, text, tool = rng.choice(["user", "assistant"]), _gen_text(rng), None
        elif kind == "html":
            role, text, tool = "assistant", _gen_html(rng), None
        elif kind == "pdf":
            role, text, tool = "user", _gen_pdf(rng), None
        else:
            role, text, tool = "tool", _gen_tool(rng), rng.choice(["search", "shell", "browse"])
        if rng.random() < 0.01:
            text = None  # null payloads must be handled
        rows.append(
            {
                "conv_id": conv_id,
                "turn_idx": ti,
                "role": role,
                "text": text,
                "tool": tool,
                "ts": _EPOCH + dt.timedelta(seconds=17 * ti),
            }
        )
    return rows


def turns_for(ci: int, seed: int = 42, zipf_s: float = 1.2, cap: int = 5000,
              mega: int = 1, mega_turns: int = 0) -> int:
    """Turn count for conversation index ``ci`` — pure function of
    (ci, seed), so any worker can compute it independently (this is
    what lets bench.py generate the corpus distributed)."""
    if ci < mega and mega_turns:
        return mega_turns
    rng = _conv_rng(seed, f"size:{ci}")
    return min(cap, max(1, int(rng.paretovariate(zipf_s))))


def turn_counts(n_convs: int, seed: int = 42, zipf_s: float = 1.2,
                cap: int = 5000, mega: int = 1, mega_turns: int = 0) -> List[int]:
    """Bounded-Pareto turn counts; the first ``mega`` conversations are
    forced to ``mega_turns`` (skew realism, SURVEY.md §7.3.4)."""
    return [
        turns_for(ci, seed=seed, zipf_s=zipf_s, cap=cap, mega=mega,
                  mega_turns=mega_turns)
        for ci in range(n_convs)
    ]


def gen_transcripts(n_convs: int, seed: int = 42, mega: int = 1,
                    mega_turns: int = 0, cap: int = 5000) -> Iterator[Dict]:
    """Yield transcript rows for ``n_convs`` conversations."""
    counts = turn_counts(n_convs, seed=seed, cap=cap, mega=mega, mega_turns=mega_turns)
    for ci, n in enumerate(counts):
        conv_id = f"conv-{ci:06d}"
        yield from gen_conversation(seed, conv_id, n)
