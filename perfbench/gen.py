"""Seeded transcript corpora for the benchmark workloads.

The generator lives here, not in the package, so that an edit to the
package's own synthetic data (``sources/synth.py``) cannot shift a
workload. Every workload has a seed-independent shape: the number of
conversations, their lengths and the exact count of turns of each
payload kind are fixed, and the seed only picks conversation ids, the
order of kinds and the payload content. Two seeds therefore give
different bytes but the same amount of work of each kind, which keeps
run-to-run spread across seeds small.

Payload formats are the program's input formats (see the package's
``kernel.dispatch``): plain text, HTML, tool output with an embedded
JSON object, and base64 of ``%PDF-TOKENS`` + a JSON token stream.
"""

from __future__ import annotations

import base64
import datetime as dt
import json
import os
import random
import shutil
from dataclasses import dataclass
from typing import Dict, List, Tuple

import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached inputs are rebuilt.
GEN_VERSION = 2

PDF_MAGIC = "%PDF-TOKENS"
INPUT_FILES = 8

TRANSCRIPTS_ARROW = pa.schema(
    [
        pa.field("conv_id", pa.string()),
        pa.field("turn_idx", pa.int32()),
        pa.field("role", pa.string()),
        pa.field("text", pa.string()),
        pa.field("tool", pa.string()),
        pa.field("ts", pa.timestamp("us", tz="UTC")),
    ]
)

_WORDS = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu "
    "nu xi omicron pi rho sigma tau upsilon phi chi psi omega data table "
    "query plan shuffle partition broadcast join filter scan column row "
    "batch stream window agg sort merge hash spill skew salt vector arrow"
).split()
_HINDI = "नमस्ते दुनिया भारत भाषा लेख अनुवाद पृष्ठ शब्द वाक्य सूचना".split()
_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


@dataclass(frozen=True)
class Workload:
    name: str
    # (kind, share) pairs; shares sum to 1
    mix: Tuple[Tuple[str, float], ...]
    n_convs: int
    # conversation lengths follow bounded-Pareto quantiles with this
    # shape; None gives uniform lengths in [1, max_len]
    zipf_s: float | None
    max_len: int
    mega: int
    mega_turns: int
    buckets: int
    salt: int
    short_text: bool = False
    # resume: before each timed run the output and audit tables are
    # restored to a state where every even bucket is complete
    resume: bool = False


WORKLOADS: Dict[str, Workload] = {
    w.name: w
    for w in (
        # why each workload was chosen is recorded in BENCHMARK.json
        Workload(
            name="bulk-32",
            mix=(("text", 0.45), ("html", 0.25), ("tool", 0.15), ("pdf", 0.15)),
            n_convs=3000, zipf_s=1.2, max_len=400, mega=3, mega_turns=1000,
            buckets=32, salt=8,
        ),
        Workload(
            name="kernel-html-pdf",
            mix=(("html", 0.5), ("pdf", 0.5)),
            n_convs=4500, zipf_s=None, max_len=7, mega=0, mega_turns=0,
            buckets=8, salt=1,
        ),
        Workload(
            name="resume-text",
            mix=(("text", 1.0),),
            n_convs=9000, zipf_s=None, max_len=7, mega=0, mega_turns=0,
            buckets=16, salt=1, short_text=True, resume=True,
        ),
    )
}


def conv_lengths(w: Workload) -> List[int]:
    """Seed-independent multiset of conversation lengths."""
    if w.zipf_s is None:
        lens = [1 + i % w.max_len for i in range(w.n_convs)]
    else:
        lens = [
            min(w.max_len, max(1, int((1.0 - (i + 0.5) / w.n_convs) ** (-1.0 / w.zipf_s))))
            for i in range(w.n_convs)
        ]
    return [w.mega_turns] * w.mega + lens


def _sentence(rng: random.Random, lo: int, hi: int, hindi: bool = False) -> str:
    pool = _HINDI if hindi else _WORDS
    return " ".join(rng.choice(pool) for _ in range(rng.randint(lo, hi)))


def _text(rng: random.Random, short: bool) -> str:
    if short:
        return "\n".join(_sentence(rng, 3, 9) for _ in range(rng.randint(1, 2)))
    lines = []
    for _ in range(rng.randint(1, 10)):
        r = rng.random()
        if r < 0.15:
            lines.append("")
        elif r < 0.25:
            lines.append(_sentence(rng, 4, 14) + rng.choice([" ", "\t", "  ", " \r"]))
        elif r < 0.32:
            lines.append(_sentence(rng, 4, 14, hindi=True))
        elif r < 0.36:
            lines.append("   ")
        else:
            lines.append(_sentence(rng, 4, 14))
    return "\n".join(lines)


def _html(rng: random.Random) -> str:
    parts = ["  <div>" if rng.random() < 0.3 else "<div>"]
    if rng.random() < 0.7:
        links = " ".join(f'<a href="/{w}">{w}</a>' for w in rng.sample(_WORDS, rng.randint(3, 6)))
        parts.append(f"<nav>{links}</nav>")
    if rng.random() < 0.5:
        parts.append(f"<header><h1>{_sentence(rng, 2, 5)}</h1></header>")
    for _ in range(rng.randint(1, 6)):
        r = rng.random()
        if r < 0.12:
            parts.append(f"<h2>{_sentence(rng, 2, 6)}</h2>")
        elif r < 0.2:
            parts.append("<p>   </p>")
        elif r < 0.3:
            farm = " ".join(
                f'<a href="#{w}">{w} {rng.choice(_WORDS)}</a>'
                for w in rng.sample(_WORDS, rng.randint(4, 8))
            )
            parts.append(f"<div>{farm}</div>")
        elif r < 0.42:
            items = "".join(f"<li>{_sentence(rng, 1, 6)}</li>" for _ in range(rng.randint(2, 5)))
            parts.append(f"<ul>{items}</ul>")
        elif r < 0.54:
            rows = "".join(
                "<tr>" + "".join(f"<td>{_sentence(rng, 0, 4)}</td>"
                                 for _ in range(rng.randint(2, 4))) + "</tr>"
                for _ in range(rng.randint(1, 4))
            )
            parts.append(f"<table>{rows}</table>")
        elif r < 0.62:
            parts.append(f'<p>{_sentence(rng, 8, 16)} <a href="/x">{rng.choice(_WORDS)}</a> '
                         f"{_sentence(rng, 4, 9)}</p>")
        elif r < 0.68:
            parts.append(f"<p>{_sentence(rng, 6, 20, hindi=True)} &amp; more</p>")
        else:
            parts.append(f"<p>{_sentence(rng, 8, 30)}</p>")
    if rng.random() < 0.6:
        parts.append(f"<footer><p>{_sentence(rng, 3, 8)}</p></footer>")
    parts.append("</div>")
    return "".join(parts)


def _pdf(rng: random.Random) -> str:
    n_shards = rng.randint(1, 3)
    order = list(range(n_shards))
    rng.shuffle(order)  # shards arrive out of name order
    shards = []
    for si in order:
        pages = []
        for _ in range(rng.randint(0, 3)):
            if rng.random() < 0.2:
                pages.append({"blocks": []})
                continue
            blocks = []
            for _ in range(rng.randint(1, 2)):
                paras = []
                for _ in range(rng.randint(1, 3)):
                    words = [
                        {"t": rng.choice(_WORDS) + (" " if rng.random() < 0.06 else ""),
                         "br": rng.choice([1, 1, 1, 1, 1, 3, 2, 5, None])}
                        for _ in range(rng.randint(1, 12))
                    ]
                    if rng.random() < 0.6:
                        words[-1]["br"] = rng.choice([2, 5])
                    paras.append({"words": words})
                blocks.append({"paragraphs": paras})
            pages.append({"blocks": blocks})
        shards.append({"name": f"out-{si:03d}.json", "pages": pages})
    payload = PDF_MAGIC + json.dumps({"shards": shards}, ensure_ascii=False)
    return base64.b64encode(payload.encode("utf-8")).decode("ascii")


def _tool(rng: random.Random) -> str:
    r = rng.random()
    prefix = _sentence(rng, 0, 6)
    if r < 0.6:
        obj: Dict = {"status": rng.choice(["ok", "error", "partial"]),
                     "count": rng.randint(0, 500)}
        if rng.random() < 0.5:
            obj["meta"] = {"elapsed_ms": rng.randint(1, 9999), "tags": rng.sample(_WORDS, 2)}
        if rng.random() < 0.3:
            obj["items"] = [{"id": i, "name": rng.choice(_WORDS)} for i in range(rng.randint(1, 3))]
        return f"{prefix} {json.dumps(obj, ensure_ascii=False)} {_sentence(rng, 0, 4)}"
    if r < 0.8:  # braces around invalid JSON: a counted parse failure
        return f"{prefix} {{broken: [1, 2, }} {_sentence(rng, 0, 4)}"
    return _sentence(rng, 3, 12)


def generate(w: Workload, seed: int) -> List[Dict]:
    """The workload's transcript rows for ``seed``."""
    rng = random.Random(f"perfbench:{w.name}:{seed}")
    lens = conv_lengths(w)
    rng.shuffle(lens)
    total = sum(lens)
    kinds: List[str] = []
    for kind, share in w.mix:
        kinds += [kind] * round(share * total)
    kinds = (kinds + [w.mix[0][0]] * total)[:total]
    rng.shuffle(kinds)

    rows: List[Dict] = []
    k = 0
    for ci, n in enumerate(lens):
        conv_id = f"c{seed % 100000:05d}-{ci:06d}-{rng.getrandbits(24):06x}"
        for ti in range(n):
            kind = kinds[k]
            k += 1
            tool = None
            if kind == "text":
                role, text = rng.choice(["user", "assistant"]), _text(rng, w.short_text)
            elif kind == "html":
                role, text = "assistant", _html(rng)
            elif kind == "pdf":
                role, text = "user", _pdf(rng)
            else:
                role, text = "tool", _tool(rng)
                tool = rng.choice(["search", "shell", "browse"])
            rows.append({"conv_id": conv_id, "turn_idx": ti, "role": role, "text": text,
                         "tool": tool, "ts": _EPOCH + dt.timedelta(seconds=17 * ti)})
    return rows


def write_input(rows: List[Dict], path: str) -> None:
    """Write rows as ``INPUT_FILES`` parquet files under ``path``,
    atomically (a crash leaves no half-written input behind)."""
    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    per = -(-len(rows) // INPUT_FILES)
    for i in range(INPUT_FILES):
        chunk = rows[i * per:(i + 1) * per]
        table = pa.Table.from_pylist(chunk, schema=TRANSCRIPTS_ARROW)
        pq.write_table(table, os.path.join(tmp, f"part-{i:05d}.parquet"))
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)


def read_input(path: str) -> List[Dict]:
    return pq.read_table(path, columns=["conv_id", "turn_idx", "role", "text"]).to_pylist()
