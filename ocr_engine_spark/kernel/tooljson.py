"""Tool-output JSON probe + stable flatten (SURVEY.md §2.3 F6).

``first_json_object`` reproduces the reference app's probe exactly:
empty text → ``{}``; the first DOTALL match of the greedy ``\\{.*\\}``,
which spans from the first "{" to the *last* "}"; ``json.loads``
failure → ``{}``. The span is found with ``find`` / ``rfind`` rather
than the regex: same result, but linear time — the regex rescans to
the end of the input from every "{" when no "}" follows, which is
quadratic on brace-heavy text.

``flatten_json`` renders the probed object to deterministic
``path: value`` lines, depth-first in insertion order (``json.loads``
preserves key order). Scalars are rendered with the fixture-exact
serializer (Python ``json.dumps`` defaults, ``ensure_ascii=False`` —
/root/reference/app.py:731,736), so strings keep their quotes and the
rendering round-trips.
"""

from __future__ import annotations

import json
from typing import Any, Dict, List


def first_json_object(text: str | None) -> Dict:
    """Parity: /root/reference/app.py:214-224."""
    if not text:
        return {}
    i, j = text.find("{"), text.rfind("}")
    if i < 0 or j < i:  # no "{", or no "}" after the first "{"
        return {}
    try:
        obj = json.loads(text[i:j + 1])
    except Exception:
        return {}
    # json.loads can return non-dict only if the span is not
    # object-looking; with a {...} span the root is a dict or the
    # parse fails, but guard anyway.
    return obj if isinstance(obj, dict) else {}


def _render_scalar(v: Any) -> str:
    return json.dumps(v, ensure_ascii=False)


def _flatten(prefix: str, v: Any, out: List[str]) -> None:
    if isinstance(v, dict):
        if not v:
            out.append(f"{prefix}: {{}}" if prefix else "{}")
            return
        for k, sub in v.items():
            _flatten(f"{prefix}.{k}" if prefix else str(k), sub, out)
    elif isinstance(v, list):
        if not v:
            out.append(f"{prefix}: []")
            return
        for i, sub in enumerate(v):
            _flatten(f"{prefix}[{i}]", sub, out)
    else:
        out.append(f"{prefix}: {_render_scalar(v)}")


def flatten_json(obj: Dict) -> List[str]:
    """Object → ordered ``path: value`` lines. ``{}`` → no lines."""
    out: List[str] = []
    if obj:
        for k, v in obj.items():
            _flatten(str(k), v, out)
    return out
