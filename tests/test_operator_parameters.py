"""Every defaulted parameter of a public operator, column function or
stream builder must be set by some call in the repository. A parameter
that no caller sets is an option nobody uses: it doubles the
configurations a reader has to trust and has no test, so it belongs in
the body as a constant."""

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = ROOT / "ocr_engine_spark"
# The extraction operators are the perf benchmark's surface and keep
# their own signatures.
NOT_SCANNED = {"extract.py", "salt.py", "audit.py"}


def _scanned_modules():
    for sub in ("operators", "functions", "streaming"):
        for path in sorted((PKG / sub).glob("*.py")):
            if path.name not in NOT_SCANNED:
                yield path


def _calls_by_name():
    calls = {}
    for path in ROOT.rglob("*.py"):
        if any(part.startswith(".") for part in path.relative_to(ROOT).parts):
            continue
        tree = ast.parse(path.read_text(encoding="utf-8"), str(path))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = getattr(f, "id", None) or getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(node)
    return calls


def _sets(call: ast.Call, pos, name: str) -> bool:
    """Whether ``call`` sets the parameter ``name`` (at position ``pos``,
    None for keyword-only): by keyword, by position, or through a
    ``*args`` / ``**kwargs`` it cannot see into."""
    if any(k.arg in (name, None) for k in call.keywords):
        return True
    if pos is None:
        return False
    return len(call.args) > pos or any(isinstance(a, ast.Starred) for a in call.args)


def unset_parameters():
    calls = _calls_by_name()
    out = []
    for path in _scanned_modules():
        for fn in ast.parse(path.read_text(encoding="utf-8")).body:
            if not isinstance(fn, ast.FunctionDef) or fn.name.startswith("_"):
                continue
            a = fn.args
            pos = a.posonlyargs + a.args
            first_default = len(pos) - len(a.defaults)
            params = [(i, p.arg) for i, p in enumerate(pos) if i >= first_default]
            params += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults)
                       if d is not None]
            for i, name in params:
                if not any(_sets(c, i, name) for c in calls.get(fn.name, [])):
                    out.append(f"{path.relative_to(ROOT)}:{fn.name}({name}=...)")
    return out


def test_no_defaulted_parameter_goes_unset():
    unset = unset_parameters()
    assert not unset, "parameters no caller sets:\n" + "\n".join(unset)
