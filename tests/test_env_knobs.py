"""Guard against knob creep: the engine reads exactly the NEM_MMS_*
environment variables that a caller or test sets."""

from __future__ import annotations

import ast
import pathlib

PKG = pathlib.Path(__file__).resolve().parents[1] / "nem_mms_spark"

# NO_NATIVE: perfbench's numpy-twin codec layer, the one knob; the hot
# plan's size gate is a module constant (``jobs.encode.HOT_COLLECT_ROWS``)
ALLOWED = {"NEM_MMS_NO_NATIVE"}


def _env_name(node: ast.AST) -> str | None:
    """The NEM_MMS_* name read by ``environ.get/pop/setdefault(name)``,
    ``getenv(name)`` or ``environ[name]``, else None."""
    if isinstance(node, ast.Call) and node.args:
        func = node.func
        fname = getattr(func, "attr", getattr(func, "id", ""))
        if fname not in {"get", "getenv", "pop", "setdefault"}:
            return None
        key = node.args[0]
    elif isinstance(node, ast.Subscript) and ast.unparse(
        node.value
    ).endswith("environ"):
        key = node.slice
    else:
        return None
    if isinstance(key, ast.Constant) and str(key.value).startswith(
        "NEM_MMS_"
    ):
        return key.value
    return None


def test_engine_reads_only_the_allowed_env_knobs():
    found: dict[str, list[str]] = {}
    for path in sorted(PKG.rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            name = _env_name(node)
            if name:
                where = f"{path.relative_to(PKG)}:{node.lineno}"
                found.setdefault(name, []).append(where)
    assert set(found) == ALLOWED, found
