"""The benchmark's tracer (``perfbench/tracing.py``) times the engine by
replacing engine functions by module and name (``self._wrap(owner,
"attr", kind)``). A rename or an import that binds a function before
the tracer patches it would silently drop its span from ``--trace 1``,
so every wrapped target must exist, and a CLI batch must call each one
through the module the tracer patched."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

from ag_data_ingestion_github_to_snowflake_spark.__main__ import run

TRACING = Path(__file__).resolve().parent.parent / "perfbench" / "tracing.py"


def _wraps() -> list[tuple[str, str, str]]:
    """``(owner, attr, kind)`` of every ``self._wrap`` call in the
    tracer's ``install``, the owner resolved to a dotted import path."""
    install = next(
        n for n in ast.walk(ast.parse(TRACING.read_text()))
        if isinstance(n, ast.FunctionDef) and n.name == "install"
    )
    modules = {
        alias.asname or alias.name: f"{node.module}.{alias.name}"
        for node in ast.walk(install)
        if isinstance(node, ast.ImportFrom) and node.module.startswith("ag_data_ingestion")
        for alias in node.names
    }
    wraps = []
    for call in ast.walk(install):
        if isinstance(call, ast.Call) and getattr(call.func, "attr", None) == "_wrap":
            owner, attr, kind = call.args[:3]
            head, *rest = ast.unparse(owner).split(".")
            wraps.append((".".join([modules[head], *rest]), attr.value, kind.value))
    return wraps


def _resolve(dotted: str):
    """A module, or a class in one (``sources.state.FileWatermark``)."""
    try:
        return importlib.import_module(dotted)
    except ModuleNotFoundError:
        module, _, name = dotted.rpartition(".")
        return getattr(importlib.import_module(module), name)


def test_every_traced_hook_exists_and_fires_in_a_cli_batch(spark, tmp_path, monkeypatch):
    wraps = _wraps()
    assert len(wraps) >= 7
    for owner, attr, _ in wraps:
        assert callable(getattr(_resolve(owner), attr, None)), f"{owner}.{attr} is gone"

    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    tracing = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tracing)
    monkeypatch.delenv("MAX_REQUESTS_PER_RUN", raising=False)
    monkeypatch.delenv("GITHUB_TOKEN", raising=False)
    tracer = tracing.Tracer(spark)
    tracer.install()
    try:
        tracer.active = True
        summary = run(
            ["--test-mode", "--n-repos", "300", "--sink", str(tmp_path / "sink"),
             "--state", str(tmp_path / "wm.txt")],
            spark=spark,
        )
    finally:
        tracer.active = False
        tracer.uninstall()
    assert summary["uploaded"]
    fired = {span["kind"] for span in tracer.spans}
    assert {kind for *_, kind in wraps} <= fired, sorted({kind for *_, kind in wraps} - fired)
