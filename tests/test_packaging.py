"""Packaging-parity smoke tests.

The reference ships Dockerfile + docker-compose + run-docker.sh
(/root/reference/Dockerfile:44-45, docker-compose.yml:3-18,
run-docker.sh:40-59); these tests pin the engine's mirrors to the
pieces that must not drift: the image entrypoint must be the real CLI
module, the compose service must invoke the image's offline mode, and
the ``--py-files`` zip builder must produce an importable archive —
an actual ``docker build`` is offline-documented (no daemon here). Two
ratchets pin the package itself: the env vars it reads, and the
top-level definitions no product path reaches.
"""

from __future__ import annotations

import ast
import re
import subprocess
import sys
import zipfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_dockerfile_entrypoint_is_the_cli():
    text = (ROOT / "Dockerfile").read_text()
    assert 'ENTRYPOINT ["python", "-m", "ag_data_ingestion_github_to_snowflake_spark"]' in text
    # runtime stage must carry a JVM for the Spark driver/executors
    assert "openjdk-17-jre-headless" in text
    # both user surfaces ship in the image
    assert "bench.py" in text and "__spark_entry__.py" in text


def test_compose_defaults_are_offline():
    text = (ROOT / "docker-compose.yml").read_text()
    assert "--test-mode" in text, "compose default must not require network"
    assert "spark-engine" in text and "bench" in text


def test_run_docker_modes_match_reference_surface():
    text = (ROOT / "run-docker.sh").read_text()
    for mode in ("test)", "prod)", "custom)", "shell)", "clean)", "bench)"):
        assert mode in text, mode


def test_scheduler_example_mirrors_reference_cadence():
    text = (ROOT / "examples" / "scheduled-extraction.yml").read_text()
    assert "cron:" in text and "30 * * * *" in text
    assert "spark-engine" in text  # runs the real compose service
    assert "--use-cache" in text  # incremental, watermark-resumed


def test_requirements_resolve_against_installed_env():
    """Every requirement names a library importable in this container
    (the versions are the baked-in baseline, so install would no-op)."""
    import importlib

    mods = {"pyspark": "pyspark", "pyarrow": "pyarrow", "pandas": "pandas",
            "numpy": "numpy", "duckdb": "duckdb"}
    text = (ROOT / "requirements.txt").read_text()
    for req, mod in mods.items():
        assert req in text
        importlib.import_module(mod)


def test_pyfiles_zip_builds_and_imports(tmp_path):
    out = tmp_path / "pkg.zip"
    res = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "build_pyfiles_zip.py"), str(out)],
        capture_output=True,
        text=True,
        check=True,
    )
    assert str(out) in res.stdout
    with zipfile.ZipFile(out) as z:
        names = z.namelist()
    assert "ag_data_ingestion_github_to_snowflake_spark/__init__.py" in names
    assert any(n.endswith("plans/registry.py") for n in names)
    # the zip is importable standalone (what executors see via --py-files)
    probe = subprocess.run(
        [
            sys.executable,
            "-c",
            "import sys; sys.path.insert(0, sys.argv[1]); "
            "import ag_data_ingestion_github_to_snowflake_spark.operators.ids as m; "
            "print(m.__name__)",
            str(out),
        ],
        capture_output=True,
        text=True,
    )
    assert probe.returncode == 0, probe.stderr
    assert "operators.ids" in probe.stdout


def test_cli_test_mode_runs_offline(tmp_path):
    """The container entrypoint command actually completes an offline
    pipeline run in-process — the smoke the image recipe documents."""
    res = subprocess.run(
        [
            sys.executable,
            "-m",
            "ag_data_ingestion_github_to_snowflake_spark",
            "--test-mode",
            "--skip-upload",
            "--n-repos",
            "40",
            "--sink",
            str(tmp_path / "sink"),
            "--state",
            str(tmp_path / "state.json"),
        ],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=600,
    )
    assert res.returncode == 0, res.stderr[-2000:]


def test_env_knobs_are_the_deployment_contract():
    """The package reads only the deployment/driver env vars; a new
    tuning lever has to be argued for here."""
    names = set()
    for path in (ROOT / "ag_data_ingestion_github_to_snowflake_spark").rglob("*.py"):
        names |= set(re.findall(r"SPARK_GRAFT_[A-Z_]+", path.read_text()))
    assert names == {
        "SPARK_GRAFT_CPUS",
        "SPARK_GRAFT_DRIVER_MEM",
        "SPARK_GRAFT_SF_DIR",
        "SPARK_GRAFT_SHUFFLE_PARTITIONS",
    }


def test_config_reads_only_the_reference_env_surface():
    """``EngineConfig.from_env`` reads the reference's env vars and no
    others (the reference's ``extract_github_data.py:78-108``)."""
    tree = ast.parse((ROOT / "ag_data_ingestion_github_to_snowflake_spark" / "config.py").read_text())
    names = {
        node.args[0].value
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and getattr(node.func, "attr", None) == "get"
        and node.args
        and isinstance(node.args[0], ast.Constant)
    }
    assert names == {
        "GITHUB_TOKEN",
        "MAX_REQUESTS_PER_RUN",
        "REPOS_PER_PAGE",
        "S3_BUCKET",
        "STATE_PATH",
        "TEST_MODE",
        "SKIP_UPLOAD",
    }


def test_coverage_evidence_exists():
    """Every test and ``<module>.py:<symbol>`` that ``tools/gen_coverage.py``
    cites as evidence (and so COVERAGE.md) still exists."""
    tree = ast.parse((ROOT / "tools" / "gen_coverage.py").read_text())
    (evidence,) = [
        ast.literal_eval(node.value)
        for node in tree.body
        if isinstance(node, ast.Assign) and getattr(node.targets[0], "id", None) == "MODULE_EVIDENCE"
    ]
    pkg = ROOT / "ag_data_ingestion_github_to_snowflake_spark"

    def top_level(path: Path) -> dict[str, ast.AST]:
        return {
            node.name: node
            for node in ast.parse(path.read_text()).body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }

    missing, cited = [], 0
    for sid, items in evidence.items():
        for item in items:
            m = re.match(r"([\w/]+\.py)(?:::?([\w.]+(?: \+ [\w.]+)*))?", item)
            if not m:
                continue
            cited += 1
            path = (ROOT if m[1].startswith("tests/") else pkg) / m[1]
            if not path.exists():
                missing.append((sid, item))
                continue
            defs = top_level(path)
            for symbol in m[2].split(" + ") if m[2] else ():
                owner, _, member = symbol.partition(".")
                if owner not in defs or (
                    member and member not in {getattr(n, "name", None) for n in defs[owner].body}
                ):
                    missing.append((sid, item))
    assert cited > 0
    assert not missing, missing


# Top-level package definitions no product path reaches, each with the
# reason it stays. Set equality below: new dead code fails the test, and
# so does an entry here that gains a caller — the list only shrinks.
UNREACHED_ALLOWLIST = {
    "operators.dedup.minhash_signatures": "reference twin of the Arrow MinHash kernel",
}

PACKAGE = "ag_data_ingestion_github_to_snowflake_spark"


def _unreached_definitions(root: Path = ROOT) -> set[str]:
    """Top-level functions/classes of the package that no product path
    reaches.

    The product roots are ``__spark_entry__.py`` and the CLI module
    ``__main__``. A package module is live if a root imports it,
    directly or through other live modules, lazy imports inside
    functions included. Every definition in a module that is not live
    is unreached. In live modules the roots are also every ``@register``
    query builder and all other module-level code (``__main__``'s
    ``if __name__`` block reaches ``run``) except ``__all__``, which
    exports a name but calls nothing; reachability is transitive over
    ``Name``/``Attribute`` ids and identifiers inside non-docstring
    string literals, matched by bare name across live modules — so it
    can only overcount what is reached, never what is unreached."""
    pkg = root / PACKAGE
    ident = re.compile(r"[A-Za-z_]\w*")
    trees = {
        ".".join(path.relative_to(pkg).with_suffix("").parts): ast.parse(path.read_text())
        for path in sorted(pkg.rglob("*.py"))
    }
    entry = ast.parse((root / "__spark_entry__.py").read_text())

    def imports(tree) -> set[str]:
        """Package modules ``tree`` imports anywhere in its body."""
        out: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [alias.name for alias in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module:
                names = [node.module, *(f"{node.module}.{alias.name}" for alias in node.names)]
            else:
                continue
            out |= {n.removeprefix(PACKAGE + ".") for n in names} & trees.keys()
        return out

    live: set[str] = set()
    todo = imports(entry) | {"__main__"}
    while todo:
        mod = todo.pop()
        if mod not in live:
            live.add(mod)
            todo |= imports(trees[mod]) - live

    def is_all(node) -> bool:
        return isinstance(node, ast.Assign) and any(getattr(t, "id", None) == "__all__" for t in node.targets)

    def is_register(dec) -> bool:
        f = dec.func if isinstance(dec, ast.Call) else dec
        return getattr(f, "id", getattr(f, "attr", None)) == "register"

    def refs(nodes) -> set[str]:
        out: set[str] = set()
        for node in nodes:
            docs = {
                id(sub.body[0].value)
                for sub in ast.walk(node)
                if isinstance(sub, (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and sub.body
                and isinstance(sub.body[0], ast.Expr)
                and isinstance(sub.body[0].value, ast.Constant)
            }
            for sub in ast.walk(node):
                if isinstance(sub, ast.Name):
                    out.add(sub.id)
                elif isinstance(sub, ast.Attribute):
                    out.add(sub.attr)
                elif (
                    isinstance(sub, ast.Constant)
                    and isinstance(sub.value, str)
                    and id(sub) not in docs
                ):
                    out.update(ident.findall(sub.value))
        return out

    unreached: set[str] = set()
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: list[ast.AST] = [entry]
    for mod, tree in trees.items():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if mod not in live:
                    unreached.add(f"{mod}.{node.name}")
                elif any(is_register(d) for d in node.decorator_list):
                    roots.append(node)
                else:
                    defs.setdefault(node.name, []).append((f"{mod}.{node.name}", node))
                    roots.extend(node.decorator_list)
            elif mod in live and not (
                is_all(node) or (isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant))
            ):
                roots.append(node)

    todo, seen = refs(roots), set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs.get(name, ()):
            todo |= refs([node]) - seen
    return unreached | {qual for name, entries in defs.items() if name not in seen for qual, _ in entries}


def test_no_unreached_package_code_outside_the_allowlist():
    unreached = _unreached_definitions()
    assert unreached == set(UNREACHED_ALLOWLIST), (
        f"newly unreached: {sorted(unreached - set(UNREACHED_ALLOWLIST))}; "
        f"allowlisted but now reached: {sorted(set(UNREACHED_ALLOWLIST) - unreached)}"
    )
