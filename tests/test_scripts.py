"""Guards for the measurement scripts under scripts/: their package
imports must resolve (a package rename must not leave a script that only
fails when someone runs it), ab.py must reject a typo before any Spark
session starts and run end to end, and measure_scaling.py must dispatch
every flag it accepts."""

from __future__ import annotations

import ast
import glob
import importlib
import json
import os
import re
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCRIPTS = sorted(glob.glob(os.path.join(REPO, "scripts", "*.py")))
PERSIST = "osm2orc_spark.operators.switches.TOKENIZE_PERSIST_MIN_DOCS"


def _package_imports(path: str):
    for node in ast.walk(ast.parse(open(path).read(), path)):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == "osm2orc_spark":
            for alias in node.names:
                yield node.module, alias.name
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "osm2orc_spark":
                    yield alias.name, None


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_package_imports_resolve(path):
    unresolved = []
    for module, name in _package_imports(path):
        try:
            mod = importlib.import_module(module)
        except ImportError:
            unresolved.append(module)
            continue
        if name is None or hasattr(mod, name):
            continue
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            unresolved.append(f"{module}.{name}")
    assert not unresolved, f"{os.path.basename(path)}: {unresolved}"


def _ab(*args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("scripts", "ab.py"), *args],
        capture_output=True,
        text=True,
        cwd=REPO,
        timeout=600,
    )


@pytest.mark.parametrize(
    "query,side,needle",
    [
        ("text_tfidf_topk", f"typo:{PERSIST}S=0", "TOKENIZE_PERSIST_MIN_DOCSS"),
        ("text_tfidf_topk", "typo:osm2orc_spark.operators.switchez.X=0", "switchez"),
        ("text_tfidf_top_k", "base:", "text_tfidf_top_k"),
    ],
)
def test_ab_rejects_typos_before_spark(sf_smoke, query, side, needle):
    out = _ab(query, sf_smoke, side)
    assert out.returncode != 0
    assert needle in out.stderr
    assert out.stdout == ""
    # Spark announces its logging setup on stderr as the session starts
    assert "log4j" not in out.stderr and "log level" not in out.stderr


def test_ab_smoke(sf_smoke):
    out = _ab(
        "text_tfidf_topk",
        sf_smoke,
        f"replicate:{PERSIST}={1 << 62}",
        f"persist:{PERSIST}=0",
        "--runs",
        "1",
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = [json.loads(line) for line in out.stdout.splitlines()]
    assert [r["side"] for r in lines] == ["replicate", "persist"]
    for r in lines:
        assert set(r) == {"query", "dir", "side", "set", "runs", "min", "median"}
        assert r["query"] == "text_tfidf_topk" and r["dir"] == sf_smoke
        assert len(r["runs"]) == 1 and r["min"] == r["median"] > 0
    assert lines[1]["set"] == f"{PERSIST}=0"


def test_measure_scaling_dispatches_every_known_flag():
    src = open(os.path.join(REPO, "scripts", "measure_scaling.py")).read()
    known = set(re.findall(r'^\s+"(--[a-z0-9-]+)",$', src, re.M))
    dispatched = set(re.findall(r'^\s+(?:el)?if "(--[a-z0-9-]+)" in args:$', src, re.M))
    assert known and known == dispatched
