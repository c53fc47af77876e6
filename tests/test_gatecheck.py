"""tools/gatecheck.py: the mechanical gate-record freshness rule
(VERDICT r9 #1 — PYTEST_r9.txt went 0-byte and stale at HEAD while
README cited it; the rule is now code, not discipline)."""

from __future__ import annotations

import importlib
import os
import subprocess

import pytest

_TOOLS = sorted(
    n[: -len(".py")]
    for n in os.listdir(os.path.join(os.path.dirname(__file__), "..", "tools"))
    if n.endswith(".py") and n != "__init__.py"
)


def _git(repo, *args):
    subprocess.run(
        ["git", "-C", repo, *args], check=True, stdout=subprocess.DEVNULL
    )


def _setup_repo(tmp_path):
    repo = str(tmp_path)
    _git(repo, "init", "-q")
    _git(repo, "config", "user.email", "t@t")
    _git(repo, "config", "user.name", "t")
    os.makedirs(os.path.join(repo, "smallquery_spark"))
    with open(os.path.join(repo, "smallquery_spark", "x.py"), "w") as f:
        f.write("x = 1\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "engine v1")
    return repo


def _write_gates(repo, content="50 ok\n"):
    for name in (
        "CHECKRUN_r1_sf0.01.txt",
        "PYTEST_r1.txt",
        "BENCH_r1_local.json",
    ):
        with open(os.path.join(repo, name), "w") as f:
            f.write(content)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "cut gates")


def test_gatecheck_fresh_stale_empty_dirty(tmp_path):
    from tools.gatecheck import check

    repo = _setup_repo(tmp_path)
    # no records at all
    probs = check(repo, quiet=True)
    assert any("CHECKRUN" in p for p in probs)
    assert any("PYTEST" in p for p in probs)
    assert any("BENCH" in p for p in probs)

    # records cut after the engine commit: fresh
    _write_gates(repo)
    assert check(repo, quiet=True) == []

    # engine changes after the cut: stale — ALL THREE records flagged
    # (the bench record is covered by the same ancestry rule, r11)
    with open(os.path.join(repo, "smallquery_spark", "x.py"), "w") as f:
        f.write("x = 2\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "engine v2")
    probs = check(repo, quiet=True)
    assert sum("re-cut" in p for p in probs) == 3
    assert any(p.startswith("BENCH") for p in probs)

    # re-cut: fresh again, but an EMPTY record is flagged
    _write_gates(repo, "50 ok, second cut\n")
    assert check(repo, quiet=True) == []
    open(os.path.join(repo, "PYTEST_r1.txt"), "w").close()
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "truncate")
    probs = check(repo, quiet=True)
    assert any("EMPTY" in p for p in probs)

    # a HIGHER round number supersedes (empty r1 no longer newest)
    with open(os.path.join(repo, "PYTEST_r2.txt"), "w") as f:
        f.write("51 ok\n")
    _git(repo, "add", "-A")
    _git(repo, "commit", "-qm", "cut r2 pytest")
    assert check(repo, quiet=True) == []

    # uncommitted engine drift is flagged even with committed records
    with open(os.path.join(repo, "smallquery_spark", "x.py"), "w") as f:
        f.write("x = 3\n")
    probs = check(repo, quiet=True)
    assert any("uncommitted engine changes" in p for p in probs)


@pytest.mark.parametrize("name", _TOOLS)
def test_tool_imports(name):
    """Every module in tools/ imports, so none depends on a deleted one."""
    importlib.import_module(f"tools.{name}")
