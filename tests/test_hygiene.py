"""Repo hygiene lints.

Born from the r9 `_y4m` incident: a test addendum added a module-level
helper whose name shadowed an earlier helper with a DIFFERENT signature,
silently breaking that helper's pre-existing call sites (pytest red at
HEAD, caught only by the judge). Python allows re-definition without a
whisper, so the suite now refuses duplicate module-level def/class names
in any test module. Round-numbered modules (``ab_r11.py``) are per-round
scaffolding that outlives the code it measured, so the source and tool
trees refuse them too.
"""

from __future__ import annotations

import ast
import pathlib
import re

TESTS_DIR = pathlib.Path(__file__).parent
REPO = TESTS_DIR.parent


def test_no_duplicate_module_level_names_in_tests():
    offenders = []
    for path in sorted(TESTS_DIR.glob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        seen: dict[str, int] = {}
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                if node.name in seen:
                    offenders.append(
                        f"{path.name}:{node.lineno} `{node.name}` shadows "
                        f"the definition at line {seen[node.name]}")
                seen[node.name] = node.lineno
    assert not offenders, (
        "duplicate module-level helper names (later def silently shadows "
        "the earlier one — the r9 _y4m bug class):\n" + "\n".join(offenders))


def test_no_round_numbered_modules():
    offenders = [
        str(path.relative_to(REPO))
        for top in ("tools", "glamr_omics_pipelines_spark")
        for path in sorted((REPO / top).rglob("*.py"))
        if re.search(r"_r\d+(_|$)", path.stem)]
    assert not offenders, (
        "round-numbered modules (fold the measurement into perfbench's "
        "--trace record instead):\n" + "\n".join(offenders))


def test_release_ritual_lives_in_session():
    """The cold-protocol release (clearCache, then both registries) is
    ``session.release(spark)``. A caller that copies the registry calls
    instead can drift from it, as ``tools/check.py`` did when three
    ``continue`` paths skipped its copy. Test files may call the registry
    functions (they test them); ``perfbench/`` keeps its own copy."""
    banned = {"release_checkpoints", "release_caches"}
    allowed = {REPO / "glamr_omics_pipelines_spark" / "session.py"}
    offenders = []
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO)
        if rel.parts[0] in ("tests", "perfbench") or path in allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, ast.Call):
                f = node.func
                called = f.attr if isinstance(f, ast.Attribute) else \
                    getattr(f, "id", None)
                if called in banned:
                    offenders.append(f"{rel}:{node.lineno} {called}()")
    assert not offenders, (
        "call session.release(spark) instead of the registry release "
        "functions:\n" + "\n".join(offenders))


FORM_SELECTOR = re.compile(
    r"^(strategy|method|pair_gen|\w+_strategy|local_fold|rank_proxy|"
    r"broadcast_\w+)$")


def test_operators_take_no_form_selector():
    """A gate decides an operator's physical form at one site from its
    module threshold; no function takes a per-call selector, and a test
    forces a form by monkeypatching the threshold. ``mode`` (write modes)
    and ``stub`` (codec choice, a different output) are not form
    selectors and do not match."""
    offenders = []
    for path in sorted((REPO / "glamr_omics_pipelines_spark").rglob("*.py")):
        rel = path.relative_to(REPO)
        for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.Lambda)):
                a = node.args
                params = a.posonlyargs + a.args + a.kwonlyargs + [
                    p for p in (a.vararg, a.kwarg) if p is not None]
                offenders += [
                    f"{rel}:{node.lineno} "
                    f"{getattr(node, 'name', '<lambda>')}({p.arg})"
                    for p in params if FORM_SELECTOR.match(p.arg)]
    assert not offenders, (
        "per-call form selectors (let the gate's module threshold decide; "
        "tests monkeypatch it):\n" + "\n".join(offenders))
