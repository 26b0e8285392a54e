"""SCALE.md completeness gate (r4 verdict item 5): every registered query
must carry an explicit pointer to its 100 TB design argument, and every
session_cache slot must be on the SCALE.md cache roster."""

from __future__ import annotations

import ast
import re
from pathlib import Path

from f1_lakehouse_spark.registry import REGISTRY, _ensure_loaded
from f1_lakehouse_spark.scale_notes import SCALE_SECTION

_ensure_loaded()
SCALE_MD = (Path(__file__).resolve().parent.parent / "docs" / "SCALE.md").read_text()
SECTIONS = {
    part.split("\n", 1)[0].strip(): part.split("\n", 1)[1]
    for part in re.split(r"(?m)^## ", SCALE_MD)[1:]
}


def test_every_registered_query_has_a_scale_note():
    missing = sorted(set(REGISTRY) - set(SCALE_SECTION))
    assert missing == [], (
        "new operators need a 100 TB design argument: add the section to "
        f"docs/SCALE.md and the pointer to scale_notes.SCALE_SECTION: {missing}"
    )


def test_no_stale_scale_note_entries():
    stale = sorted(set(SCALE_SECTION) - set(REGISTRY))
    assert stale == [], f"scale-note entries for unregistered queries: {stale}"


def test_scale_note_sections_exist_and_are_substantive():
    for name, section in SCALE_SECTION.items():
        assert section in SECTIONS, (name, section)
        assert len(SECTIONS[section]) > 200, f"section too thin: {section}"


PACKAGE = Path(__file__).resolve().parent.parent / "f1_lakehouse_spark"


def _session_cache_names() -> set[str]:
    names = set()
    for p in PACKAGE.rglob("*.py"):
        for node in ast.walk(ast.parse(p.read_text())):
            if not isinstance(node, ast.Call):
                continue
            fn = node.func
            called = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", "")
            if called == "session_cache":
                arg = node.args[0]
                assert isinstance(arg, ast.Constant), (
                    f"{p}:{node.lineno}: session_cache name must be a literal"
                )
                names.add(arg.value)
    return names


def test_session_cache_names_match_the_scale_roster():
    roster = SCALE_MD.split("**Shared-frame cache roster.**", 1)[1]
    roster = roster.split("\n\n**", 1)[0]
    listed = set(re.findall(r"(?m)^- `(\w+)`", roster))
    assert _session_cache_names() == listed


def test_session_keys_only_in_session_and_tables():
    # a module reading the application id is hand-rolling a session cache;
    # route it through session.session_cache instead
    offenders = sorted(
        p.relative_to(PACKAGE).as_posix()
        for p in PACKAGE.rglob("*.py")
        if "sparkContext.applicationId" in p.read_text()
        and p.relative_to(PACKAGE).as_posix() not in {"session.py", "tables.py"}
    )
    assert offenders == []
