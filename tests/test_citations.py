"""Citation-integrity gate (VERDICT r9 directive #2): every reference
path cited anywhere in the package source — ``src/<file>.py`` or
``sql/<file>.sql``, with or without ``:N`` / ``:N-M`` line suffixes —
must exist under ``/root/reference/``, and any cited line range must
fall inside the cited file's actual length. Round 9 shipped five
citations to files the reference does not have (src/ml_models.py,
src/analysis.py, src/spark_jobs.py); this test makes that class of
drift impossible to reintroduce.

Where the reference checkout is absent, the same two checks run against
the repo inventory table in SURVEY.md (one row per reference file with
its LoC): a cited file must be listed there, and a cited range must end
at or before LoC + 1 — the bound ``text.count("\n") + 1`` gives on a
checkout."""

from __future__ import annotations

import pathlib
import re

REFERENCE = pathlib.Path("/root/reference")
ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "smart_water_management_spark"

# SURVEY.md inventory rows: | `src/app.py` | 876 | role |
_INVENTORY_ROW = re.compile(r"^\| `([^`]+)` \| (\d+) \|", re.M)

# src/foo.py, sql/bar.sql, optionally ':12' or ':12-34' right after.
_CITE = re.compile(r"\b((?:src|sql)/[A-Za-z0-9_./-]+\.(?:py|sql))(?::(\d+)(?:-(\d+))?)?")


def _iter_citations():
    for path in sorted(PACKAGE.rglob("*.py")):
        text = path.read_text()
        for m in _CITE.finditer(text):
            line_no = text[: m.start()].count("\n") + 1
            yield path, line_no, m.group(1), m.group(2), m.group(3)


def _inventory() -> dict[str, int] | None:
    """SURVEY.md's inventory (path -> LoC), or None when the reference
    checkout is present and the files themselves are checked."""
    if REFERENCE.is_dir():
        return None
    rows = _INVENTORY_ROW.findall((ROOT / "SURVEY.md").read_text())
    assert len(rows) >= 10, "SURVEY.md inventory table not found"
    return {path: int(loc) for path, loc in rows}


def _last_citable_line(cited: str, inventory: dict[str, int] | None) -> int | None:
    """The last line a citation of ``cited`` may name; None if no such file."""
    if inventory is not None:
        return inventory[cited] + 1 if cited in inventory else None
    ref_file = REFERENCE / cited
    if not ref_file.is_file():
        return None
    return ref_file.read_text().count("\n") + 1


def test_every_cited_reference_path_exists():
    inventory = _inventory()
    bad = []
    checked = 0
    for src_path, line_no, cited, lo, hi in _iter_citations():
        checked += 1
        n_lines = _last_citable_line(cited, inventory)
        if n_lines is None:
            bad.append(f"{src_path.name}:{line_no} cites nonexistent {cited}")
            continue
        if lo is not None:
            last = int(hi or lo)
            if last > n_lines:
                bad.append(
                    f"{src_path.name}:{line_no} cites {cited}:{lo}"
                    f"{'-' + hi if hi else ''} past EOF ({n_lines} lines)"
                )
    assert checked > 50, "citation scan found suspiciously few citations"
    assert not bad, "fabricated/stale reference citations:\n" + "\n".join(bad)
