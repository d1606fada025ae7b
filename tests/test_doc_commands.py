"""Every `scripts/<name>.py` that the docs, the skills, the engine or the
tests name must exist, so a retired tool cannot linger in a command line.
NOTES.md and SCALE.md are history and may name retired scripts."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
SCRIPT_REF = re.compile(r"scripts/(\w+\.py)")


def _scanned_files():
    yield ROOT / "CLAUDE.md"
    yield ROOT / "README.md"
    yield from (ROOT / ".claude" / "skills").glob("*/SKILL.md")
    yield from (ROOT / "cdc_application_febuary_spark").rglob("*.py")
    yield from (ROOT / "tests").glob("*.py")


def test_named_scripts_exist():
    missing = sorted(
        f"{path.relative_to(ROOT)}: scripts/{name}"
        for path in _scanned_files()
        for name in set(SCRIPT_REF.findall(path.read_text()))
        if not (ROOT / "scripts" / name).is_file()
    )
    assert not missing, "docs name scripts that do not exist:\n" + "\n".join(missing)
