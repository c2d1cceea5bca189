"""Docs cite only files that exist: every ``tests/…py``, ``scripts/…py``
and ``<subpackage>/…py`` path named in the package's sources
(docstrings and comments), ``README.md`` or ``COVERAGE.md`` is a file of
the repository, except the reference app's own test modules, which the
golden vectors cite. Pure text scan, no Spark."""

import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "enhydris_autoprocess_spark"
REFERENCE_FILES = {"tests/test_models.py", "tests/test_admin.py", "tests/test_apps.py"}


def test_cited_files_exist():
    subpackages = sorted(p.parent.name for p in PACKAGE.glob("*/__init__.py"))
    cited = re.compile(rf"\b(?:tests|scripts|{'|'.join(subpackages)})/[\w/.-]*?\.py\b")
    missing = []
    for doc in [ROOT / "README.md", ROOT / "COVERAGE.md", *PACKAGE.rglob("*.py")]:
        for path in sorted(set(cited.findall(doc.read_text()))):
            base = ROOT if path.split("/")[0] in ("tests", "scripts") else PACKAGE
            if path not in REFERENCE_FILES and not (base / path).is_file():
                missing.append(f"{doc.relative_to(ROOT)}: {path}")
    assert not missing, "cited files that do not exist:\n" + "\n".join(missing)
