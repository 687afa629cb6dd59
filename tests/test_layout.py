"""Source-layout rules, checked on the text of the repository's Python
files (no Spark): one session builder, a package that sets no session
conf on its caller's behalf, and no clustered-input flag on the matchers."""

from __future__ import annotations

import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "full_lattice_search_spark"


def sources(top: pathlib.Path) -> list[pathlib.Path]:
    return [p for p in top.rglob("*.py")
            if not any(part.startswith(".") for part in p.parts)]


def test_sessions_are_built_in_one_function():
    """Besides ``session.build_session``, only the frozen ``bench.py`` and
    the benchmark's own ``perfbench/`` build a session."""
    allowed = {ROOT / "bench.py", PACKAGE / "session.py",
               pathlib.Path(__file__).resolve()}
    found = sorted(
        str(p.relative_to(ROOT)) for p in sources(ROOT)
        if p not in allowed
        and p.relative_to(ROOT).parts[0] != "perfbench"
        and "SparkSession.builder" in p.read_text()
    )
    assert found == []


def test_package_sets_no_session_conf():
    found = sorted(
        f"{p.relative_to(ROOT)}:{i}"
        for p in sources(PACKAGE)
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if re.search(r"\.conf\.set\(", line)
    )
    assert found == []


def test_no_clustered_input_flag():
    """Matching over documents runs on the doc-scan kernel and a token
    table always gets its doc_id exchange: the flag that let a caller
    skip it is gone from every Python file."""
    flag = "assume_doc_" + "clustered"
    found = sorted(str(p.relative_to(ROOT)) for p in sources(ROOT)
                   if flag in p.read_text())
    assert found == []
