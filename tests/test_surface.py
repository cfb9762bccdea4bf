"""Surface guard: every top-level def of the package has a caller outside tests.

A function, class or constant that only tests reach is library surface the
system does not use. This scan fails when one appears, so dead surface
cannot grow back unnoticed. No Spark: it parses source files only.

The defs come from the package's ASTs; a use is the def's name as a
whole word anywhere in the text of non-test code: the package itself, the
jobs, `__spark_entry__.py`, the tools, the benchmark harnesses (not their
``test_*.py`` files). A re-export in a package ``__init__.py`` is not a
use, and neither is the def's own body.

``ALLOWED`` names the few defs kept without such a caller; each entry says
why. An entry that is no longer needed fails too, so the list stays short.
"""

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "content_extractor_spark"

ALLOWED = {
    "operators/tags.py:upsert_tag_dim": "A7/S9 tag consolidation (paper operator)",
    "operators/tags.py:connect_entries_to_tags": "A7/S9 tag consolidation (paper operator)",
    "sources/io.py:disable_entries": "S10 entry disabling (paper operator)",
    "streaming/incremental.py:streaming_extract": "S7 streaming extraction (paper operator)",
    "streaming/incremental.py:run_available_now": "S7 streaming extraction (paper operator)",
    "streaming/incremental.py:run_upsert_stream": "S7 streaming MERGE upsert (paper operator)",
    "operators/similarity.py:_sq_dist_to": (
        "reference for test_dists_to_all_bit_equals_per_centroid_form"
    ),
}


def _top_level_defs(tree):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    yield t.id, node
        elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            yield node.target.id, node


def _non_test_sources():
    files = [p for p in PACKAGE.rglob("*.py") if p.name != "__init__.py"]
    for sub in ("jobs", "tools", "perfbench"):
        files += (ROOT / sub).rglob("*.py")
    files += [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    return [p for p in files if p.is_file() and not p.name.startswith("test_")]


def _unused_defs():
    """(keys of package defs without a non-test use, keys of all defs)."""
    texts = {p: p.read_text(encoding="utf-8") for p in _non_test_sources()}
    defs = []  # (key, name, file, first line, last line)
    for p in sorted(PACKAGE.rglob("*.py")):
        if p.name == "__init__.py":
            continue
        for name, node in _top_level_defs(ast.parse(texts[p])):
            if name.startswith("__") and name.endswith("__"):
                continue
            first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            key = f"{p.relative_to(PACKAGE).as_posix()}:{name}"
            defs.append((key, name, p, first, node.end_lineno))
    own = {}  # name -> [(file, first, last)]: lines that are not uses
    for _, name, p, first, last in defs:
        own.setdefault(name, []).append((p, first, last))
    used = set()
    for p, text in texts.items():
        for line_no, line in enumerate(text.splitlines(), 1):
            for word in set(re.findall(r"\w+", line)) & own.keys():
                if not any(p == q and a <= line_no <= b for q, a, b in own[word]):
                    used.add(word)
    return {key for key, name, *_ in defs if name not in used}, {d[0] for d in defs}


def test_every_package_def_has_a_non_test_caller():
    unused, _ = _unused_defs()
    unexplained = sorted(unused - set(ALLOWED))
    assert not unexplained, (
        "package defs that only tests reach (delete them, wire them into a "
        f"job, or add them to ALLOWED with a reason): {unexplained}"
    )


def test_allowlist_has_no_stale_entries():
    unused, all_defs = _unused_defs()
    stale = sorted(k for k in ALLOWED if k not in all_defs or k not in unused)
    assert not stale, f"ALLOWED entries that are gone or now used: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())
