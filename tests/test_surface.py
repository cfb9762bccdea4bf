"""Surface guards over the package source. No Spark: they parse files only.

Every top-level def of the package, the jobs and ``__spark_entry__.py``
has a caller outside tests. A function, class or constant that only
tests reach is surface the system does not use; this scan fails when one
appears, so dead surface cannot grow back unnoticed.

The defs come from those files' ASTs. A use is an identifier in the
AST of non-test code: a name, an attribute, an imported name, or a
string constant equal to the def's name (the driver's query registry
and ``getattr`` lookups name code by string). Docstrings, comments and
other prose are not uses. Non-test code is the package itself, the
jobs, ``__spark_entry__.py``, the tools and the benchmark harnesses
(not their ``test_*.py`` files). A re-export in a package
``__init__.py`` is not a use, and neither is the def's own body.

``ALLOWED`` names the few defs kept without such a caller; each entry says
why. An entry that is no longer needed fails too, so the list stays short.

Every lineage cut goes through ``session.materialize``: a second guard
fails on any ``checkpoint(`` or ``localCheckpoint(`` call in the package,
the jobs or ``__spark_entry__.py`` outside that one function.
"""

import ast
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
    "functions/udfs.py:register_all": "A1 contentHash as a SQL UDF (paper operator)",
    "operators/similarity.py:_sq_dist_to": (
        "reference for test_dists_to_all_bit_equals_per_centroid_form"
    ),
    "operators/similarity.py:pq_train_codebooks": (
        "reference for test_train_ivf_pq_matches_separate_trainers"
    ),
    "operators/similarity.py:lsh_topk": (
        "reference for test_lsh_probe_levels_matches_two_call_union"
    ),
    "operators/dedup_families.py:simhash": (
        "reference for test_simhash_df_variant_parity"
    ),
    "operators/textstats.py:detect_language": (
        "reference for test_with_detected_language_matches_column_form"
    ),
    "operators/multimodal.py:extract_pixel_stats": (
        "reference for test_pixel_stats_with_hashes_matches_join_form"
    ),
    "operators/multimodal.py:image_hashes": (
        "reference for test_pixel_stats_with_hashes_matches_join_form"
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


def _docstrings(tree):
    """ids of the docstring constants of a module and its defs."""
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            body = node.body
            if (body and isinstance(body[0], ast.Expr)
                    and isinstance(body[0].value, ast.Constant)):
                yield id(body[0].value)


def _identifiers(tree):
    """(identifier, line) for every name-level reference in the tree."""
    prose = set(_docstrings(tree))
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            yield node.attr, node.lineno
        elif isinstance(node, ast.alias):
            for part in node.name.split("."):
                yield part, node.lineno
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and id(node) not in prose and node.value.isidentifier()):
            yield node.value, node.lineno


def _guarded_files():
    """(file, key prefix): package modules keyed by their path in the
    package, the jobs and the entry module by their path in the repo."""
    for p in sorted(PACKAGE.rglob("*.py")):
        if p.name != "__init__.py":
            yield p, p.relative_to(PACKAGE).as_posix()
    for p in [*sorted((ROOT / "jobs").glob("*.py")), ROOT / "__spark_entry__.py"]:
        yield p, p.relative_to(ROOT).as_posix()


def _unused_defs():
    """(keys of guarded defs without a non-test use, keys of all defs)."""
    trees = {
        p: ast.parse(p.read_text(encoding="utf-8")) for p in _non_test_sources()
    }
    defs = []  # (key, name, file, first line, last line)
    for p, prefix in _guarded_files():
        for name, node in _top_level_defs(trees[p]):
            if name.startswith("__") and name.endswith("__"):
                continue
            first = min([node.lineno] + [d.lineno for d in getattr(node, "decorator_list", [])])
            key = f"{prefix}:{name}"
            defs.append((key, name, p, first, node.end_lineno))
    own = {}  # name -> [(file, first, last)]: lines that are not uses
    for _, name, p, first, last in defs:
        own.setdefault(name, []).append((p, first, last))
    used = set()
    for p, tree in trees.items():
        for word, line_no in _identifiers(tree):
            if word in own and not any(
                p == q and a <= line_no <= b for q, a, b in own[word]
            ):
                used.add(word)
    return {key for key, name, *_ in defs if name not in used}, {d[0] for d in defs}


def test_every_package_def_has_a_non_test_caller():
    unused, _ = _unused_defs()
    unexplained = sorted(unused - set(ALLOWED))
    assert not unexplained, (
        "defs that only tests reach (delete them, wire them into a "
        f"job, or add them to ALLOWED with a reason): {unexplained}"
    )


def test_allowlist_has_no_stale_entries():
    unused, all_defs = _unused_defs()
    stale = sorted(k for k in ALLOWED if k not in all_defs or k not in unused)
    assert not stale, f"ALLOWED entries that are gone or now used: {stale}"
    assert all(reason.strip() for reason in ALLOWED.values())


def _checkpoint_calls():
    """'file:line' of every checkpoint/localCheckpoint call outside
    session.materialize."""
    files = [*PACKAGE.rglob("*.py"), *(ROOT / "jobs").rglob("*.py"),
             ROOT / "__spark_entry__.py"]
    found = []
    for p in files:
        tree = ast.parse(p.read_text(encoding="utf-8"))
        allowed = set()
        if p == PACKAGE / "session.py":
            for node in tree.body:
                if isinstance(node, ast.FunctionDef) and node.name == "materialize":
                    allowed = set(range(node.lineno, node.end_lineno + 1))
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr in ("checkpoint", "localCheckpoint")
                    and node.lineno not in allowed):
                found.append(f"{p.relative_to(ROOT).as_posix()}:{node.lineno}")
    return found


def test_lineage_cuts_go_through_materialize():
    found = _checkpoint_calls()
    assert not found, (
        "checkpoint/localCheckpoint called outside session.materialize "
        f"(call materialize(df) instead): {found}"
    )
