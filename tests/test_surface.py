"""Surface guards over the package source. No Spark: they parse files only.

Every top-level def of the package, the jobs and ``__spark_entry__.py``
has a caller outside tests. A function, class or constant that only
tests reach is surface the system does not use; this scan fails when one
appears, so dead surface cannot grow back unnoticed.

The defs come from those files' ASTs. A use is an identifier in the
AST of non-test code: a name, an imported name, an attribute read
through a package receiver, or a string constant equal to the def's
name (the driver's query registry and ``getattr`` lookups name code by
string). A package receiver is a name bound by an import of
``content_extractor_spark``, ``jobs`` or ``__spark_entry__`` (or a
relative import inside the package), or an attribute chain rooted in
one: ``synth.gen_rows`` uses ``gen_rows``, while ``pq.write_table`` on
a pyarrow module does not. Docstrings, comments and other prose are
not uses. Non-test code is the package itself, the
jobs, ``__spark_entry__.py``, the tools and the benchmark harnesses
(not their ``test_*.py`` files). A re-export in a package
``__init__.py`` is not a use, and neither is the def's own body.

``ALLOWED`` names the few defs kept without such a caller; each entry says
why. An entry that is no longer needed fails too, so the list stays short.
A reason that says "paper operator" cites the operator's ID from
COVERAGE.md (``A7/S9``, ``S10``, ``A1``), and the row of every cited ID
in COVERAGE §2.1–§2.7 names the def's module, so a def cannot ride on
an operator that another module implements.

Every defaulted parameter of those top-level functions has a non-test
call that sets it: the same files, the same non-test callers. Calls
resolve by name (``from ... import f as g`` aliases included); a call
sets a parameter when it passes it by position or by keyword, and a
call with ``*args``/``**kwargs`` sets all of them. An argument that
only forwards the enclosing def's own defaulted parameter sets nothing
unless that parameter is set in turn, so a pass-through chain of
unset knobs fails as a whole; the scan runs to a fixpoint. The
parameters of ``ALLOWED`` defs count as set. ``ALLOWED_PARAMS`` names
the few parameters kept without a setting caller, each with the test
that needs it, and a stale entry fails as ``ALLOWED``'s do.

Every lineage cut goes through ``session.materialize``: a second guard
fails on any ``checkpoint(`` or ``localCheckpoint(`` call in the package,
the jobs or ``__spark_entry__.py`` outside that one function.
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
    "functions/udfs.py:register_all": "A1 contentHash as a SQL UDF (paper operator)",
    "operators/similarity.py:_sq_dist_to": (
        "reference for test_dists_to_all_bit_equals_per_centroid_form"
    ),
    "operators/similarity.py:_kmeans_centroids": (
        "reference for test_train_ivf_pq_matches_separate_trainers"
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

ALLOWED_PARAMS = {
    "kernel/dom.py:parse(engine)": (
        "html.parser reference engine for test_fastscan_differential.py"
    ),
    "kernel/warc.py:build_warc(gzip_members)": (
        "plain-record archives for test_roundtrip_gzip_members_and_plain"
    ),
    "kernel/warc.py:build_warc(with_requests)": (
        "request records for test_request_records_roundtrip"
    ),
    "kernel/pdftext.py:build_simple_pdf(compress)": (
        "uncompressed streams for test_roundtrip_uncompressed"
    ),
    "kernel/jpeg.py:encode_jpeg_solid(restart_every)": (
        "DRI/RST markers for test_jpeg_restart_markers"
    ),
    "sources/warc.py:read_warc(warc_types)": (
        "metadata records for test_wat_roundtrip_links"
    ),
    "jobs/extract_job.py:main(argv)": "None means sys.argv (spark-submit)",
    "jobs/curate_job.py:main(argv)": "None means sys.argv (spark-submit)",
    "jobs/warc_extract_job.py:main(argv)": "None means sys.argv (spark-submit)",
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


_PACKAGES = ("content_extractor_spark", "jobs", "__spark_entry__")


def _package_receivers(tree):
    """Names an import of one of _PACKAGES binds in the tree (relative
    imports are inside the package)."""
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] in _PACKAGES:
                    names.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, ast.ImportFrom) and (
            node.level or (node.module or "").split(".")[0] in _PACKAGES
        ):
            names.update(a.asname or a.name for a in node.names)
    return names


def _rooted_in(node, names):
    while isinstance(node, ast.Attribute):
        node = node.value
    return isinstance(node, ast.Name) and node.id in names


def _identifiers(tree):
    """(identifier, line) for every name-level reference in the tree."""
    prose = set(_docstrings(tree))
    receivers = _package_receivers(tree)
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            yield node.id, node.lineno
        elif isinstance(node, ast.Attribute):
            if _rooted_in(node.value, receivers):
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


def _coverage_rows():
    """{operator ID: row text} of the tables in COVERAGE §2.1–§2.7; a
    row with the IDs ``A3/A4/A5`` is listed under each of them."""
    rows, in_inventory = {}, False
    for line in (ROOT / "COVERAGE.md").read_text(encoding="utf-8").splitlines():
        if line.startswith("## "):
            in_inventory = bool(re.match(r"## §2\.[1-7] ", line))
        elif in_inventory and line.startswith("|"):
            for op_id in line.split("|")[1].strip().split("/"):
                rows[op_id] = line
    return rows


def test_paper_operator_reasons_cite_their_coverage_row():
    rows = _coverage_rows()
    wrong = []
    for key, reason in ALLOWED.items():
        if "paper operator" not in reason:
            continue
        module = key.split(":")[0]
        cited = re.findall(r"\b[A-Z]\d+\b", reason)
        if not cited or any(module not in rows.get(c, "") for c in cited):
            wrong.append(f"{key} ({reason})")
    assert not wrong, (
        "ALLOWED paper operators whose cited COVERAGE §2.1–§2.7 row "
        f"does not name their module: {wrong}"
    )


def _defaulted_params(fn):
    a = fn.args
    pos = [x.arg for x in a.posonlyargs + a.args]
    dflt = pos[len(pos) - len(a.defaults):] if a.defaults else []
    dflt += [k.arg for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return pos, dflt


def _calls(tree):
    """(callee name, call, enclosing defs) for every named call; import
    aliases resolve to the imported name."""
    aliases = {
        a.asname: a.name
        for node in ast.walk(tree) if isinstance(node, ast.ImportFrom)
        for a in node.names if a.asname
    }

    def walk(node, chain):
        for child in ast.iter_child_nodes(node):
            inner = chain
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef,
                                  ast.Lambda)):
                inner = chain + [child]
            elif isinstance(child, ast.Call):
                f = child.func
                name = (f.id if isinstance(f, ast.Name)
                        else f.attr if isinstance(f, ast.Attribute) else None)
                if name is not None:
                    yield aliases.get(name, name), child, chain
            yield from walk(child, inner)

    yield from walk(tree, [])


def _unset_params():
    """(keys 'file:def(param)' of defaulted parameters no non-test call
    sets, keys of all defaulted parameters)."""
    trees = {
        p: ast.parse(p.read_text(encoding="utf-8")) for p in _non_test_sources()
    }
    defs = {}  # key -> (positional names, defaulted names)
    by_name = {}
    owner = {}  # id(def node) -> key
    for p, prefix in _guarded_files():
        for node in trees[p].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                key = f"{prefix}:{node.name}"
                defs[key] = _defaulted_params(node)
                by_name.setdefault(node.name, []).append(key)
                owner[id(node)] = key
    calls = [c for tree in trees.values() for c in _calls(tree)]
    is_set = {(k, q) for k in ALLOWED if k in defs for q in defs[k][1]}

    def forwards_unset(arg, chain):
        """arg only passes on an enclosing def's unset defaulted param."""
        if not isinstance(arg, ast.Name):
            return False
        for fn in reversed(chain):
            a = fn.args
            if arg.id in {x.arg for x in a.posonlyargs + a.args + a.kwonlyargs}:
                key = owner.get(id(fn))
                return (key is not None and arg.id in defs[key][1]
                        and (key, arg.id) not in is_set)
        return False

    changed = True
    while changed:
        changed = False
        for name, call, chain in calls:
            star = (any(isinstance(a, ast.Starred) for a in call.args)
                    or any(k.arg is None for k in call.keywords))
            passed = {k.arg: k.value for k in call.keywords if k.arg}
            for key in by_name.get(name, ()):
                pos, dflt = defs[key]
                given = dict(passed)
                given.update(zip(pos, call.args))
                for q in dflt:
                    if (key, q) in is_set:
                        continue
                    if star or (q in given
                                and not forwards_unset(given[q], chain)):
                        is_set.add((key, q))
                        changed = True
    every = {(k, q) for k, (_, dflt) in defs.items() for q in dflt}
    keys = lambda pairs: {f"{k}({q})" for k, q in pairs}  # noqa: E731
    return keys(every - is_set), keys(every)


def test_every_defaulted_parameter_has_a_caller():
    unset, _ = _unset_params()
    unexplained = sorted(unset - set(ALLOWED_PARAMS))
    assert not unexplained, (
        "defaulted parameters no non-test call sets (delete them and "
        "inline the default, or add them to ALLOWED_PARAMS with the test "
        f"that needs them): {unexplained}"
    )


def test_param_allowlist_has_no_stale_entries():
    unset, every = _unset_params()
    stale = sorted(k for k in ALLOWED_PARAMS if k not in every or k not in unset)
    assert not stale, f"ALLOWED_PARAMS entries that are gone or now set: {stale}"
    assert all(reason.strip() for reason in ALLOWED_PARAMS.values())


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
