"""Guard against dead package code regrowing.

Every module-level function, class and assignment in ``ts_process_spark``
must be named somewhere besides its own definition: in the package, the
jobs, tools, tests, perfbench or the root-level scripts.  A name that
code names exactly once across those ``.py`` files is a definition
nothing calls, and should be deleted rather than kept alive.

Only code counts, read from the syntax tree: identifiers, attributes,
imports, f-string fields and identifier-only string literals (dynamic
lookups).  A name cited in a comment or a docstring keeps nothing
alive.  No Spark session is needed.

Options regrow the same way: a defaulted parameter that no call ever
passes is a constant with a name, and any branch it selects never runs.
The second check walks the call sites of every package function and
fails on a defaulted parameter none of them sets.

Tests do not count as callers in the last two checks: package code that
only a test names, and a parameter that only a test passes, ship a path
production never runs.  Each such finding is deleted, or listed in
``TEST_ONLY_DEFINITIONS`` / ``TEST_ONLY_PARAMETERS`` with one of the
reasons below.  An entry whose name is gone, or that a non-test caller
now names, fails too, so the lists cannot rot.
"""

from __future__ import annotations

import ast
import re
from collections import Counter, defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "ts_process_spark"
SCANNED_DIRS = ("ts_process_spark", "jobs", "tools", "tests", "perfbench")


# why a finding of the test-only checks stays in the package
REFERENCE = "reference capability with a COVERAGE.md row"
ORACLE = "oracle twin or oracle switch of a production path"
DRIVER = "only driver of a public path"
TEST_HOOK = "crash injection, or a size or subset tests cut to test scale"
FIXTURE = "fixture source (encoder or generator) tests build inputs with"

TEST_ONLY_DEFINITIONS = {
    "encode_avi": FIXTURE,
    "encode_png": FIXTURE,
    "encode_jpeg": FIXTURE,
    "encode_jpeg_progressive": FIXTURE,
    "encode_gif": FIXTURE,
    "signals": FIXTURE,
    "derivative": REFERENCE,
    "extract_video_metadata": REFERENCE,
    "sample_video_frames": REFERENCE,
    "sample_by_rate": REFERENCE,
    "pq_train_kmeans": REFERENCE,
    "read_bbp": REFERENCE,
    "read_bbp_bulk": REFERENCE,
    "read_hercules": REFERENCE,
    "hercules_to_bbp": REFERENCE,
    "write_bbp": REFERENCE,
    "interp_fft": REFERENCE,
    "get_periods": REFERENCE,
    "resample_signals": REFERENCE,
    "integrate_signals": REFERENCE,
    "rotate_station": REFERENCE,
    "response_spectrum": REFERENCE,
    "resize_images": REFERENCE,
    "upsample_epochs": REFERENCE,
    "assign_split": REFERENCE,
    "semantic_dedup_keep": REFERENCE,
    "read_awp": REFERENCE,
    "read_rwg": REFERENCE,
    "read_smc_signals": REFERENCE,
    "read_smc_metadata": REFERENCE,
    "write_hercules": REFERENCE,
    "station_to_signal_table": REFERENCE,
    "simhash_pairs_exact": ORACLE,
    "encode_dod": ORACLE,
    "encode_gorilla": ORACLE,
    "concat_blobs": ORACLE,
    "plan_synchronization": ORACLE,
    "SQL_SESSIONIZE": ORACLE,
    "SQL_PRICING_SUMMARY": ORACLE,
    "SQL_TOP3_PER_SUPPLIER": ORACLE,
    "run_stream_to_memory": DRIVER,
    "run_sessionize_stream_to_memory": DRIVER,
    "run_interval_join_to_memory": DRIVER,
}

TEST_ONLY_PARAMETERS = {
    "encode_avi(fps_den)": FIXTURE,
    "encode_flac(bps)": FIXTURE,
    "encode_flac(blocksize)": FIXTURE,
    "encode_flac(subframe)": FIXTURE,
    "encode_flac(partition_order)": FIXTURE,
    "encode_jpeg_progressive(restart_interval)": FIXTURE,
    "smooth(factor)": REFERENCE,
    "pad_for_highpass(order)": REFERENCE,
    "pad_for_highpass(existing)": REFERENCE,
    "integrate_signals(col)": REFERENCE,
    "integrate_signals(out)": REFERENCE,
    "response_spectrum(periods)": REFERENCE,
    "sample_video_frames(every_k)": REFERENCE,
    "resize_images(out_w)": REFERENCE,
    "resize_images(out_h)": REFERENCE,
    "resize_images(factor)": REFERENCE,
    "resize_images(method)": REFERENCE,
    "sample_by_rate(salt)": REFERENCE,
    "upsample_epochs(salt)": REFERENCE,
    "semantic_dedup_keep(n_cells)": REFERENCE,
    "semantic_dedup_keep(threshold)": REFERENCE,
    "hercules_to_bbp(quantity)": REFERENCE,
    "write_bbp(units)": REFERENCE,
    "write_bbp(lp)": REFERENCE,
    "write_bbp(hp)": REFERENCE,
    "write_bbp(padding)": REFERENCE,
    "read_smc_signals(version)": REFERENCE,
    "read_smc_metadata(version)": REFERENCE,
    "station_to_signal_table(measure)": REFERENCE,
    # trained codebooks: pq_train_kmeans and the indexes that take one
    "pq_train_kmeans(m)": REFERENCE,
    "pq_train_kmeans(n_codes)": REFERENCE,
    "pq_train_kmeans(n_iters)": REFERENCE,
    "ivf_ann_topk(codebook)": REFERENCE,
    "ivfpq_ann_topk(ivf_codebook)": REFERENCE,
    "dedup_keep_list(id_col)": REFERENCE,
    "train_centroid_classifier(n_features)": REFERENCE,
    "simhash_pairs_exact(max_hamming)": ORACLE,
    "span_dedup_keep(hash_mode)": ORACLE,
    "embedding_neardup_pairs(exact)": ORACLE,
    "semantic_dedup_stats(arrow_pairwise)": ORACLE,
    "train_centroid_classifier(hash_mode)": ORACLE,
    "_sql_doc_decontam(n)": ORACLE,
    "_sql_emb_semdedup(threshold)": ORACLE,
    "run_sessionize_stream_to_memory(gap_s)": DRIVER,
    "run_interval_join_to_memory(max_delay_s)": DRIVER,
    "backfill(fail_after)": TEST_HOOK,
    "run_curation(fail_after)": TEST_HOOK,
    "filter_signals(chunk_threshold)": TEST_HOOK,
    "filter_signals(chunk_size)": TEST_HOOK,
    "filter_signals(chunk_overlap)": TEST_HOOK,
    "_bucket_pairs(max_bucket)": TEST_HOOK,
    "wordset_jaccard_pairs(allow_unblocked)": TEST_HOOK,
    "connected_components(max_iter)": TEST_HOOK,
    "transcripts(median_turns)": TEST_HOOK,
    "signals(cases)": TEST_HOOK,
    "signals(n)": TEST_HOOK,
}


def _scanned_files(tests: bool = True):
    yield from REPO.glob("*.py")
    for d in SCANNED_DIRS:
        if tests or d != "tests":
            yield from (REPO / d).rglob("*.py")


def _module_level_names(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                             ast.ClassDef)):
            yield node.name, node.lineno
            continue
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, ast.AnnAssign):
            targets = [node.target]
        else:
            continue
        for target in targets:
            for sub in ast.walk(target):
                if isinstance(sub, ast.Name):
                    yield sub.id, node.lineno


def _docstrings(tree: ast.Module):
    for node in ast.walk(tree):
        if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef,
                             ast.AsyncFunctionDef)):
            first = node.body[0] if node.body else None
            if (isinstance(first, ast.Expr)
                    and isinstance(first.value, ast.Constant)
                    and isinstance(first.value.value, str)):
                yield first.value


def _code_names(source: str) -> Counter:
    """How often code in ``source`` names each identifier: ``Name`` ids
    (f-string fields included), ``Attribute`` attrs, imported names,
    ``def``/``class`` names, and string constants that are exactly an
    identifier (dynamic lookups such as ``getattr(mod, "name")``).
    Comments and docstrings name nothing."""
    tree = ast.parse(source)
    docstrings = set(map(id, _docstrings(tree)))
    names = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names[node.id] += 1
        elif isinstance(node, ast.Attribute):
            names[node.attr] += 1
        elif isinstance(node, ast.alias):
            names.update(node.name.split("."))
            if node.asname:
                names[node.asname] += 1
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                               ast.ClassDef)):
            names[node.name] += 1
        elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
              and node.value.isidentifier() and id(node) not in docstrings):
            names[node.value] += 1
    return names


def _unreferenced(files) -> dict[str, str]:
    """Each package definition code names at most once across ``files``
    (its own definition), mapped to where it is defined."""
    named = Counter()
    for path in files:
        named.update(_code_names(path.read_text()))

    unreferenced = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for name, lineno in _module_level_names(tree):
            if name.startswith("__") and name.endswith("__"):
                continue
            if named[name] <= 1:
                rel = path.relative_to(REPO)
                unreferenced[name] = f"{rel}:{lineno} {name}"
    return unreferenced


def test_only_code_counts_as_naming():
    names = _code_names('''"""Module docstring citing in_module_doc."""
from pkg import imported_name
from pkg.sub import orig as alias_name

# in_comment is cited here


class Box:
    """in_class_doc"""

    def f(self):
        """Function docstring citing in_func_doc."""
        return mod.attr_name, f"{fstring_name}", "lookup_name", "two words"
''')
    for cited in ("in_module_doc", "in_comment", "in_class_doc",
                  "in_func_doc", "two", "words"):
        assert names[cited] == 0, cited
    for used in ("imported_name", "alias_name", "attr_name", "fstring_name",
                 "lookup_name", "Box", "f"):
        assert names[used] == 1, used


def test_every_package_definition_is_named_elsewhere():
    unreferenced = list(_unreferenced(_scanned_files()).values())
    assert not unreferenced, (
        "module-level definitions nothing names:\n  "
        + "\n  ".join(unreferenced)
    )


def _defaulted_params(fn: ast.FunctionDef):
    """(position or None, name) of each parameter that has a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    for i, arg in enumerate(pos[first:], start=first):
        yield i, arg.arg
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield None, arg.arg


def _passes(call: ast.Call, position, name) -> bool:
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    if position is None:
        return False
    return (len(call.args) > position
            or any(isinstance(a, ast.Starred) for a in call.args))


def _unpassed(files) -> dict[str, str]:
    """Each ``func(param)`` no call in ``files`` passes, mapped to where
    ``func`` is defined; ``{}`` keys every defaulted parameter."""
    defs = defaultdict(list)
    for path in sorted(PACKAGE.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if isinstance(node, ast.FunctionDef):
                defs[node.name].append((path, node))

    calls = defaultdict(list)
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Call):
                continue
            func = node.func
            if isinstance(func, ast.Name):
                calls[func.id].append(node)
            elif isinstance(func, ast.Attribute):
                calls[func.attr].append(node)

    unpassed = {}
    for name, found in defs.items():
        if len(found) != 1:
            continue
        path, fn = found[0]
        for position, param in _defaulted_params(fn):
            if not any(_passes(c, position, param) for c in calls[name]):
                rel = path.relative_to(REPO)
                unpassed[f"{name}({param})"] = f"{rel}:{fn.lineno} {name}({param})"
    return unpassed


def test_every_defaulted_parameter_is_passed():
    """A call matches a package function by name alone (``f(...)`` or
    ``x.f(...)``) and passes a parameter by keyword, by position, or by
    a ``*``/``**`` splat.  Names defined more than once in the package
    are skipped: their calls cannot be told apart."""
    unpassed = list(_unpassed(_scanned_files()).values())
    assert not unpassed, (
        f"{len(unpassed)} defaulted parameters no call passes; fold each "
        "into a constant:\n  " + "\n  ".join(unpassed)
    )


def _allowlist_problems(found: dict[str, str], allowed: dict[str, str],
                        defined: set[str]) -> list[str]:
    """Findings not on the allowlist, plus stale or unfounded entries."""
    reasons = {REFERENCE, ORACLE, DRIVER, TEST_HOOK, FIXTURE}
    coverage = (REPO / "COVERAGE.md").read_text()
    problems = [f"{where}: no non-test caller" for key, where in found.items()
                if key not in allowed]
    for key, reason in allowed.items():
        func = key.split("(")[0]
        if key not in defined:
            problems.append(f"{key}: allowlisted but no longer defined")
        elif key not in found:
            problems.append(f"{key}: allowlisted but a non-test caller names it")
        if reason not in reasons:
            problems.append(f"{key}: unknown reason {reason!r}")
        elif reason == REFERENCE and not re.search(rf"\b{func}\b", coverage):
            problems.append(f"{key}: REFERENCE but COVERAGE.md never names {func}")
    return problems


def test_every_package_definition_has_a_non_test_caller():
    """The first check with ``tests/`` left out of the callers."""
    problems = _allowlist_problems(
        _unreferenced(_scanned_files(tests=False)),
        TEST_ONLY_DEFINITIONS,
        defined=set(_unreferenced([])),
    )
    assert not problems, (
        "delete each test-only definition, or allowlist it in "
        "TEST_ONLY_DEFINITIONS with a reason:\n  " + "\n  ".join(problems)
    )


def test_every_defaulted_parameter_has_a_non_test_caller():
    """The second check with ``tests/`` left out of the callers."""
    problems = _allowlist_problems(
        _unpassed(_scanned_files(tests=False)),
        TEST_ONLY_PARAMETERS,
        defined=set(_unpassed([])),
    )
    assert not problems, (
        "fold each test-only parameter into a constant, or allowlist it in "
        "TEST_ONLY_PARAMETERS with a reason:\n  " + "\n  ".join(problems)
    )
