"""Guard against engine code that only tests reach.

1. Every undecorated top-level function of the package is referenced in
   code by some non-test `.py` file of the repo: a name, an attribute or
   an import. A word in a comment or docstring does not count.
   Decorated functions are reached through their decorator (the
   registry's @register).
   A package `__init__.py` importing from its own package does not
   count: a re-export is not a use.
2. Every defaulted parameter of a top-level package function is set to
   a value other than its default by some non-test call. A parameter
   whose one value in use is its default is a constant, not an option.
3. No required parameter of a top-level package function takes the
   same literal or UPPER_CASE constant at every non-test call. That
   value is a constant too.
4. No package module imports a name it never references.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "bigdatanycdiseasesurveillance_spark"

# function name -> the test that uses it as a reference twin
ALLOWED = {
    "geohash_py": "test_corpus_export.py::test_geohash_sql_matches_python_twin "
    "checks the SQL geohash against this pure-Python twin",
    "knn_per_block": "test_similarity.py::test_knn_gemm_equals_dataframe_variant "
    "checks knn_per_block_gemm against it",
    "embedding_cosine_pairs": "test_dedup.py::test_embedding_pairs_gemm_equals_expression_twin "
    "and test_properties.py check embedding_cosine_pairs_gemm against it",
    "langid_trigram": "test_oracle_parity.py::test_langid_fast_equals_dataframe_variant "
    "checks langid_trigram_fast against it",
    "winnow_fingerprints_rolling": "test_fingerprint.py::test_rolling_twin_equals_column_path "
    "checks it against the column-expression winnow_fingerprints",
    "minhash_md5_pairs": "test_curation.py::test_pair_stats_matches_pair_list "
    "checks minhash_md5_pair_stats against its pair list",
    "prefix_filter_jaccard_pairs": "test_curation.py::test_pair_stats_matches_pair_list "
    "checks jaccard_pair_stats against its pair list",
    "_media_params": "test_multimodal.py::test_real_codec_round_trip checks the "
    "decoded metadata against these closed-form parameters",
    "simhash_pairs": "test_lsh_recall_oracle.py measures its recall against "
    "brute-force Hamming distances",
}

# "function.parameter" -> why it stays although no non-test call sets it
ALLOWED_PARAMS = {
    "get_spark.master": "deployment setting: the Spark master URL",
    "ivf_build.path": "deployment setting: where the centroid table persists",
    "stream_foreachbatch_upsert.gold_dir": "deployment setting: the gold table dir",
    "stream_foreachbatch_upsert.stage_dir": "deployment setting: the staging dir",
    "stream_foreachbatch_upsert.checkpoint_dir": "deployment setting: the checkpoint dir",
    "minhash_lsh_pairs.n_perm": "test_lsh_recall_oracle.py passes it",
    "minhash_lsh_pairs.bands": "test_lsh_recall_oracle.py passes it",
    "minhash_lsh_pairs.threshold": "test_lsh_recall_oracle.py passes it",
    "simhash_pairs.max_hamming": "test_lsh_recall_oracle.py passes it",
    "run_pipeline.schema": "the per-source ingest API; its one non-test "
    "caller is the benchmark harness, which passes the Reddit source's values",
    "run_pipeline.ts_candidates": "the per-source ingest API (see schema)",
    "run_pipeline.id_candidates": "the per-source ingest API (see schema)",
    "distinct_tokens.text": "an expression device: one device(sql_text) "
    "signature shared with sibling devices called on other columns",
    "token_count.text": "an expression device (see distinct_tokens)",
    "stopword_count.text": "an expression device (see distinct_tokens)",
    "sentences.text": "an expression device (see distinct_tokens)",
}


def _non_test_trees() -> list[tuple[Path, ast.Module]]:
    return [
        (p, ast.parse(p.read_text()))
        for p in REPO.rglob("*.py")
        if not {"tests", "history"} & set(p.relative_to(REPO).parts[:-1])
        and not any(part.startswith(".") for part in p.relative_to(REPO).parts)
    ]


def _package_functions(trees) -> dict[str, list[ast.FunctionDef]]:
    defs: dict[str, list[ast.FunctionDef]] = {}
    for p, tree in trees:
        if PKG in p.parents:
            for node in tree.body:
                if isinstance(node, ast.FunctionDef):
                    defs.setdefault(node.name, []).append(node)
    return defs


def _reexports(path: Path, tree: ast.Module) -> set[int]:
    """ids of the import aliases by which a package `__init__.py`
    re-exports names of its own package."""
    if path.name != "__init__.py" or PKG not in path.parents:
        return set()
    return {
        id(alias)
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        and (node.level > 0 or (node.module or "").startswith(PKG.name))
        for alias in node.names
    }


def test_every_package_function_is_reached_outside_tests():
    trees = _non_test_trees()
    names = {
        name
        for name, fns in _package_functions(trees).items()
        if any(not fn.decorator_list for fn in fns)
    }
    referenced = set()
    for p, tree in trees:
        reexports = _reexports(p, tree)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias) and id(node) not in reexports:
                referenced.add(node.name.rsplit(".", 1)[-1])
    unreached = sorted(names - referenced - ALLOWED.keys())
    assert not unreached, f"package functions only tests reach: {unreached}"


def _calls(trees, defs) -> dict[str, list[ast.Call]]:
    """Every non-test call of a package function, by function name."""
    calls: dict[str, list[ast.Call]] = {}
    for _, tree in trees:
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name in defs:
                    calls.setdefault(name, []).append(node)
    return calls


def _spreads(call: ast.Call) -> bool:
    """A call with `*` or `**`, which may fill any parameter."""
    return any(isinstance(a, ast.Starred) for a in call.args) or any(
        k.arg is None for k in call.keywords
    )


def _values(call: ast.Call, param: str, index: int | None) -> list[ast.expr]:
    """What `call` passes for `param`, by keyword or by position."""
    values = [k.value for k in call.keywords if k.arg == param]
    if index is not None and index < len(call.args):
        values.append(call.args[index])
    return values


def _defaulted(fn: ast.FunctionDef):
    """(name, default, positional index or None) per defaulted parameter."""
    a = fn.args
    positional = a.posonlyargs + a.args
    first = len(positional) - len(a.defaults)
    for i, (arg, default) in enumerate(zip(positional[first:], a.defaults), first):
        yield arg.arg, default, i
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is not None:
            yield arg.arg, default, None


def test_every_defaulted_parameter_is_set_outside_tests():
    """Calls resolve by function name; a name defined twice in the
    package is skipped, and a call with `*` or `**` counts as setting
    every parameter."""
    trees = _non_test_trees()
    defs = _package_functions(trees)
    calls = _calls(trees, defs)

    def is_set(name: str, param: str, default: ast.expr, index: int | None) -> bool:
        for call in calls.get(name, []):
            if _spreads(call) or any(
                ast.dump(v) != ast.dump(default) for v in _values(call, param, index)
            ):
                return True
        return False

    unset = sorted(
        f"{name}.{param}"
        for name, fns in defs.items()
        if len(fns) == 1
        for param, default, index in _defaulted(fns[0])
        if not is_set(name, param, default, index)
    )
    unset = [p for p in unset if p not in ALLOWED_PARAMS]
    assert not unset, f"defaulted parameters no non-test call sets: {unset}"


def _required(fn: ast.FunctionDef):
    """(name, positional index or None) per parameter without a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    for i, arg in enumerate(positional[: len(positional) - len(a.defaults)]):
        yield arg.arg, i
    for arg, default in zip(a.kwonlyargs, a.kw_defaults):
        if default is None:
            yield arg.arg, None


def _is_constant(node: ast.expr) -> bool:
    """A literal, or an UPPER_CASE name or attribute (a module constant)."""
    try:
        ast.literal_eval(node)
        return True
    except (ValueError, TypeError):
        name = node.id if isinstance(node, ast.Name) else getattr(node, "attr", None)
        return name is not None and name.lstrip("_").isupper()


def test_no_required_parameter_takes_one_constant_outside_tests():
    """Calls resolve as above. A function some call reaches with `*` or
    `**` is not judged, nor is a parameter some call fills with any
    other expression (a variable, a call, an f-string)."""
    trees = _non_test_trees()
    defs = _package_functions(trees)
    calls = _calls(trees, defs)
    single = []
    for name, fns in defs.items():
        sites = calls.get(name, [])
        if len(fns) != 1 or not sites or any(_spreads(c) for c in sites):
            continue
        for param, index in _required(fns[0]):
            values = [v for c in sites for v in _values(c, param, index)]
            if (
                values
                and all(_is_constant(v) for v in values)
                and len({ast.dump(v) for v in values}) == 1
            ):
                single.append(f"{name}.{param}")
    single = sorted(p for p in single if p not in ALLOWED_PARAMS)
    assert not single, (
        f"required parameters every non-test call passes one constant: {single}"
    )


def test_no_package_module_imports_a_name_it_never_uses():
    """A name counts as used when the module reads it anywhere. Skipped:
    `from __future__`, a package `__init__.py`'s re-exports, and an
    import marked `# noqa: F401`, kept for its side effect."""
    unused = []
    for p, tree in _non_test_trees():
        if PKG not in p.parents:
            continue
        lines = p.read_text().splitlines()
        reexports = _reexports(p, tree)
        used = {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
        for node in ast.walk(tree):
            if (
                not isinstance(node, (ast.Import, ast.ImportFrom))
                or getattr(node, "module", None) == "__future__"
                or "noqa: F401" in lines[node.lineno - 1]
            ):
                continue
            for alias in node.names:
                name = alias.asname or alias.name.split(".")[0]
                if id(alias) not in reexports and name not in used:
                    unused.append(f"{p.relative_to(REPO)}:{node.lineno} {name}")
    assert not unused, f"imported names the module never uses: {unused}"
