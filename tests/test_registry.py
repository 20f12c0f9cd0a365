"""Registry hygiene for ``__spark_entry__.py``, checked on its source with
stdlib ``ast`` only (no Spark session, no import of the module):

* ``queries()`` and ``oracle_sql()`` name the same rows;
* every row name in ``bench.py``'s ``SINGLE_REP`` set is a row, so a
  deleted row's name cannot linger there doing nothing;
* every module-level definition and import is reachable from ``entry``,
  ``queries`` or ``oracle_sql``, so deleting a row cannot leave its oracle
  text or helpers behind;
* every ``imagery_utils_spark`` import in the repo's Python, at module
  level or inside a function, names an existing module and a name that
  module defines, so deleting a module cannot leave a lazy import that
  fails only when its function runs;
* every package module is imported by some non-test Python file (the
  entry module, the root scripts, ``perfbench/`` or another package
  module), so deleting a module's last caller cannot leave the module
  behind for its tests alone;
* every name in a package module's ``__all__`` is bound at that module's top
  level, so deleting a function cannot leave its name exported;
* every public top-level function or class of a package module is named
  somewhere in the repo's Python (an ``__all__`` string does not count), so
  deleting a function's last caller cannot leave the function behind;
* no package module calls Spark's ``decode``, which fails the whole query
  on one row of invalid UTF-8 (a cast to string wraps the bytes instead);
* every backticked name in the battery column of a ``COVERAGE.md`` table is
  a row, so the coverage map cannot name a deleted row as live;
* every row reaches an ``imagery_utils_spark`` operator or is the battery
  entry of a SURVEY §2 operator in ``COVERAGE.md``, apart from a named set
  of off-paper rows, so a row that only exercises Spark SQL cannot be
  added silently."""

import ast
import functools
import glob
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENTRY = os.path.join(REPO, "__spark_entry__.py")
BENCH = os.path.join(REPO, "bench.py")
COVERAGE = os.path.join(REPO, "COVERAGE.md")
PACKAGE = "imagery_utils_spark"
ROOTS = ("entry", "queries", "oracle_sql")


def _module():
    with open(ENTRY, encoding="utf-8") as f:
        return ast.parse(f.read())


def _returned_dict(tree, func):
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == func)
    return next(n.value for n in ast.walk(fn)
                if isinstance(n, ast.Return) and isinstance(n.value, ast.Dict))


def _returned_dict_keys(tree, func):
    keys = [k.value for k in _returned_dict(tree, func).keys]
    assert all(isinstance(k, str) for k in keys), func
    assert len(keys) == len(set(keys)), f"{func}: duplicate keys"
    return set(keys)


def _bound_names(stmt):
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return {stmt.name}
    if isinstance(stmt, ast.ImportFrom) and stmt.module == "__future__":
        return set()
    if isinstance(stmt, (ast.Import, ast.ImportFrom)):
        return {(a.asname or a.name).split(".")[0] for a in stmt.names}
    if isinstance(stmt, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
        targets = stmt.targets if isinstance(stmt, ast.Assign) else [stmt.target]
        return {n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)}
    return set()


def _loaded_names(node):
    return {n.id for n in ast.walk(node) if isinstance(n, ast.Name)}


def test_queries_and_oracles_name_the_same_rows():
    tree = _module()
    rows = _returned_dict_keys(tree, "_raw_queries")
    oracles = _returned_dict_keys(tree, "oracle_sql")
    assert rows == oracles, (
        f"queries without oracle: {sorted(rows - oracles)}; "
        f"oracles without query: {sorted(oracles - rows)}")


def test_bench_single_rep_names_existing_rows():
    with open(BENCH, encoding="utf-8") as f:
        bench = ast.parse(f.read())
    sets = [n.value for n in ast.walk(bench) if isinstance(n, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "SINGLE_REP"
                    for t in n.targets)]
    assert len(sets) == 1 and isinstance(sets[0], ast.Set)
    names = {e.value for e in sets[0].elts}
    rows = _returned_dict_keys(_module(), "_raw_queries")
    assert sorted(names - rows) == []


def test_every_module_level_name_is_reachable():
    tree = _module()
    defs = {}
    work = list(ROOTS)
    for stmt in tree.body:
        names = _bound_names(stmt)
        for name in names:
            defs.setdefault(name, []).append(stmt)
        if not names:  # bare statements run at import: what they use is live
            work.extend(_loaded_names(stmt))
    live = set()
    while work:
        name = work.pop()
        if name in live or name not in defs:
            continue
        live.add(name)
        for stmt in defs[name]:
            work.extend(_loaded_names(stmt))
    assert all(r in defs for r in ROOTS)
    assert sorted(set(defs) - live) == []


def _module_file(dotted):
    """The source file of a repo module, or None if there is none."""
    base = os.path.join(REPO, *dotted.split("."))
    for path in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(path):
            return path
    return None


@functools.lru_cache(maxsize=None)
def _top_level_names(path):
    with open(path, encoding="utf-8") as f:
        return set().union(*map(_bound_names, ast.parse(f.read()).body))


def _package_imports(path):
    """(lineno, module, names) for each import of the package in a file;
    ``names`` is empty for a plain ``import a.b``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    rel = os.path.relpath(path, REPO)[:-len(".py")].split(os.sep)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PACKAGE:
                    yield node.lineno, a.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = rel[:len(rel) - node.level]
                module = ".".join(parts + ([node.module] if node.module else []))
            else:
                module = node.module or ""
            if module.split(".")[0] == PACKAGE:
                yield node.lineno, module, [a.name for a in node.names]


def _python_files():
    """The repo's Python: the package, ``perfbench/``, ``tests/`` and the
    root scripts."""
    return (glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
            + glob.glob(os.path.join(REPO, "perfbench", "*.py"))
            + glob.glob(os.path.join(REPO, "tests", "*.py"))
            + glob.glob(os.path.join(REPO, "*.py")))


def test_every_package_import_resolves():
    checked, dangling = 0, []
    for path in sorted(_python_files()):
        for lineno, module, names in _package_imports(path):
            checked += 1
            where = f"{os.path.relpath(path, REPO)}:{lineno}"
            target = _module_file(module)
            if target is None:
                dangling.append(f"{where}: no module {module}")
                continue
            defined = _top_level_names(target)
            for name in names:
                if name != "*" and name not in defined \
                        and _module_file(f"{module}.{name}") is None:
                    dangling.append(f"{where}: {module} has no {name}")
    assert checked > 100, checked  # the scan must see the repo's imports
    assert dangling == []


# Imported by tests alone today. ROADMAP item 2 (the mosaic pipeline) must
# give each a production caller or delete it; then drop it from this set.
TEST_ONLY_MODULES = {
    "imagery_utils_spark/sources/layout.py",
    "imagery_utils_spark/sources/sidecar.py",
}


def test_every_package_module_has_a_non_test_importer():
    imported = set()
    for path in _python_files():
        if os.path.dirname(path) == os.path.join(REPO, "tests") \
                or os.path.basename(path).startswith("test_"):
            continue
        for _, module, names in _package_imports(path):
            # ``from pkg import mod`` imports the submodule; importing a
            # submodule runs each enclosing package's __init__
            for dotted in [module] + [f"{module}.{n}" for n in names]:
                parts = dotted.split(".")
                for i in range(1, len(parts) + 1):
                    target = _module_file(".".join(parts[:i]))
                    if target is not None and target != path:
                        imported.add(os.path.relpath(target, REPO))
    modules = {os.path.relpath(p, REPO) for p in
               glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)}
    assert len(modules) > 50, len(modules)  # the scan must see the package
    assert sorted(modules - imported) == sorted(TEST_ONLY_MODULES)


def _all_names(path):
    """The strings of a module's ``__all__`` list, or None if it has none."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    for stmt in tree.body:
        if isinstance(stmt, ast.Assign) and "__all__" in _bound_names(stmt):
            return [e.value for e in stmt.value.elts]
    return None


def test_every_all_name_is_bound():
    files = glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    checked, stale = 0, []
    for path in sorted(files):
        names = _all_names(path)
        if names is None:
            continue
        checked += 1
        defined = _top_level_names(path)
        stale += [f"{os.path.relpath(path, REPO)}: {n}" for n in names if n not in defined]
    assert checked > 30, checked  # the scan must see the package's __all__ lists
    assert stale == []


def _named_anywhere():
    """Every name the repo's Python loads, reads as an attribute or imports
    with ``from ... import``."""
    named = set()
    for path in _python_files():
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                named.add(node.id)
            elif isinstance(node, ast.Attribute):
                named.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                named |= {a.name for a in node.names}
    return named


def test_every_public_package_function_is_named():
    named = _named_anywhere()
    files = glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    checked, unnamed = 0, []
    for path in sorted(files):
        with open(path, encoding="utf-8") as f:
            tree = ast.parse(f.read())
        for stmt in tree.body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)) \
                    and not stmt.name.startswith("_"):
                checked += 1
                if stmt.name not in named:
                    unnamed.append(f"{os.path.relpath(path, REPO)}:{stmt.lineno}: {stmt.name}")
    assert checked > 100, checked  # the scan must see the package
    assert unnamed == []


def _spark_decode_calls(path):
    """(lineno, text) of each use of ``pyspark.sql.functions.decode`` in a
    file: a call through a module alias, or an import of the name."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read())
    aliases = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql":
            aliases |= {a.asname or a.name for a in node.names if a.name == "functions"}
        elif isinstance(node, ast.Import):
            aliases |= {a.asname for a in node.names
                        if a.name == "pyspark.sql.functions" and a.asname}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.module == "pyspark.sql.functions" \
                and any(a.name == "decode" for a in node.names):
            yield node.lineno, "import of decode"
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) \
                and node.func.attr == "decode" and isinstance(node.func.value, ast.Name) \
                and node.func.value.id in aliases:
            yield node.lineno, f"{node.func.value.id}.decode(...)"


def test_package_never_calls_spark_decode():
    files = glob.glob(os.path.join(REPO, PACKAGE, "**", "*.py"), recursive=True)
    found = [f"{os.path.relpath(path, REPO)}:{lineno}: {what}"
             for path in sorted(files) for lineno, what in _spark_decode_calls(path)]
    assert found == []


def _coverage_table_rows():
    """(line number, header cells, cells, whether the table is one of the
    SURVEY §2 tables above the "Training-data extensions" heading) for each
    body row of a ``COVERAGE.md`` table."""
    with open(COVERAGE, encoding="utf-8") as f:
        lines = f.read().split("\n")
    header = None  # None outside a table
    survey = True
    for lineno, line in enumerate(lines, 1):
        if line.startswith("## Training-data extensions"):
            survey = False
        if not line.startswith("|"):
            header = None
            continue
        cells = [c.strip() for c in line.strip().strip("|").split("|")]
        if header is None:
            header = cells
        elif not cells[0].startswith("-"):
            yield lineno, header, cells, survey


def _backticked(cell):
    return cell.split("`")[1::2]


def _coverage_battery_names():
    """(line number, name) for each backticked name in the last column of a
    ``COVERAGE.md`` table whose header calls that column the battery, on
    rows whose implementation cell does not start with "removed"."""
    for lineno, header, cells, _ in _coverage_table_rows():
        if header[-1].startswith("battery") and not cells[1].startswith("removed"):
            for name in _backticked(cells[-1]):
                yield lineno, name


def test_coverage_names_only_live_rows():
    rows = _returned_dict_keys(_module(), "_raw_queries")
    found = list(_coverage_battery_names())
    assert len(found) > 100, len(found)  # the scan must see the tables
    assert [f"COVERAGE.md:{n}: {name}" for n, name in found
            if name not in rows] == []


# The package names a row may use without exercising an operator: the table
# scan and the small-input spread wrap every kind of query alike.
GENERIC_PACKAGE_NAMES = {"load", "spread_small_input"}


def _imported_package_names(node):
    """The names an import node takes from the package, other than the
    generic ones; a plain ``import pkg.mod`` takes the module itself."""
    if isinstance(node, ast.ImportFrom) and not node.level \
            and (node.module or "").split(".")[0] == PACKAGE:
        return {a.name for a in node.names} - GENERIC_PACKAGE_NAMES
    if isinstance(node, ast.Import):
        return {a.name for a in node.names if a.name.split(".")[0] == PACKAGE}
    return set()


def _rows_reaching_the_package(tree):
    """The rows whose ``q_`` function reaches a package name other than the
    generic ones, directly or through the entry module's helpers, with the
    import at module level or local to a function."""
    defs, reaching = {}, set()
    for stmt in tree.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            taken = _imported_package_names(stmt)
            reaching |= {(a.asname or a.name).split(".")[0] for a in stmt.names
                         if a.name in taken}
            continue
        for name in _bound_names(stmt):
            defs.setdefault(name, []).append(stmt)
    grew = True
    while grew:  # a helper reaches the package if anything it uses does
        grew = False
        for name, stmts in defs.items():
            if name not in reaching and any(
                    _loaded_names(s) & reaching
                    or any(map(_imported_package_names, ast.walk(s)))
                    for s in stmts):
                reaching.add(name)
                grew = True
    registry = _returned_dict(tree, "_raw_queries")
    return {k.value for k, v in zip(registry.keys, registry.values)
            if v.id in reaching}


# Rows that neither reach a package operator nor stand for a SURVEY §2
# operator: the hash trio, whose murmur3/xxh64/crc oracles
# tests/test_hash_internals.py pins. ROADMAP item 3 deletes the three rows
# together with that test file. A new row must exercise the package to join
# the battery.
OFF_PAPER_ROWS = {"hash_partition", "xxhash_shard", "crc32_digest"}


def test_every_row_exercises_the_package():
    tree = _module()
    rows = _returned_dict_keys(tree, "_raw_queries")
    survey = {name for _, _, cells, in_survey in _coverage_table_rows()
              if in_survey and not cells[1].startswith("removed")
              for name in _backticked(cells[-1])}
    assert len(survey & rows) > 50, sorted(survey & rows)  # the scan must see the tables
    off = rows - _rows_reaching_the_package(tree) - survey
    assert sorted(off - OFF_PAPER_ROWS) == []  # rows that exercise no operator
    assert sorted(OFF_PAPER_ROWS - off) == []  # deleted, or now on the paper
