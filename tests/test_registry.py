"""Registry hygiene for ``__spark_entry__.py``, checked on its source with
stdlib ``ast`` only (no Spark session, no import of the module):

* ``queries()`` and ``oracle_sql()`` name the same rows;
* every module-level definition and import is reachable from ``entry``,
  ``queries`` or ``oracle_sql``, so deleting a row cannot leave its oracle
  text or helpers behind."""

import ast
import os

ENTRY = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "__spark_entry__.py")
ROOTS = ("entry", "queries", "oracle_sql")


def _module():
    with open(ENTRY, encoding="utf-8") as f:
        return ast.parse(f.read())


def _returned_dict_keys(tree, func):
    fn = next(n for n in tree.body
              if isinstance(n, ast.FunctionDef) and n.name == func)
    ret = next(n for n in ast.walk(fn)
               if isinstance(n, ast.Return) and isinstance(n.value, ast.Dict))
    keys = [k.value for k in ret.value.keys]
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
