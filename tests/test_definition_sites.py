"""Definition-site pins, derived from the package source with ``ast``:
the AvailableNow run loop exists once (``streaming.events.
drain_available_now``), and nothing outside the session builder and
the refcounted ``io.maintenance.session_conf_scope`` sets
``spark.sql.shuffle.partitions`` on a live session — a bare get/set/
restore pair races under concurrent driver threads and leaks its value
on an error path that skips the restore. ``functions.dsum`` has one
body, the parsed SQL template, and every call passes it SQL text — a
Column argument would need a second, Column-built body."""

from __future__ import annotations

import ast
from pathlib import Path

import automate_data_ingestion_project_spark as pkg

PKG_ROOT = Path(pkg.__file__).parent
SHUFFLE_KEY = "spark.sql.shuffle.partitions"
# (module path relative to the package, function name)
CONF_SET_ALLOWED = {
    ("session.py", "get_spark"),
    ("io/maintenance.py", "session_conf_scope"),
}


def _modules():
    for path in sorted(PKG_ROOT.rglob("*.py")):
        yield path.relative_to(PKG_ROOT).as_posix(), ast.parse(path.read_text())


def _functions(tree):
    return [
        n
        for n in ast.walk(tree)
        if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
    ]


def _is_available_now_trigger(node) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "trigger"
        and any(
            k.arg == "availableNow"
            and isinstance(k.value, ast.Constant)
            and k.value.value is True
            for k in node.keywords
        )
    )


def _conf_set_keys(fn):
    """The key of every ``<x>.conf.set(key, ...)`` call directly in
    ``fn``: a string literal, a local name bound to one, or None when
    the key is not a constant (a parameter, say)."""
    consts = {}
    for n in ast.walk(fn):
        if (
            isinstance(n, ast.Assign)
            and isinstance(n.value, ast.Constant)
            and isinstance(n.value.value, str)
        ):
            for t in n.targets:
                if isinstance(t, ast.Name):
                    consts[t.id] = n.value.value
    for n in ast.walk(fn):
        if (
            isinstance(n, ast.Call)
            and isinstance(n.func, ast.Attribute)
            and n.func.attr == "set"
            and isinstance(n.func.value, ast.Attribute)
            and n.func.value.attr == "conf"
            and n.args
        ):
            arg = n.args[0]
            if isinstance(arg, ast.Constant):
                yield arg.value
            elif isinstance(arg, ast.Name):
                yield consts.get(arg.id)
            else:
                yield None


def test_available_now_trigger_has_one_definition_site():
    sites = [
        f"{mod}:{n.lineno}"
        for mod, tree in _modules()
        for n in ast.walk(tree)
        if _is_available_now_trigger(n)
    ]
    assert len(sites) == 1, sites
    assert sites[0].startswith("streaming/events.py:"), sites


def test_no_bare_shuffle_width_set_outside_builder_and_scope():
    offenders = [
        f"{mod}:{fn.name}:{key}"
        for mod, tree in _modules()
        for fn in _functions(tree)
        if (mod, fn.name) not in CONF_SET_ALLOWED
        for key in _conf_set_keys(fn)
        if key is None or key == SHUFFLE_KEY
    ]
    assert not offenders, offenders


def _module_str_constants(tree) -> set[str]:
    """Module-level names bound to a string literal or an f-string."""
    return {
        t.id
        for n in tree.body
        if isinstance(n, ast.Assign) and _is_sql_text(n.value, set())
        for t in n.targets
        if isinstance(t, ast.Name)
    }


def _is_sql_text(node, constants: set[str]) -> bool:
    return (
        (isinstance(node, ast.Constant) and isinstance(node.value, str))
        or isinstance(node, ast.JoinedStr)
        or (isinstance(node, ast.Name) and node.id in constants)
    )


def test_every_dsum_call_passes_sql_text():
    calls, offenders = 0, []
    for mod, tree in _modules():
        constants = _module_str_constants(tree)
        for n in ast.walk(tree):
            if isinstance(n, ast.ImportFrom) and any(
                a.name == "dsum" and a.asname for a in n.names
            ):
                offenders.append(f"{mod}:{n.lineno}: dsum imported under an alias")
            if (
                isinstance(n, ast.Call)
                and isinstance(n.func, ast.Name)
                and n.func.id == "dsum"
            ):
                calls += 1
                if n.keywords or len(n.args) != 1 or not _is_sql_text(
                    n.args[0], constants
                ):
                    offenders.append(f"{mod}:{n.lineno}")
    assert calls > 0
    assert not offenders, offenders


def test_dsum_has_one_body_the_parsed_template():
    defs = [
        (mod, n)
        for mod, tree in _modules()
        for n in _functions(tree)
        if n.name == "dsum"
    ]
    assert [mod for mod, _ in defs] == ["functions.py"], defs
    body = [
        st
        for st in defs[0][1].body
        if not (isinstance(st, ast.Expr) and isinstance(st.value, ast.Constant))
    ]
    # return F.expr(dsum_sql(<the argument>))
    assert len(body) == 1 and isinstance(body[0], ast.Return), ast.dump(body[0])
    call = body[0].value
    assert isinstance(call, ast.Call) and ast.unparse(call.func) == "F.expr"
    assert len(call.args) == 1 and isinstance(call.args[0], ast.Call)
    assert ast.unparse(call.args[0].func) == "dsum_sql"
