"""Every defaulted parameter of a `miekki/` function has a caller.

The rule, applied to the AST of every `.py` file under CALLER_PATHS:
a parameter counts as passed when some call to a function of that name
(`f(...)` or `obj.f(...)`) passes it. A keyword argument passes that
parameter; N positional arguments pass every parameter before index N
(`self`/`cls` not counted for methods); `*args` passes every positional
parameter and `**kwargs` every parameter. A defaulted parameter that no
call passes advertises a configuration nothing runs, so it is either
written into the body as a constant or listed in ALLOWED with why it
stays."""

import ast
import os

import pytest

pytestmark = pytest.mark.fast

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CALLER_PATHS = ("miekki", "scripts", "tests", "perfbench", "bench.py",
                "__spark_entry__.py")

ALLOWED = {
    ("append", "partition_by"):
        "perfbench's TimingCatalog forwards it; goes with the benchmark",
    ("iceberg_corpus_ddl", "table"): "deployment setting: the table name",
    ("run_incremental_stream", "available_now"):
        "deployment setting: the streaming trigger mode",
}

ALL = float("inf")


def _py_files(paths):
    for p in paths:
        full = os.path.join(ROOT, p)
        if full.endswith(".py"):
            yield full
            continue
        for d, _, names in os.walk(full):
            yield from (os.path.join(d, n) for n in sorted(names)
                        if n.endswith(".py"))


def _parse(path):
    with open(path) as f:
        return ast.parse(f.read(), path)


def _defaulted(tree):
    """(name, param, positional index or None) for every defaulted
    parameter of every def; the index skips a method's self/cls."""
    methods = {id(f) for c in ast.walk(tree) if isinstance(c, ast.ClassDef)
               for f in c.body
               if isinstance(f, (ast.FunctionDef, ast.AsyncFunctionDef))
               and not any(isinstance(d, ast.Name) and d.id == "staticmethod"
                           for d in f.decorator_list)}
    for fn in ast.walk(tree):
        if not isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef)):
            continue
        a = fn.args
        pos = a.posonlyargs + a.args
        skip = 1 if id(fn) in methods else 0
        for i, arg in enumerate(pos[len(pos) - len(a.defaults):],
                                len(pos) - len(a.defaults)):
            yield fn.name, arg.arg, i - skip
        for arg, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                yield fn.name, arg.arg, None


def _passed(trees):
    """name -> (max positional count, keywords passed)."""
    out = {}
    for tree in trees:
        for c in ast.walk(tree):
            if not isinstance(c, ast.Call):
                continue
            f = c.func
            name = (f.id if isinstance(f, ast.Name) else
                    f.attr if isinstance(f, ast.Attribute) else None)
            if name is None:
                continue
            npos, kws = out.get(name, (0, set()))
            npos = max(npos, ALL if any(isinstance(x, ast.Starred)
                                        for x in c.args) else len(c.args))
            for k in c.keywords:
                if k.arg is None:
                    npos = ALL
                    kws = kws | {None}
                else:
                    kws = kws | {k.arg}
            out[name] = (npos, kws)
    return out


def unpassed():
    trees = {p: _parse(p) for p in _py_files(CALLER_PATHS)}
    passed = _passed(trees.values())
    found = []
    for path in _py_files(("miekki",)):
        for name, param, idx in _defaulted(trees[path]):
            npos, kws = passed.get(name, (0, set()))
            if param in kws or None in kws:
                continue
            if idx is not None and idx < npos:
                continue
            found.append((os.path.relpath(path, ROOT), name, param))
    return found


def test_every_defaulted_parameter_has_a_caller():
    left = [f"{p}: {n}({a})" for p, n, a in unpassed()
            if (n, a) not in ALLOWED]
    assert not left, (f"{len(left)} defaulted parameters no call site "
                      "passes:\n" + "\n".join(left))


def test_allowlist_is_not_stale():
    """Each allowed parameter still exists and still has no caller."""
    found = {(n, a) for _, n, a in unpassed()}
    assert set(ALLOWED) <= found, set(ALLOWED) - found
