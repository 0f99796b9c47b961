"""Parameter census: every defaulted parameter of a library function is
set by some call site, so no option in ``project_bigdata_spark/`` has a
single value in use.

The rule, on the AST only (no Spark, no imports of the package):

- the library is every function defined at module level in a ``.py`` file
  under ``project_bigdata_spark/``, except ``@query`` builders, which the
  catalog registry calls;
- the call sites are every call in every ``.py`` file of the repo outside
  dot-directories (package, tests, tools, ``bench.py``, ``perfbench/``),
  matched to a library function by bare or attribute name;
- a defaulted parameter counts as set when some call to a function of that
  name passes it as a keyword, passes enough positional arguments to
  reach it, or passes ``*args`` / ``**kwargs``.

A finding names ``file:line function(param)``: use the default where the
parameter was used, and delete the parameter.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO_ROOT = Path(__file__).resolve().parent.parent
LIBRARY = "project_bigdata_spark"


def _is_query_builder(fn: ast.FunctionDef) -> bool:
    return any(
        isinstance(d, ast.Call)
        and isinstance(d.func, ast.Name)
        and d.func.id == "query"
        for d in fn.decorator_list
    )


def _defaulted(fn: ast.FunctionDef) -> list[tuple[str, int | None]]:
    """(name, positional index or None for keyword-only) per parameter
    with a default."""
    a = fn.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    out: list[tuple[str, int | None]] = [
        (p.arg, i) for i, p in enumerate(pos) if i >= first
    ]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]
    return out


def _sets(call: ast.Call, name: str, index: int | None) -> bool:
    if any(isinstance(x, ast.Starred) for x in call.args):
        return True
    if any(k.arg is None or k.arg == name for k in call.keywords):
        return True
    return index is not None and len(call.args) > index


def census(sources: dict[str, str]) -> tuple[int, list[str]]:
    """(defaulted parameters in the library, the unset ones as
    ``file:line function(param)``) over ``{relative path: source}``."""
    calls: dict[str, list[ast.Call]] = defaultdict(list)
    library: list[tuple[str, ast.FunctionDef]] = []
    for rel, src in sources.items():
        tree = ast.parse(src, rel)
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                f = node.func
                if isinstance(f, ast.Name):
                    calls[f.id].append(node)
                elif isinstance(f, ast.Attribute):
                    calls[f.attr].append(node)
        if rel.split("/")[0] == LIBRARY:
            library += [
                (rel, fn)
                for fn in tree.body
                if isinstance(fn, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not _is_query_builder(fn)
            ]
    total = 0
    unset: list[str] = []
    for rel, fn in library:
        for name, index in _defaulted(fn):
            total += 1
            if not any(_sets(c, name, index) for c in calls[fn.name]):
                unset.append(f"{rel}:{fn.lineno} {fn.name}({name})")
    return total, unset


def _repo_sources() -> dict[str, str]:
    out = {}
    for path in sorted(REPO_ROOT.rglob("*.py")):
        rel = path.relative_to(REPO_ROOT)
        if not any(part.startswith(".") for part in rel.parts):
            out[rel.as_posix()] = path.read_text()
    return out


def test_every_defaulted_parameter_is_set_by_a_call_site():
    total, unset = census(_repo_sources())
    assert total > 0, "census found no defaulted library parameters"
    assert not unset, (
        f"{len(unset)} of {total} defaulted parameters are set by no call "
        "site; inline their default:\n" + "\n".join(unset)
    )


def test_census_rule_on_a_sample():
    lib = '''
def f(df, a=1, b=2, *, c=3, d=4):
    pass

def g(x=0):
    pass

def h(y=0):
    pass

@query("name", oracle="SELECT 1")
def builder(spark, sf_dir, z=0):
    pass
'''
    use = '''
import lib as L
f(1, 2)
L.f(1, d=5)
g(*[1])
L.h(**{})
'''
    total, unset = census(
        {f"{LIBRARY}/lib.py": lib, "tools/use.py": use}
    )
    assert total == 6
    assert unset == [
        f"{LIBRARY}/lib.py:2 f(b)",
        f"{LIBRARY}/lib.py:2 f(c)",
    ]
