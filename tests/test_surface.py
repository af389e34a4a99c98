"""The package carries no surface that nothing uses.

Three rules, checked by a name-matched AST scan of the package and of every
caller of it (``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``):

* every top-level package definition (function, class or module-level
  name) is referenced somewhere outside its own definition -- an import or
  ``__all__`` entry that only re-exports it does not count;
* every defaulted parameter of a package function is set by some call of a
  function of that name, by keyword or by position -- otherwise its default
  is the only value in use and belongs in the body as a literal or module
  constant;
* no required parameter of a package function takes one value at every call
  -- one literal, or one constant of the function's own module; that value
  belongs in the body. A name defined twice in the package and a value
  hidden by ``*args``/``**kwargs`` are skipped, so a collision can hide a
  finding but never invent one.

Run as a script (``python tests/test_surface.py``) to list what fails.
"""

import ast
import pathlib
import sys
from collections import Counter

ROOT = pathlib.Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "flink_training_exercises_spark"
CALLERS = ("tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")


def _files(path):
    return [path] if path.suffix == ".py" else sorted(path.rglob("*.py"))


def _parse(paths):
    return {p: ast.parse(p.read_text(), str(p)) for path in paths for p in _files(path)}


def _trees():
    return _parse([PACKAGE]), _parse([ROOT / c for c in CALLERS])


def _called_name(func):
    if isinstance(func, ast.Name):
        return func.id
    if isinstance(func, ast.Attribute):
        return func.attr
    return None


def _calls(trees):
    """Function name -> (path, positional args, keywords) for each call in
    ``trees``. A call through an ``import ... as`` alias counts under the
    imported name, and ``functools.partial(f, ...)`` as a call of ``f`` with
    the bound arguments."""
    aliases = {
        alias.asname: alias.name
        for tree in trees.values()
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
        if alias.asname
    }
    calls = {}
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name, args = _called_name(node.func), node.args
            if name == "partial" and args:
                name, args = _called_name(args[0]), args[1:]
            if name is not None:
                calls.setdefault(aliases.get(name, name), []).append((path, args, node.keywords))
    return calls


def _functions(tree):
    """(name, args, is_method) for every def in ``tree``, methods included."""
    out = []

    def visit(node, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                out.append((child.name, child.args, in_class))
                visit(child, False)
            elif isinstance(child, ast.ClassDef):
                visit(child, True)
            else:
                visit(child, in_class)

    visit(tree, False)
    return out


def _parameters(pkg):
    """(module, function, (position or None, name, has default)) for each
    parameter a caller fills; a method's first one is its receiver."""
    for path, tree in pkg.items():
        for name, args, is_method in _functions(tree):
            positional = args.posonlyargs + args.args
            offset = 1 if is_method and positional else 0
            n_required = len(positional) - len(args.defaults)
            for i, a in enumerate(positional[offset:], offset):
                yield path, name, (i - offset, a.arg, i >= n_required)
            for a, d in zip(args.kwonlyargs, args.kw_defaults):
                yield path, name, (None, a.arg, d is not None)


def _argument(param, args, keywords):
    """The expression a call passes for ``param``, ``...`` when the call
    leaves it to its default, or None when ``*args``/``**kwargs`` hide it."""
    i, name, _ = param
    for k in keywords:
        if k.arg == name:
            return k.value
    starred = [j for j, a in enumerate(args) if isinstance(a, ast.Starred)]
    if i is not None and i < min(starred + [len(args)]):
        return args[i]
    hidden = (i is not None and starred) or any(k.arg is None for k in keywords)
    return None if hidden else ...


def unset_parameters(pkg=None, callers=None):
    """``module:function(param)`` for every defaulted package parameter that
    no call sets."""
    if pkg is None:
        pkg, callers = _trees()
    calls = _calls({**pkg, **callers})
    return [
        f"{path.relative_to(ROOT)}:{name}({param[1]})"
        for path, name, param in _parameters(pkg)
        if param[2] and all(_argument(param, a, k) is ... for _, a, k in calls.get(name, []))
    ]


def _constants(pkg, callers):
    """(path, name) -> (defining module, constant) for each name a file
    reads as a package module constant: its own or a ``from`` import."""
    defined = {
        path: {n for n, node in _top_level_names(tree) if isinstance(node, (ast.Assign, ast.AnnAssign))}
        for path, tree in pkg.items()
    }
    out = {(path, n): (path, n) for path, names in defined.items() for n in names}
    dotted = {".".join(path.relative_to(ROOT).with_suffix("").parts) for path in pkg}
    for path, tree in {**pkg, **callers}.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.ImportFrom) and (node.level or node.module in dotted):
                base = path.parents[node.level - 1] if node.level else ROOT
                module = base.joinpath(*(node.module or "").split(".")).with_suffix(".py")
                for alias in node.names:
                    if alias.name in defined.get(module, ()):
                        out[(path, alias.asname or alias.name)] = (module, alias.name)
    return out


def constant_parameters(pkg=None, callers=None):
    """``module:function(param)`` for every required package parameter that
    every call fills with one literal or one constant of the function's own
    module."""
    if pkg is None:
        pkg, callers = _trees()
    calls = _calls({**pkg, **callers})
    constants = _constants(pkg, callers)
    n_defs = Counter(name for tree in pkg.values() for name, _, _ in _functions(tree))

    def value(path, caller, arg):
        if isinstance(arg, ast.Constant):
            return type(arg.value), repr(arg.value)
        if isinstance(arg, ast.Name) and constants.get((caller, arg.id), (None,))[0] == path:
            return constants[(caller, arg.id)]
        return None

    found = []
    for path, name, param in _parameters(pkg):
        if param[2] or n_defs[name] > 1 or name not in calls:
            continue
        values = {value(path, caller, _argument(param, a, k)) for caller, a, k in calls[name]}
        if len(values) == 1 and None not in values:
            found.append(f"{path.relative_to(ROOT)}:{name}({param[1]})")
    return found


def _top_level_names(tree):
    """(name, node) for each top-level definition; a decorated one is
    used by its decorator (the catalog's ``@register``)."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.decorator_list:
                yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for name in t.elts if isinstance(t, ast.Tuple) else [t]:
                    if isinstance(name, ast.Name) and not name.id.startswith("__"):
                        yield name.id, node


def unreferenced_definitions(pkg=None, callers=None):
    """``module:name`` for every top-level package definition that nothing
    outside its own definition loads (a Name or an attribute of that
    name)."""
    if pkg is None:
        pkg, callers = _trees()
    defs = [
        (path, name, node) for path, tree in pkg.items() for name, node in _top_level_names(tree)
    ]
    wanted = {name for _, name, _ in defs}
    # name -> ids of the definition nodes each reference sits inside
    refs = {}
    for tree in list(pkg.values()) + list(callers.values()):
        for top in tree.body:
            for node in ast.walk(top):
                if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                    name = node.id
                elif isinstance(node, ast.Attribute):
                    name = node.attr
                else:
                    continue
                if name in wanted:
                    refs.setdefault(name, []).append(id(top))
    return [
        f"{path.relative_to(ROOT)}:{name}"
        for path, name, node in defs
        if not any(owner != id(node) for owner in refs.get(name, []))
    ]


def test_every_package_definition_is_referenced():
    assert unreferenced_definitions() == []


def test_every_defaulted_parameter_is_set_by_a_caller():
    assert unset_parameters() == []


def test_no_required_parameter_takes_one_value_at_every_call():
    assert constant_parameters() == []


if __name__ == "__main__":
    pkg, callers = _trees()
    rules = {
        "unset parameters": unset_parameters(pkg, callers),
        "one-value parameters": constant_parameters(pkg, callers),
        "unreferenced definitions": unreferenced_definitions(pkg, callers),
    }
    print("\n".join(sum(rules.values(), [])))
    print(", ".join(f"{len(found)} {rule}" for rule, found in rules.items()), file=sys.stderr)
    sys.exit(1 if any(rules.values()) else 0)
