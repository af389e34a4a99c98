"""The package carries no surface that nothing uses.

Two rules, checked by a name-matched AST scan of the package and of every
caller of it (``tests/``, ``tools/``, ``perfbench/``, ``bench.py`` and
``__spark_entry__.py``):

* every top-level package definition (function, class or module-level
  name) is referenced somewhere outside its own definition -- an import or
  ``__all__`` entry that only re-exports it does not count;
* every defaulted parameter of a package function is set by some call of a
  function of that name, by keyword or by position -- otherwise its default
  is the only value in use and belongs in the body as a literal or module
  constant.

Run as a script (``python tests/test_surface.py``) to list what fails.
"""

import ast
import pathlib
import sys

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
    """Function name -> (positional count or None for *args, keyword names
    or None for **kwargs) for each call in ``trees``. A call through an
    ``import ... as`` alias counts under the imported name, and
    ``functools.partial(f, ...)`` as a call of ``f`` with the bound
    arguments."""
    aliases = {
        alias.asname: alias.name
        for tree in trees.values()
        for node in ast.walk(tree)
        if isinstance(node, ast.ImportFrom)
        for alias in node.names
        if alias.asname
    }
    calls = {}
    for tree in trees.values():
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name, args = _called_name(node.func), node.args
            if name == "partial" and args:
                name, args = _called_name(args[0]), args[1:]
            if name is None:
                continue
            name = aliases.get(name, name)
            n_pos = None if any(isinstance(a, ast.Starred) for a in args) else len(args)
            kws = (
                None
                if any(k.arg is None for k in node.keywords)
                else {k.arg for k in node.keywords}
            )
            calls.setdefault(name, []).append((n_pos, kws))
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


def unset_parameters(pkg=None, callers=None):
    """``module:function(param)`` for every defaulted package parameter that
    no call sets."""
    if pkg is None:
        pkg, callers = _trees()
    calls = _calls({**pkg, **callers})
    unset = []
    for path, tree in pkg.items():
        for name, args, is_method in _functions(tree):
            positional = args.posonlyargs + args.args
            offset = 1 if is_method and positional else 0
            defaulted = [
                (i, a.arg)
                for i, a in enumerate(positional)
                if i >= len(positional) - len(args.defaults)
            ] + [(None, a.arg) for a, d in zip(args.kwonlyargs, args.kw_defaults) if d]
            for i, arg in defaulted:
                if not any(
                    kws is None
                    or arg in kws
                    or (i is not None and (n_pos is None or i - offset < n_pos))
                    for n_pos, kws in calls.get(name, [])
                ):
                    rel = path.relative_to(ROOT)
                    unset.append(f"{rel}:{name}({arg})")
    return unset


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


if __name__ == "__main__":
    pkg, callers = _trees()
    params = unset_parameters(pkg, callers)
    defs = unreferenced_definitions(pkg, callers)
    print("\n".join(params + defs))
    fns = {p.rsplit("(", 1)[0] for p in params}
    print(
        f"{len(params)} unset parameters in {len(fns)} functions, "
        f"{len(defs)} unreferenced definitions",
        file=sys.stderr,
    )
    sys.exit(1 if params or defs else 0)
