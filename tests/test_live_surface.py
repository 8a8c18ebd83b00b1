"""The package carries no library code that only its tests reach.

An AST reference scan walks every non-test Python file of the repo
(the driver entry, `bench.py`, `scripts/`, `docs/`, `perfbench/`) and
every statement of the package that runs at import time (registrations,
loops, `__main__` blocks), then follows references transitively into
the package's top-level definitions. A reference is a bare name
(resolved through the module's own definitions and its `from` imports),
an attribute name, an imported name or a string constant that spells
an identifier (`getattr`-style dispatch). Attribute and string
references are matched by name in every module, so the scan errs on
the side of "live".

A top-level function, class or constant the scan does not reach is
reached, if at all, only from `tests/`. The only such names allowed are
the SURVEY.md reproductions of the reference's extract/load steps kept
in `KEEP` below.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parents[1]
PKG = "iq_to_hdl_migration_spark"

# (module, name): kept as reproductions although only tests call them.
KEEP = {
    # S1 / SURVEY §7 step 6: partitioned JDBC extract
    (f"{PKG}.sources.jdbc", "JdbcPartitionPlan"),
    (f"{PKG}.sources.jdbc", "plan_partitions"),
    (f"{PKG}.sources.jdbc", "read_partitioned"),
    # S2-S4 and charset hard-part 5: chunked/gzip exports, charset probe
    (f"{PKG}.sources.export", "resolve_charset"),
    (f"{PKG}.sources.export", "export_chunked_parquet"),
    (f"{PKG}.sources.export", "export_gzip_csv"),
    (f"{PKG}.sources.export", "read_csv"),
    # D13: completion sentinels in the reload script
    (f"{PKG}.ddl.engine", "has_completion_sentinels"),
    # V3/V4: source/target reconciliation
    (f"{PKG}.pipeline.migrate", "reconcile"),
}


def _module_name(path: pathlib.Path, root: pathlib.Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _refs(node: ast.AST) -> set[tuple[str, str]]:
    """(kind, identifier) pairs referenced anywhere under `node`: "name"
    for bare and `from`-imported names, "attr" for attribute names and
    identifier-shaped string constants."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(("name", n.id))
        elif isinstance(n, ast.ImportFrom):
            out |= {("name", a.asname or a.name) for a in n.names}
        elif isinstance(n, ast.Attribute):
            out.add(("attr", n.attr))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) \
                and n.value.isidentifier():
            out.add(("attr", n.value))
    return out


def _defined_names(stmt: ast.stmt) -> list[str] | None:
    """Top-level names `stmt` defines, or None when it is a statement
    that runs for its effect (a registration call, a loop, ...)."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                         ast.ClassDef)):
        return [stmt.name]
    targets = (stmt.targets if isinstance(stmt, ast.Assign)
               else [stmt.target] if isinstance(stmt, ast.AnnAssign)
               else None)
    if targets and all(isinstance(t, ast.Name) for t in targets):
        return [t.id for t in targets if not t.id.startswith("__")]
    return None


def scan(root: pathlib.Path = ROOT,
         keep: set[tuple[str, str]] = frozenset()
         ) -> list[tuple[str, str]]:
    """Sorted (module, name) of the package's top-level definitions that
    no non-test code reaches. What a `keep` entry's own body references
    counts as reached; the entry itself does not."""
    defs: dict[tuple[str, str], list[ast.stmt]] = {}
    by_name: dict[str, set[tuple[str, str]]] = {}
    imports: dict[str, dict[str, tuple[str, str]]] = {}
    roots: list[tuple[str, ast.AST]] = []

    for path in sorted(root.rglob("*.py")):
        top = path.relative_to(root).parts[0]
        if top == "tests" or top.startswith("."):
            continue
        tree = ast.parse(path.read_text(), str(path))
        mod = _module_name(path, root)
        # the repo uses absolute imports only
        imports[mod] = {a.asname or a.name: (n.module, a.name)
                        for n in ast.walk(tree)
                        if isinstance(n, ast.ImportFrom) for a in n.names}
        if top != PKG:
            roots.append((mod, tree))
            continue
        for stmt in tree.body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                continue
            names = _defined_names(stmt)
            if names is None:
                roots.append((mod, stmt))
                continue
            for d in getattr(stmt, "decorator_list", []):
                roots.append((mod, d))
                # @register(...) adds the function to the registry
                if isinstance(d, ast.Call) and any(
                        ident == "register" for _, ident in _refs(d.func)):
                    roots.append((mod, ast.Name(stmt.name)))
            for name in names:
                defs.setdefault((mod, name), []).append(stmt)
                by_name.setdefault(name, set()).add((mod, name))

    def resolve(mod, ident, seen=()):
        """Definition keys a bare name in `mod` refers to."""
        if (mod, ident) in defs:
            return {(mod, ident)}
        src = imports.get(mod, {}).get(ident)
        if src is None or src in seen:
            return set()
        # `from pkg.x import y` where y is a definition or a re-export
        return resolve(src[0], src[1], seen + (src,))

    live: set[tuple[str, str]] = set()
    todo = roots + [(key[0], d) for key in keep & set(defs)
                    for d in defs[key]]
    while todo:
        mod, node = todo.pop()
        for kind, ident in _refs(node):
            hit = (by_name.get(ident, set()) if kind == "attr"
                   else resolve(mod, ident))
            for key in hit - live:
                live.add(key)
                todo.extend((key[0], d) for d in defs[key])
    return sorted(set(defs) - live)


def test_only_keep_list_is_test_only():
    dead = set(scan(keep=KEEP))
    unexpected = sorted(dead - KEEP)
    assert not unexpected, (
        "package names no non-test code reaches; wire them in or delete "
        f"them with their tests: {unexpected}")


def test_keep_list_entries_exist():
    defined = {(m, n) for m, n in KEEP
               if hasattr(__import__(m, fromlist=[n]), n)}
    assert defined == KEEP, f"stale KEEP entries: {sorted(KEEP - defined)}"


def _unused_imports(tree: ast.Module) -> list[tuple[int, str]]:
    """(line, name) of each imported name never referenced as a bare
    name in its scope: the whole file for a module-level import, the
    enclosing function for an import inside one. `from __future__`
    imports are directives, not bindings."""
    out = []

    def imports(stmts):
        for stmt in stmts:
            if isinstance(stmt, ast.Import):
                yield from ((stmt.lineno, a.asname or a.name.split(".")[0])
                            for a in stmt.names)
            elif (isinstance(stmt, ast.ImportFrom)
                  and stmt.module != "__future__"):
                yield from ((stmt.lineno, a.asname or a.name)
                            for a in stmt.names)

    def import_stmts(node):
        return [n for n in ast.walk(node)
                if isinstance(n, (ast.Import, ast.ImportFrom))]

    fns = [n for n in ast.walk(tree)
           if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
    in_fn = {id(n) for fn in fns for n in import_stmts(fn)}
    scopes = [(tree, [n for n in import_stmts(tree) if id(n) not in in_fn])]
    scopes += [(fn, import_stmts(fn)) for fn in fns]
    for scope, stmts in scopes:
        used = {n.id for n in ast.walk(scope) if isinstance(n, ast.Name)}
        out.extend((line, name) for line, name in imports(stmts)
                   if name not in used)
    return sorted(set(out))


def test_no_unused_imports():
    """Every imported name is referenced in its file (or, for an
    import inside a function, in that function) across tests/,
    scripts/, bench.py and the package; package `__init__.py`
    re-exports are exempt."""
    files = [*ROOT.glob("tests/**/*.py"), *ROOT.glob("scripts/**/*.py"),
             ROOT / "bench.py",
             *(p for p in (ROOT / PKG).rglob("*.py")
               if p.name != "__init__.py")]
    unused = [f"{p.relative_to(ROOT)}:{line}: {name}"
              for p in sorted(files)
              for line, name in _unused_imports(ast.parse(p.read_text()))]
    assert not unused, unused
