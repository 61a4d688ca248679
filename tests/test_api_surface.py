"""The engine's public API holds only what its callers use.

A static scan over every ``.py`` file in the repository (the package,
``tests/``, ``tools/``, ``bench.py``, ``perfbench/``) finds, for the
package outside ``queries/``:

- the defaulted options of public functions that no call sets, by
  keyword, by position or through ``*``/``**``;
- the public names (functions, classes, module constants) that nothing
  references besides their package's ``__init__`` re-export.

It also finds each package read of a driver test table (a
``read.parquet`` of a path built from ``sf_dir``) that bypasses
``tables.load_table``, and so its schema cache.

Last, it walks reach from the product roots: the query registry
(``queries/``), ``__spark_entry__.py``, ``bench.py``, ``perfbench/``,
``tools/`` and ``REACH_ALLOWLIST``. Every top-level definition of the
package outside ``queries/``, public or private, must be referenced
from a root or from a definition a root reaches. ``tests/`` is no root:
code only a test calls is not part of the product.

An option no caller sets is a setting whose other values nothing runs;
a name nothing calls is code nothing checks. No Spark is needed.
"""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "aiven_challenge2_cdc_sharing_spark"

# Deployment settings of the Kafka reader: the tests run the file source.
KEPT_OPTIONS = {
    f"{PKG}.sources.kafka_shape.kafka_stream_reader.topic",
    f"{PKG}.sources.kafka_shape.kafka_stream_reader.starting_offsets",
}


# Entry points a deployment or an operator calls; tests stand in for them.
REACH_ALLOWLIST = {
    f"{PKG}.sources.kafka_shape.kafka_stream_reader":
        "the production source; the tests and benchmarks run the file source",
    f"{PKG}.streaming.runtime.peek_one":
        "the operator's read-one-message check (the reference's peek.py)",
    f"{PKG}.streaming.runtime.progress_summary":
        "the heartbeat an operator polls on a running stream",
    f"{PKG}.cdc.algebra.from_wire_quarantine":
        "the wire decode whose quarantine a deployment commits beside the state",
}


def _is_root(mod: str) -> bool:
    return (mod.startswith(f"{PKG}.queries") or mod in ("__spark_entry__", "bench")
            or mod.split(".")[0] in ("perfbench", "tools"))


def _modules() -> dict[str, tuple[str, ast.Module]]:
    """Dotted module name -> (path, tree) for every .py file in the repo."""
    out = {}
    for dirpath, dirnames, filenames in os.walk(ROOT):
        dirnames[:] = sorted(d for d in dirnames if not d.startswith((".", "__")))
        for fn in filenames:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(dirpath, fn)
            rel = os.path.relpath(path, ROOT)[: -len(".py")].split(os.sep)
            if rel[-1] == "__init__":
                rel = rel[:-1]
            with open(path, encoding="utf-8") as f:
                out[".".join(rel)] = (path, ast.parse(f.read(), path))
    return out


def _is_package(path: str) -> bool:
    return os.path.basename(path) == "__init__.py"


class _Scan:
    def __init__(self):
        self.mods = _modules()
        self.defs: dict[str, ast.AST] = {}  # qualname -> def/assign node
        self.reexports: dict[str, str] = {}  # pkg.name -> target qualname
        for mod, (path, tree) in self.mods.items():
            for node in tree.body:
                for name in self._bound_names(node):
                    self.defs[f"{mod}.{name}"] = node
            if _is_package(path):
                for node in tree.body:
                    if isinstance(node, ast.ImportFrom):
                        base = self._from_base(mod, path, node)
                        for a in node.names:
                            self.reexports[f"{mod}.{a.asname or a.name}"] = f"{base}.{a.name}"

    @staticmethod
    def _bound_names(node) -> list[str]:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            return [node.name]
        if isinstance(node, ast.Assign):
            return [t.id for t in node.targets if isinstance(t, ast.Name)]
        if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            return [node.target.id]
        return []

    def _from_base(self, mod: str, path: str, node: ast.ImportFrom) -> str:
        if node.level:
            parts = mod.split(".")
            if not _is_package(path):
                parts = parts[:-1]
            parts = parts[: len(parts) - (node.level - 1)]
            return ".".join(parts + ([node.module] if node.module else []))
        if node.module in self.mods or not self._sibling(mod, node.module):
            return node.module
        return self._sibling(mod, node.module)

    def _sibling(self, mod: str, name: str) -> str | None:
        """Script-style import of a module beside ``mod`` (``import gen``)."""
        cand = ".".join(mod.split(".")[:-1] + [name])
        return cand if cand in self.mods and cand != name else None

    def resolve(self, qual: str) -> str:
        seen = set()
        while qual in self.reexports and qual not in seen:
            seen.add(qual)
            qual = self.reexports[qual]
        return qual

    def _env(self, mod: str, path: str, tree: ast.Module) -> dict[str, str]:
        env = {}
        for q in self.defs:
            owner, name = q.rsplit(".", 1)
            if owner == mod:
                env[name] = q
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        env[a.asname] = self._sibling(mod, a.name) or a.name
                    else:
                        top = a.name.split(".")[0]
                        env[top] = self._sibling(mod, top) or top
            elif isinstance(node, ast.ImportFrom):
                base = self._from_base(mod, path, node)
                for a in node.names:
                    env[a.asname or a.name] = f"{base}.{a.name}"
        return env

    def _target(self, env: dict[str, str], node) -> str | None:
        if isinstance(node, ast.Name):
            q = env.get(node.id)
        elif isinstance(node, ast.Attribute):
            base = self._target(env, node.value)
            q = f"{base}.{node.attr}" if base else None
        else:
            return None
        return self.resolve(q) if q else None

    def _scope(self, private: bool) -> dict[str, ast.AST]:
        """The top-level definitions of the package outside ``queries/``."""
        scope = {}
        for q, node in self.defs.items():
            owner, name = q.rsplit(".", 1)
            if (owner.startswith(PKG) and not owner.startswith(f"{PKG}.queries")
                    and (private or not name.startswith("_"))
                    and not _is_package(self.mods[owner][0])):
                scope[q] = node
        return scope

    def unreached(self) -> list[str]:
        """Definitions in ``_scope`` that no product root reaches,
        directly or through the definitions it references."""
        envs = {mod: self._env(mod, path, tree) for mod, (path, tree) in self.mods.items()}
        work = [(mod, tree) for mod, (_, tree) in self.mods.items() if _is_root(mod)]
        work += [(q.rsplit(".", 1)[0], self.defs[q]) for q in REACH_ALLOWLIST]
        reached = set(REACH_ALLOWLIST)
        while work:
            mod, top = work.pop()
            for node in ast.walk(top):
                if isinstance(node, (ast.Name, ast.Attribute)) and isinstance(node.ctx, ast.Load):
                    t = self._target(envs[mod], node)
                    if t in self.defs and t not in reached:
                        reached.add(t)
                        work.append((t.rsplit(".", 1)[0], self.defs[t]))
        return sorted(q for q in self._scope(private=True) if q not in reached)

    def run(self):
        """(defaulted options -> set?, public name -> referenced?)."""
        scope = self._scope(private=False)
        options: dict[str, bool] = {}
        positional_params: dict[str, list[str]] = {}
        for q, node in scope.items():
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = node.args
                positional = [p.arg for p in a.posonlyargs + a.args]
                defaulted = positional[len(positional) - len(a.defaults):] if a.defaults else []
                defaulted += [p.arg for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
                positional_params[q] = positional
                for p in defaulted:
                    options[f"{q}.{p}"] = False
        referenced = {q: False for q in scope}
        for mod, (path, tree) in self.mods.items():
            env = self._env(mod, path, tree)
            for top in tree.body:
                own = {f"{mod}.{n}" for n in self._bound_names(top)}
                for node in ast.walk(top):
                    if isinstance(node, (ast.Name, ast.Attribute)) and isinstance(
                        node.ctx, ast.Load
                    ):
                        t = self._target(env, node)
                        if t in referenced and t not in own:
                            referenced[t] = True
                    if isinstance(node, ast.Call):
                        t = self._target(env, node.func)
                        if t in positional_params:
                            self._mark(options, t, positional_params[t], node)
        return options, referenced

    @staticmethod
    def _mark(options, q, positional, call: ast.Call) -> None:
        for i, arg in enumerate(call.args):
            if isinstance(arg, ast.Starred):
                for p in positional[i:]:
                    if f"{q}.{p}" in options:
                        options[f"{q}.{p}"] = True
                break
            if i < len(positional) and f"{q}.{positional[i]}" in options:
                options[f"{q}.{positional[i]}"] = True
        for kw in call.keywords:
            for key in options:
                if key.startswith(q + ".") and (kw.arg is None or key == f"{q}.{kw.arg}"):
                    options[key] = True


def scan():
    options, referenced = _Scan().run()
    never_set = sorted(k for k, v in options.items() if not v)
    uncalled = sorted(k for k, v in referenced.items() if not v)
    return options, never_set, uncalled


def table_reads_outside_loader() -> list[str]:
    """``path:line`` of each ``read.parquet`` call in the package, outside
    ``tables.py``, whose path is built from ``sf_dir``: a test table read
    that bypasses ``tables.load_table`` and its schema cache."""
    found = []
    for mod, (path, tree) in _Scan().mods.items():
        if not mod.startswith(PKG) or mod == f"{PKG}.tables":
            continue
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "parquet" and ".read" in ast.unparse(node.func.value)
                    and any(isinstance(n, ast.Name) and n.id == "sf_dir"
                            for a in node.args for n in ast.walk(a))):
                found.append(f"{os.path.relpath(path, ROOT)}:{node.lineno}")
    return found


def test_every_option_is_set_by_some_caller():
    _, never_set, _ = scan()
    assert set(never_set) == KEPT_OPTIONS


def test_every_public_name_has_a_caller():
    _, _, uncalled = scan()
    assert uncalled == []


def test_test_tables_are_read_through_the_loader():
    assert table_reads_outside_loader() == []


def test_every_definition_is_reached_from_a_product_root():
    unreached = _Scan().unreached()
    assert not unreached, "no product root reaches:\n" + "\n".join(unreached)


if __name__ == "__main__":
    opts, never, unc = scan()
    print(len(opts), "defaulted options,", len(never), "never set")
    for k in never:
        print("  option", k)
    print(len(unc), "uncalled names")
    for k in unc:
        print("  name", k)
    unreached = _Scan().unreached()
    print(len(unreached), "definitions no product root reaches")
    for k in unreached:
        print("  unreached", k)
