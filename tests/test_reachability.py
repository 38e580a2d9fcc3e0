"""Every public library def is reached from somewhere other than tests.

An AST walk over the roots below collects every reference to a
top-level public function or class of ``data_curator_spark``. A def
that only ``tests/`` reaches is dead weight the suite keeps alive: it
fails here unless ``ALLOWED`` names it with a one-line reason.

Roots: every package module (a def's own body does not count as a use
of it), ``bench.py``, ``bench_extra.py``, ``__spark_entry__.py``,
``perfbench/*.py`` and ``tools/*.py``. A reference counts only when it
resolves, through the file's imports, to the module that defines the
name: ``ser.shift()`` on a pandas Series is not a use of
``engine.features.shift``, while ``T.fingerprint`` after
``from data_curator_spark.functions import text as T`` is a use of
``functions.text.fingerprint``.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "data_curator_spark"

# (module, name): reason it stays without a non-test caller
ALLOWED = {
    # the reference port's provider consolidation kernel (PAPER.md)
    ("data_curator_spark.engine.consolidate", "consolidate_with_repair"),
    # the reference port's curate loop (PAPER.md)
    ("data_curator_spark.curator", "curate"),
    # the MVCC layout's current-state read, which the lifecycle property
    # test pins (the CLI exports via read_snapshot)
    ("data_curator_spark.pipeline.mvcc", "read_current"),
    # run from the spark-submit command line in session.py's docstring
    ("data_curator_spark.session", "cluster_conf"),
}


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_files() -> list[Path]:
    return sorted((ROOT / PKG).rglob("*.py"))


def _root_files() -> list[Path]:
    extra = [ROOT / "bench.py", ROOT / "bench_extra.py", ROOT / "__spark_entry__.py"]
    extra += sorted((ROOT / "perfbench").glob("*.py"))
    extra += sorted((ROOT / "tools").glob("*.py"))
    return _package_files() + [p for p in extra if p.exists()]


def _bindings(tree: ast.Module, module: str) -> dict[str, str]:
    """Local name -> dotted target, from every import in the file (any
    scope; the package's function-level imports are imports too)."""
    out: dict[str, str] = {}
    pkg = module.rsplit(".", 1)[0] if "." in module else module
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name
                else:
                    head = a.name.split(".", 1)[0]
                    out[head] = head
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = pkg.split(".")[: len(pkg.split(".")) - node.level + 1]
                base = ".".join(anchor + ([base] if base else []))
            for a in node.names:
                out[a.asname or a.name] = f"{base}.{a.name}"
    return out


def _dotted(node: ast.AST) -> list[str] | None:
    """``a.b.c`` -> ["a", "b", "c"]; ``__import__("m", ...).f`` -> the
    module's parts then "f"; anything else -> None."""
    attrs: list[str] = []
    while isinstance(node, ast.Attribute):
        attrs.append(node.attr)
        node = node.value
    if isinstance(node, ast.Name):
        return [node.id] + attrs[::-1]
    if (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "__import__"
        and node.args
        and isinstance(node.args[0], ast.Constant)
        and isinstance(node.args[0].value, str)
    ):
        return ["\0" + node.args[0].value] + attrs[::-1]
    return None


class _Index:
    def __init__(self) -> None:
        self.trees: dict[str, ast.Module] = {}
        self.defs: dict[str, dict[str, ast.AST]] = {}
        self.binds: dict[str, dict[str, str]] = {}
        for path in _package_files():
            mod = _module_name(path)
            tree = ast.parse(path.read_text(), str(path))
            self.trees[mod] = tree
            self.defs[mod] = {
                n.name: n
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            }
            self.binds[mod] = _bindings(tree, mod)

    def resolve(self, dotted: str, depth: int = 0) -> tuple[str, str] | None:
        """The (module, def) a dotted name denotes, following re-exports
        through a package module's own imports."""
        parts = dotted.split(".")
        for i in range(len(parts) - 1, 0, -1):
            mod, name = ".".join(parts[:i]), parts[i]
            if mod not in self.defs:
                continue
            if name in self.defs[mod]:
                return (mod, name)
            target = self.binds[mod].get(name)
            if target and depth < 8:
                rest = ".".join([target] + parts[i + 1:])
                return self.resolve(rest, depth + 1)
            return None
        return None


def _references(index: _Index, path: Path) -> set[tuple[str, str]]:
    in_pkg = path.is_relative_to(ROOT / PKG)
    mod = _module_name(path) if in_pkg else None
    tree = index.trees[mod] if in_pkg else ast.parse(path.read_text(), str(path))
    binds = index.binds[mod] if in_pkg else _bindings(tree, path.stem)
    found: set[tuple[str, str]] = set()

    def visit(node: ast.AST, owner: str | None) -> None:
        parts = None
        if isinstance(node, (ast.Name, ast.Attribute)) and isinstance(node.ctx, ast.Load):
            parts = _dotted(node)
        if parts:
            head, rest = parts[0], parts[1:]
            if head.startswith("\0"):
                target = head[1:]
            elif head in binds:
                target = binds[head]
            elif in_pkg and head in index.defs[mod]:
                target = f"{mod}.{head}"
            else:
                target = None
            if target:
                hit = index.resolve(".".join([target] + rest))
                # a def's own body is not a use of it
                if hit and hit != (mod, owner):
                    found.add(hit)
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    for top in tree.body:
        owner = (
            top.name
            if isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            else None
        )
        visit(top, owner)
    return found


def unreached() -> set[tuple[str, str]]:
    """Public top-level defs of the package that no root references."""
    index = _Index()
    reached: set[tuple[str, str]] = set()
    for path in _root_files():
        reached |= _references(index, path)
    public = {
        (mod, name)
        for mod, defs in index.defs.items()
        for name in defs
        if not name.startswith("_")
    }
    return public - reached


def test_every_public_def_is_reached_outside_tests():
    dead = sorted(unreached() - ALLOWED)
    assert not dead, "public defs reached only from tests (delete or allow-list): " + ", ".join(
        f"{m}.{n}" for m, n in dead
    )


def test_allow_list_names_live_unreached_defs():
    # an entry whose def is gone, or that gained a caller, is stale
    stale = sorted(ALLOWED - unreached())
    assert not stale, "allow-listed defs that are gone or now have a caller: " + ", ".join(
        f"{m}.{n}" for m, n in stale
    )


def test_resolution_goes_through_imports(tmp_path):
    # the walk's own contract on a tiny fixture: a same-named method on
    # an unrelated object is not a use, an aliased module attribute is
    index = _Index()
    src = tmp_path / "probe.py"
    src.write_text(
        "from data_curator_spark.functions import text as T\n"
        "def f(ser):\n"
        "    ser.fingerprint()\n"
        "    return T.whitespace_token_count\n"
    )
    refs = _references(index, src)
    assert ("data_curator_spark.functions.text", "whitespace_token_count") in refs
    assert ("data_curator_spark.functions.text", "fingerprint") not in refs


def _tokenizer_copies(path: Path) -> list[str]:
    """Where a package module outside ``operators/kernels.py`` names
    ``WS_RE`` or spells out its regex: every such module must tokenize
    through ``kernels.ws_tokens``. The one exception is the assignment
    in queries.py that turns the regex into the oracles' SQL literal."""
    mod = _module_name(path)
    if mod == f"{PKG}.operators.kernels":
        return []
    tree = ast.parse(path.read_text(), str(path))
    allowed: set[int] = set()
    if mod == f"{PKG}.queries":
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "_WS_SQL" for t in node.targets
            ):
                allowed |= {id(n) for n in ast.walk(node)}
    found = []
    for node in ast.walk(tree):
        if id(node) in allowed:
            continue
        hit = (
            (isinstance(node, ast.Name) and node.id == "WS_RE")
            or (isinstance(node, ast.Attribute) and node.attr == "WS_RE")
            or (isinstance(node, ast.alias) and node.name == "WS_RE")
            or (isinstance(node, ast.Constant) and node.value == "[ \\n\\t\\r]+")
        )
        if hit:
            found.append(f"{mod}:{node.lineno}")
    return found


def test_one_whitespace_tokenizer():
    copies = [hit for path in _package_files() for hit in _tokenizer_copies(path)]
    assert not copies, "tokenize with kernels.ws_tokens, not WS_RE: " + ", ".join(copies)
