"""Every top-level def in `hetman_spark/` is reached from a system root.

A pure-AST walk (no Spark session): the nodes are the top-level
functions and classes of each module plus one node per module body
(the code that runs on import).  Edges are the `ast.Name` /
`ast.Attribute` references a node's code makes, resolved through the
module's own defs and its imports, and the imports themselves.  String
constants are not edges.  A def reaches its module's body, because it
runs only after that module was imported.

Roots are the system's entry points: the query/oracle registries
(`entry_queries` module body), the CLI (`__main__.main`), the batch and
streaming pipelines, `benchrun.main`, and every file of `jobs/`,
`perfbench/`, `tools/`, `bench.py` and `__spark_entry__.py`.  Tests
are not roots: a def only a test calls is a second implementation
nothing runs.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "hetman_spark"

ROOT_DEFS = (
    ("hetman_spark.__main__", "main"),
    ("hetman_spark.plans.pipeline", "run_pipeline"),
    ("hetman_spark.streaming.stream", "streaming_pipeline"),
    ("hetman_spark.benchrun", "main"),
)
ROOT_MODULES = ("hetman_spark.entry_queries",)  # QUERIES / ORACLES
ROOT_FILES = ("jobs/*.py", "perfbench/*.py", "tools/*.py", "bench.py", "__spark_entry__.py")

# Unreached on purpose; each name needs its reason.
ALLOWED = {
    # Kafka transport (COVERAGE S5/F4): the connector jar is absent here,
    # so only the env-gated Kafka test can run it.
    ("hetman_spark.streaming.stream", "read_kafka_stream"),
    ("hetman_spark.streaming.stream", "kafka_records_to_log_df"),
    ("hetman_spark.streaming.stream", "log_df_to_kafka_records"),
    # P2 JSON parse: the pipeline's parse stage does not dispatch on the
    # parser format yet (ROADMAP direction 4 wires it in).
    ("hetman_spark.operators.parse", "parse_json"),
}


class Module:
    def __init__(self, name: str, path: Path):
        self.name = name
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs = {
            n.name: n
            for n in self.tree.body
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        }
        self.body = [n for n in self.tree.body if n not in self.defs.values()]
        # local name -> dotted target, from every import in the file
        # (lazy imports inside functions included)
        self.aliases: dict[str, str] = {}
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.asname:
                        self.aliases[a.asname] = a.name
                    else:
                        head = a.name.split(".")[0]
                        self.aliases[head] = head
            elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
                for a in node.names:
                    self.aliases[a.asname or a.name] = f"{node.module}.{a.name}"


def _load() -> dict[str, Module]:
    mods = {}
    for path in sorted((ROOT / PACKAGE).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods[".".join(parts)] = Module(".".join(parts), path)
    for pattern in ROOT_FILES:
        for path in sorted(ROOT.glob(pattern)):
            name = "<root>/" + str(path.relative_to(ROOT))
            mods[name] = Module(name, path)
    return mods


def _dotted(node: ast.AST) -> list[str] | None:
    """`a.b.c` -> ["a", "b", "c"]; None when the chain does not start
    at a plain name (a call, a subscript, ...)."""
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return parts[::-1]


def _resolve(mods: dict[str, Module], dotted: str, seen: frozenset = frozenset()):
    """A dotted target -> ("mod", module) or ("def", module, name), or
    None outside the package.  Re-exports are followed."""
    if dotted in mods:
        return ("mod", dotted)
    mod, _, name = dotted.rpartition(".")
    if mod not in mods or dotted in seen:
        return None
    m = mods[mod]
    if name in m.defs:
        return ("def", mod, name)
    if name in m.aliases:
        return _resolve(mods, m.aliases[name], seen | {dotted})
    return None


def _edges(mods: dict[str, Module], m: Module, nodes: list[ast.AST]) -> set:
    out = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Import):
                targets = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
                targets = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
            elif isinstance(node, (ast.Name, ast.Attribute)):
                chain = _dotted(node)
                if chain is None:
                    continue
                if chain[0] in m.defs:
                    out.add(("def", m.name, chain[0]))
                    continue
                if chain[0] not in m.aliases:
                    continue
                targets = [".".join([m.aliases[chain[0]], *chain[1:]])]
            else:
                continue
            for dotted in targets:
                # every package on the way is imported too
                parts = dotted.split(".")
                for i in range(1, len(parts) + 1):
                    hit = _resolve(mods, ".".join(parts[:i]))
                    if hit is not None:
                        out.add(hit)
    return out


def unreached() -> list[tuple[str, str]]:
    mods = _load()
    todo = [("def", mod, name) for mod, name in ROOT_DEFS]
    todo += [("mod", mod) for mod in ROOT_MODULES]
    todo += [("mod", name) for name in mods if name.startswith("<root>/")]
    seen = set()
    while todo:
        node = todo.pop()
        if node in seen:
            continue
        seen.add(node)
        m = mods[node[1]]
        if node[0] == "mod":
            todo.extend(_edges(mods, m, m.body))
        else:
            todo.append(("mod", m.name))
            todo.extend(_edges(mods, m, [m.defs[node[2]]]))
    return sorted(
        (m.name, name)
        for m in mods.values()
        if m.name.startswith(PACKAGE)
        for name in m.defs
        if ("def", m.name, name) not in seen
    )


def test_every_top_level_def_is_reached_from_a_system_root():
    missing = [d for d in unreached() if d not in ALLOWED]
    assert not missing, "unreached top-level defs (add a caller, delete them, " \
        "or allow-list with a reason): " + ", ".join(f"{m}.{n}" for m, n in missing)


def test_allow_list_is_short_and_still_needed():
    assert len(ALLOWED) <= 5
    still = set(unreached())
    assert ALLOWED <= still, f"reached now, drop from ALLOWED: {sorted(ALLOWED - still)}"
