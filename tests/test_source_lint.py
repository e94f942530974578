"""Source-level lints.

Reachability: every top-level def and class in the package must be
reachable from the program's surface (queries, demos, benchmark)
unless allowlisted with a reason.

NULL-handling: the round-6 ADVICE bug class, asymmetry between Spark
expressions and the DuckDB oracle.

``concat_ws`` SKIPS null arguments (shortening the string) while SQL
``||`` / ``F.concat`` propagate NULL — so a checksum/fingerprint built
on ``concat_ws`` silently collides 'a|NULL|b' with 'a|b' and diverges
from any NULL-propagating oracle. The rule (stated at
operators/warehouse.py table_checksum): hash inputs must either
propagate NULL or canonicalize it to an unambiguous sentinel. Every
``concat_ws`` feeding a hash function must therefore be allowlisted
with a reason proving its arguments are non-null or sentinel-coalesced.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "data_warehouse_co_healthy_spark"
)

HASH_FNS = {"md5", "sha2", "sha1", "hash", "xxhash64", "crc32"}

#: (relative path, enclosing function) -> why the concat_ws is safe.
CONCAT_WS_IN_HASH_OK = {
    ("operators/warehouse.py", "table_checksum"):
        "every argument is coalesce(cast(c AS string), NUL-sentinel) — "
        "NULL renders unambiguously on both engines by construction",
    ("llm/dedup.py", "_band_keys_from_wide"):
        "minhash signature columns m0..mN are min() over the per-doc "
        "shingle set; docs with zero shingles are excluded upstream, "
        "so every argument is non-null by construction (oracle uses "
        "the identical concat_ws text)",
    ("llm/training.py", "epoch_shuffle"):
        "arguments are the epoch counter (generated sequence) and "
        "doc_id (primary key) — both non-null by construction; the "
        "oracle uses the identical concat_ws text",
}

#: raw-text pattern: a hash function directly wrapping concat_ws —
#: catches SQL/selectExpr strings the AST walk can't see.
_TEXT_RE = re.compile(
    r"(?:md5|sha2|sha1|xxhash64|crc32|hash)\s*\(\s*concat_ws", re.I
)


def _enclosing_function(tree: ast.Module, lineno: int) -> str:
    """Name of the innermost def containing lineno ('<module>' if none)."""
    best, best_span = "<module>", None
    for node in ast.walk(tree):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            end = getattr(node, "end_lineno", node.lineno)
            if node.lineno <= lineno <= end:
                span = end - node.lineno
                if best_span is None or span < best_span:
                    best, best_span = node.name, span
    return best


def _call_name(node: ast.expr) -> str:
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.Name):
        return node.id
    return ""


def _find_hash_wrapped_concat_ws(path: Path) -> list[tuple[str, int]]:
    src = path.read_text()
    tree = ast.parse(src)
    hits: list[tuple[str, int]] = []
    # AST: F.md5(... F.concat_ws(...) ...) nesting
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call)
                and _call_name(node.func) in HASH_FNS):
            continue
        for sub in ast.walk(node):
            if (isinstance(sub, ast.Call)
                    and _call_name(sub.func) == "concat_ws"):
                hits.append((_enclosing_function(tree, node.lineno),
                             node.lineno))
                break
    # raw text: 'md5(concat_ws(...))' inside SQL strings
    for i, line in enumerate(src.splitlines(), start=1):
        if _TEXT_RE.search(line):
            hits.append((_enclosing_function(tree, i), i))
    return hits


def test_concat_ws_never_feeds_a_hash_unallowlisted():
    findings = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for func, lineno in _find_hash_wrapped_concat_ws(path):
            if (rel, func) not in CONCAT_WS_IN_HASH_OK:
                findings.append(f"{rel}:{lineno} in {func}()")
    assert not findings, (
        "concat_ws feeding a hash without a null-safety allowlist "
        f"entry (it SKIPS nulls — see module docstring): {findings}"
    )


def test_concat_ws_allowlist_has_no_stale_entries():
    live = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        for func, _ in _find_hash_wrapped_concat_ws(path):
            live.add((rel, func))
    stale = set(CONCAT_WS_IN_HASH_OK) - live
    assert not stale, f"allowlist entries no longer in source: {stale}"


# ------------------------------------------------------- driver-side frames

#: (relative path, enclosing function, first argument) -> why it may
#: call createDataFrame.
CREATE_DATAFRAME_OK = {
    ("catalog.py", "local_frame", "table"):
        "the one list-to-frame path: rows travel as an Arrow table",
    ("sources/readers.py", "read_excel_catalog", "pdf"):
        "pandas frame from pd.read_excel, converted through Arrow",
}


def _create_dataframe_calls() -> list[tuple[tuple[str, str, str], int]]:
    found = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        tree = ast.parse(path.read_text())
        for node in ast.walk(tree):
            if (isinstance(node, ast.Call)
                    and _call_name(node.func) == "createDataFrame"):
                data = ast.unparse(node.args[0]) if node.args else ""
                func = _enclosing_function(tree, node.lineno)
                found.append(((rel, func, data), node.lineno))
    return found


def test_driver_rows_become_frames_only_through_local_frame():
    """``createDataFrame(list, ddl)`` pickles the rows into a Python
    RDD, so a few driver-side rows cost a Python-worker stage; every
    list of rows goes through ``catalog.local_frame`` instead."""
    calls = _create_dataframe_calls()
    found = [
        f"{rel}:{lineno} in {func}({data})"
        for (rel, func, data), lineno in calls
        if (rel, func, data) not in CREATE_DATAFRAME_OK
    ]
    assert not found, f"createDataFrame outside local_frame: {found}"
    stale = set(CREATE_DATAFRAME_OK) - {key for key, _ in calls}
    assert not stale, f"allowlist entries no longer in source: {stale}"


# ---------------------------------------------------------------- reachability

REPO = PKG.parent

#: The program's surface: the driver contract, the demo and maintenance
#: scripts, and the benchmark. The module-level code of every package
#: module is a root too: it runs on import and holds the registry's
#: QUERIES and ORACLES tables.
ROOT_FILES = (
    REPO / "__spark_entry__.py",
    *sorted((REPO / "tools").rglob("*.py")),
    *sorted((REPO / "perfbench").rglob("*.py")),
)

#: (relative path, definition) -> why it stays although no root reaches it.
UNREACHED_OK = {
    ("sources/readers.py", "read_jdbc"):
        "SURVEY S1 Postgres source (COVERAGE.md row S1)",
    ("sources/readers.py", "read_rest_json"):
        "SURVEY S5 REST/Socrata source (COVERAGE.md row S5)",
    ("sources/writers.py", "rest_bulk_insert"):
        "SURVEY K1 REST bulk insert sink (COVERAGE.md row K1)",
    ("sources/writers.py", "write_jdbc"):
        "SURVEY K2 SQL table sink (COVERAGE.md row K2)",
    ("sources/writers.py", "write_csv"):
        "SURVEY K3 CSV sink (COVERAGE.md row K3)",
}

_WORD = re.compile(r"[A-Za-z_]\w*")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _parse_code(path: Path) -> ast.Module:
    """The module's AST with every docstring removed."""
    tree = ast.parse(path.read_text())
    for node in ast.walk(tree):
        if (isinstance(node, (*_DEFS, ast.Module)) and node.body
                and isinstance(node.body[0], ast.Expr)
                and isinstance(node.body[0].value, ast.Constant)
                and isinstance(node.body[0].value.value, str)):
            node.body = node.body[1:]
    return tree


def _uses(nodes) -> set[str]:
    """Names the code under ``nodes`` uses: identifiers, attributes,
    import aliases, keyword arguments, and the words of every string
    constant (SQL text, getattr names). Comments never reach the AST,
    and ``_parse_code`` drops the docstrings."""
    used: set[str] = set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                used.add(node.id)
            elif isinstance(node, ast.Attribute):
                used.add(node.attr)
            elif isinstance(node, ast.alias):
                used.update(node.name.split("."))
            elif isinstance(node, ast.keyword) and node.arg:
                used.add(node.arg)
            elif (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)):
                used.update(_WORD.findall(node.value))
    return used


def _unreached() -> list[tuple[str, str]]:
    """Top-level defs and classes no root reaches, as (path, name).

    A definition is reached when a reached piece of code uses its name
    (see ``_uses``), and the code of a reached definition is reached in
    turn. Getattr lookups, SQL text and registry tables therefore count
    as references; a name that only a comment or docstring mentions
    does not."""
    defs: dict[str, list[tuple[str, set[str]]]] = {}
    roots: set[str] = set()
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        module_level = []
        for node in _parse_code(path).body:
            if isinstance(node, _DEFS):
                defs.setdefault(node.name, []).append((rel, _uses([node])))
            else:
                module_level.append(node)
        roots |= _uses(module_level)
    for path in ROOT_FILES:
        roots |= _uses([_parse_code(path)])
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, words in defs.get(name, []):
            todo.extend(words - seen)
    return sorted(
        (rel, name)
        for name, found in defs.items()
        if name not in seen
        for rel, _ in found
    )


def test_every_definition_is_reachable():
    unreached = [d for d in _unreached() if d not in UNREACHED_OK]
    assert not unreached, (
        "definitions nothing on the program's surface reaches (delete "
        "them with their tests, or allowlist with a reason): "
        + ", ".join(f"{rel}:{name}" for rel, name in unreached)
    )


def test_reachability_allowlist_has_no_stale_entries():
    stale = set(UNREACHED_OK) - set(_unreached())
    assert not stale, f"allowlisted but reached or gone: {sorted(stale)}"


# ------------------------------------------------------------ tool checkouts


def _fixed_checkout_paths() -> list[tuple[str, int, str]]:
    """Absolute-path string constants (docstrings aside) by which a
    tool names a fixed checkout: a ``sys.path`` entry, or a path whose
    last component is a top-level entry of the checkout (a tracked
    file, or a .gitignore'd output such as ``testdata_sf1``)."""
    top = {p.name for p in REPO.iterdir()} | {
        line.strip().strip("/")
        for line in (REPO / ".gitignore").read_text().splitlines()
        if line.strip() and not line.startswith("#")
    }
    found = []
    for path in sorted((REPO / "tools").rglob("*.py")):
        tree = _parse_code(path)
        on_sys_path = {
            id(arg)
            for node in ast.walk(tree)
            if isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and ast.unparse(node.func.value) == "sys.path"
            for arg in node.args
        }
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant)
                    and isinstance(node.value, str)
                    and node.value.startswith("/")
                    and (id(node) in on_sys_path
                         or node.value.rstrip("/").rsplit("/", 1)[-1]
                         in top)):
                found.append(
                    (str(path.relative_to(REPO)), node.lineno, node.value)
                )
    return found


def test_tools_find_their_checkout_from_their_own_file():
    """Run from a second checkout (a parent copy, a benchmark
    directory), a tool must import and write THAT checkout: the
    package path and the checkout outputs derive from ``__file__``."""
    found = _fixed_checkout_paths()
    assert not found, f"fixed checkout paths in tools/: {found}"


# ------------------------------------------------------- module-level state

#: (defining module, module-level name) -> why package functions may
#: write it. Any other write is state one call leaves for the next.
MODULE_STATE_OK = {
    ("catalog.py", "_MEMO"):
        "values derived from fixture tables, rebuilt when a table's "
        "fingerprint changes (catalog.memo)",
    ("catalog.py", "_TABLE_CACHE"):
        "per-session scan plans under the same fingerprint rule, weak "
        "on the session",
    ("operators/temporal.py", "_DRAIN_SESSIONS"):
        "one drain child session per parent, weak on the parent; drain "
        "conf stays on the child",
    ("streaming/docs.py", "_STAGED_ALL"):
        "temp dirs deleted at interpreter exit",
    ("streaming/events.py", "_CKPT_DIRS"):
        "checkpoint dirs deleted at interpreter exit or on release",
    ("plans/queries.py", "QUERIES"):
        "registry: LLM modules register late, priority order in place",
    ("plans/queries.py", "ORACLES"):
        "registry: LLM modules register their oracles late",
    ("plans/queries.py", "NO_ORACLE"):
        "registry: LLM modules register their rows-only reasons late",
}

_MUTATORS = {
    "append", "extend", "insert", "add", "update", "setdefault", "pop",
    "popitem", "clear", "remove", "discard",
}


def _written_names(fn: ast.AST) -> set[str]:
    """Non-local names the code of ``fn`` writes: item assignment or
    deletion, a mutating method call, or rebinding under ``global``."""
    local = {a.arg for a in ast.walk(fn) if isinstance(a, ast.arg)} | {
        n.id for n in ast.walk(fn)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store)
    }
    written: set[str] = set()
    for node in ast.walk(fn):
        if (isinstance(node, ast.Subscript)
                and isinstance(node.ctx, (ast.Store, ast.Del))
                and isinstance(node.value, ast.Name)):
            written.add(node.value.id)
        elif (isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in _MUTATORS
                and isinstance(node.func.value, ast.Name)):
            written.add(node.func.value.id)
        elif isinstance(node, ast.Global):
            local -= set(node.names)
            written.update(node.names)
    return written - local


def _module_state_writes() -> set[tuple[str, str]]:
    """(defining module, name) of every module-level name a package
    function writes; a name a module imports counts against the
    module that defines it."""
    trees = {
        str(path.relative_to(PKG)): ast.parse(path.read_text())
        for path in sorted(PKG.rglob("*.py"))
    }
    owners: dict[str, set[str]] = {}
    for rel, tree in trees.items():
        for node in tree.body:
            targets = (
                node.targets if isinstance(node, ast.Assign)
                else [node.target] if isinstance(node, ast.AnnAssign)
                else []
            )
            for t in targets:
                if isinstance(t, ast.Name):
                    owners.setdefault(t.id, set()).add(rel)
    found: set[tuple[str, str]] = set()
    for rel, tree in trees.items():
        for fn in ast.walk(tree):
            if not isinstance(
                fn, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)
            ):
                continue
            for name in _written_names(fn) & owners.keys():
                mods = {rel} if rel in owners[name] else owners[name]
                found |= {(mod, name) for mod in mods}
    return found


def test_no_function_writes_module_level_state():
    """A package function that fills a module-level dict or list leaves
    state behind that a later call reads; derived values go through
    ``catalog.memo``, which rebuilds them when their tables change."""
    writes = _module_state_writes()
    found = sorted(writes - set(MODULE_STATE_OK))
    assert not found, (
        "module-level state written by package functions (use "
        "catalog.memo, or allowlist with a reason): "
        + ", ".join(f"{rel}:{name}" for rel, name in found)
    )
    stale = set(MODULE_STATE_OK) - writes
    assert not stale, f"allowlist entries no longer written: {stale}"
