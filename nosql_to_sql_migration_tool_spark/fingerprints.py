"""Oracle-text fingerprints — the change-detection side of the driver
rotation contract (ADVICE r4, __spark_entry__.py:40).

``_CHANGED_IN_ROUND`` in ``__spark_entry__`` re-queues a query for driver
verification after its semantics change. Spark-side-only changes need a
manual entry, but an oracle-SQL edit is mechanically detectable: this
module pins an md5 per oracle string in ``oracle_fingerprints.json``.
``tests/test_entry_rotation.py`` asserts the pins match the live
``ORACLES`` text, so any oracle edit fails CI until the author reruns

    python -m nosql_to_sql_migration_tool_spark.fingerprints

which re-pins changed/new entries with ``changed_in_round`` = (max
recorded CORRECTNESS round) + 1.  ``__spark_entry__`` merges those
rounds into its rotation, so an edited query re-enters the verification
window automatically — forgetting the bookkeeping is no longer possible.
"""

from __future__ import annotations

import hashlib
import json
import re
from pathlib import Path

_HERE = Path(__file__).resolve().parent
FINGERPRINT_PATH = _HERE / "oracle_fingerprints.json"


def oracle_hash(sql: str) -> str:
    return hashlib.md5(sql.encode("utf-8")).hexdigest()


def load_fingerprints(path: Path = FINGERPRINT_PATH) -> dict[str, dict]:
    try:
        return json.loads(path.read_text())
    except (OSError, json.JSONDecodeError):
        return {}


def changed_rounds(path: Path = FINGERPRINT_PATH) -> dict[str, int]:
    """name -> round its oracle text last changed (1 = initial)."""
    return {
        name: int(entry.get("changed_in_round", 1))
        for name, entry in load_fingerprints(path).items()
    }


def next_round(repo: Path) -> int:
    """(max recorded driver CORRECTNESS round) + 1."""
    rounds = [0]
    for p in repo.glob("CORRECTNESS_r*.json"):
        m = re.search(r"r(\d+)", p.name)
        if m:
            rounds.append(int(m.group(1)))
    return max(rounds) + 1


def refresh(repo: Path | None = None, path: Path = FINGERPRINT_PATH) -> dict:
    """Re-pin fingerprints: unchanged entries keep their round, changed or
    new entries get the upcoming round; dropped queries are pruned."""
    from nosql_to_sql_migration_tool_spark.queries import ORACLES

    repo = repo if repo is not None else _HERE.parent
    prior = load_fingerprints(path)
    # Bootstrap (no prior pins): the current oracle text is what the
    # recorded rounds verified, so pin it as round 1, not as a change.
    rnd = next_round(repo) if prior else 1
    pinned: dict[str, dict] = {}
    for name, sql in ORACLES.items():
        h = oracle_hash(sql)
        old = prior.get(name)
        if old and old.get("hash") == h:
            pinned[name] = old
        else:
            pinned[name] = {"hash": h, "changed_in_round": rnd}
    path.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    return pinned


# ---------------------------------------------------------------------------
# Plan fingerprints (VERDICT r6 next #2): the Spark-side twin of the oracle
# pins. A query's plan hash covers the builder function's AST plus the
# transitive closure of package-local functions/classes it references, so a
# refactor inside e.g. operators/dedup.py mechanically re-queues every dedup
# query — closing the stale-green loophole that previously relied on the
# hand-maintained _MANUAL_CHANGED_IN_ROUND dict. Docstrings and comments are
# excluded (AST dump), so cosmetic edits don't burn verification-window slots.
# ---------------------------------------------------------------------------

PLAN_FINGERPRINT_PATH = _HERE / "plan_fingerprints.json"

# __package__, not __name__: under `python -m ...fingerprints` __name__ is
# "__main__" and would silently exclude every package-local reference.
_PACKAGE_PREFIX = (__package__ or "nosql_to_sql_migration_tool_spark") + "."


def _ast_digest(obj) -> str | None:
    """md5 of the docstring-stripped AST dump of a function/class source,
    or None when source is unavailable (builtins, C extensions)."""
    import ast
    import inspect
    import textwrap

    try:
        src = textwrap.dedent(inspect.getsource(obj))
        tree = ast.parse(src)
    except (OSError, TypeError, SyntaxError, IndentationError):
        return None
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Module)
        ):
            body = getattr(node, "body", [])
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                node.body = body[1:]
    return hashlib.md5(
        ast.dump(tree, include_attributes=False).encode("utf-8")
    ).hexdigest()


def _is_package_local(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    return isinstance(mod, str) and (
        mod.startswith(_PACKAGE_PREFIX) or mod == _PACKAGE_PREFIX[:-1]
    )


def _referenced(fn):
    """Package-local functions/classes reachable from fn: via its code
    globals (including names inside nested lambdas/comprehensions) AND via
    package-local imports written inside the function body — the dominant
    style in queries.py is `from ...operators.x import helper` inside the
    builder, which never appears in __globals__."""
    import ast
    import importlib
    import inspect
    import textwrap
    import types

    code = getattr(fn, "__code__", None)
    globs = getattr(fn, "__globals__", {})
    if code is None:
        return []
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        names.update(c.co_freevars)
        stack.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
    out = []
    for name in sorted(names):
        obj = globs.get(name)
        if obj is None:
            continue
        if isinstance(obj, (types.FunctionType, type)) and _is_package_local(obj):
            out.append(obj)
    # function-body imports
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError, IndentationError):
        return out
    pkg_root = _PACKAGE_PREFIX[:-1]
    own_pkg = (getattr(fn, "__module__", "") or "").rsplit(".", 1)[0]
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            mod_name = node.module or ""
            if node.level:  # relative import, resolve against fn's package
                base = own_pkg.rsplit(".", node.level - 1)[0] if node.level > 1 else own_pkg
                mod_name = f"{base}.{mod_name}" if mod_name else base
            if not (mod_name == pkg_root or mod_name.startswith(_PACKAGE_PREFIX)):
                continue
            try:
                mod = importlib.import_module(mod_name)
            except ImportError:
                continue
            for alias in node.names:
                obj = getattr(mod, alias.name, None)
                if isinstance(obj, (types.FunctionType, type)) and _is_package_local(
                    obj
                ):
                    out.append(obj)
        elif isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name == pkg_root or alias.name.startswith(_PACKAGE_PREFIX):
                    try:
                        mod = importlib.import_module(alias.name)
                    except ImportError:
                        continue
                    for obj in vars(mod).values():
                        if isinstance(
                            obj, (types.FunctionType, type)
                        ) and getattr(obj, "__module__", None) == alias.name:
                            out.append(obj)
    return out


_CONST_TYPES = (
    int, float, complex, str, bytes, bool, type(None),
    tuple, list, dict, set, frozenset,
)

# ---------------------------------------------------------------------------
# Runtime-state exclusion (ADVICE r8, medium): module-level memo caches
# (queries._MEMOS and its locks) are dicts, so the r8 constant digest
# treated them as constants — populating a cache in a warm process changed
# plan_hash (populated entries repr SparkSession/DataFrame memory addresses),
# so pytest ordering that ran a memoized builder before the fingerprint pin
# test spuriously failed, and refresh_plans() in a warm process would pin
# irreproducible hashes. Three independent guards now keep runtime state out
# of the digest:
#   1. explicit registration — mutable module state is declared with
#      ``runtime_cache({})`` at its definition site and excluded by identity;
#   2. recursive purity — a value is digestable only if it is composed
#      entirely of _CONST_TYPES leaves, so a populated-but-unregistered cache
#      (holding DataFrames/sessions) still drops out;
#   3. empty mutable containers are never digested — an EMPTY unregistered
#      cache is pure, and digesting it cold vs. excluding it warm was exactly
#      the instability; an empty container is plan-inert anyway, and editing
#      it to non-empty makes it digestable, which correctly re-queues.
# ---------------------------------------------------------------------------

_RUNTIME_CACHE_IDS: set[int] = set()
# Strong references to every registered container (ADVICE r9): exclusion is
# by id(), and a garbage-collected container's id can be recycled by CPython
# for a genuine module constant — which would then be silently excluded from
# plan digests (a hash that fails to change on a real constant edit). Keeping
# the containers alive makes id recycling impossible; the list grows only by
# one entry per runtime_cache() call site (re-imports under test add a few
# duplicates, all tiny dicts).
_RUNTIME_CACHE_REFS: list = []


def runtime_cache(container):
    """Mark a module-level mutable container as runtime state so it never
    enters plan digests. Returns the container for inline use:

        _MEMOS: dict[tuple, tuple] = runtime_cache({})
    """
    _RUNTIME_CACHE_IDS.add(id(container))
    _RUNTIME_CACHE_REFS.append(container)
    return container


def _is_pure_const(v, depth: int = 0) -> bool:
    """True when v is recursively composed of _CONST_TYPES leaves only."""
    if depth > 10:
        return False
    if isinstance(v, (list, tuple, set, frozenset)):
        return all(_is_pure_const(x, depth + 1) for x in v)
    if isinstance(v, dict):
        return all(
            _is_pure_const(k, depth + 1) and _is_pure_const(x, depth + 1)
            for k, x in v.items()
        )
    return isinstance(v, (int, float, complex, str, bytes, bool, type(None)))


def _digestable_const(v) -> bool:
    if id(v) in _RUNTIME_CACHE_IDS:
        return False
    if isinstance(v, (dict, set, list)) and not v:
        return False
    return _is_pure_const(v)


def _stable_repr(v) -> str:
    """Deterministic repr across processes: set iteration order depends on
    PYTHONHASHSEED for strings, so sets/dicts are canonicalized by sorted
    element repr before hashing."""
    if isinstance(v, (set, frozenset)):
        return "{" + ", ".join(sorted(_stable_repr(x) for x in v)) + "}"
    if isinstance(v, dict):
        items = sorted(v.items(), key=lambda kv: repr(kv[0]))
        return "{" + ", ".join(
            f"{_stable_repr(k)}: {_stable_repr(x)}" for k, x in items
        ) + "}"
    if isinstance(v, (list, tuple)):
        inner = ", ".join(_stable_repr(x) for x in v)
        return f"[{inner}]" if isinstance(v, list) else f"({inner})"
    return repr(v)


def _referenced_constants(fn) -> dict[str, str]:
    """repr-digests of module-level CONSTANTS the function reads — via its
    globals or via function-body ``from pkg.mod import CONST``. ADVICE r7:
    a Spark-plan change made by editing a constant (N_BANDS, a pinned
    threshold table) previously escaped plan_hash, which only walked
    callables — a residual stale-green loophole. Keys are
    ``const:<module>.<name>`` so they merge into the same ``seen`` dict."""
    import ast
    import importlib
    import inspect
    import textwrap
    import types

    out: dict[str, str] = {}
    code = getattr(fn, "__code__", None)
    globs = getattr(fn, "__globals__", {})
    if code is None:
        return out
    names: set[str] = set()
    stack = [code]
    while stack:
        c = stack.pop()
        names.update(c.co_names)
        names.update(c.co_freevars)
        stack.extend(k for k in c.co_consts if isinstance(k, types.CodeType))
    own_mod = getattr(fn, "__module__", "?")
    for name in sorted(names):
        if name.startswith("__"):
            continue
        if name in globs:
            obj = globs[name]
            if (
                isinstance(obj, _CONST_TYPES)
                and not callable(obj)
                and _digestable_const(obj)
            ):
                out[f"const:{own_mod}.{name}"] = hashlib.md5(
                    _stable_repr(obj).encode("utf-8")
                ).hexdigest()
    # function-body `from <pkg-local module> import CONST`
    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(fn)))
    except (OSError, TypeError, SyntaxError, IndentationError):
        return out
    pkg_root = _PACKAGE_PREFIX[:-1]
    own_pkg = (own_mod or "").rsplit(".", 1)[0]
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        mod_name = node.module or ""
        if node.level:
            base = own_pkg.rsplit(".", node.level - 1)[0] if node.level > 1 else own_pkg
            mod_name = f"{base}.{mod_name}" if mod_name else base
        if not (mod_name == pkg_root or mod_name.startswith(_PACKAGE_PREFIX)):
            continue
        try:
            mod = importlib.import_module(mod_name)
        except ImportError:
            continue
        for alias in node.names:
            obj = getattr(mod, alias.name, None)
            if (
                isinstance(obj, _CONST_TYPES)
                and not callable(obj)
                and _digestable_const(obj)
            ):
                out[f"const:{mod_name}.{alias.name}"] = hashlib.md5(
                    _stable_repr(obj).encode("utf-8")
                ).hexdigest()
    return out


def plan_hash(fn, include_constants: bool = True) -> str:
    """Combined digest of fn, every package-local function/class in its
    transitive reference closure, and every package-local module CONSTANT
    those functions read (ADVICE r7 — constant edits change plans too),
    keyed by qualified name for stability.

    ``include_constants=False`` yields the callables-only ``code_hash``
    pinned alongside ``hash``: migrate mode (hash-algorithm upgrades)
    preserves a query's round only when its code_hash is unchanged, so a
    genuine plan-code edit can never ride a migration past the rotation
    (ADVICE r8)."""
    import types

    seen: dict[str, str] = {}
    stack = [fn]
    visited: set[tuple[str, str]] = set()
    while stack:
        obj = stack.pop()
        key = (getattr(obj, "__module__", "?"), getattr(obj, "__qualname__", "?"))
        if key in visited:
            continue
        visited.add(key)
        digest = _ast_digest(obj)
        if digest is not None:
            seen[".".join(key)] = digest
        if isinstance(obj, types.FunctionType):
            stack.extend(_referenced(obj))
            if include_constants:
                seen.update(_referenced_constants(obj))
        elif isinstance(obj, type):
            for attr in vars(obj).values():
                if isinstance(attr, types.FunctionType) and _is_package_local(attr):
                    stack.append(attr)
    blob = json.dumps(seen, sort_keys=True)
    return hashlib.md5(blob.encode("utf-8")).hexdigest()


def plan_changed_rounds(path: Path = PLAN_FINGERPRINT_PATH) -> dict[str, int]:
    """name -> round its Spark plan last changed (1 = initial)."""
    return {
        name: int(entry.get("changed_in_round", 1))
        for name, entry in load_fingerprints(path).items()
    }


def refresh_plans(
    repo: Path | None = None,
    path: Path = PLAN_FINGERPRINT_PATH,
    migrate: bool = False,
) -> dict:
    """Re-pin plan fingerprints with the same round bookkeeping as oracle
    pins: unchanged entries keep their round, changed/new entries get the
    upcoming round, dropped queries are pruned.

    ``migrate=True`` is for HASH-ALGORITHM upgrades only (e.g. the r8
    addition of referenced constants to the digest): hashes are recomputed
    but existing entries KEEP their ``changed_in_round`` — the Spark plans
    themselves did not change, so mass-requeuing all queries into the
    50-slot driver window would leave most of them 'changed but
    unverified'. ADVICE r8 hardening: migrate preserves the round ONLY
    when the entry's callables-only ``code_hash`` is unchanged — an entry
    whose plan code actually changed is requeued even in migrate mode.
    Legacy entries pinned before code_hash existed are grandfathered once
    (their code_hash is stamped now), so the unguarded path is dead after
    the first post-upgrade migration."""
    from nosql_to_sql_migration_tool_spark.queries import QUERIES

    repo = repo if repo is not None else _HERE.parent
    prior = load_fingerprints(path)
    rnd = next_round(repo) if prior else 1
    pinned: dict[str, dict] = {}
    for name, fn in QUERIES.items():
        h = plan_hash(fn)
        ch = plan_hash(fn, include_constants=False)
        old = prior.get(name)
        if old and old.get("hash") == h:
            pinned[name] = {**old, "code_hash": ch}
        elif (
            old
            and migrate
            and ("code_hash" not in old or old["code_hash"] == ch)
        ):
            pinned[name] = {**old, "hash": h, "code_hash": ch}
        else:
            pinned[name] = {"hash": h, "code_hash": ch, "changed_in_round": rnd}
    path.write_text(json.dumps(pinned, indent=1, sort_keys=True) + "\n")
    return pinned


if __name__ == "__main__":
    import sys

    migrate = "--migrate-plans" in sys.argv
    result = refresh()
    print(f"pinned {len(result)} oracle fingerprints -> {FINGERPRINT_PATH}")
    plans = refresh_plans(migrate=migrate)
    mode = " (migrate: rounds preserved)" if migrate else ""
    print(f"pinned {len(plans)} plan fingerprints -> {PLAN_FINGERPRINT_PATH}{mode}")
