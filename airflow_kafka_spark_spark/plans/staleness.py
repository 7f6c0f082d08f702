"""Changed-since-measured detection for the measurement rotation.

The driver measures only the first 50 ``queries()`` entries per round, so
the rotation in ``plans.catalog`` must know not just *when* each entry was
last measured (``_correctness_history``) but whether its implementation
has changed *since* that row was produced. Round 4's age-only rotation
ranked a green-but-refactored entry below never-refactored older greens
(``containment_pairs`` / ``range_join_clicks`` / ``range_frame`` were all
rewritten in r4 after their r3 rows) — this module closes that hole.

Mechanism:

- :func:`entry_source_hash` computes a sha256 over the *source closure*
  of a catalog entry: the entry function's own source, the source of
  every package function it references (transitively — resolved through
  module globals for top-level imports and through an AST walk for the
  function-local ``from ..x import y`` style the catalog uses), plus the
  oracle SQL. Changing any helper on the entry's call path changes the
  hash; adding unrelated entries to catalog.py does not.
- :func:`record_measured_hashes` snapshots, for every entry with a
  driver row, the hash of its implementation *as measured*. It must run
  at round start, immediately after the new ``CORRECTNESS_r{N}.json``
  artifact is committed and **before any code changes** — at that moment
  current source == measured source for every entry in the new artifact.
  Entries whose latest row predates the hash era keep ``hash: null``
  (provenance unknown → the rotation treats them as needing refresh by
  age, same as before).
- ``catalog._measure_priority`` compares the recorded hash against the
  current one: a clean entry whose code changed since its row outranks
  every unchanged green, regardless of row age.

The snapshot lives in ``MEASURED_HASHES.json`` at the repo root, next to
the driver artifacts it is keyed against, and is committed so a fresh
checkout reproduces the same window (see ``tests/test_rotation.py``).
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import json
import textwrap
from pathlib import Path
from typing import Any

_PKG = "airflow_kafka_spark_spark"

HASHES_PATH = Path(__file__).resolve().parents[2] / "MEASURED_HASHES.json"

_HASH_CACHE: dict[str, str] = {}
_MEASURED_CACHE: dict[str, Any] | None = None


def _resolve_local_imports(src: str, defining_module: str) -> dict[str, Any]:
    """Map name -> object for ``from ..x import y`` statements inside a
    function body (the catalog's idiom), resolved against the package."""
    out: dict[str, Any] = {}
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:
        return out
    mod_parts = defining_module.split(".")
    for node in ast.walk(tree):
        if not isinstance(node, ast.ImportFrom):
            continue
        if node.level:
            base = mod_parts[: -node.level]
            target = ".".join(base + (node.module.split(".") if node.module else []))
        else:
            target = node.module or ""
        if not target.startswith(_PKG):
            continue
        try:
            mod = importlib.import_module(target)
        except ImportError:
            continue
        for alias in node.names:
            obj = getattr(mod, alias.name, None)
            if obj is not None:
                out[alias.asname or alias.name] = obj
    return out


def _referenced_names(fn) -> set[str]:
    """All names referenced by fn's code object, including nested
    lambdas/comprehensions and closure variables."""
    names: set[str] = set()
    stack = [fn.__code__]
    while stack:
        code = stack.pop()
        names.update(code.co_names)
        names.update(code.co_freevars)
        for const in code.co_consts:
            if inspect.iscode(const):
                stack.append(const)
    return names


def _stable_const(obj, seen: set, parts: list[str]) -> None:
    """Deterministic representation of a module-level constant: repr for
    primitives, element-wise recursion for containers (a plain repr() of
    a dict holding function objects embeds memory addresses — the
    mm_image_meta hash flapped across processes until this)."""
    if obj is None or isinstance(obj, (str, int, float, bool, bytes)):
        parts.append(repr(obj))
    elif isinstance(obj, dict):
        parts.append("<dict>")
        for k in sorted(obj, key=repr):
            parts.append(repr(k))
            _collect(obj[k], seen, parts)
    elif isinstance(obj, (list, tuple)):
        parts.append("<seq>")
        for item in obj:
            _collect(item, seen, parts)
    elif isinstance(obj, (set, frozenset)):
        parts.append("<set>")
        for item in sorted(obj, key=repr):
            _collect(item, seen, parts)
    # anything else (pyspark Column/StructType instances, sessions, ...)
    # is deliberately omitted: their reprs are either unstable or already
    # covered by the source of the code that builds them


def _collect(obj, seen: set, parts: list[str]) -> None:
    """Append obj's source (and, transitively, the source of every
    package-level function/class/constant it references) to parts."""
    inner = getattr(obj, "func", None)  # pandas_udf / functools wrappers
    if inner is not None and inspect.isfunction(inner):
        obj = inner
    if inspect.ismodule(obj):
        if obj.__name__.startswith(_PKG) and getattr(obj, "__file__", None):
            key = ("module", obj.__name__)
            if key not in seen:
                seen.add(key)
                try:
                    parts.append(Path(obj.__file__).read_text())
                except OSError:
                    pass
        return
    if inspect.isclass(obj):
        if (getattr(obj, "__module__", "") or "").startswith(_PKG):
            key = (obj.__module__, obj.__qualname__)
            if key not in seen:
                seen.add(key)
                try:
                    parts.append(inspect.getsource(obj))
                except (OSError, TypeError):
                    pass
        return
    if not inspect.isfunction(obj):
        _stable_const(obj, seen, parts)
        return
    module = getattr(obj, "__module__", "") or ""
    if not module.startswith(_PKG):
        return
    key = (module, obj.__qualname__)
    if key in seen:
        return
    seen.add(key)
    try:
        src = inspect.getsource(obj)
    except (OSError, TypeError):
        return
    parts.append(src)
    refs = _referenced_names(obj)
    resolved = dict(_resolve_local_imports(src, module))
    g = getattr(obj, "__globals__", {})
    for name in sorted(refs):
        child = resolved.get(name, g.get(name))
        if child is not None:
            _collect(child, seen, parts)
    # closure cells (decorated/nested helpers)
    for cell in getattr(obj, "__closure__", None) or ():
        try:
            _collect(cell.cell_contents, seen, parts)
        except ValueError:
            pass


def entry_source_parts(name: str) -> list[str]:
    """The raw source-closure pieces hashed for a catalog entry
    (exposed for tests: proves helper changes reach the hash)."""
    from .catalog import CATALOG

    q = CATALOG[name]
    parts: list[str] = []
    _collect(q.fn, set(), parts)
    parts.append(q.oracle or "<rows-only>")
    return parts


def entry_source_hash(name: str) -> str:
    cached = _HASH_CACHE.get(name)
    if cached is not None:
        return cached
    digest = hashlib.sha256(
        "\n@@entry-part@@\n".join(entry_source_parts(name)).encode()
    ).hexdigest()
    _HASH_CACHE[name] = digest
    return digest


def measured_hashes(path: Path = HASHES_PATH) -> dict[str, Any]:
    """name -> {"round": N, "hash": str|None} as recorded at measurement
    time. Missing/unparseable file degrades to {} (pure age rotation)."""
    global _MEASURED_CACHE
    if path == HASHES_PATH and _MEASURED_CACHE is not None:
        return _MEASURED_CACHE
    try:
        data = json.loads(path.read_text())
    except (OSError, ValueError):
        data = {}
    if not isinstance(data, dict):
        data = {}
    if path == HASHES_PATH:
        _MEASURED_CACHE = data
    return data


def record_measured_hashes(path: Path = HASHES_PATH) -> dict[str, Any]:
    """Snapshot current source hashes for entries measured in the LATEST
    round; carry prior records forward for older rows; null for rows
    that predate the hash era. Run at round start, before code changes.
    """
    from .catalog import _correctness_history

    global _MEASURED_CACHE
    hist = _correctness_history()
    existing = measured_hashes(path)
    latest = max((rnd for rnd, _ in hist.values()), default=0)
    out: dict[str, Any] = {}
    for name, (rnd, _status) in sorted(hist.items()):
        prev = existing.get(name)
        if rnd >= latest:
            out[name] = {"round": rnd, "hash": entry_source_hash(name)}
        elif isinstance(prev, dict) and prev.get("round") == rnd:
            out[name] = prev
        else:
            out[name] = {"round": rnd, "hash": None}
    path.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    if path == HASHES_PATH:
        _MEASURED_CACHE = out
    return out
