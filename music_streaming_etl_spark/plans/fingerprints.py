"""Per-key SOURCE FINGERPRINTS for the change-aware driver rotation
(VERDICT r7 item 3).

`_auto_rotate` (registry.py) used to order already-green keys by
evidence AGE only, so a key whose implementation was rewritten AFTER
its latest green driver row kept that stale row and waited behind
untouched r2-era keys (`winnow_fingerprints` in round 7: operator
replaced wholesale, driver row certified the gen-3 form). This module
computes a deterministic fingerprint of each registry key's SOURCE
CLOSURE — the plan function, its oracle SQL, and (recursively) every
in-package function / class / module the plan code references — so
the rotation can front keys whose code changed since the round that
certified them.

The certified fingerprints live in the builder-owned sidecar
``FINGERPRINTS.json`` at the repo root: ``{key: {"fp": md5,
"round": N}}`` where N is the round of the key's latest green
CORRECTNESS row and fp is the closure fingerprint of the source AT
THAT ROUND. The sidecar is updated by ``scripts/record_fingerprints.py``
run at ROUND START, before any source edits — the driver runs against
the round's final commit, so at the start of the NEXT round the live
tree is exactly the tree its green rows certified.

Determinism contract (mirrors `_auto_rotate`'s): the fingerprint is a
pure function of committed source text, so any two checkouts of the
same commit agree. Only IN-PACKAGE objects enter the closure —
pyspark / stdlib churn must not invalidate evidence. Paths resolved
from a module file (the committed reference sample, ``.scratch``)
reach the closure as constant values and oracle text, so the checkout
root is folded to a placeholder before hashing.
"""

from __future__ import annotations

import ast
import hashlib
import importlib
import inspect
import os
import re
import textwrap
import types

_PKG_ROOT = __name__.split(".")[0]  # "music_streaming_etl_spark"
_CHECKOUT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _resolve_relative(module: str, anchor_module: str) -> str | None:
    """Resolve a (possibly relative) import module string against the
    importing function's module; None if it leaves the package."""
    if module.startswith("."):
        level = len(module) - len(module.lstrip("."))
        tail = module.lstrip(".")
        parts = anchor_module.split(".")
        if level > len(parts):
            return None
        base = parts[: len(parts) - level]
        return ".".join(base + ([tail] if tail else []))
    return module


def _local_imports(fn, sources: dict[str, str], seen: set[int]) -> None:
    """Fold every in-package object a function imports LOCALLY into
    the closure: imported functions recurse, imported modules/classes
    contribute their full source, imported module-level constants
    contribute their value (ADVICE r8 low: the `__globals__` path
    already recorded consts; this path silently skipped them).

    `from X import a, b` / `import X` statements INSIDE a function body
    bind LOCAL names, so they never appear in fn.__globals__ — and
    function-local `from ..operators.x import f` is the DOMINANT import
    style in the plan modules (review r8 finding: the winnow operator
    was absent from its plan's closure). The imports are found by
    PARSING the source with ``ast`` (ADVICE r8 medium: the previous
    regex matched greedily across lines, so consecutive or
    parenthesized local imports collapsed into one match and only the
    first module resolved — genre_kpis' closure dropped compute_kpis /
    extract_streams / scan_csv_multi entirely). ``ast.walk`` sees each
    ImportFrom/Import node individually, parenthesized or not, and is
    version-stable where bytecode IMPORT_NAME is not."""
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        return
    anchor = getattr(fn, "__module__", None)
    if not anchor:
        return
    try:
        tree = ast.parse(textwrap.dedent(src))
    except SyntaxError:  # pragma: no cover — getsource of valid fn
        return
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            # `import pkg.sub` in-package: the module source is closure
            for alias in node.names:
                if alias.name == _PKG_ROOT or alias.name.startswith(
                    _PKG_ROOT + "."
                ):
                    try:
                        mod = importlib.import_module(alias.name)
                    except Exception:  # noqa: BLE001 — skip unresolvable
                        continue
                    mod_id = f"module:{mod.__name__}"
                    if mod_id not in sources:
                        try:
                            sources[mod_id] = inspect.getsource(mod)
                        except (OSError, TypeError):
                            sources[mod_id] = mod.__name__
            continue
        if not isinstance(node, ast.ImportFrom):
            continue
        resolved = _resolve_relative(
            "." * node.level + (node.module or ""), anchor
        )
        if not resolved or not (
            resolved == _PKG_ROOT or resolved.startswith(_PKG_ROOT + ".")
        ):
            continue
        try:
            mod = importlib.import_module(resolved)
        except Exception:  # noqa: BLE001 — unresolvable: skip
            continue
        for alias in node.names:
            obj = _unwrap(getattr(mod, alias.name, None))
            if obj is None:
                continue
            if isinstance(obj, types.FunctionType) and _is_in_package(obj):
                _closure_sources(obj, sources, seen)
            elif isinstance(obj, types.ModuleType) and _is_in_package(obj):
                mod_id = f"module:{obj.__name__}"
                if mod_id not in sources:
                    try:
                        sources[mod_id] = inspect.getsource(obj)
                    except (OSError, TypeError):
                        sources[mod_id] = obj.__name__
            elif inspect.isclass(obj) and _is_in_package(obj):
                cls_id = f"class:{obj.__module__}.{obj.__qualname__}"
                if cls_id not in sources:
                    try:
                        sources[cls_id] = inspect.getsource(obj)
                    except (OSError, TypeError):
                        sources[cls_id] = repr(obj)
            elif isinstance(obj, (str, int, float, tuple, frozenset, list, dict)):
                # locally-imported module-level constants (oracle
                # templates, domain tuples; r10 adds list/dict per
                # ADVICE r9 — repr is deterministic for both: list
                # order is literal order, dict preserves insertion):
                # value is closure, keyed by the module that DEFINES
                # it — same convention the __globals__ path uses for
                # the reading module.
                sources.setdefault(f"const:{resolved}.{alias.name}", _const_repr(obj))


def _const_repr(obj) -> str:
    """A constant's value as closure text. Object reprs inside it (a
    dict of decoder functions) carry a per-process memory address,
    which is not source: it is dropped."""
    return re.sub(r" at 0x[0-9a-fA-F]+", "", repr(obj))


def _unwrap(obj):
    """A decorated function (a ``functools.lru_cache`` memo) stands for
    the function it wraps: its code is closure, while the values it
    has cached at runtime are not."""
    wrapped = getattr(obj, "__wrapped__", None)
    return wrapped if isinstance(wrapped, types.FunctionType) else obj


def _is_in_package(obj) -> bool:
    mod = getattr(obj, "__module__", None)
    if isinstance(obj, types.ModuleType):
        mod = obj.__name__
    return bool(mod) and (
        mod == _PKG_ROOT or str(mod).startswith(_PKG_ROOT + ".")
    )


def _code_names(code: types.CodeType) -> set[str]:
    """All global-ish names referenced by a code object, including
    nested code objects (lambdas, comprehensions, inner defs)."""
    names = set(code.co_names)
    for const in code.co_consts:
        if isinstance(const, types.CodeType):
            names |= _code_names(const)
    return names


def _closure_sources(fn, sources: dict[str, str], seen: set[int]) -> None:
    """Recursively collect ``{stable_id: source_text}`` for ``fn`` and
    every in-package object its code references by name."""
    if id(fn) in seen:
        return
    seen.add(id(fn))
    try:
        src = inspect.getsource(fn)
    except (OSError, TypeError):
        src = repr(fn)
    key = f"{getattr(fn, '__module__', '?')}.{getattr(fn, '__qualname__', repr(fn))}"
    sources[key] = src
    code = getattr(fn, "__code__", None)
    if code is None:
        return
    _local_imports(fn, sources, seen)
    globs = getattr(fn, "__globals__", {})
    for name in sorted(_code_names(code)):
        obj = _unwrap(globs.get(name))
        if obj is None:
            continue
        if isinstance(obj, types.ModuleType):
            if _is_in_package(obj):
                mod_id = f"module:{obj.__name__}"
                if mod_id not in sources:
                    try:
                        sources[mod_id] = inspect.getsource(obj)
                    except (OSError, TypeError):
                        sources[mod_id] = obj.__name__
        elif isinstance(obj, types.FunctionType):
            if _is_in_package(obj):
                _closure_sources(obj, sources, seen)
        elif inspect.isclass(obj):
            if _is_in_package(obj):
                cls_id = f"class:{obj.__module__}.{obj.__qualname__}"
                if cls_id not in sources:
                    try:
                        sources[cls_id] = inspect.getsource(obj)
                    except (OSError, TypeError):
                        sources[cls_id] = repr(obj)
        elif isinstance(obj, (str, int, float, tuple, frozenset, list, dict)):
            # module-level constants a plan reads (oracle templates,
            # domain tuples; r10 adds list/dict per ADVICE r9 — repr
            # is deterministic for both): their VALUE is part of the
            # closure. Module-qualified — same-named constants in
            # different plan modules must not collide.
            mod = getattr(fn, "__module__", "?")
            sources.setdefault(f"const:{mod}.{name}", _const_repr(obj))


def key_fingerprint(fn, oracle: str | None) -> str:
    """md5 over the sorted source closure of (plan fn, oracle SQL)."""
    sources: dict[str, str] = {}
    _closure_sources(fn, sources, set())
    h = hashlib.md5()

    def text(s: str) -> bytes:
        return s.replace(_CHECKOUT, "<checkout>").encode()

    for ident in sorted(sources):
        h.update(ident.encode())
        h.update(b"\x00")
        h.update(text(sources[ident]))
        h.update(b"\x00")
    h.update(text(oracle or "<rows-only>"))
    return h.hexdigest()


def live_fingerprints(registry: dict) -> dict[str, str]:
    """Fingerprint every key of a ``{key: (fn, oracle)}`` registry."""
    return {
        k: key_fingerprint(fn, oracle)
        for k, (fn, oracle) in registry.items()
    }
