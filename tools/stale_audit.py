#!/usr/bin/env python
"""Mechanized stale-certification audit (VERDICT r10 "Next round" #2).

A driver green row certifies a query AS OF the commit that added its
CORRECTNESS_r{N}.json — the code the driver ran is the code in that
commit. Any later change to the query's implementing function, or to a
helper function / constant it (transitively) depends on, silently
invalidates the certification: the committed green row no longer
describes the code that would run today. The `sim_knn_label_purity`
episode (r8 green row predating the round-9 kNN-substrate refactor,
fix f1c05c8) is the motivating incident.

This module walks, for every certified name:

1. the LATEST round holding a green row for it, mapped to the commit
   that added that CORRECTNESS file (``git log --diff-filter=A``);
2. the query function's dependency closure AT HEAD — the function
   itself, plus every module-level function / class / constant it
   references, followed transitively through module-local helpers and
   first-party imports (``wal_consumer_spark.operators.*``,
   ``plans._util``, sibling plan modules, ``sources``, ``streaming``);
3. a comment/formatting-insensitive comparison (normalized ``ast.dump``
   with docstrings stripped) of every closure member between the
   certification commit and the working tree.

Names whose closure changed are STALE: their green rows describe dead
code. The audit is consumed two ways:

- ``tests/test_stale_certification.py`` asserts every stale name is
  re-pinned in the current DRIVER_WINDOW or explicitly waived by name;
- ``python tools/stale_audit.py`` prints the stale set plus the
  oldest-certification-first fill ordering used to rotate the window;
  ``--ledger`` prints the per-query certification ledger (JSON) instead.

Uses only git + ast — no Spark session — so it runs in milliseconds
per (commit, file) pair and caches parses.
"""

from __future__ import annotations

import ast
import json
import re
import subprocess
import sys
from functools import lru_cache
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

#: First-party packages whose functions count as certified substrate.
#: stdlib / pyspark / pandas imports are pinned by the environment, not
#: by our commits, so they are out of scope.
_FIRST_PARTY_PREFIX = "wal_consumer_spark"

#: Modules excluded from the closure: pure registration plumbing. The
#: `@register(...)` decorator stores the function and returns it
#: UNCHANGED — no decorator change can alter what a registered query
#: computes (if it mis-stored the mapping, the import-time name guard
#: and tests/test_registry.py fail, not the query's math). Without this
#: exclusion the round-10 name-guard addition to `register()` flags all
#: 426 pre-r10 certifications at once, drowning the real signal.
_EXCLUDED_MODULES = frozenset({f"{_FIRST_PARTY_PREFIX}.plans.registry"})


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", str(REPO), *args],
        check=True,
        capture_output=True,
        text=True,
    ).stdout


def _is_green(row: dict) -> bool:
    return bool(
        row.get("rows_match")
        and row.get("schema_match")
        and row.get("hash_match")
        and not row.get("err")
    )


@lru_cache(maxsize=None)
def correctness_commits() -> dict[int, str]:
    """round -> commit hash that ADDED CORRECTNESS_r{N}.json. A round
    file present on disk but never committed (driver just dropped it)
    maps to None-equivalent: it is omitted, and names whose only green
    row lives there are treated as certified-at-HEAD (never stale)."""
    out: dict[int, str] = {}
    for path in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r(\d+)\.json$", path.name).group(1))
        log = _git("log", "--diff-filter=A", "--format=%H", "--", path.name)
        hashes = log.split()
        if hashes:
            out[rnd] = hashes[-1]
    return out


@lru_cache(maxsize=None)
def latest_green_round() -> dict[str, int]:
    """name -> newest round with a green row (committed or on disk)."""
    best: dict[str, int] = {}
    for path in REPO.glob("CORRECTNESS_r*.json"):
        rnd = int(re.search(r"r(\d+)\.json$", path.name).group(1))
        for name, row in json.loads(path.read_text()).items():
            if _is_green(row) and rnd > best.get(name, -1):
                best[name] = rnd
    return best


def _strip_docstring(node: ast.AST) -> ast.AST:
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef, ast.Module)):
        body = list(node.body)
        if (
            body
            and isinstance(body[0], ast.Expr)
            and isinstance(body[0].value, ast.Constant)
            and isinstance(body[0].value.value, str)
        ):
            body = body[1:] or [ast.Pass()]
        node.body = body
    for child in ast.iter_child_nodes(node):
        _strip_docstring(child)
    return node


class ModuleSnapshot:
    """Top-level definitions of one module file at one commit (or the
    working tree when commit is None): name -> (normalized dump,
    referenced names)."""

    def __init__(self, source: str):
        tree = ast.parse(source)
        self.defs: dict[str, str] = {}
        self.refs: dict[str, set[str]] = {}
        #: alias -> fully qualified first-party module (from imports).
        #: Plain ``import a.b.c`` stores the FULL dotted path as the key
        #: (references go through ``a.b.c.fn``); ``import a.b.c as m``
        #: stores ``m``.
        self.module_aliases: dict[str, str] = {}
        #: imported name -> (fully qualified module, original name)
        self.imported_names: dict[str, tuple[str, str]] = {}
        # Imports are collected from the WHOLE tree, not just tree.body:
        # function-local `from ...operators.x import y` is the dominant
        # style inside plan functions, and scanning only the module top
        # level silently truncated closures (ADVICE r11 — the audit
        # missed exact_rank_selection in agg_interquartile_mean's
        # closure). Merging per-function imports module-wide can only
        # over-flag, never under-flag.
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                for a in node.names:
                    if a.name.startswith(_FIRST_PARTY_PREFIX):
                        self.module_aliases[a.asname or a.name] = a.name
            elif isinstance(node, ast.ImportFrom):
                mod = node.module or ""
                if node.level:  # relative import — resolve lazily by suffix
                    mod = f"{_FIRST_PARTY_PREFIX}:{node.level}:{mod}"
                if mod.startswith(_FIRST_PARTY_PREFIX):
                    for a in node.names:
                        self.imported_names[a.asname or a.name] = (mod, a.name)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self._add(node.name, node)
            elif isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        self._add(tgt.id, node)
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                self._add(node.target.id, node)

    def _add(self, name: str, node: ast.AST) -> None:
        clean = _strip_docstring(
            ast.parse(ast.unparse(node)).body[0]
        )
        self.defs[name] = ast.dump(clean)
        # Attribute chains are flattened to FULL dotted paths so plain
        # `import a.b.c` references (`a.b.c.fn`) resolve; each inner
        # Attribute node also yields its own prefix chain (`a.b`,
        # `a.b.c`), so single-level `alias.attr` keeps working.
        dotted: set[str] = set()
        for n in ast.walk(node):
            if isinstance(n, ast.Attribute):
                parts = [n.attr]
                base = n.value
                while isinstance(base, ast.Attribute):
                    parts.append(base.attr)
                    base = base.value
                if isinstance(base, ast.Name):
                    parts.append(base.id)
                    dotted.add(".".join(reversed(parts)))
        self.refs[name] = {
            n.id for n in ast.walk(node) if isinstance(n, ast.Name)
        } | dotted


def _module_relpath(qualname: str) -> str | None:
    """wal_consumer_spark.plans.llm -> wal_consumer_spark/plans/llm.py,
    if the file exists in the working tree."""
    rel = qualname.replace(".", "/") + ".py"
    if (REPO / rel).exists():
        return rel
    pkg = qualname.replace(".", "/") + "/__init__.py"
    return pkg if (REPO / pkg).exists() else None


def _resolve_relative(mod: str, here: str) -> str:
    """Resolve the lazy relative-import marker against the importing
    module's package."""
    m = re.match(rf"{_FIRST_PARTY_PREFIX}:(\d+):(.*)", mod)
    if not m:
        return mod
    level, suffix = int(m.group(1)), m.group(2)
    parts = here.split(".")[:-level]
    return ".".join(parts + ([suffix] if suffix else []))


@lru_cache(maxsize=None)
def _snapshot(commit: str | None, relpath: str) -> ModuleSnapshot | None:
    try:
        if commit is None:
            source = (REPO / relpath).read_text()
        else:
            source = _git("show", f"{commit}:{relpath}")
    except (subprocess.CalledProcessError, FileNotFoundError):
        return None
    return ModuleSnapshot(source)


def closure(qualmod: str, func: str) -> set[tuple[str, str]]:
    """Dependency closure at HEAD: {(qualified module, def name)} reached
    from (qualmod, func) through module-local references and first-party
    imports. One pass per member; bounded by total first-party defs."""
    seen: set[tuple[str, str]] = set()
    work = [(qualmod, func)]
    while work:
        mod, name = work.pop()
        if (mod, name) in seen or mod in _EXCLUDED_MODULES:
            continue
        rel = _module_relpath(mod)
        snap = _snapshot(None, rel) if rel else None
        if snap is None or name not in snap.defs:
            continue
        seen.add((mod, name))
        for ref in snap.refs[name]:
            if "." in ref:  # module-qualified reference: alias.path.attr
                head, rest = ref.split(".", 1)
                target = snap.module_aliases.get(head)
                if target is None and head in snap.imported_names:
                    # `from pkg import submod` binds a module under a
                    # bare name; detect by path existence
                    src_mod, src_name = snap.imported_names[head]
                    sub = f"{_resolve_relative(src_mod, mod)}.{src_name}"
                    if _module_relpath(sub):
                        target = sub
                if target is None:
                    # plain `import a.b.c` binds the full dotted path —
                    # take the longest alias that prefixes the reference
                    best = ""
                    for alias, tgt in snap.module_aliases.items():
                        if "." in alias and ref.startswith(alias + ".") and len(alias) > len(best):
                            best, target = alias, tgt
                    if target is not None:
                        rest = ref[len(best) + 1 :]
                if target is not None:
                    # descend through submodule components so
                    # `ops.dedup.minhash` lands in (…operators.dedup,
                    # minhash), not (…operators, dedup)
                    parts = rest.split(".")
                    while len(parts) > 1 and _module_relpath(f"{target}.{parts[0]}"):
                        target = f"{target}.{parts[0]}"
                        parts = parts[1:]
                    work.append((target, parts[0]))
                continue
            if ref in snap.imported_names:
                src_mod, src_name = snap.imported_names[ref]
                src_mod = _resolve_relative(src_mod, mod)
                # `from pkg import module` style: the name is a module
                sub = f"{src_mod}.{src_name}"
                if _module_relpath(sub):
                    # references resolved per-attribute above; skip here
                    continue
                work.append((src_mod, src_name))
            elif ref in snap.defs and ref != name:
                work.append((mod, ref))
    return seen


def stale_reasons(name: str, qualmod: str) -> list[str]:
    """Empty list if `name`'s latest green row still describes HEAD code;
    else one reason per changed closure member."""
    rnd = latest_green_round().get(name)
    if rnd is None:
        return []  # never certified — staging logic handles it
    commit = correctness_commits().get(rnd)
    if commit is None:
        return []  # certified by an uncommitted (current-round) file == HEAD
    reasons: list[str] = []
    for mod, member in sorted(closure(qualmod, name)):
        rel = _module_relpath(mod)
        old = _snapshot(commit, rel)
        new = _snapshot(None, rel)
        old_dump = old.defs.get(member) if old else None
        new_dump = new.defs.get(member) if new else None
        if old_dump != new_dump:
            what = "added since certification" if old_dump is None else "changed"
            reasons.append(f"{mod}.{member} {what} after r{rnd:02d} ({commit[:8]})")
    return reasons


def audit() -> dict[str, list[str]]:
    """name -> reasons, for every certified registered query whose
    dependency closure changed after its latest green row's commit."""
    sys.path.insert(0, str(REPO))
    from wal_consumer_spark.plans import all_specs

    flagged: dict[str, list[str]] = {}
    green = latest_green_round()
    for name, spec in all_specs().items():
        if name not in green:
            continue
        reasons = stale_reasons(name, spec.spark.__module__)
        if reasons:
            flagged[name] = reasons
    return flagged


def ledger() -> dict[str, dict]:
    """Per-query certification manifest (VERDICT r11 stretch #8): for
    every registered query, the round and commit of its latest green
    driver row plus a digest of its dependency closure AS OF that commit
    — so a judge or the driver can audit coverage without re-deriving
    it. Hashing the CERTIFIED snapshot (not the working tree) keeps the
    ledger stable across edits; divergence between this digest and
    HEAD's code is exactly what `audit()` flags. Uncertified names
    (currently staged in the driver window) carry null round/commit and
    a HEAD-state digest."""
    import hashlib

    sys.path.insert(0, str(REPO))
    from wal_consumer_spark.plans import all_specs

    green = latest_green_round()
    commits = correctness_commits()
    out: dict[str, dict] = {}
    for name, spec in all_specs().items():
        rnd = green.get(name)
        commit = commits.get(rnd) if rnd is not None else None
        members = sorted(closure(spec.spark.__module__, name))
        h = hashlib.sha256()
        for mod, member in members:
            rel = _module_relpath(mod)
            snap = _snapshot(commit, rel) if rel else None
            dump = (snap.defs.get(member) if snap else None) or ""
            h.update(f"{mod}.{member}\x00{dump}\x01".encode())
        out[name] = {
            "certified_round": rnd,
            "certified_commit": commit,
            "n_closure_members": len(members),
            "closure_sha256_16": h.hexdigest()[:16],
        }
    return out


def main() -> int:
    sys.path.insert(0, str(REPO))
    from wal_consumer_spark.plans import all_specs

    if "--ledger" in sys.argv:
        print(json.dumps(ledger(), indent=1, sort_keys=True))
        return 0

    flagged = audit()
    print(f"stale: {len(flagged)}")
    for name, reasons in sorted(flagged.items()):
        print(f"  {name}")
        for r in reasons:
            print(f"    - {r}")
    # oldest-certification-first fill ordering for window rotation
    green = latest_green_round()
    order = sorted(
        (n for n in all_specs() if n in green),
        key=lambda n: (green[n], n),
    )
    print("\noldest-certified (fill candidates):")
    for n in order[:60]:
        print(f"  r{green[n]:02d} {n}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
