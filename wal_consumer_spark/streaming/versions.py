"""VersionedState: the one commit protocol of every piece of streaming state
(the keyed CDC target, the incremental rollup and the LSH dedup index).

State lives in immutable version dirs ``v<n>/`` under one path. The manifest
``_MANIFEST.json`` beside them maps each name the state is made of (a bucket,
a batch id) to the version dir holding it. A write lands ``v<n>/`` (``n`` =
newest version + 1) and swaps the manifest in last, atomically: the one
commit point, like the reference head handle's atomic delete+commit
(WalHeadHandle.java:29-42). A crash mid-write leaves the previous state
committed, its replay recomputes the same ``n`` and overwrites the partial
dir, and gc() removes every version dir the manifest does not reference.
"""

from __future__ import annotations

import json
import os
import re
import shutil

from pyspark.sql import SparkSession


def write_atomic(path: str, text: str) -> None:
    """Replace the file `path` with `text` in one step: readers see the old
    content or the new, never a torn write."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(f"{path}.tmp", path)


class VersionedState:
    """Version dirs under `path` plus the manifest that commits them."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def _manifest_path(self) -> str:
        return f"{self.path}/_MANIFEST.json"

    def _manifest(self) -> dict[str, int]:
        """The committed name -> version map; empty only when no manifest
        was ever committed. An unreadable manifest raises: read as empty,
        the next commit would drop every name the write did not touch."""
        path = self._manifest_path()
        try:
            with open(path, encoding="utf-8") as f:
                text = f.read()
        except FileNotFoundError:
            return {}
        try:
            return {k: int(v) for k, v in json.loads(text).items()}
        except (ValueError, TypeError, AttributeError) as e:
            raise ValueError(f"unreadable manifest {path}: {e}") from e

    def _commit_manifest(self, manifest: dict[str, int]) -> None:
        write_atomic(self._manifest_path(), json.dumps(manifest))  # the commit point

    @staticmethod
    def _next_version(manifest: dict[str, int]) -> int:
        return max(manifest.values(), default=0) + 1

    def gc(self) -> list[str]:
        """Remove version dirs no committed manifest entry references. Safe
        to run any time AFTER in-flight writes finish: a concurrent writer's
        new version dir is unreferenced until its manifest commit, so gc
        must not race a write. Every state here has one writer (the
        checkpoint lock makes it so for a stream), which runs gc after its
        commit. A reader still holding an older manifest may find the
        version dirs it points to gone. Returns the removed dir paths."""
        live = {f"v{v}" for v in self._manifest().values()}
        removed = []
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:
            return removed
        for nm in names:
            if re.fullmatch(r"v\d+", nm) and nm not in live:
                path = f"{self.path}/{nm}"
                shutil.rmtree(path, ignore_errors=True)
                # report only what actually left the disk — a failed rmtree
                # (EPERM, lingering handle) must not read as a clean sweep;
                # the survivor is retried on the next gc()
                if not os.path.exists(path):
                    removed.append(path)
        return removed
