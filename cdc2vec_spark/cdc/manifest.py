"""Object-store-safe state commits: a manifest-generation protocol that
never renames and never overwrites a data object.

``cdc.apply.swap_buckets`` is POSIX-rename based — correct on a local
filesystem, impossible on S3/GCS/ABFS (object stores have no rename; a
"rename" is copy+delete and is not atomic). ``ManifestStore`` is the
standard object-store answer, the same design Delta Lake / Iceberg
commit logs use, reduced to a versioned map from integer keys to data
directories. One store commits through it: the segment log of
``cdc.segments``, keyed by segment sequence number, which holds every
keyed state (points, row state, the two in-engine indexes, the IVM and
join-view base states and the SCD2 history). The aggregate stores
derived from them (cdc.ivm ``agg``/``dv``, cdc.delta_join ``fkidx``/
``view``/``agg``, streaming.neardup) still swap by rename.

- **Data objects are immutable and uniquely named.** Each commit writes
  its data to a fresh directory under ``data/``. Nothing ever rewrites
  or renames an existing object — a crashed commit leaves an orphan
  directory that no manifest references and GC later deletes.
- **A commit IS one small manifest object.** ``_manifests/
  manifest-<version>.json`` maps every key to its data directory.
  Object PUTs are atomic, which makes the manifest write the commit
  point: readers see either the old complete mapping or the new
  complete mapping, never a mix. Locally the file is written in place
  WITHOUT any rename — a torn write (crash mid-PUT) yields invalid JSON,
  and readers simply fall back to the newest manifest that parses
  (writers then allocate past the torn version, so it is never reused).

Note on the writer inside a data directory: Spark's file committer may
use its own task-temp renames while materializing it. That is
irrelevant to this protocol's atomicity — the directory is unreferenced
until the manifest PUT, so even a completely non-atomic writer (e.g. the
S3A magic committer, or plain uploads) is safe; a half-written
directory is just an orphan.

Single-writer by contract (a Structured Streaming query runs one
foreachBatch at a time). Multi-writer would need a conditional-PUT /
external lock on the manifest object — exactly what Delta's S3
LogStore adds — and is out of scope here; the docstring is the fence.

Reference parity: this replaces pipeline.go:44-53's offset-file "commit"
(write-only, no recovery) with a real commit protocol.
"""

from __future__ import annotations

import json
import os
import re
import shutil

_MANIFEST_RE = re.compile(r"^manifest-(\d{9})\.json$")


class ManifestStore:
    """The commit protocol alone: versioned key→directory mappings over
    immutable data directories. Knows nothing about merge semantics."""

    def __init__(self, path: str, keep_manifests: int = 10):
        self.path = path
        self.data_root = os.path.join(path, "data")
        self.manifest_root = os.path.join(path, "_manifests")
        self.keep_manifests = keep_manifests

    # -- read side --------------------------------------------------------

    def _versions_on_disk(self) -> list[int]:
        if not os.path.isdir(self.manifest_root):
            return []
        out = []
        for name in os.listdir(self.manifest_root):
            m = _MANIFEST_RE.match(name)
            if m:
                out.append(int(m.group(1)))
        return sorted(out)

    def latest(self) -> tuple[int, dict[int, str], int]:
        """(latest_valid_version, its key→dir mapping, max_version_seen).

        Scans manifests newest-first and returns the first that parses —
        a torn/corrupt newest manifest (crash mid-PUT) is skipped, but its
        version number is still reported in max_version_seen so the next
        commit allocates PAST it instead of reusing it."""
        versions = self._versions_on_disk()
        max_seen = versions[-1] if versions else 0
        for v in reversed(versions):
            try:
                with open(self._manifest_path(v), encoding="utf-8") as fh:
                    doc = json.load(fh)
                if doc.get("version") != v:
                    continue
                mapping = {int(k): str(d) for k, d in doc["buckets"].items()}
            except (OSError, ValueError, KeyError):
                continue  # torn write → fall back to the previous manifest
            return v, mapping, max_seen
        return 0, {}, max_seen

    def _manifest_path(self, version: int) -> str:
        return os.path.join(self.manifest_root, f"manifest-{version:09d}.json")

    def versions(self) -> list[int]:
        """Readable (parseable) retained versions, oldest→newest — the
        time-travel horizon. Bounded by ``keep_manifests`` + gc(): old
        generations age out, exactly like Delta/Iceberg retention."""
        out = []
        for v in self._versions_on_disk():
            try:
                with open(self._manifest_path(v), encoding="utf-8") as fh:
                    if json.load(fh).get("version") == v:
                        out.append(v)
            except (OSError, ValueError):
                continue
        return out

    def at(self, version: int) -> dict[int, str]:
        """The key→dir mapping of ONE specific generation — the
        time-travel read point. Unlike latest(), a missing or torn
        manifest here is an ERROR, not a fall-back: silently reading a
        neighboring generation would defeat the point of asking for a
        version (debugging what the state looked like before a bad
        batch)."""
        p = self._manifest_path(version)
        try:
            with open(p, encoding="utf-8") as fh:
                doc = json.load(fh)
            if doc.get("version") != version:
                raise ValueError(f"manifest {p} is torn (version mismatch)")
            return {int(k): str(d) for k, d in doc["buckets"].items()}
        except FileNotFoundError:
            raise ValueError(
                f"version {version} is not retained (kept: {self.versions()}"
                f" — raise keep_manifests to widen the horizon)"
            ) from None
        except (OSError, KeyError) as e:
            raise ValueError(f"manifest {p} unreadable: {e}") from e

    # -- write side -------------------------------------------------------

    def publish(
        self, version: int, mapping: dict[int, str]
    ) -> None:
        """The commit point: one small JSON object, written in place with
        no rename. On an object store this is a single atomic PUT; locally
        a torn write is tolerated by latest()'s parse-or-fall-back."""
        os.makedirs(self.manifest_root, exist_ok=True)
        doc = {
            "version": version,
            "buckets": {str(b): d for b, d in sorted(mapping.items())},
        }
        with open(self._manifest_path(version), "w", encoding="utf-8") as fh:
            json.dump(doc, fh)
            fh.flush()
            os.fsync(fh.fileno())

    # -- maintenance ------------------------------------------------------

    def gc(self) -> tuple[int, int]:
        """Delete commit directories no manifest ≤ latest references
        anymore and manifests beyond keep_manifests. Returns (dirs,
        manifests) removed. Safe any time under the single-writer
        contract: an orphan directory is by definition unreferenced, and
        readers only follow the manifests that remain."""
        latest_v, mapping, _ = self.latest()
        keep_versions = {
            v for v in self._versions_on_disk() if v <= latest_v
        }
        keep_versions = set(sorted(keep_versions)[-self.keep_manifests :])
        keep_versions.add(latest_v)
        # every directory referenced by a retained, parseable manifest
        live_dirs: set[str] = set()
        for v in keep_versions:
            try:
                with open(self._manifest_path(v), encoding="utf-8") as fh:
                    live_dirs.update(json.load(fh)["buckets"].values())
            except (OSError, ValueError, KeyError):
                continue
        removed_dirs = 0
        if os.path.isdir(self.data_root):
            for name in os.listdir(self.data_root):
                if name not in live_dirs:
                    shutil.rmtree(
                        os.path.join(self.data_root, name), ignore_errors=True
                    )
                    removed_dirs += 1
        removed_manifests = 0
        for v in self._versions_on_disk():
            if v not in keep_versions:
                try:
                    os.remove(self._manifest_path(v))
                    removed_manifests += 1
                except OSError:
                    pass
        return removed_dirs, removed_manifests
