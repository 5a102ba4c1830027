"""The parts log: MergeTree's insert/merge model as a one-line manifest over
immutable per-batch parts, shared by the parts-based sinks
(``parts_rollup.PartedRollupSink``, ``ann_index_sink.IvfPqIndexSink``).

Layout under the sink's root directory::

    parts/batch=N/   one part per micro-batch, written by the sink
    base_vV/         compacted base version V
    MANIFEST         "<base_version> <watermark>"; absent = (-1, -1)

- **Insert = part.** Batch N writes only ``parts/batch=N``. Spark's replay
  contract makes a batch's content deterministic, so a replayed batch
  overwrites the same part with the same rows: idempotent, no marker.
- **Replay rule.** A batch id ≤ watermark is already folded into the base;
  the sink skips it, or serving would count it twice.
- **Compaction = one manifest commit.** The new base version is written in
  full, then the manifest naming it is replaced atomically (temp file +
  ``os.replace``). Every crash point leaves the manifest naming a complete
  base: before the replace the old base and its live parts still serve,
  and re-running compaction rebuilds the same new base from the same
  inputs; after it, folded parts and superseded bases are ignored garbage.
- **GC** of that garbage is best-effort and repeated by every compaction.

This is D-Streams' model (deterministic recompute per batch, idempotent
output) with the minimal transactional log Delta/Iceberg would provide,
reimplemented format-free.
"""

from __future__ import annotations

import os
import shutil
from typing import Callable


class PartsLog:
    """Parts, base versions and the manifest under one root directory."""

    def __init__(self, root: str):
        self.root = root
        self.parts_dir = os.path.join(root, "parts")
        self.manifest_path = os.path.join(root, "MANIFEST")

    def manifest(self) -> tuple[int, int]:
        """(base_version, watermark); (-1, -1) before the first commit.
        Parts with batch id ≤ watermark are folded into the base."""
        try:
            with open(self.manifest_path) as fh:
                v, wm = fh.read().split()
                return int(v), int(wm)
        except FileNotFoundError:
            return -1, -1

    def base_dir(self, version: int) -> str:
        return os.path.join(self.root, f"base_v{version}")

    def part_dir(self, batch_id: int) -> str:
        return os.path.join(self.parts_dir, f"batch={batch_id}")

    def part_ids(self) -> list[int]:
        """Every part on disk, folded garbage included."""
        if not os.path.isdir(self.parts_dir):
            return []
        return sorted(
            int(name.split("=", 1)[1])
            for name in os.listdir(self.parts_dir)
            if name.startswith("batch=")
        )

    def live_part_ids(self) -> list[int]:
        _, wm = self.manifest()
        return [i for i in self.part_ids() if i > wm]

    def is_folded(self, batch_id: int) -> bool:
        """The replay rule: the batch's effect is already in the base."""
        return batch_id <= self.manifest()[1]

    def paths(self, part_ids: list[int], leaf: str = "") -> list[str]:
        """The committed base's and the given parts' ``leaf`` directories
        that exist. A crash between two leaf writes of one part can leave
        a leaf missing until the stream replays the batch, which rewrites
        the part whole before the batch's offsets commit; reads skip it
        rather than fail."""
        version, _ = self.manifest()
        dirs = [self.base_dir(version)] if version >= 0 else []
        dirs += [self.part_dir(i) for i in part_ids]
        if leaf:
            dirs = [os.path.join(d, leaf) for d in dirs]
        return [d for d in dirs if os.path.isdir(d)]

    # -- compaction ---------------------------------------------------------

    def compact(
        self,
        write_base: Callable[[list[int], str], None],
        through_batch_id: int | None = None,
    ) -> None:
        """Fold the live parts ≤ ``through_batch_id`` (default: all):
        ``write_base(ids, dir)`` writes the next base version from the
        current base and those parts, then the manifest commits it."""
        ids = [
            i
            for i in self.live_part_ids()
            if through_batch_id is None or i <= through_batch_id
        ]
        if not ids:
            self.gc(*self.manifest())
            return
        self._next_base(lambda d: write_base(ids, d), max(ids))

    def replace_base(self, write_base: Callable[[str], None]) -> None:
        """Commit a base built from outside the log (a rebuild from source)
        that supersedes every part on disk: the watermark moves past all of
        them, and never backwards."""
        _, wm = self.manifest()
        self._next_base(write_base, max([wm, *self.part_ids()]))

    def _next_base(self, write_base: Callable[[str], None], watermark: int) -> None:
        version = self.manifest()[0] + 1
        write_base(self.base_dir(version))
        self.commit(version, watermark)

    def commit(self, version: int, watermark: int) -> None:
        """The one atomic manifest write, then GC."""
        tmp = f"{self.manifest_path}.tmp{os.getpid()}"
        with open(tmp, "w") as fh:
            fh.write(f"{version} {watermark}")
        os.replace(tmp, self.manifest_path)
        self.gc(version, watermark)

    def gc(self, live_version: int, watermark: int) -> None:
        """Remove folded parts and superseded base versions (best-effort:
        anything missed is swept by the next compaction)."""
        if not os.path.isdir(self.root):
            return
        for i in self.part_ids():
            if i <= watermark:
                shutil.rmtree(self.part_dir(i), ignore_errors=True)
        for name in os.listdir(self.root):
            if name.startswith("base_v") and name != f"base_v{live_version}":
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
