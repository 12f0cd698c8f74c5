"""Resumable build: stage-boundary checkpointing with a lineage manifest.

The reference's build is already a materialize-between-stages pipeline (three
OS processes passing files: forwardindex → lexicon → server reload, SURVEY.md
§3.3), with a binary ``manifest.bin`` naming live segments
(src/api_segment.cpp:14-35). We keep that shape deliberately: each Spark stage
writes a self-contained Parquet directory (Spark's own ``_SUCCESS`` marker =
all partitions committed) and records a lineage entry in ``_manifest.json``
keyed by a fingerprint of (inputs, config). Resume = re-running the build
skips every stage whose fingerprint matches and whose output directory is
fully committed — partially written stages (no ``_SUCCESS``) are redone.

Per-partition granularity comes from Spark's task-level commit protocol:
within a stage, only failed tasks re-run on retry; across driver restarts the
stage is the checkpoint unit. The manifest also accumulates throughput
metrics per stage (rows, seconds, rows/sec) — the north rule's "lineage +
throughput metrics".
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import dataclass, field
from typing import Any, Callable, Sequence


def _fingerprint(obj: Any) -> str:
    return hashlib.sha256(
        json.dumps(obj, sort_keys=True, default=str).encode()
    ).hexdigest()[:16]


@dataclass
class BuildManifest:
    path: str
    data: dict = field(default_factory=dict)

    @classmethod
    def load(cls, path: str) -> "BuildManifest":
        if os.path.exists(path):
            with open(path) as f:
                return cls(path, json.load(f))
        return cls(path, {"stages": {}, "created_at": time.time()})

    def save(self) -> None:
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.data, f, indent=2, default=str)
        os.replace(tmp, self.path)

    def stage_done(self, name: str, fingerprint: str,
                   output: "str | Sequence[str] | None") -> bool:
        """True when ``name`` is recorded ok under ``fingerprint`` and every
        path in ``output`` (one path, several, or None for none) is present."""
        st = self.data["stages"].get(name)
        if not st or st.get("fingerprint") != fingerprint or st.get("status") != "ok":
            return False
        outputs = [output] if isinstance(output, str) else (output or [])
        for out in outputs:
            if os.path.isdir(out):
                # directory outputs require the _SUCCESS marker — a partially
                # written (or externally modified) directory is redone
                # (ADVICE r1: plain existence made the marker check vacuous)
                if not os.path.exists(os.path.join(out, "_SUCCESS")):
                    return False
            elif not os.path.exists(out):
                return False  # file outputs (stats.json): plain existence
        return True

    def record(self, name: str, **info: Any) -> None:
        self.data["stages"][name] = info
        self.save()


class StageRunner:
    """Runs named stages one after another, skipping completed ones on
    resume."""

    def __init__(self, manifest: BuildManifest, base_fingerprint: Any):
        self.manifest = manifest
        self.fp = _fingerprint(base_fingerprint)
        self.metrics: dict[str, dict] = {}

    def done(self, name: str,
             output: "str | Sequence[str] | None" = None) -> bool:
        """Would ``run`` skip this stage?"""
        return self.manifest.stage_done(name, self.fp, output)

    def run(
        self,
        name: str,
        fn: Callable[[], dict | None],
        output: "str | Sequence[str] | None" = None,
    ) -> bool:
        """Execute stage ``fn`` unless already checkpointed. ``fn`` returns an
        optional metrics dict (e.g. {'rows': n}). Returns True if it ran."""
        if self.manifest.stage_done(name, self.fp, output):
            self.metrics[name] = {**self.manifest.data["stages"][name],
                                  "skipped": True}
            return False
        t0 = time.time()
        info = fn() or {}
        dt = time.time() - t0
        rows = info.get("rows")
        entry = {
            "fingerprint": self.fp,
            "status": "ok",
            "output": output,
            "seconds": round(dt, 3),
            "finished_at": time.time(),
            **info,
        }
        if rows is not None and dt > 0:
            entry["rows_per_sec"] = round(rows / dt, 1)
        self.manifest.record(name, **entry)
        self.metrics[name] = entry
        return True
