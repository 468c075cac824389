"""B11 — checkpointed stage manifest for resumable pipeline runs.

The reference resumes incremental training from the previous snapshot's
checkpoint (OpenKEonSpark numbered dataset batches + TF checkpoints,
recalled — SURVEY.md §0). Here the unit of resumability is a *stage
output*: each stage commits (output parquet + ``_SUCCESS``) and then a
manifest entry keyed by the stage name, holding a fingerprint of its
inputs and one of its outputs. On resume, a stage whose manifest entry
exists with a matching input fingerprint is skipped while its outputs
still fingerprint as at the commit (the pipeline checks them); any input
change invalidates it and everything downstream recomputes.

Entries are single JSON files written atomically (tmp + rename), so a
kill at any point leaves either a committed stage or no entry — never a
half-entry. This emulates the Iceberg snapshot/manifest semantics we
rely on (SURVEY.md §1.2) without Iceberg jars.
"""

from __future__ import annotations

import hashlib
import json
import os
import time


class Manifest:
    def __init__(self, run_dir: str):
        self.run_dir = run_dir
        self.dir = os.path.join(run_dir, "_manifest")
        os.makedirs(self.dir, exist_ok=True)

    def _path(self, stage: str) -> str:
        return os.path.join(self.dir, f"{stage}.json")

    def get(self, stage: str) -> dict | None:
        p = self._path(stage)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def is_done(self, stage: str, input_fprint: str, output_fprint: str) -> bool:
        """Whether ``stage`` committed with these inputs and its outputs
        still fingerprint as they did at the commit."""
        e = self.get(stage)
        return bool(
            e and e.get("status") == "done" and e.get("input_fprint") == input_fprint
            and e.get("output_fprint") == output_fprint
        )

    def commit(self, stage: str, input_fprint: str, output_fprint: str,
               row_count: int | None, wall_ms: float, extra: dict | None = None) -> dict:
        entry = {
            "stage": stage,
            "input_fprint": input_fprint,
            "output_fprint": output_fprint,
            "row_count": row_count,
            "status": "done",
            "wall_ms": round(wall_ms, 1),
            "committed_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        if extra:
            entry["extra"] = extra
        tmp = self._path(stage) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(entry, f, indent=1, sort_keys=True)
        os.replace(tmp, self._path(stage))
        return entry

    def invalidate(self, stage: str) -> None:
        p = self._path(stage)
        if os.path.exists(p):
            os.remove(p)

    def entries(self) -> list[dict]:
        out = []
        for fn in sorted(os.listdir(self.dir)):
            if fn.endswith(".json"):
                with open(os.path.join(self.dir, fn)) as f:
                    out.append(json.load(f))
        return out


def fingerprint_paths(*paths: str) -> str:
    """Cheap deterministic fingerprint of input locations: for files,
    (name, size, mtime-free content hash of small files); for dirs, the
    sorted (relpath, size) listing. Content hashing is avoided for big
    data — size+name changes on any rewrite because part files are
    re-randomized by Spark."""
    h = hashlib.sha256()
    for path in paths:
        h.update(path.encode())
        if os.path.isdir(path):
            for root, _dirs, files in sorted(os.walk(path)):
                for fn in sorted(files):
                    fp = os.path.join(root, fn)
                    h.update(os.path.relpath(fp, path).encode())
                    h.update(str(os.path.getsize(fp)).encode())
        elif os.path.isfile(path):
            h.update(str(os.path.getsize(path)).encode())
            if os.path.getsize(path) < 1 << 20:
                with open(path, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


def fingerprint_config(cfg: dict) -> str:
    return hashlib.sha256(json.dumps(cfg, sort_keys=True, default=str).encode()).hexdigest()[:16]
