"""Consistent index backup / restore — analog of the reference's
``scripts/backup_data.cpp`` (segment-directory snapshot utility), built on
the generations layer instead of raw file copies.

A backup is a CONSISTENT snapshot: every component path comes from one
``IndexPaths``, which reads ``CURRENT.json`` once (the same snapshot a
reader holds), so a backup taken concurrently with a compaction flip is
either all-old-generation or all-new-generation, never mixed. The snapshot
is written under base component names with no pointer file — a restored
(or directly opened) backup serves exactly like a fresh build.

Backup is file copying, deliberately driver-side and Spark-free, between
local or mounted filesystem paths. The manifest records what was copied
and from which generation.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from nextsearch_api_spark.config import IndexPaths
from nextsearch_api_spark.plans.generations import DEFAULT_COMPONENTS

BACKUP_MANIFEST = "_backup.json"


def backup_index(index_root: str, backup_dir: str,
                 components: "list[str] | None" = None) -> dict:
    """Snapshot the LIVE generation of ``index_root`` into ``backup_dir``.

    Components come from one IndexPaths snapshot (consistent cut); a
    missing optional component (suggest) is skipped. The snapshot holds
    only serving components, and that is all ``compact_deltas`` needs: it
    merges from the postings, so a restored root compacts like the source.
    Returns the backup manifest: {components: {name: rel_path},
    source_gen, created_at}.
    """
    paths = IndexPaths(index_root)
    wanted = components or list(DEFAULT_COMPONENTS)
    unknown = set(wanted) - set(DEFAULT_COMPONENTS)
    if unknown:
        raise ValueError(f"unknown components: {sorted(unknown)}")

    os.makedirs(backup_dir, exist_ok=True)
    copied: dict[str, str] = {}
    for name in wanted:
        src = getattr(paths, name)
        dst = os.path.join(backup_dir, DEFAULT_COMPONENTS[name])
        if os.path.isdir(src):
            if os.path.exists(dst):
                shutil.rmtree(dst)
            shutil.copytree(src, dst)
            copied[name] = DEFAULT_COMPONENTS[name]
        elif os.path.isfile(src):
            shutil.copy2(src, dst)
            copied[name] = DEFAULT_COMPONENTS[name]
        # absent optional component → skipped, not an error
    # build lineage rides along when present (resume metadata, not required)
    if os.path.isfile(paths.manifest):
        shutil.copy2(paths.manifest,
                     os.path.join(backup_dir, os.path.basename(paths.manifest)))
    manifest = {
        "components": copied,
        "source_root": os.path.abspath(index_root),
        "source_gen": paths.gen,
        "created_at": time.time(),
    }
    with open(os.path.join(backup_dir, BACKUP_MANIFEST), "w") as f:
        json.dump(manifest, f, indent=2)
    return manifest


def restore_index(backup_dir: str, target_root: str) -> dict:
    """Materialize a backup as a servable index at ``target_root``.

    The restored tree uses base component names and NO CURRENT.json — it is
    generation zero of a fresh lineage (subsequent compactions start their
    own `_gN` series). Refuses a non-empty target (restoring over a live
    index would race its readers; point readers at the restored copy and
    flip at the serving layer instead)."""
    mpath = os.path.join(backup_dir, BACKUP_MANIFEST)
    with open(mpath) as f:
        manifest = json.load(f)
    if os.path.isdir(target_root) and os.listdir(target_root):
        raise ValueError(f"restore target {target_root} is not empty")
    os.makedirs(target_root, exist_ok=True)
    for name, rel in manifest["components"].items():
        src = os.path.join(backup_dir, rel)
        dst = os.path.join(target_root, DEFAULT_COMPONENTS[name])
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy2(src, dst)
    lineage = os.path.join(backup_dir, "_manifest.json")
    if os.path.isfile(lineage):
        shutil.copy2(lineage, os.path.join(target_root, "_manifest.json"))
    return manifest
