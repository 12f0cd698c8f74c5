"""Atomic index-generation flips.

Compaction (operators/compact.py, streaming/ingest.py) rewrites several
index components (postings, lexicon, docs, stats, suggest). r1 swapped them
with sequential os.rename pairs — a crash between renames left postings and
lexicon from different generations (df/N mismatch → wrong idf; ADVICE r1).

Now every compaction writes brand-new ``<component>_g<N>`` directories and
flips the single ``CURRENT.json`` pointer with one atomic ``os.replace``.
This module is the only one that reads or writes the pointer. A reader's
``IndexPaths`` reads it once, when it is constructed, so a handle serves
one generation until it is reopened (``Engine.reload``, a new
``IndexReader``) — never a mix. Superseded generation dirs are
garbage-collected best-effort one flip later.

The components are exactly what serving reads. Older compactions also
kept a ``forward`` table (one row per (doc, term)) as a component; a
pointer that still names one has it retired at its next flip: the directory
goes to ``gc_pending`` like any superseded one and is collected a flip later.

Index roots are local or mounted filesystem paths (``IndexPaths`` refuses
a URI): the flip relies on ``os.replace`` being atomic there.
"""

from __future__ import annotations

import json
import os
import shutil

from nextsearch_api_spark.config import CURRENT_POINTER

DEFAULT_COMPONENTS = {
    "docs": "docs",
    "postings": "postings",
    "lexicon": "lexicon",
    "suggest": "suggest",
    "stats": "stats.json",
}

# components older layouts mapped in CURRENT.json and this one no longer
# writes; flip_generation drops them from the pointer into gc_pending
RETIRED_COMPONENTS = ("forward",)


def current_mapping(index_root: str) -> dict:
    """The live component→dirname mapping (defaults when no pointer)."""
    mapping = dict(DEFAULT_COMPONENTS)
    mapping["gen"] = 0
    try:
        with open(os.path.join(index_root, CURRENT_POINTER)) as f:
            mapping.update(json.load(f))
    except FileNotFoundError:
        pass
    return mapping


def drop_generations(index_root: str) -> None:
    """Return ``index_root`` to the base-name layout: remove the pointer and
    every generation dir it names, live or pending. Base-name dirs stay."""
    cur = os.path.join(index_root, CURRENT_POINTER)
    if not os.path.exists(cur):
        return
    mapping = current_mapping(index_root)
    os.remove(cur)
    named = ({mapping[comp] for comp in DEFAULT_COMPONENTS}
             | set(mapping.get("gc_pending", []))
             | {mapping[comp] for comp in RETIRED_COMPONENTS if comp in mapping})
    for phys in named - set(DEFAULT_COMPONENTS.values()):
        stale = os.path.join(index_root, phys)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        elif os.path.exists(stale):
            os.remove(stale)


def gen_path(index_root: str, component: str, gen: int) -> str:
    """Physical path for a component of generation ``gen`` (not yet live)."""
    suffix = f"_g{gen}"
    base = DEFAULT_COMPONENTS[component]
    if base.endswith(".json"):
        return os.path.join(index_root, base[:-5] + suffix + ".json")
    return os.path.join(index_root, base + suffix)


def flip_generation(index_root: str, components: dict[str, str],
                    gen: int) -> dict:
    """Point CURRENT.json at new component dirs in ONE atomic replace.

    ``components`` maps component name → dirname (relative to index_root);
    unnamed components keep their previous mapping.

    GC is DEFERRED by one generation: a live reader (e.g. the HTTP server's
    WandEngine) created before the flip still holds pyarrow datasets over the
    superseded dirs — deleting them at flip time turned its in-flight queries
    into FileNotFoundError 500s until /api/reload (ADVICE r2). Superseded
    dirs are instead recorded as ``gc_pending`` in the pointer and removed at
    the START of the NEXT flip, by which point any process still serving the
    two-generations-old layout has had a full compaction cycle to reload."""
    unknown = set(components) - set(DEFAULT_COMPONENTS)
    if unknown:
        raise ValueError(f"unknown index components: {sorted(unknown)}")
    old = current_mapping(index_root)
    new = {name: old[name] for name in DEFAULT_COMPONENTS}
    new.update(components)
    new["gen"] = gen

    # newly superseded dirs → deferred to the NEXT flip; a retired
    # component's dir is superseded by nothing
    pending = [
        old.get(name, DEFAULT_COMPONENTS[name])
        for name in components
        if old.get(name, DEFAULT_COMPONENTS[name]) != new[name]
    ] + [old[name] for name in RETIRED_COMPONENTS if name in old]
    prior_pending = [p for p in old.get("gc_pending", []) if p not in pending]
    new["gc_pending"] = sorted(set(pending))

    def _write_pointer(mapping: dict) -> None:
        cur = os.path.join(index_root, CURRENT_POINTER)
        tmp = cur + ".tmp"
        with open(tmp, "w") as f:
            json.dump(mapping, f, indent=2)
        os.replace(tmp, cur)  # ← the one atomic commit point

    _write_pointer(new)

    # GC dirs superseded by the PREVIOUS flip (nothing can be serving them:
    # they stopped being referenced one whole generation ago). A deletion
    # that FAILS (permissions, open handles on non-POSIX mounts) is kept in
    # gc_pending so the next flip retries instead of leaking the directory
    # untracked (ADVICE r3).
    live = {new[name] for name in DEFAULT_COMPONENTS} | set(new["gc_pending"])
    leaked: list[str] = []
    for prev in prior_pending:
        if prev in live:
            continue
        stale = os.path.join(index_root, prev)
        if os.path.isdir(stale):
            shutil.rmtree(stale, ignore_errors=True)
        elif os.path.exists(stale):
            try:
                os.remove(stale)
            except OSError:
                pass
        if os.path.exists(stale):
            leaked.append(prev)
    if leaked:
        new["gc_pending"] = sorted(set(new["gc_pending"]) | set(leaked))
        _write_pointer(new)
    return new
