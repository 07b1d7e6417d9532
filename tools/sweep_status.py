"""Shared sf0.1 sweep-freshness status (VERDICT r12 item 7 + ADVICE r12).

The round invariant "a full sf0.1 oracle sweep ran at the shipping head"
was convention until r13: bench.py annotated its JSON with a ``stale``
flag, but nothing FAILED. This module is the single source of truth for
that flag, consumed by BOTH bench.py (annotation in the archived JSON
line) and tools/driver_sim.py (a hard gate failure on any run that is
not itself a full sf0.1 sweep) so a code commit after the last sweep
turns a visible gate red while doc-only commits stay green.

Staleness = the newest full-sf0.1 SWEEPLOG record's git head differs
from HEAD on any QUERY-SURFACE or GATE-LOGIC path: the package,
__spark_entry__.py, or the sweep/gate tooling itself (tools/driver_sim,
tools/scan_guards, tools/result_guards — ADVICE r12: an edit to the
gate logic whose 'gated' count the record carries must also invalidate
the record), or any of those paths has uncommitted edits. For the same
reason a sweep is only logged under a head (``clean_head``) when those
paths match that head exactly.
"""

from __future__ import annotations

import json
import os
import subprocess

#: path prefixes whose change invalidates a sweep record
STALE_PATHS = (
    "kafka_avro_pipeline_java_spark/",
    "__spark_entry__.py",
    "tools/driver_sim.py",
    "tools/scan_guards.py",
    "tools/result_guards.py",
)


def _git(root: str, *args: str) -> str:
    return subprocess.run(
        ["git", "-C", root, *args],
        capture_output=True, text=True, timeout=10, check=True,
    ).stdout


def _uncommitted(root: str) -> bool:
    """True when a STALE_PATHS file is modified, staged or untracked."""
    return bool(_git(root, "status", "--porcelain", "--", *STALE_PATHS).strip())


def clean_head(root: str) -> str | None:
    """Short HEAD hash, or None when a STALE_PATHS file has uncommitted
    edits (a sweep of that tree is not a sweep of HEAD) or git fails."""
    try:
        if _uncommitted(root):
            return None
        return _git(root, "rev-parse", "--short", "HEAD").strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def latest_sf01_sweep(root: str) -> dict | None:
    """Newest SWEEPLOG.jsonl record for a full sf0.1 sweep, compacted,
    with a ``stale`` flag (None = unknown, e.g. sweep head not in this
    clone)."""
    path = os.path.join(root, "SWEEPLOG.jsonl")
    try:
        recs = [json.loads(l) for l in open(path) if l.strip()]
    except OSError:
        return None
    recs = [r for r in recs if r.get("sf_dir", "").rstrip("/").endswith("sf0.1")]
    if not recs:
        return None
    r = recs[-1]
    stale = None
    if r.get("head"):
        try:
            changed = _git(root, "diff", "--name-only", f"{r['head']}..HEAD").splitlines()
            stale = _uncommitted(root) or any(
                f.startswith(STALE_PATHS[0]) or f in STALE_PATHS[1:]
                for f in changed
            )
        except Exception:
            stale = None
    return {"head": r.get("head"), "match": r.get("match"),
            "mismatch": r.get("mismatch"), "gated": r.get("gated"),
            "stale": stale}
