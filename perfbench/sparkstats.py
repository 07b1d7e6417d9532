"""Read-only probes of the Spark engine used by the traced runs: jobs,
stages, tasks, shuffle and spill bytes per job group (status tracker and
status store), and Catalyst phase times (QueryPlanningTracker)."""

from __future__ import annotations


def job_stats(sc, group: str) -> dict[str, int]:
    """Totals over every job of ``group`` that the status store still
    retains; a stage shared by several jobs is counted once."""
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # skipped stages never ran, so the store has no attempt
            continue
        out["stages"] += 1
        out["tasks"] += st.numTasks()
        out["shuffle_bytes"] += st.shuffleWriteBytes()
        out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
    return out


def catalyst_phases(df) -> dict[str, int]:
    """Milliseconds per QueryPlanningTracker phase (analysis,
    optimization, planning) recorded on ``df``'s query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    it = phases.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs()
    return out
