"""Per-layer metrics from the spans of a traced run.

Set-up layers (session boot, catalog load, backfill, ``resync_all``) are
taken from the set-up phases, as the median over the run's bootstraps.
Every other layer is taken from the traced steps of the timed window; a
layer that runs only during set-up in this workload (``resync`` in
``cdc_trickle``, the empty first drain in ``bulk_resync``) falls back to
its set-up calls, and a layer that never runs reports 0.

A "refresh" is the engine call that brings every view up to date within
a step: ``IncrementalEngine.apply_changes`` (run by the drain's one
micro-batch) in ``cdc_trickle`` and ``IncrementalEngine.resync_changed``
in ``bulk_resync``.
"""

from __future__ import annotations

from perfbench.tracer import SpanIndex, dur, mean, median

RS = "sources.resource_store"
INC = "operators.incremental"
STORE = f"{INC}.store"
DRAIN = "streaming.maintainer.drain"
#: the store root name of the engine's state store (the ResourceStore's
#: own snapshots live under ``sources``)
STATE = "state"

NAMES = (
    "session.boot_s",
    "catalog.load_s",
    f"{RS}.backfill_s",
    f"{INC}.resync_all_s",
    f"{RS}.write_s",
    f"{RS}.jobs_per_write",
    f"{RS}.bytes_written_per_write",
    "streaming.maintainer.drain_s",
    "streaming.maintainer.overhead_s",
    "streaming.maintainer.microbatches_per_drain",
    f"{INC}.refresh_s",
    f"{INC}.jobs_per_refresh",
    f"{INC}.stages_per_refresh",
    f"{INC}.tasks_per_refresh",
    f"{STORE}.overwrite_calls_per_refresh",
    f"{STORE}.overwrite_s_per_refresh",
    f"{STORE}.bytes_written_per_refresh",
    f"{STORE}.files_written_per_refresh",
    f"{STORE}.write_amplification",
    f"{STORE}.read_s",
    f"{STORE}.files_per_read",
    "query.search_plan_s",
    "query.search_exec_s",
    "query.jobs_per_search",
    f"{INC}.resync_s",
    f"{INC}.jobs_per_resync",
    "operators.mapreduce.map_table_s",
    "operators.mapreduce.reduce_table_s",
    "trace.overhead_s",
)


def unit(name: str) -> str:
    leaf = name.rsplit(".", 1)[1]
    if leaf.endswith("_s") or "_s_per_" in leaf:
        return "s"
    if "bytes" in leaf:
        return "bytes"
    if "amplification" in leaf:
        return "ratio"
    return "count"


def per_layer(spans: list[dict], setups: int, refresh_name: str,
              changed_source_bytes: float, step_walls: list[tuple]) -> dict:
    """All per-layer metrics. ``step_walls`` holds ``(wall_s, traced)``
    for each timed step; half the timed steps run untraced so the traced
    run can report its own overhead."""
    ix = SpanIndex(spans)
    setup_phases = {f"setup{b}" for b in range(setups)}

    def loop(name, pred=None):
        """Spans of ``name`` in the timed window, else in set-up."""
        for phases in ({"timed"}, setup_phases):
            found = [s for s in ix.named(name, phases)
                     if pred is None or pred(s)]
            if found:
                return found
        return []

    def per_setup(name):
        return median(sum(dur(s) for s in ix.named(name, {p}))
                      for p in sorted(setup_phases))

    def engine_store(s):
        return s.get("store") == STATE

    writes = loop(f"{RS}.write")
    drains = loop(DRAIN)
    refreshes = loop(refresh_name)
    overwrites = [[o for o in ix.within(r, f"{STORE}.overwrite")
                   if engine_store(o)] for r in refreshes]
    searches = loop("query.read")
    # only the reads a search makes; the refresh path reads the store too
    reads = [r for s in searches for r in ix.within(s, f"{STORE}.read")
             if engine_store(r)]
    resyncs = loop(f"{INC}.resync")
    written = sum(o.get("bytes", 0) for os_ in overwrites for o in os_)
    traced = [w for w, t in step_walls if t]
    untraced = [w for w, t in step_walls if not t]

    return {
        "session.boot_s": sum(dur(s) for s in ix.named("session.boot")),
        "catalog.load_s": per_setup("catalog.load"),
        f"{RS}.backfill_s": per_setup(f"{RS}.backfill"),
        f"{INC}.resync_all_s": per_setup(f"{INC}.resync_all"),
        f"{RS}.write_s": median(dur(s) for s in writes),
        f"{RS}.jobs_per_write": mean(ix.total(s, "jobs") for s in writes),
        f"{RS}.bytes_written_per_write": mean(
            sum(o.get("bytes", 0) for o in ix.within(s, f"{STORE}.overwrite"))
            for s in writes),
        "streaming.maintainer.drain_s": median(dur(s) for s in drains),
        "streaming.maintainer.overhead_s": median(
            dur(s) - sum(dur(a) for a in ix.within(s, f"{INC}.apply"))
            for s in drains),
        "streaming.maintainer.microbatches_per_drain": mean(
            len(ix.within(s, f"{INC}.apply")) for s in drains),
        f"{INC}.refresh_s": median(dur(s) for s in refreshes),
        f"{INC}.jobs_per_refresh": mean(
            ix.total(s, "jobs") for s in refreshes),
        f"{INC}.stages_per_refresh": mean(
            ix.total(s, "stages") for s in refreshes),
        f"{INC}.tasks_per_refresh": mean(
            ix.total(s, "tasks") for s in refreshes),
        f"{STORE}.overwrite_calls_per_refresh": mean(map(len, overwrites)),
        f"{STORE}.overwrite_s_per_refresh": mean(
            sum(dur(o) for o in os_) for os_ in overwrites),
        f"{STORE}.bytes_written_per_refresh": mean(
            sum(o.get("bytes", 0) for o in os_) for os_ in overwrites),
        f"{STORE}.files_written_per_refresh": mean(
            sum(o.get("files", 0) for o in os_) for os_ in overwrites),
        f"{STORE}.write_amplification":
            written / changed_source_bytes if changed_source_bytes else 0.0,
        f"{STORE}.read_s": median(dur(s) for s in reads),
        f"{STORE}.files_per_read": mean(s.get("files", 0) for s in reads),
        "query.search_plan_s": median(
            dur(s) for s in loop("query.search_plan")),
        "query.search_exec_s": median(
            dur(s) for s in loop("query.search_exec")),
        "query.jobs_per_search": mean(ix.total(s, "jobs") for s in searches),
        f"{INC}.resync_s": median(dur(s) for s in resyncs),
        f"{INC}.jobs_per_resync": mean(ix.total(s, "jobs") for s in resyncs),
        "operators.mapreduce.map_table_s": median(
            dur(s) for s in loop("operators.mapreduce.map_table")),
        "operators.mapreduce.reduce_table_s": median(
            dur(s) for s in loop("operators.mapreduce.reduce_table")),
        "trace.overhead_s": (median(traced) - median(untraced)
                             if traced and untraced else 0.0),
    }


def self_time_by_layer(spans: list[dict]) -> dict[str, float]:
    """Total self time per span name over the whole run."""
    ix = SpanIndex(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["name"]] = out.get(s["name"], 0.0) + ix.self_time[s["id"]]
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))
