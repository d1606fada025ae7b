"""How a pipeline starts: the one owner of the snapshot-to-stream decision.

The reference resolves how a pipeline transitions from full load to
streaming per engine (`cdc_manager.py:446-488` + per-engine remaps in
`debezium_config.py`):

  * CDC_ONLY                          -> never snapshot
  * completed full load + captured LSN -> never (stream from the offset)
  * Oracle cannot do `never`          -> initial_only instead
  * SQL Server remaps never           -> schema_only
  * AS400 without an offset           -> initial (full snapshot)
  * otherwise                          -> initial

In the Spark engine "snapshot" is the batch full-load job and "never"
means the streaming query starts at the captured offset; the matrix
becomes a plan decision: (run_full_load?, startingOffsets, run_stream?).

Every consumer reads the resolved `StreamStartPlan` and decides nothing
itself: the connector config writes `snapshot_mode` verbatim, the runner
runs the full load and the stream as the plan says, and topic naming
reads the normalized `engine`. Mode names live here and nowhere else;
the remap facts and the engine aliases live in `sources/dialects.py`
(`tests/test_single_owner.py` enforces both)."""

from __future__ import annotations

from dataclasses import dataclass

from ..sources.dialects import dialect

MODES = ("full_load_and_cdc", "full_load_only", "cdc_only")


@dataclass
class StreamStartPlan:
    engine: str                 # normalized engine name
    snapshot_mode: str          # never | initial | initial_only | schema_only
    run_full_load: bool         # engine-side batch snapshot job
    starting_offsets: str       # kafka startingOffsets value
    reason: str
    run_stream: bool            # full_load_only never starts the change stream


def resolve_snapshot_mode(
    engine: str,
    mode: str,
    full_load_completed: bool,
    has_captured_offset: bool,
) -> StreamStartPlan:
    """Port of the decision matrix (semantics, not code — see module doc)."""
    d = dialect(engine)
    engine = d.name
    if mode not in MODES:
        raise ValueError(f"unknown pipeline mode {mode!r}")
    run_stream = mode != "full_load_only"

    def plan(snapshot_mode: str, run_fl: bool, offsets: str, reason: str):
        return StreamStartPlan(
            engine, snapshot_mode, run_fl, offsets, reason, run_stream
        )

    if mode == "cdc_only":
        base = plan("never", False, "latest", "cdc_only skips snapshot")
    elif full_load_completed and has_captured_offset:
        base = plan(
            "never", False, "earliest",
            "full load done; stream resumes from captured offset",
        )
    else:
        base = plan("initial", True, "earliest", "fresh pipeline snapshots first")

    # per-engine remaps (debezium_config.py:155-167, 259-263, 379-398, 576-596)
    if base.snapshot_mode == "never":
        if d.never_remap:
            snapshot_mode, reason = d.never_remap
            return plan(snapshot_mode, base.run_full_load, base.starting_offsets, reason)
        if d.never_needs_offset and not has_captured_offset:
            return plan(
                "initial", True, "earliest",
                "as400 without an offset falls back to a full snapshot",
            )
    return base
