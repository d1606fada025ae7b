import pytest

from perfbench import stats

# 2026-01-01T00:00:00Z in epoch ms
T = 1_767_225_600_000


def _progress(batch, ts, trigger_ms, rows=10):
    return {"batchId": batch, "timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger_ms, "addBatch": trigger_ms - 5}}


LOG = [
    _progress(0, "2026-01-01T00:00:00.000Z", 800),
    _progress(1, "2026-01-01T00:00:00.800Z", 700),
    # an idle trigger: no input, not a commit of anything
    _progress(2, "2026-01-01T00:00:01.500Z", 3, rows=0),
]


def test_progress_timestamp_is_epoch_ms():
    assert stats.progress_ms("2026-01-01T00:00:00.000Z") == T
    assert stats.progress_ms("2026-01-01T00:00:01.250Z") == T + 1250


def test_commit_is_trigger_start_plus_trigger_execution():
    assert stats.commit_ms(LOG) == {0: T + 800, 1: T + 1500}


def test_freshness_per_event_from_stamp_to_commit():
    stamped = [(0, T - 200, 2), (1, T + 300, 3)]
    assert stats.freshness_s(LOG, stamped) == [1.0, 1.0, 1.2, 1.2, 1.2]


def test_warm_up_events_are_left_out():
    stamped = [(0, T - 200, 2), (1, T + 300, 3)]
    assert stats.freshness_s(LOG, stamped, since_ms=T) == [1.2, 1.2, 1.2]


def test_uncommitted_batch_raises():
    with pytest.raises(KeyError):
        stats.freshness_s(LOG, [(2, T, 1)])


def test_phase_medians_skip_idle_triggers():
    assert stats.phase_medians(LOG, ("addBatch",)) == {"addBatch": 745}
