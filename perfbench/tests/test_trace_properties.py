"""Properties the traced run must uphold that its own numbers cannot
vouch for: each is checked against an independent quantity (wall time,
the generator's row counts, the watermark's window arithmetic)."""

from __future__ import annotations

import gen


def _ops(run: dict) -> list[dict]:
    ops = run["trace"]["ops"]
    assert ops and all(o["ok"] for o in ops)
    return ops


def test_executor_time_fits_in_the_slots(batch_run, stream_run):
    for run in (batch_run, stream_run):
        slots = run["trace"]["slots"]
        for o in _ops(run):
            m = o["metrics"]
            assert 0 < m["spark.executor_run_s"] <= o["wall_s"] * slots
            assert 0 < m["spark.slot_busy_share"] <= 1
            assert 0 <= m["spark.no_job_s"] <= o["wall_s"]


def test_batch_scan_reads_every_input_row(batch_run):
    drop = gen.BATCH_ROWS + gen.N_SONGS + gen.N_USERS
    for o in _ops(batch_run):
        m = o["metrics"]
        assert m["sources.scan_rows_read"] >= drop
        assert m["sources.scan_amplification"] >= 1
        assert m["operators.validation_jobs"] > 0 and m["spark.jobs"] > m["operators.validation_jobs"]


def test_stream_input_rows_match_the_generator(stream_run):
    written = sum(stream_run["trace"]["stream_rows_written"].values())
    read = sum(o["metrics"]["streaming.input_rows"] for o in _ops(stream_run))
    assert read == written > 0


def test_stream_state_stays_within_the_watermark(stream_run):
    bound = gen.N_GENRES * 2  # a 1-hour watermark over 1-hour windows keeps two open
    states = [o["metrics"]["streaming.state_rows"] for o in _ops(stream_run)]
    assert all(0 < s <= bound for s in states), states


def test_stream_upsert_rows_written_match_the_changed_files(stream_run):
    """The rows the upsert's jobs wrote, from the event log, equal the
    rows of the target's parquet files that the call created or changed,
    from their footers."""
    for o in _ops(stream_run):
        written = o["metrics"]["sources.upsert_rows_written"]
        assert written == o["upsert_changed_file_rows"] > 0, o["i"]
