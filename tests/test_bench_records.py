"""bench.py failure records: every subprocess the bench starts is recorded
as {status: ok|error|timeout, error: "<Class>: <first line>"}."""

from __future__ import annotations

import sys

import bench


def test_child_past_its_timeout_is_recorded_as_timeout():
    record, value = bench.run_json_child([sys.executable, "-c", "import time; time.sleep(30)"], timeout=0.5)
    assert record["status"] == "timeout" and value is None
    assert record["error"].startswith("TimeoutExpired: ")


def test_child_that_fails_is_recorded_as_error():
    record, value = bench.run_json_child([sys.executable, "-c", "raise SystemExit('boom')"], timeout=30)
    assert record == {"status": "error", "error": "ChildProcessError: exit 1: boom"} and value is None


def test_child_json_line_is_returned():
    record, value = bench.run_json_child([sys.executable, "-c", "print('noise'); print('{\"reps\": [1.5]}')"], timeout=30)
    assert record == {"status": "ok", "error": None} and value == {"reps": [1.5]}
