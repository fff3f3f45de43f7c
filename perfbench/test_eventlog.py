"""The event-log fold on a tiny canned log.

    python3 -m pytest perfbench/test_eventlog.py -q

The canned log has one SQL execution in job group ``commit`` that
writes ``/data/out/docs`` (two tasks, one job; AQE re-plans it, so its
write metrics arrive under the re-planned accumulator ids) and one
unlabelled job that only reads shuffle data.
"""

import os

import pytest

import eventlog

LOG = os.path.join(os.path.dirname(os.path.abspath(__file__)), "testdata",
                   "tiny_eventlog.jsonl")


@pytest.fixture(scope="module")
def folded():
    return eventlog.fold(eventlog.read_events(LOG))


def test_group_totals(folded):
    g = folded["groups"]["commit"]
    assert g["jobs"] == 1
    assert g["tasks"] == 2
    assert g["wall_s"] == pytest.approx(2.0)
    assert g["task_s"] == pytest.approx(0.8)
    assert g["shuffle_write_mb"] == pytest.approx(1.0)
    assert g["spill_mb"] == pytest.approx(2.0)
    assert g["files_written"] == 3
    assert g["mb_written"] == pytest.approx(2.0)


def test_unlabelled_work_is_filed_under_empty_group(folded):
    g = folded["groups"][""]
    assert (g["jobs"], g["tasks"]) == (1, 1)
    assert g["shuffle_read_mb"] == pytest.approx(0.5)
    assert g["files_written"] == 0


def test_write_charged_to_its_output_path(folded):
    assert set(folded["paths"]) == {"/data/out/docs"}
    p = folded["paths"]["/data/out/docs"]
    assert p["wall_s"] == pytest.approx(2.5)   # SQL start to end
    assert (p["jobs"], p["tasks"]) == (1, 2)
    assert p["files_written"] == 3             # re-planned ids, not 0
    assert p["mb_written"] == pytest.approx(2.0)
    assert p["task_s"] == pytest.approx(0.8)


def test_sql_records(folded):
    (rec,) = folded["sql"]
    assert rec["group"] == "commit"
    assert rec["path"] == "/data/out/docs"
