"""The streaming services' replay ledger (streaming/epochs.py), without
Spark: check/commit/records over real marker files."""

import json
import os

import pytest

from snapshot_sender_spark import util
from snapshot_sender_spark.streaming.epochs import EpochLog

FP = {"n": 3, "x": -42}


@pytest.fixture
def log(tmp_path):
    return EpochLog(str(tmp_path / "_epochs"), "epoch_{}.committed")


def test_missing_marker_is_not_committed(log):
    assert log.check(0, FP) is False
    assert log.records() == {}  # the directory does not exist yet


def test_committed_marker_matches_its_fingerprint(log):
    log.commit(0, FP)
    assert log.path(0).endswith(os.path.join("_epochs", "epoch_0.committed"))
    with open(log.path(0)) as fh:
        assert json.load(fh) == FP
    assert log.check(0, FP) is True
    assert log.check(1, FP) is False


def test_check_compares_only_the_fingerprint_keys(tmp_path):
    """A record may carry more than its fingerprint (the takedown audit)."""
    log = EpochLog(str(tmp_path), "batch_{}.json")
    log.commit(7, {**FP, "kind": "media", "corpus_rows_removed": 2})
    assert log.check(7, FP) is True
    assert log.records() == {7: {**FP, "kind": "media", "corpus_rows_removed": 2}}


def test_mismatched_marker_raises_naming_it(log):
    log.commit(0, FP)
    with pytest.raises(RuntimeError, match="checkpoint generations") as err:
        log.check(0, {"n": 3, "x": 7})
    assert log.path(0) in str(err.value)
    # a fingerprint key the record lacks is a mismatch too (a delivery
    # marker without the "v": 2 version field)
    with pytest.raises(RuntimeError, match="checkpoint generations"):
        log.check(0, {"v": 2, **FP})


@pytest.mark.parametrize("body", ["", "committed", "{\"n\": 3, \"x\"", "[1, 2]", "null"])
def test_empty_or_garbled_marker_raises_naming_it(log, body):
    os.makedirs(log.directory)
    with open(log.path(0), "w") as fh:
        fh.write(body)
    with pytest.raises(RuntimeError, match="empty or not a JSON record") as err:
        log.check(0, FP)
    assert log.path(0) in str(err.value)
    with pytest.raises(RuntimeError, match="empty or not a JSON record"):
        log.records()


def test_crash_between_tmp_write_and_replace_leaves_no_marker(log, monkeypatch):
    def crash(src, dst):
        raise OSError("injected crash before the rename")

    monkeypatch.setattr(util.os, "replace", crash)
    with pytest.raises(OSError, match="injected crash"):
        log.commit(0, FP)
    monkeypatch.undo()
    assert not os.path.exists(log.path(0))
    assert [n for n in os.listdir(log.directory) if n.endswith(".tmp")]  # the leftover
    assert log.check(0, FP) is False  # the replay redoes the epoch
    assert log.records() == {}
    log.commit(0, FP)
    assert log.check(0, FP) is True


def test_records_ignores_tmp_files_and_other_names(log):
    log.commit(2, {"n": 2, "x": 2})
    log.commit(10, {"n": 10, "x": 10})
    for stray in ("epoch_3.committed.abc.tmp", "epoch_4.committed.tmp", "epoch_x.committed",
                  "notes.txt"):
        with open(os.path.join(log.directory, stray), "w") as fh:
            fh.write("")
    assert log.records() == {2: {"n": 2, "x": 2}, 10: {"n": 10, "x": 10}}
    assert list(log.records()) == [2, 10]  # numeric order, not name order
