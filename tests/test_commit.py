"""The on-disk commit primitives (``database_clonev2_spark.commit``) —
durability of the atomic JSON write, the applied-batch ledger, writer
liveness and epoch dir names. Pure filesystem: no Spark session, so the
commit path is covered by the default run (the Spark-level crash,
replay and exactly-once suites are ``slowops``)."""

from __future__ import annotations

import json
import os
import stat
import subprocess
import sys
import time

import pytest

from database_clonev2_spark import commit


def _tmp_siblings(d) -> list[str]:
    return [e for e in os.listdir(d) if ".tmp." in e]


class TestWriteJsonAtomic:
    def test_fsyncs_file_and_parent_directory(self, tmp_path, monkeypatch):
        target = tmp_path / "_commit.json"
        synced = []
        real_fsync = os.fsync

        def spy(fd):
            st = os.fstat(fd)
            synced.append((stat.S_ISDIR(st.st_mode), st.st_ino))
            return real_fsync(fd)

        monkeypatch.setattr(os, "fsync", spy)
        commit.write_json_atomic(str(target), {"token": "t1"})
        monkeypatch.undo()
        assert synced == [
            (False, os.stat(target).st_ino),  # the file, before the rename
            (True, os.stat(tmp_path).st_ino),  # then its directory
        ]
        assert json.loads(target.read_text()) == {"token": "t1"}
        assert _tmp_siblings(tmp_path) == []

    def test_dump_dying_midwrite_keeps_old_target(self, tmp_path, monkeypatch):
        target = tmp_path / "_merge_buckets.json"
        commit.write_json_atomic(str(target), {"n_buckets": 4})
        before = target.read_bytes()

        def dies_midwrite(obj, fh, *a, **kw):
            fh.write('{"n_buckets": ')
            raise OSError(28, "No space left on device")

        monkeypatch.setattr(json, "dump", dies_midwrite)
        with pytest.raises(OSError):
            commit.write_json_atomic(str(target), {"n_buckets": 8})
        monkeypatch.undo()
        assert target.read_bytes() == before
        assert _tmp_siblings(tmp_path) == []


class TestLedger:
    def test_replayed_id_is_a_noop(self, tmp_path):
        root = str(tmp_path)
        assert commit.applied_batches(root) == []
        commit._append_applied_batch(root, 0)
        commit._append_applied_batch(root, "e-1")
        mtime = os.stat(tmp_path / commit.LEDGER_FILE).st_mtime_ns
        commit._append_applied_batch(root, 0)
        assert commit.applied_batches(root) == [0, "e-1"]
        assert os.stat(tmp_path / commit.LEDGER_FILE).st_mtime_ns == mtime

    def test_keeps_only_the_last_batches_keep(self, tmp_path, monkeypatch):
        monkeypatch.setattr(commit, "_BATCHES_KEEP", 3)
        root = str(tmp_path)
        for b in range(5):
            commit._append_applied_batch(root, b)
        assert commit.applied_batches(root) == [2, 3, 4]


def _dead_pid() -> int:
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()  # reaped: the pid no longer names a process
    return p.pid


class TestManifestIsStale:
    def test_dead_pid_is_stale(self):
        assert commit._manifest_is_stale(
            {"pid": _dead_pid(), "wall_ts": time.time()}
        )

    def test_fresh_live_pid_is_not_stale(self):
        assert not commit._manifest_is_stale(
            {"pid": os.getpid(), "wall_ts": time.time()}
        )

    def test_live_pid_past_the_age_backstop_is_stale(self):
        assert commit._manifest_is_stale(
            {"pid": os.getpid(), "wall_ts": time.time() - 3601}
        )

    def test_manifest_without_pid_is_stale(self):
        assert commit._manifest_is_stale({"token": "t", "wall_ts": time.time()})


def test_epoch_dir_names():
    assert commit.epoch_dir_name(7) == "epoch-7"
    assert commit.epoch_dir_name("2026/01 a") == "epoch-2026_01_a"
    assert commit.epoch_dir_name(None, "ab12cd34") == "epoch-ab12cd34"
