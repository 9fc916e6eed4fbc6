"""versioned.py — the one commit protocol every state engine uses — and
the concurrent write wave that runs before a commit. Pure filesystem and
thread checks; only the job-group case starts Spark."""

import json
import os
import time

import pytest

from sfguide_getting_started_openflow_postgresql_cdc_spark import versioned


def test_commit_replaces_pointer_and_leaves_no_tmp(tmp_path):
    ptr = tmp_path / "_POINTER.json"
    versioned.commit(str(ptr), {"version": 1})
    versioned.commit(str(ptr), {"version": 2, "watermark": 7})
    assert json.loads(ptr.read_text()) == {"version": 2, "watermark": 7}
    assert os.listdir(tmp_path) == ["_POINTER.json"]


@pytest.mark.parametrize(
    "keep, committed, present, kept",
    [
        (2, 5, [2, 3, 4, 5], [4, 5]),
        (3, 5, [2, 3, 4, 5], [3, 4, 5]),
        # orphans a crashed writer left ABOVE the committed version go
        (2, 3, [1, 2, 3, 4, 5], [2, 3]),
        (3, 3, [0, 1, 2, 3, 4], [1, 2, 3]),
        # retention counts versions present, not version numbers
        (3, 6, [1, 4, 6], [1, 4, 6]),
    ],
)
def test_retire_keeps_committed_and_highest_below(
    tmp_path, keep, committed, present, kept
):
    for v in present:
        (tmp_path / f"v{v}").mkdir()
    (tmp_path / "_POINTER.json").write_text("{}")
    versioned.retire(str(tmp_path), committed, keep)
    assert versioned.versions(str(tmp_path)) == kept
    assert (tmp_path / "_POINTER.json").exists()


def test_versions_ignores_non_version_entries(tmp_path):
    for name in ("v2", "v10", "v1", "vx", "data", "v3.tmp"):
        (tmp_path / name).mkdir()
    assert versioned.versions(str(tmp_path)) == [1, 2, 10]
    assert versioned.versions(str(tmp_path / "missing")) == []


def test_link_unchanged_shares_inodes_and_skips_changed(tmp_path):
    old, new = tmp_path / "v1", tmp_path / "v2"
    for b in range(3):
        d = old / f"_B={b}"
        d.mkdir(parents=True)
        (d / "part-0.parquet").write_bytes(bytes([b]) * 8)
    (old / "_SUCCESS").write_text("")
    # the changed bucket was already rewritten into the new version
    (new / "_B=1").mkdir(parents=True)
    (new / "_B=1" / "part-9.parquet").write_bytes(b"rewritten")

    versioned.link_unchanged(str(old), str(new), "_B=", [1])

    assert sorted(os.listdir(new)) == ["_B=0", "_B=1", "_B=2"]
    for b in (0, 2):
        src = old / f"_B={b}" / "part-0.parquet"
        dst = new / f"_B={b}" / "part-0.parquet"
        assert os.stat(dst).st_ino == os.stat(src).st_ino
    assert os.listdir(new / "_B=1") == ["part-9.parquet"]


def test_commit_wave_surfaces_every_failure(spark):
    """A failing job in a concurrent commit wave does not hide a sibling's
    failure: every job finishes, the first failure raises, the others
    ride along as notes. Pool threads carry the caller's job group, so
    cancelling the group (a streaming query's ``stop()``) reaches them."""
    from sfguide_getting_started_openflow_postgresql_cdc_spark.session import (
        run_concurrently,
    )

    def probe():
        raise ValueError("probe failed")

    def append():
        time.sleep(0.2)
        raise OSError("append failed")

    with pytest.raises(ValueError, match="probe failed") as err:
        run_concurrently([probe, append, lambda: 1])
    assert any("append failed" in n for n in err.value.__notes__)
    assert run_concurrently([lambda: 1, lambda: 2]) == [1, 2]

    sc = spark.sparkContext
    sc.setJobGroup("wave-group", "concurrent wave")
    try:
        counts = run_concurrently(
            [lambda: spark.range(3).count(), lambda: spark.range(5).count()]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert counts == [3, 5]
    assert len(sc.statusTracker().getJobIdsForGroup("wave-group")) >= 2
