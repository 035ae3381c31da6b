"""Checkpoint registry (ckpt.py): the cap must never free a frame a
caller may still run."""

from oasisdb_spark import ckpt


def test_cap_overflow_keeps_oldest_frame_runnable(spark, monkeypatch):
    monkeypatch.setattr(ckpt, "_CAP", 3)
    monkeypatch.setattr(ckpt, "_TRACKED", [])
    frames = [
        ckpt.track(spark.range(10).selectExpr(f"id * {i} AS v").localCheckpoint())
        for i in range(ckpt._CAP + 1)
    ]
    assert len(ckpt._TRACKED) == ckpt._CAP
    # the evicted (oldest) frame still has its blocks
    assert sorted(r["v"] for r in frames[0].collect()) == [0] * 10
    assert ckpt.release_tracked() == ckpt._CAP
