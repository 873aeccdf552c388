"""Scratch staging location and the checkpoint snapshot mechanism
(operators/staging.py) that link() stages and CC iterations share."""

import logging
import tempfile

from sassy_spark.operators import staging


def test_scratch_root_env_else_system_tempdir(monkeypatch, tmp_path):
    """Staged scratch goes to $SASSY_SCRATCH_DIR, else the system temp
    dir — never a RAM-backed default such as /dev/shm."""
    monkeypatch.setenv("SASSY_SCRATCH_DIR", str(tmp_path / "env"))
    assert staging.scratch_root() == str(tmp_path / "env")
    assert (tmp_path / "env").is_dir()
    monkeypatch.delenv("SASSY_SCRATCH_DIR")
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path / "sys"))
    (tmp_path / "sys").mkdir()
    assert staging.scratch_root() == str(tmp_path / "sys")


def test_snapshot_round_trip_lineage_and_rejections(spark, tmp_path, caplog):
    """A written snapshot carries per-partition lineage that adds up to
    its global rows and hash, resumes under its own fingerprint, and is
    refused (with the reason logged) under another fingerprint, with a
    corrupt or unparsable meta, or with no meta at all."""
    df = spark.range(0, 1000, numPartitions=4).selectExpr(
        "id", "cast(id % 7 as string) as s"
    )
    path = str(tmp_path / "snap")
    fp = {"input_rows": 1000, "params": {"k": None, "k_frac": 0.05}}
    back, meta = staging.write_snapshot(df, path, fp, lambda n, h: {"tag": n})
    assert meta["tag"] == 1000 and meta["rows"] == 1000
    assert sum(p["rows"] for p in meta["partitions"]) == 1000
    x = 0
    for p in meta["partitions"]:
        x ^= p["hash"]
    assert x == meta["global_hash"]
    assert staging.content_state(back) == (1000, meta["global_hash"])

    got = staging.read_snapshot(spark, path, fp)
    assert got is not None and got[0].count() == 1000

    with caplog.at_level(logging.INFO, logger=staging.__name__):
        assert staging.read_snapshot(spark, path, {**fp, "input_rows": 1}) is None
        # written behind Hadoop's back: its checksum no longer matches
        meta_p = str(tmp_path / "snap" / "_meta.json")
        (tmp_path / "snap" / "_meta.json").write_text("{not json")
        assert staging.read_snapshot(spark, path, fp) is None
        staging.fs_write_text(spark, meta_p, "{not json")
        assert staging.read_snapshot(spark, path, fp) is None
        (tmp_path / "snap" / "_meta.json").unlink()
        assert staging.read_snapshot(spark, path, fp) is None
    reasons = [r.getMessage() for r in caplog.records]
    assert any("fingerprint differs" in m for m in reasons), reasons
    assert any("Py4JJavaError" in m for m in reasons), reasons
    assert any("JSONDecodeError" in m for m in reasons), reasons
    assert [r.levelname for r in caplog.records if "no meta" in r.getMessage()] == [
        "INFO"
    ]
