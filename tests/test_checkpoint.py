from __future__ import annotations

from biokg_spark.plans.checkpoint import CheckpointManager, fingerprint


def test_run_then_resume(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(10).withColumnRenamed("id", "x")

    fp = fingerprint("stage-a", "v1")
    df1 = ck.run("a", fp, build)
    assert df1.count() == 10 and calls == [1]
    assert ck.results["a"].skipped is False
    assert ck.results["a"].row_count == 10
    assert sum(l["rows"] for l in ck.results["a"].lineage) == 10

    ck2 = CheckpointManager(spark, str(tmp_path))
    df2 = ck2.run("a", fp, build)
    assert df2.count() == 10 and calls == [1]  # build not re-invoked
    assert ck2.results["a"].skipped is True


def test_fingerprint_change_rebuilds(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(3)

    ck.run("a", fingerprint("v1"), build)
    ck.run("a", fingerprint("v2"), build)
    assert calls == [1, 1]


def test_partitioned_write(spark, tmp_path):
    ck = CheckpointManager(spark, str(tmp_path))
    df = spark.createDataFrame(
        [("x", 1), ("y", 2), ("x", 3)], "pred string, v int"
    )
    out = ck.run("p", fingerprint("v1"), lambda: df, partition_by=["pred"])
    assert out.count() == 3
    assert set(out.columns) == {"pred", "v"}
    # partition dirs exist on disk
    base = tmp_path / "p" / "data"
    assert (base / "pred=x").exists() and (base / "pred=y").exists()


def test_manifest_without_schema_key_rebuilds(spark, tmp_path):
    """A manifest written by an older code version (no 'schema' key) must
    invalidate the checkpoint and rebuild — not crash with KeyError."""
    import json
    import os

    ck = CheckpointManager(spark, str(tmp_path))
    calls = []

    def build():
        calls.append(1)
        return spark.range(3).withColumnRenamed("id", "v")

    fp = fingerprint("s", "k")
    ck.run("legacy", fp, build)
    # strip the schema key, mimicking the old manifest format
    mpath = os.path.join(str(tmp_path), "legacy", "_MANIFEST.json")
    m = json.load(open(mpath))
    del m["schema"]
    json.dump(m, open(mpath, "w"))

    ck2 = CheckpointManager(spark, str(tmp_path))
    df = ck2.run("legacy", fp, build)
    assert df.count() == 3 and len(calls) == 2  # rebuilt, no crash
