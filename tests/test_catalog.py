from __future__ import annotations

from pyspark.sql import types as T

SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("v", T.StringType(), True),
])


def test_append_and_time_travel(spark, catalog):
    catalog.create_table("t", SCHEMA)
    s1 = catalog.append(spark, "t", spark.createDataFrame([(1, "a")], SCHEMA))
    s2 = catalog.append(spark, "t", spark.createDataFrame([(2, "b")], SCHEMA))
    assert catalog.current_snapshot("t") == s2
    assert catalog.read(spark, "t").count() == 2
    assert catalog.read(spark, "t", snapshot_id=s1).count() == 1
    catalog.rollback("t", s1)
    assert catalog.read(spark, "t").count() == 1


def test_overwrite(spark, catalog):
    catalog.create_table("t", SCHEMA)
    catalog.append(spark, "t", spark.createDataFrame([(1, "a")], SCHEMA))
    catalog.overwrite(spark, "t", spark.createDataFrame([(9, "z")], SCHEMA))
    rows = catalog.read(spark, "t").collect()
    assert [(r.k, r.v) for r in rows] == [(9, "z")]


def test_empty_read_has_schema(spark, catalog):
    catalog.create_table("t", SCHEMA)
    df = catalog.read(spark, "t")
    assert df.count() == 0
    assert df.schema == SCHEMA


def test_merge_insert_if_absent(spark, catalog):
    """Get-before-upsert idempotency (reference qdrantdb/crawl_vector.go:47-56)."""
    catalog.create_table("t", SCHEMA)
    catalog.append(spark, "t", spark.createDataFrame([(1, "a"), (2, "b")], SCHEMA))
    catalog.merge_insert_if_absent(
        spark, "t",
        spark.createDataFrame([(2, "DUP"), (3, "c"), (3, "cc")], SCHEMA), "k")
    rows = {r.k for r in catalog.read(spark, "t").collect()}
    assert rows == {1, 2, 3}
    assert catalog.read(spark, "t").count() == 3
    # existing row untouched
    vals = {r.k: r.v for r in catalog.read(spark, "t").collect()}
    assert vals[2] == "b"


def test_merge_duplicate_keys_collapse_deterministically(spark, catalog):
    """Same-batch duplicate keys pick the struct-min of the orderable
    non-key columns, reproducibly across replays (ADVICE r1 #5 — the old
    dropDuplicates kept an arbitrary row)."""
    catalog.create_table("t", SCHEMA)
    batch = [(7, "zeta"), (7, "alpha"), (7, "midd")]
    for attempt in range(3):
        cat2 = type(catalog)(catalog.root + f"_rep{attempt}")
        cat2.create_table("t", SCHEMA)
        import random
        rng = random.Random(attempt)
        shuffled = batch[:]
        rng.shuffle(shuffled)
        cat2.merge_insert_if_absent(
            spark, "t", spark.createDataFrame(shuffled, SCHEMA), "k")
        vals = {r.k: r.v for r in cat2.read(spark, "t").collect()}
        assert vals == {7: "alpha"}, attempt
        cat2.drop("t")


def test_merge_with_unorderable_metadata_struct(spark, catalog):
    """documents carry a map-bearing metadata struct (unorderable);
    merge must still work, collapsing on the orderable columns."""
    from axora_spark import schemas
    catalog.create_table("docs", schemas.DOCUMENTS)
    span = {"kind": "text", "text": "x", "media_ref": "", "offset": 0}
    meta = {"title": "T", "raw_metadata": {"a": "1"}}
    rows = [("d1", "https://h/1", [span], meta),
            ("d1", "https://h/0", [span], meta)]
    catalog.merge_insert_if_absent(
        spark, "docs", spark.createDataFrame(rows, schemas.DOCUMENTS),
        key="doc_id")
    got = catalog.read(spark, "docs").collect()
    assert len(got) == 1
    assert got[0].url == "https://h/0"  # min over orderable url
    assert got[0].metadata.title == "T"


def test_compact_preserves_state_and_history(spark, catalog):
    catalog.create_table("t", T.StructType(
        [T.StructField("k", T.LongType()),
         T.StructField("v", T.StringType())]))
    for i in range(4):
        catalog.append(spark, "t", spark.createDataFrame(
            [(i, f"v{i}")], "k long, v string"))
    pre = sorted((r.k, r.v) for r in catalog.read(spark, "t").collect())
    pre_sid = catalog.current_snapshot("t")
    sid = catalog.compact(spark, "t")
    meta_dirs = [s for s in catalog.snapshots("t") if s["id"] == sid][0]
    assert len(meta_dirs["dirs"]) == 1  # the whole point
    assert sorted((r.k, r.v)
                  for r in catalog.read(spark, "t").collect()) == pre
    # history still time-travels (compaction deletes nothing)
    old = catalog.read(spark, "t", snapshot_id=pre_sid)
    assert sorted((r.k, r.v) for r in old.collect()) == pre


def test_expire_snapshots_bounds_disk(spark, catalog):
    import os
    catalog.create_table("t", T.StructType(
        [T.StructField("k", T.LongType())]))
    for i in range(5):
        catalog.append(spark, "t", spark.createDataFrame(
            [(i,)], "k long"))
    catalog.compact(spark, "t")
    removed = catalog.expire_snapshots("t", keep_last=1)
    assert removed == 5  # the five pre-compaction append dirs
    assert len(catalog.snapshots("t")) == 1
    got = sorted(r.k for r in catalog.read(spark, "t").collect())
    assert got == [0, 1, 2, 3, 4]
    # expired data dirs are gone from disk
    data_root = os.path.join(catalog.root, "t", "data")
    assert len(os.listdir(data_root)) == 1


def test_snapshot_n_rows_equals_rows_written(spark, catalog):
    """Every commit's n_rows is the number of rows its write produced:
    append, overwrite, compact, both merges, an all-duplicate merge batch
    (skip_empty commits nothing) and an empty frame."""
    catalog.create_table("t", SCHEMA)

    def check(sid, want):
        assert catalog.current_snapshot("t") == sid
        snap = catalog.snapshots("t")[-1]
        assert snap["id"] == sid
        assert snap["n_rows"] == want
        new_dir = snap["dirs"][-1]
        assert spark.read.schema(SCHEMA).parquet(new_dir).count() == want

    def frame(rows):
        return spark.createDataFrame(rows, SCHEMA)

    check(catalog.append(spark, "t", frame([(1, "a"), (2, "b"), (3, "c")])),
          3)
    check(catalog.overwrite(spark, "t", frame([(4, "d"), (5, "e")])), 2)
    catalog.append(spark, "t", frame([(6, "f")]))
    check(catalog.compact(spark, "t"), 3)
    # two keys already present, one new key duplicated within the batch
    check(catalog.merge_insert_if_absent(
        spark, "t", frame([(4, "x"), (5, "y"), (7, "g"), (7, "gg")]), "k"),
        1)
    n_snaps = len(catalog.snapshots("t"))
    cur = catalog.current_snapshot("t")
    assert catalog.merge_insert_if_absent(
        spark, "t", frame([(4, "x"), (7, "z")]), "k") == cur
    assert len(catalog.snapshots("t")) == n_snaps
    # upsert rewrites the whole table: 4 existing keys + 1 new
    check(catalog.merge_upsert_latest(
        spark, "t", frame([(4, "zz"), (8, "h")]), "k", "v"), 5)
    assert catalog.read(spark, "t").count() == 5
    check(catalog.append(spark, "t", frame([])), 0)
