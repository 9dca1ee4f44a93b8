"""MVCC table tests: snapshots, deletes, updates, point lookups, trans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pixels_spark.catalog import load_table
from pixels_spark.mvcc import MvccTable, TransService


@pytest.fixture()
def table(spark, tmp_path):
    return MvccTable(spark, str(tmp_path / "t"), key_col="event_id")


@pytest.fixture()
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").limit(100).cache()


def test_trans_service_monotonic(tmp_path):
    ts = TransService(str(tmp_path))
    w1 = ts.begin_trans()
    w2 = ts.begin_trans()
    assert w2.timestamp > w1.timestamp
    # readers see nothing until commit
    assert ts.begin_trans(read_only=True).timestamp == 0
    ts.commit_trans(w1)
    assert ts.begin_trans(read_only=True).timestamp == w1.timestamp
    ts.commit_trans(w2)
    assert ts.high_watermark == w2.timestamp


def test_watermark_waits_for_straggling_lower_ts(tmp_path):
    """Committing ts N while ts N-1 is in flight must NOT expose N: the
    watermark only advances over the contiguously committed prefix, so
    snapshots taken at the watermark are repeatable."""
    ts = TransService(str(tmp_path))
    w1 = ts.begin_trans()
    w2 = ts.begin_trans()
    ts.commit_trans(w2)  # higher ts commits first
    assert ts.high_watermark < w1.timestamp  # w1 still pending holds it back
    ts.commit_trans(w1)
    assert ts.high_watermark == w2.timestamp


def test_abort_releases_watermark(tmp_path):
    ts = TransService(str(tmp_path))
    w1 = ts.begin_trans()
    w2 = ts.begin_trans()
    ts.commit_trans(w2)
    assert ts.high_watermark < w1.timestamp
    ts.abort_trans(w1)
    assert ts.high_watermark == w2.timestamp


def test_concurrent_writers_never_share_a_ts(tmp_path):
    """The flock'd oracle must hand out distinct timestamps under process
    concurrency (the unlocked read-modify-write could double-issue)."""
    import multiprocessing as mp

    root = str(tmp_path)
    TransService(root)  # initialize state file

    def draw(n, out):
        svc = TransService(root)
        got = []
        for _ in range(n):
            ctx = svc.begin_trans()
            got.append(ctx.timestamp)
            svc.commit_trans(ctx)
        out.extend(got)

    mgr = mp.Manager()
    out = mgr.list()
    procs = [mp.Process(target=draw, args=(20, out)) for _ in range(4)]
    for p in procs:
        p.start()
    for p in procs:
        p.join()
    all_ts = list(out)
    assert len(all_ts) == 80
    assert len(set(all_ts)) == 80, "duplicate timestamps issued"


def test_read_schema_has_no_partition_column(table, events):
    """read() must not leak the _commit partition-discovery column, and the
    snapshot filter must prune commit directories by path."""
    t1 = table.insert(events.limit(5))
    table.insert(events.limit(10))
    snap = table.read(snapshot_ts=t1)
    assert "_commit" not in snap.columns and "commit" not in snap.columns
    plan = snap._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "_commit" in plan, plan


def test_user_column_named_commit_survives(spark, tmp_path):
    """A payload column literally named 'commit' must round-trip (the old
    commit=<ts> dir names collided with it via partition discovery)."""
    t = MvccTable(spark, str(tmp_path / "c"), key_col="k")
    df = spark.createDataFrame([(1, "a"), (2, "b")], ["k", "commit"])
    t.insert(df)
    got = t.read().orderBy("k").collect()
    assert [(r.k, r.commit) for r in got] == [(1, "a"), (2, "b")]


def test_indexed_point_lookup_reads_one_file(spark, sf_dir, tmp_path):
    """On an indexed multi-file table the manifest must bind the lookup to
    the single file whose key range covers the probe (SinglePointIndex
    key->RowLocation contract, file-granular)."""
    t = MvccTable(
        spark, str(tmp_path / "idx"), key_col="event_id",
        indexed=True, index_files=8,
    )
    ev = load_table(spark, sf_dir, "events").limit(400)
    t.insert(ev)
    n_files = len([
        f for f in __import__("os").listdir(
            str(tmp_path / "idx" / "data")
        ) if f.startswith("_commit=")
    ])
    assert n_files == 1  # one commit dir...
    import json
    with open(t.index_path) as f:
        idx = json.load(f)
    assert len(idx) == 8  # ...holding 8 key-clustered files
    # disjoint key ranges (clustering worked)
    spans = sorted((e["min"], e["max"]) for e in idx)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi <= b_lo

    probe = ev.orderBy("event_id").limit(1).first().event_id
    # the manifest resolves the probe to exactly one covering file...
    cands = [e for e in idx if e["min"] <= probe <= e["max"]]
    assert len(cands) == 1, cands
    got = t.point_lookup(probe)
    rows = got.collect()
    assert len(rows) == 1 and rows[0].event_id == probe
    # ...and the data scan in the plan is bound to that single file
    plan = got._jdf.queryExecution().executedPlan().toString()
    fname = cands[0]["path"].rsplit("/", 1)[-1]
    others = [e["path"].rsplit("/", 1)[-1] for e in idx if e is not cands[0]]
    assert fname.split(".")[0][:30] in plan or "1 paths" in plan, plan
    for o in others:
        assert o.split(".")[0][:30] not in plan
    # correctness vs the unindexed path
    unindexed = MvccTable(
        spark, str(tmp_path / "idx"), key_col="event_id", trans=t.trans
    )
    expect = unindexed.point_lookup(probe).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expect]


def test_indexed_lookup_respects_deletes_and_versions(spark, sf_dir, tmp_path):
    t = MvccTable(
        spark, str(tmp_path / "idx2"), key_col="event_id",
        indexed=True, index_files=4,
    )
    ev = load_table(spark, sf_dir, "events").limit(50).cache()
    k = ev.orderBy("event_id").limit(1).first().event_id
    t.insert(ev)
    # update the probe key (delete+insert, one ts)
    newrow = ev.filter(F.col("event_id") == k).withColumn("value", F.lit(777.0))
    t.update(newrow)
    got = t.point_lookup(k).collect()
    assert len(got) == 1 and got[0].value == 777.0
    t.delete([k])
    assert t.point_lookup(k).count() == 0
    # time travel still sees the old version through the index
    first_ts = 1
    old = t.point_lookup(k, snapshot_ts=first_ts).collect()
    assert len(old) == 1 and old[0].value != 777.0


def test_insert_and_snapshot_isolation(table, events):
    t1 = table.insert(events.filter(F.col("event_id") < 50))
    t2 = table.insert(events.filter(F.col("event_id") >= 50))
    # time travel: snapshot at t1 excludes the second commit
    assert table.read(t1).count() == events.filter(F.col("event_id") < 50).count()
    assert table.read(t2).count() == events.count()
    # default read = latest watermark
    assert table.read().count() == events.count()


def test_delete_visibility(table, events):
    t1 = table.insert(events)
    some = [r.event_id for r in events.limit(10).collect()]
    t2 = table.delete(some)
    assert table.read(t1).count() == events.count()  # before delete
    after = table.read(t2)
    assert after.count() == events.count() - 10
    assert after.filter(F.col("event_id").isin(some)).count() == 0


def test_reinsert_after_delete_reappears(table, events):
    first = events.limit(5)
    t1 = table.insert(first)
    t2 = table.delete([r.event_id for r in first.collect()])
    assert table.read(t2).count() == 0
    t3 = table.insert(first)  # same keys, new version
    assert table.read(t3).count() == 5
    assert table.read(t2).count() == 0  # old snapshot unchanged


def test_update_semantics(table, events):
    table.insert(events.limit(20))
    changed = events.limit(20).withColumn("value", F.lit(999.0))
    t2 = table.update(changed)
    latest = table.read_latest_version(t2)
    assert latest.count() == 20
    vals = {r.value for r in latest.collect()}
    assert vals == {999.0}


def test_point_lookup(table, events):
    table.insert(events)
    key = events.first().event_id
    row = table.point_lookup(key).collect()
    assert len(row) == 1
    assert row[0].event_id == key


def test_vacuum_concurrent_with_insert_keeps_manifest_complete(spark, tmp_path):
    """An insert landing while vacuum rewrites the manifest must not have
    its entries dropped (both now go through the locked _index_rmw)."""
    import threading

    t = MvccTable(spark, str(tmp_path / "cv"), key_col="k", indexed=True, index_files=2)
    first = t.insert(spark.range(10).select(F.col("id").alias("k")))
    t.delete(list(range(10)))  # makes the first commit vacuumable

    inserted_ts: list[int] = []

    def writer():
        for i in range(3):
            inserted_ts.append(
                t.insert(spark.range(100 + i * 10, 110 + i * 10).select(F.col("id").alias("k")))
            )

    th = threading.Thread(target=writer)
    th.start()
    for _ in range(3):
        t.vacuum(retain_ts=t.trans.high_watermark + 1)
    th.join()
    t.vacuum(retain_ts=t.trans.high_watermark + 1)

    import json

    with open(t.index_path) as f:
        idx = json.load(f)
    manifest_ts = {e["commit_ts"] for e in idx}
    # every surviving insert is fully represented; the vacuumed commit is not
    for ts in inserted_ts:
        assert ts in manifest_ts, f"insert {ts} lost from manifest during vacuum"
    assert first not in manifest_ts
    # and the rows are all reachable via indexed point lookup
    assert t.point_lookup(105).count() == 1


def test_point_lookup_reaches_rows_of_unindexed_commits(spark, tmp_path):
    """A commit written while the table was opened unindexed must not be
    silently unreachable through a later indexed open (manifest
    incompleteness falls back to the full scan)."""
    root = str(tmp_path / "ui")
    plain = MvccTable(spark, root, key_col="k")
    plain.insert(spark.range(5).select(F.col("id").alias("k")))

    t = MvccTable(spark, root, key_col="k", indexed=True, index_files=2)
    t.insert(spark.range(100, 105).select(F.col("id").alias("k")))

    # key 3 only exists in the unindexed commit: manifest has no covering
    # file, but the lookup must still find it
    assert t.point_lookup(3).count() == 1
    # a key in the indexed commit still resolves
    assert t.point_lookup(102).count() == 1
    # a truly absent key is empty either way
    assert t.point_lookup(999).count() == 0


def test_index_manifest_full_lifecycle(spark, sf_dir, tmp_path):
    """The point-index manifest serves the whole indexed lifecycle:
    selective point lookups, then vacuum emptying the manifest, after
    which an absent key is authoritative-empty."""
    events = load_table(spark, sf_dir, "events").limit(50).cache()
    t = MvccTable(spark, str(tmp_path / "ix"), key_col="event_id",
                  indexed=True, index_files=2)
    t.insert(events)
    assert t.index_path.endswith(".json")
    key = events.orderBy("event_id").first().event_id
    hit = t.point_lookup(key).collect()
    assert len(hit) == 1 and hit[0].event_id == key
    # manifest is selective: candidate files < total files
    idx = t.manifest.load()
    assert idx and all({"path", "commit_ts", "min", "max"} <= set(e) for e in idx)
    covering = [e for e in idx if e["min"] <= key <= e["max"]]
    assert len(covering) < len(idx)
    # delete + vacuum removes the commit's entries from the manifest
    t.delete([r.event_id for r in events.collect()])
    removed = t.vacuum(retain_ts=t.trans.high_watermark + 1)
    assert removed
    assert t.manifest.load() == []
    # absent key on the (complete) empty manifest is authoritative-empty
    assert t.point_lookup(key).count() == 0


def test_merge_upsert_semantics(spark, tmp_path):
    """MERGE: matched keys replaced, unmatched inserted, all in one commit;
    the pre-merge snapshot is untouched (time travel)."""
    from pixels_spark.mvcc import MvccTable

    t = MvccTable(spark, str(tmp_path / "m1"), key_col="k")
    ts0 = t.insert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    src = spark.createDataFrame([(2, "B"), (4, "D")], "k long, v string")
    ts1 = t.merge(src)  # update k=2, insert k=4
    now = {r["k"]: r["v"] for r in t.read_latest_version().collect()}
    assert now == {1: "a", 2: "B", 3: "c", 4: "D"}
    before = {r["k"]: r["v"] for r in t.read_latest_version(ts0).collect()}
    assert before == {1: "a", 2: "b", 3: "c"}
    assert ts1 > ts0


def test_merge_matched_delete_and_full_sync(spark, tmp_path):
    from pixels_spark.mvcc import MvccTable

    t = MvccTable(spark, str(tmp_path / "m2"), key_col="k")
    t.insert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    # matched keys deleted, unmatched source ignored
    t.merge(
        spark.createDataFrame([(2, "x"), (9, "y")], "k long, v string"),
        when_matched="delete",
        when_not_matched="ignore",
    )
    assert {r["k"] for r in t.read_latest_version().collect()} == {1, 3}

    # full sync: target becomes exactly the source
    t2 = MvccTable(spark, str(tmp_path / "m3"), key_col="k")
    t2.insert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"))
    t2.merge(
        spark.createDataFrame([(2, "B"), (5, "E")], "k long, v string"),
        delete_unmatched_target=True,
    )
    assert {r["k"]: r["v"] for r in t2.read_latest_version().collect()} == {2: "B", 5: "E"}


def test_merge_rejects_bad_clauses(spark, tmp_path):
    import pytest

    from pixels_spark.mvcc import MvccTable

    t = MvccTable(spark, str(tmp_path / "m4"), key_col="k")
    src = spark.createDataFrame([(1, "a")], "k long, v string")
    with pytest.raises(ValueError):
        t.merge(src, when_matched="upsert")
    with pytest.raises(ValueError):
        t.merge(src, when_not_matched="replace")


# -- secondary (non-unique) point index --------------------------------------


def _sidx_table(spark, tmp_path, name, indexed=True):
    from pixels_spark.mvcc.secondary import SecondaryIndex
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(
        spark, str(tmp_path / name), key_col="k", indexed=indexed, index_files=2
    )
    rows = [(i, i // 10, f"u{i % 5}") for i in range(40)]
    ts = t.insert(spark.createDataFrame(rows, ["k", "grp", "tag"]))
    idx = SecondaryIndex(t, "grp")
    idx.index_commit(ts)
    return t, idx


def test_secondary_lookup_returns_all_matches(spark, tmp_path):
    t, idx = _sidx_table(spark, tmp_path, "s1")
    got = sorted(r["k"] for r in idx.lookup(2).collect())
    assert got == list(range(20, 30))  # non-unique: every k with grp=2


def test_secondary_lookup_skips_stale_versions(spark, tmp_path):
    from pixels_spark.mvcc.secondary import SecondaryIndex

    t, idx = _sidx_table(spark, tmp_path, "s2")
    # move k=25 from grp 2 to grp 99 (update = delete+insert, one ts)
    ts2 = t.update(spark.createDataFrame([(25, 99, "u0")], ["k", "grp", "tag"]))
    idx.index_commit(ts2)
    got = sorted(r["k"] for r in idx.lookup(2).collect())
    assert 25 not in got and got == [k for k in range(20, 30) if k != 25]
    # and the new value finds it
    assert [r["k"] for r in idx.lookup(99).collect()] == [25]
    # snapshot BEFORE the update still sees the old assignment
    pre = sorted(r["k"] for r in idx.lookup(2, snapshot_ts=ts2 - 1).collect())
    assert pre == list(range(20, 30))


def test_secondary_lookup_respects_deletes(spark, tmp_path):
    t, idx = _sidx_table(spark, tmp_path, "s3")
    ts2 = t.delete([21, 22])
    got = sorted(r["k"] for r in idx.lookup(2).collect())
    assert got == [20] + list(range(23, 30))


def test_secondary_lookup_prunes_files(spark, tmp_path):
    # primary clustering (k) correlates with grp=k//10 → covering files
    # are a strict subset
    t, idx = _sidx_table(spark, tmp_path, "s4")
    all_files = {e["path"] for e in idx.manifest.load()}
    cand = set(idx.candidate_files(0))
    assert cand and cand < all_files


def test_secondary_lookup_falls_back_on_unindexed_commit(spark, tmp_path):
    t, idx = _sidx_table(spark, tmp_path, "s5")
    t.insert(spark.createDataFrame([(100, 2, "u9")], ["k", "grp", "tag"]))
    # new commit not in the secondary manifest → correct fallback
    got = sorted(r["k"] for r in idx.lookup(2).collect())
    assert got == list(range(20, 30)) + [100]
    idx.build()  # backfill restores coverage
    got2 = sorted(r["k"] for r in idx.lookup(2).collect())
    assert got2 == got


def test_secondary_index_rejects_key_column(spark, tmp_path):
    import pytest as _pytest

    from pixels_spark.mvcc.secondary import SecondaryIndex
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "s6"), key_col="k")
    with _pytest.raises(ValueError):
        SecondaryIndex(t, "k")


def test_secondary_index_commit_on_delete_only_ts_is_noop(spark, tmp_path):
    t, idx = _sidx_table(spark, tmp_path, "s7")
    ts = t.delete([20])
    idx.index_commit(ts)  # no data dir for a delete-only commit → no-op
    got = sorted(r["k"] for r in idx.lookup(2).collect())
    assert got == list(range(21, 30))


def test_secondary_lookup_semi_join_fallback_matches(spark, tmp_path):
    from pixels_spark.mvcc.secondary import SecondaryIndex

    t, idx = _sidx_table(spark, tmp_path, "s8")
    small = SecondaryIndex(t, "tag", max_candidates=2)  # force the fallback
    small.build()
    big = SecondaryIndex(t, "tag")
    big.build()
    a = sorted(r["k"] for r in small.lookup("u1").collect())
    b = sorted(r["k"] for r in big.lookup("u1").collect())
    assert a == b == [k for k in range(40) if k % 5 == 1]


def test_secondary_lookup_survives_vacuum(spark, tmp_path):
    """Vacuum rewrites only the primary manifest; the secondary manifest's
    stale entries must not break lookups (missing files are skipped —
    their rows were fully deleted), and prune_vacuumed tidies them."""
    from pixels_spark.mvcc.secondary import SecondaryIndex
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "sv"), key_col="k", indexed=True)
    ts1 = t.insert(spark.createDataFrame([(1, 10), (2, 20)], ["k", "grp"]))
    ts2 = t.insert(spark.createDataFrame([(3, 10)], ["k", "grp"]))
    idx = SecondaryIndex(t, "grp")
    idx.build()
    # fully delete commit 1's rows, then vacuum it away
    del_ts = t.delete([1, 2])
    removed = t.vacuum(retain_ts=del_ts + 1)
    assert removed == [ts1]
    got = [r["k"] for r in idx.lookup(10).collect()]
    assert got == [3]  # stale entry skipped, surviving commit still found
    idx.prune_vacuumed(removed)
    assert {e["commit_ts"] for e in idx.manifest.load()} == {ts2}


# -- history compaction (OPTIMIZE/checkpoint) --------------------------------


def test_compact_history_preserves_snapshot_and_shrinks_layout(spark, tmp_path):
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "ch"), key_col="k")
    for lo in (0, 10, 20):  # three small commits
        t.insert(
            spark.createDataFrame(
                [(k, f"g{k % 2}", float(k)) for k in range(lo, lo + 10)],
                ["k", "g", "v"],
            )
        )
    t.update(spark.createDataFrame([(5, "g9", 500.0)], ["k", "g", "v"]))
    t.delete([7, 21])
    before = sorted(tuple(r) for r in t.read_latest_version().collect())
    hw = t.trans.high_watermark
    removed = t.compact_history()
    assert removed  # old commit dirs gone
    import os

    dirs = [d for d in os.listdir(t.data_dir) if d.startswith("_commit=")]
    assert dirs == [f"_commit={hw}"]
    assert not os.path.isdir(t.delete_dir) or not os.listdir(t.delete_dir)
    after = sorted(tuple(r) for r in t.read_latest_version().collect())
    assert after == before  # rows + their original _commit_ts preserved
    # the table stays fully mutable afterwards
    t.update(spark.createDataFrame([(5, "gX", 1.0)], ["k", "g", "v"]))
    assert t.read_latest_version().filter("k = 5").first()["g"] == "gX"


def test_compact_history_keeps_commits_after_retain_ts(spark, tmp_path):
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "ch2"), key_col="k")
    t.insert(spark.createDataFrame([(1, 1.0), (2, 2.0)], ["k", "v"]))
    mid = t.trans.high_watermark
    # later history must survive untouched: an update past retain_ts
    t.update(spark.createDataFrame([(1, 111.0)], ["k", "v"]))
    before = sorted(tuple(r) for r in t.read_latest_version().collect())
    t.compact_history(retain_ts=mid)
    after = sorted(tuple(r) for r in t.read_latest_version().collect())
    assert after == before
    got = {r["k"]: r["v"] for r in t.read_latest_version().collect()}
    assert got == {1: 111.0, 2: 2.0}


def test_compact_history_rebuilds_point_index(spark, tmp_path):
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(
        spark, str(tmp_path / "ch3"), key_col="k", indexed=True, index_files=4
    )
    t.insert(spark.createDataFrame([(k, float(k)) for k in range(20)], ["k", "v"]))
    t.insert(spark.createDataFrame([(k, float(k)) for k in range(20, 40)], ["k", "v"]))
    hw = t.trans.high_watermark
    t.compact_history()
    idx = t.manifest.load()
    assert idx and all(e["commit_ts"] == hw for e in idx)
    assert len(idx) == 4  # re-clustered into index_files files
    rows = t.point_lookup(25).collect()
    assert len(rows) == 1 and rows[0]["v"] == 25.0


def test_secondary_lookup_survives_compact_history(spark, tmp_path):
    """compact_history rewrites a directory UNDER THE SAME ts the
    secondary manifest already indexed — stale entries must force the
    fallback (not silently drop the consolidated file), and build() must
    re-index the rewritten commit."""
    from pixels_spark.mvcc.secondary import SecondaryIndex
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "sc"), key_col="k", indexed=True)
    t.insert(spark.createDataFrame([(1, 10), (2, 20)], ["k", "grp"]))
    t.insert(spark.createDataFrame([(3, 10)], ["k", "grp"]))
    idx = SecondaryIndex(t, "grp")
    idx.build()
    t.compact_history()
    got = sorted(r["k"] for r in idx.lookup(10).collect())
    assert got == [1, 3]  # correct via fallback despite stale manifest
    idx.build()  # re-indexes the rewritten commit
    assert idx._covered(t.trans.high_watermark)
    got2 = sorted(r["k"] for r in idx.lookup(10).collect())
    assert got2 == [1, 3]
    assert idx.candidate_files(10)  # pruned path live again


def test_schema_evolution_add_column(spark, tmp_path):
    """ADD COLUMN without history rewrite: commits written before the column
    existed read back with typed nulls; the persisted schema is the union."""
    t = MvccTable(spark, str(tmp_path / "evo"), key_col="id")
    base = spark.range(0, 4).select(F.col("id"), (F.col("id") * 10.0).alias("v"))
    t.insert(base)
    widened = spark.range(4, 6).select(
        F.col("id"), (F.col("id") * 10.0).alias("v"), F.lit("new").alias("tag")
    )
    ts2 = t.insert(widened)
    got = {r["id"]: (r["v"], r["tag"]) for r in t.read().collect()}
    assert got == {0: (0.0, None), 1: (10.0, None), 2: (20.0, None),
                   3: (30.0, None), 4: (40.0, "new"), 5: (50.0, "new")}
    # evolved schema keeps first-seen order: base fields, then additions
    assert [f.name for f in t.persisted_schema().fields] == [
        "id", "v", "_commit_ts", "tag"
    ]
    # time travel before the evolution still serves the evolved (latest)
    # schema — the old rows' new column is null
    old = t.read(snapshot_ts=ts2 - 1)
    assert "tag" in old.columns and old.count() == 4


def test_schema_evolution_rejects_type_change(spark, tmp_path):
    t = MvccTable(spark, str(tmp_path / "evo2"), key_col="id")
    t.insert(spark.range(2).select(F.col("id"), F.lit(1.0).alias("v")))
    with pytest.raises(ValueError, match="schema evolution cannot change"):
        t.insert(spark.range(2, 3).select(F.col("id"), F.lit("s").alias("v")))


def test_schema_evolution_indexed_point_lookup(spark, tmp_path):
    """Point lookup through the manifest must read pre-evolution files under
    the evolved schema (missing column -> null), not the file footer's."""
    t = MvccTable(spark, str(tmp_path / "evo3"), key_col="id", indexed=True,
                  index_files=2)
    t.insert(spark.range(0, 10).select(F.col("id"), (F.col("id") + 0.5).alias("v")))
    t.insert(spark.range(10, 12).select(
        F.col("id"), (F.col("id") + 0.5).alias("v"), F.lit(7).alias("extra")
    ))
    row = t.point_lookup(3).collect()
    assert len(row) == 1 and row[0]["extra"] is None
    row2 = t.point_lookup(11).collect()
    assert len(row2) == 1 and row2[0]["extra"] == 7


def test_schema_evolution_merge_with_wider_source(spark, tmp_path):
    t = MvccTable(spark, str(tmp_path / "evo4"), key_col="id")
    t.insert(spark.range(0, 4).select(F.col("id"), (F.col("id") * 1.0).alias("v")))
    src = spark.range(2, 6).select(
        F.col("id"), (F.col("id") * 100.0).alias("v"), F.lit("m").alias("src")
    )
    t.merge(src)
    got = {r["id"]: (r["v"], r["src"]) for r in t.read_latest_version().collect()}
    assert got == {0: (0.0, None), 1: (1.0, None), 2: (200.0, "m"),
                   3: (300.0, "m"), 4: (400.0, "m"), 5: (500.0, "m")}


def test_secondary_range_lookup_matches_and_prunes(spark, tmp_path):
    t, idx = _sidx_table(spark, tmp_path, "sr1")
    got = sorted(r["k"] for r in idx.lookup_range(2, 4).collect())
    assert got == list(range(20, 40))  # grp in {2, 3} (fixture max grp = 3)
    # stale-version trap: move k=25 out of grp 2, add k=70 at grp 3
    ts2 = t.update(
        spark.createDataFrame([(25, 99, "u"), (70, 3, "u")], ["k", "grp", "tag"])
    )
    idx.index_commit(ts2)
    got2 = sorted(r["k"] for r in idx.lookup_range(2, 4).collect())
    assert got2 == sorted([k for k in range(20, 40) if k != 25] + [70])
    # pre-update snapshot unchanged
    pre = sorted(r["k"] for r in idx.lookup_range(2, 4, snapshot_ts=ts2 - 1).collect())
    assert pre == list(range(20, 40))
    # interval-overlap pruning: candidates for a narrow range are a
    # strict subset of the whole-table file set
    all_files = idx._candidate_files(lambda e: True)
    narrow = idx._candidate_files(lambda e: not (e["max"] < 2 or e["min"] > 2))
    assert set(narrow) <= set(all_files)
    with pytest.raises(ValueError, match="empty range"):
        idx.lookup_range(5, 2)


def test_failed_insert_aborts_transaction(spark, tmp_path):
    """A rejected schema evolution must ABORT its transaction — a
    forever-pending ts would wedge the watermark and hide every later
    committed insert."""
    t = MvccTable(spark, str(tmp_path / "abort"), key_col="id")
    t.insert(spark.range(2).select(F.col("id"), F.lit(1.0).alias("v")))
    with pytest.raises(ValueError, match="schema evolution"):
        t.insert(spark.range(2, 3).select(F.col("id"), F.lit("s").alias("v")))
    t.insert(spark.range(2, 4).select(F.col("id"), F.lit(2.0).alias("v")))
    assert t.read().count() == 4  # the later commit is visible

    # update() with a bad schema change aborts its own ctx too
    with pytest.raises(ValueError, match="schema evolution"):
        t.update(spark.range(1).select(F.col("id"), F.lit("s").alias("v")))
    t.insert(spark.range(4, 5).select(F.col("id"), F.lit(3.0).alias("v")))
    assert t.read().count() == 5


def test_failed_delete_aborts_transaction(spark, tmp_path):
    """delete() shares insert()'s abort contract (ADVICE r5): a failed
    tombstone write must abort its ts (not wedge the watermark) and leave
    no partial tombstone files that would become visible once a later
    commit raises the watermark past the aborted ts."""
    import os

    t = MvccTable(spark, str(tmp_path / "delabort"), key_col="id")
    t.insert(spark.range(4).select(F.col("id"), F.lit(1.0).alias("v")))

    def _boom(x):
        raise RuntimeError("tombstone write failed")

    boom = F.udf(_boom, "long")
    bad_keys = spark.range(1).select(boom(F.col("id")).alias("id"))
    with pytest.raises(Exception, match="tombstone write failed"):
        t.delete(bad_keys)

    # watermark not wedged: a later commit is visible...
    t.insert(spark.range(4, 6).select(F.col("id"), F.lit(2.0).alias("v")))
    assert t.read().count() == 6
    # ...and no tombstone dir survived at any aborted ts
    if os.path.isdir(t.delete_dir):
        leftover = [d for d in os.listdir(t.delete_dir) if d.startswith("_commit=")]
        assert leftover == []


def test_secondary_range_lookup_across_schema_evolution(spark, tmp_path):
    """Compose the two newest features (VERDICT r5 task #7): a secondary
    RANGE lookup whose candidate files span a schema-evolution boundary
    must serve pre-evolution rows under the evolved schema (new column ->
    typed null) and post-evolution rows with their values."""
    from pixels_spark.mvcc.secondary import SecondaryIndex

    t = MvccTable(
        spark, str(tmp_path / "sr_evo"), key_col="k", indexed=True, index_files=2
    )
    ts1 = t.insert(
        spark.createDataFrame(
            [(i, i // 10, f"u{i % 5}") for i in range(40)], ["k", "grp", "tag"]
        )
    )
    idx = SecondaryIndex(t, "grp")
    idx.index_commit(ts1)

    # evolution: commit 2 adds a `score` column AND lands rows inside and
    # outside the queried grp range
    ts2 = t.insert(
        spark.createDataFrame(
            [(50, 3, "u0", 0.5), (60, 9, "u1", 0.9)],
            ["k", "grp", "tag", "score"],
        )
    )
    idx.index_commit(ts2)

    got = {r["k"]: r["score"] for r in idx.lookup_range(2, 4).collect()}
    assert sorted(got) == list(range(20, 40)) + [50]
    assert got[50] == 0.5  # post-evolution row carries its value
    assert all(got[k] is None for k in range(20, 40))  # old rows: typed null

    # time travel to before the evolution still works through the index
    pre = sorted(
        r["k"] for r in idx.lookup_range(2, 4, snapshot_ts=ts2 - 1).collect()
    )
    assert pre == list(range(20, 40))


def test_read_history_scd2_view(spark, tmp_path):
    """read_history: every version with [valid_from, valid_to) closure —
    superseded versions close at the successor's ts, deleted keys close at
    the tombstone's ts, open versions have NULL valid_to + is_current."""
    t = MvccTable(spark, str(tmp_path / "scd2"), key_col="id")
    ts1 = t.insert(spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["id", "v"]))
    ts2 = t.update(spark.createDataFrame([(1, 11.0)], ["id", "v"]))
    ts3 = t.delete([2])

    h = {(r["id"], r["v"]): r for r in t.read_history().collect()}
    assert len(h) == 4  # 3 v1 rows + 1 v2 row
    # superseded: closed exactly at the update's commit ts
    assert h[(1, 10.0)]["valid_to_ts"] == ts2 and not h[(1, 10.0)]["is_current"]
    assert h[(1, 11.0)]["valid_to_ts"] is None and h[(1, 11.0)]["is_current"]
    # deleted: closed at the tombstone's ts
    assert h[(2, 20.0)]["valid_to_ts"] == ts3 and not h[(2, 20.0)]["is_current"]
    # untouched: open since its insert
    assert h[(3, 30.0)]["valid_from_ts"] == ts1 and h[(3, 30.0)]["is_current"]

    # snapshot BEFORE the delete: key 2 still current
    h2 = {r["id"]: r for r in t.read_history(snapshot_ts=ts3 - 1).collect()
          if r["id"] == 2}
    assert h2[2]["is_current"] and h2[2]["valid_to_ts"] is None


def test_read_history_invariants(spark, tmp_path):
    """Structural SCD2 invariants over a multi-step mutation sequence:
    per key, validity ranges are non-overlapping and ordered, exactly one
    open version per live key, zero open versions for deleted keys."""
    t = MvccTable(spark, str(tmp_path / "scd2inv"), key_col="id")
    t.insert(spark.createDataFrame([(i, float(i)) for i in range(20)], ["id", "v"]))
    t.update(spark.createDataFrame([(i, i + 100.0) for i in range(0, 20, 2)], ["id", "v"]))
    t.update(spark.createDataFrame([(i, i + 200.0) for i in range(0, 20, 4)], ["id", "v"]))
    t.delete(list(range(0, 20, 5)))

    hist = t.read_history().collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r["id"], []).append(r)
    live = set(r["id"] for r in t.read_latest_version().collect())
    for k, rows in by_key.items():
        rows.sort(key=lambda r: r["valid_from_ts"])
        for a, b in zip(rows, rows[1:]):
            assert a["valid_to_ts"] is not None, f"key {k}: non-final version open"
            assert a["valid_to_ts"] <= b["valid_from_ts"], f"key {k}: overlap"
        open_versions = [r for r in rows if r["is_current"]]
        assert len(open_versions) == (1 if k in live else 0), f"key {k}"
    # history latest values for live keys == read_latest_version values
    latest_hist = {r["id"]: r["v"] for rows in by_key.values()
                   for r in rows if r["is_current"]}
    latest_read = {r["id"]: r["v"] for r in t.read_latest_version().collect()}
    assert latest_hist == latest_read


def test_read_history_empty_table(spark, tmp_path):
    """read_history on a never-written table returns an empty SCD2 frame
    (same guard as read()), not a parquet path error."""
    t = MvccTable(spark, str(tmp_path / "empty_hist"), key_col="id")
    h = t.read_history()
    assert h.count() == 0
    assert {"valid_from_ts", "valid_to_ts", "is_current"} <= set(h.columns)


def test_snapshot_diff_classes_and_identity(spark, tmp_path):
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "d"), key_col="k")
    ts1 = t.insert(spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], ["k", "v"]))
    t.update(spark.createDataFrame([(2, "B")], ["k", "v"]))
    t.delete([3])
    ts3 = t.insert(spark.createDataFrame([(4, "d")], ["k", "v"]))
    got = {r["k"]: (r["change"], r["old"]["v"] if r["old"] else None,
                    r["new"]["v"] if r["new"] else None)
           for r in t.snapshot_diff(ts1, ts3).collect()}
    assert got == {2: ("changed", "b", "B"), 3: ("removed", "c", None),
                   4: ("added", None, "d")}
    # identity: same-ts diff is empty (unchanged keys never emit)
    assert t.snapshot_diff(ts1, ts1).count() == 0


def test_snapshot_diff_across_schema_evolution(spark, tmp_path):
    """A column added between the snapshots: pre-evolution rows read as
    NULL in that column at BOTH timestamps, so untouched keys stay silent
    and only genuinely rewritten rows emit 'changed'."""
    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "e"), key_col="k")
    ts1 = t.insert(spark.createDataFrame([(1, "a"), (2, "b")], ["k", "v"]))
    ts2 = t.insert(spark.createDataFrame([(9, "z", 7)], ["k", "v", "extra"]))
    got = {r["k"]: r["change"] for r in t.snapshot_diff(ts1, ts2).collect()}
    assert got == {9: "added"}


def test_never_written_table_reads_and_diffs_safely(spark, tmp_path):
    """delete-before-any-insert histories: reads pass empties through,
    snapshot_diff errors loudly (schema unknowable before first insert)."""
    import pytest as _pt

    from pixels_spark.mvcc.table import MvccTable

    t = MvccTable(spark, str(tmp_path / "nw"), key_col="k")
    ts = t.delete([0])
    assert t.read_latest_version().count() == 0
    with _pt.raises(ValueError, match="never-written"):
        t.snapshot_diff(ts, ts)


def test_restore_reverts_snapshot_keeps_history_and_writes_only_delta(
    spark, tmp_path
):
    """restore(ts1): current == snapshot@ts1; the corrupt interval stays
    time-travelable; the restore commit's data files hold only the delta
    (changed + vanished rows), not the whole table."""
    import os

    t = MvccTable(spark, str(tmp_path / "t"), key_col="k")
    base = spark.createDataFrame(
        [(i, i * 10) for i in range(20)], "k bigint, v bigint"
    )
    ts1 = t.insert(base)
    # bad ingest: 3 updates, 2 inserts, 1 delete
    t.merge(
        spark.createDataFrame(
            [(0, 999), (1, 999), (2, 999), (100, 1), (101, 2)],
            "k bigint, v bigint",
        )
    )
    ts_bad = t.delete([5])
    ts_r = t.restore(ts1)
    assert ts_r > ts_bad

    got = sorted((r["k"], r["v"]) for r in t.read().collect())
    assert got == [(i, i * 10) for i in range(20)]
    # history preserved: the corrupt snapshot is still readable at ts_bad
    bad = dict(
        (r["k"], r["v"]) for r in t.read(snapshot_ts=ts_bad).collect()
    )
    assert bad[0] == 999 and 100 in bad and 5 not in bad
    # O(delta): the restore commit re-inserted exactly the 4 repaired rows
    # (3 reverted updates + 1 undeleted), not all 20
    restore_dir = os.path.join(str(tmp_path / "t"), "data", f"_commit={ts_r}")
    n_rows = spark.read.parquet(restore_dir).count()
    assert n_rows == 4


def test_restore_never_written_table_raises(spark, tmp_path):
    t = MvccTable(spark, str(tmp_path / "t"), key_col="k")
    with pytest.raises(ValueError, match="never-written"):
        t.restore(1)


def test_restore_is_idempotent_at_target(spark, tmp_path):
    """Restoring to the current state still commits, and changes nothing."""
    t = MvccTable(spark, str(tmp_path / "t"), key_col="k")
    ts1 = t.insert(spark.createDataFrame([(1, 2)], "k bigint, v bigint"))
    ts_r = t.restore(ts1)
    assert ts_r > ts1
    assert [(r["k"], r["v"]) for r in t.read().collect()] == [(1, 2)]


def test_shallow_clone_is_zero_copy_and_independent(spark, tmp_path):
    """Clone at ts1: (a) no data bytes copied (commit dirs are symlinks);
    (b) clone writes don't touch the source; (c) source writes after the
    clone are invisible to the clone; (d) point-index manifest carries
    over and keeps pruning."""
    import os

    from pyspark.sql import functions as F

    from pixels_spark.mvcc.table import MvccTable

    src = MvccTable(spark, str(tmp_path / "src"), key_col="k", indexed=True)
    base = spark.range(100).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    ts1 = src.insert(base)
    clone = src.clone(str(tmp_path / "fork"))
    # (a) zero-copy: every cloned commit dir is a symlink
    for e in os.listdir(clone.data_dir):
        assert os.path.islink(os.path.join(clone.data_dir, e)), e
    assert sorted(r.k for r in clone.read_latest_version().collect()) == list(
        range(100)
    )
    # (b) clone diverges without touching the source
    clone.update(
        clone.read_latest_version()
        .filter(F.col("k") < 10)
        .select("k", (F.col("v") * 100).alias("v"))
        .drop("_commit_ts")
    )
    assert src.read_latest_version().filter(F.col("v") >= 1000).count() == 0
    got = {r.k: r.v for r in clone.read_latest_version().collect()}
    assert got[5] == 1000 and got[50] == 100
    # (c) source evolution after the clone is invisible to the clone
    src.delete(spark.range(100).select(F.col("id").alias("k")))
    assert src.read_latest_version().count() == 0
    assert clone.read_latest_version().count() == 100
    # (d) manifest carried: point lookup on the clone prunes by file range
    assert [r.v for r in clone.point_lookup(99).collect()] == [198]
    # clone into an existing table refuses
    import pytest as _pt

    with _pt.raises(ValueError):
        src.clone(str(tmp_path / "fork"))
    assert ts1 <= clone.trans.high_watermark


def test_clone_maintenance_unlinks_symlinks_only(spark, tmp_path):
    """compact_history / vacuum ON a shallow clone must not crash on the
    symlinked commit dirs (shutil.rmtree raises OSError on a symlink) and
    must remove only the clone's links — the SOURCE data stays intact
    (ADVICE r7: clone + maintenance interaction)."""
    import os

    from pyspark.sql import functions as F

    from pixels_spark.mvcc.table import MvccTable

    src = MvccTable(spark, str(tmp_path / "src"), key_col="k")
    src.insert(
        spark.range(50).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    )
    src.insert(
        spark.range(50, 100).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
    )
    src_dirs_before = sorted(os.listdir(src.data_dir))

    # compact_history on a clone: consolidates into a REAL dir, unlinks links
    c1 = src.clone(str(tmp_path / "fork1"))
    removed = c1.compact_history()
    assert removed, "two commits should consolidate"
    assert sorted(os.listdir(src.data_dir)) == src_dirs_before
    assert src.read_latest_version().count() == 100
    assert c1.read_latest_version().count() == 100
    # no stray tmp dir left behind
    assert not any(e.startswith("_compact_tmp=") for e in os.listdir(c1.root))
    # the consolidated dir is real, not a link
    remaining = [e for e in os.listdir(c1.data_dir) if e.startswith("_commit=")]
    assert len(remaining) == 1
    assert not os.path.islink(os.path.join(c1.data_dir, remaining[0]))

    # vacuum on a clone whose rows are all deleted: unlinks, source intact
    c2 = src.clone(str(tmp_path / "fork2"))
    c2.delete(spark.range(100).select(F.col("id").alias("k")))
    dropped = c2.vacuum(retain_ts=c2.trans.high_watermark)
    assert dropped, "fully-deleted cloned commits should be vacuumable"
    assert sorted(os.listdir(src.data_dir)) == src_dirs_before
    assert src.read_latest_version().count() == 100
    assert c2.read_latest_version().count() == 0
