"""Model-based MVCC testing: random op sequences vs an in-memory model.

The trickiest semantics in the engine are snapshot visibility under
interleaved insert/delete/update (delete hides strictly-older versions;
updates are atomic delete+insert). A reference Python model replays each
random operation sequence; after every commit, `read(ts)` for EVERY
historical ts must match the model exactly — the strongest guarantee that
time travel never changes retroactively.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row

from pixels_spark.mvcc import MvccTable


class Model:
    """Reference implementation: versions = {key: [(commit_ts, value)]},
    deletes = {key: [delete_ts]}."""

    def __init__(self):
        self.versions: dict[int, list[tuple[int, int]]] = {}
        self.deletes: dict[int, list[int]] = {}

    def insert(self, keys, val, ts):
        for k in keys:
            self.versions.setdefault(k, []).append((ts, val))

    def delete(self, keys, ts):
        for k in keys:
            self.deletes.setdefault(k, []).append(ts)

    def visible_rows(self, ts) -> int:
        n = 0
        for k, vers in self.versions.items():
            dels = [d for d in self.deletes.get(k, []) if d <= ts]
            dmax = max(dels) if dels else -1
            for cts, _ in vers:
                if cts <= ts and not (cts < dmax):
                    n += 1
        return n


@pytest.mark.parametrize("seed", [11, 23, 37])
def test_random_histories_match_model(spark, tmp_path, seed):
    rng = random.Random(seed)
    table = MvccTable(spark, str(tmp_path / f"t{seed}"), key_col="k")
    model = Model()
    commit_log: list[int] = []
    keyspace = list(range(20))

    for step in range(6):
        op = rng.choice(["insert", "delete", "update"])
        keys = rng.sample(keyspace, rng.randint(1, 6))
        if op == "insert":
            df = spark.createDataFrame([Row(k=k, v=step) for k in keys])
            ts = table.insert(df)
            model.insert(keys, step, ts)
        elif op == "delete":
            ts = table.delete(keys)
            model.delete(keys, ts)
        else:  # update = delete + insert at one ts
            df = spark.createDataFrame([Row(k=k, v=step) for k in keys])
            ts = table.update(df)
            model.delete(keys, ts)
            model.insert(keys, step, ts)
        commit_log.append(ts)

        # EVERY historical snapshot must still match the model
        for t in commit_log:
            got = table.read(t).count()
            want = model.visible_rows(t)
            assert got == want, (
                f"seed={seed} step={step} snapshot@{t}: engine={got} model={want}"
            )


# ---------------------------------------------------------------------------
# snapshot_diff vs a dict model over random mutation sequences


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_ops = st.lists(
    st.tuples(
        st.sampled_from(["insert", "update", "delete"]),
        st.lists(st.integers(0, 5), min_size=1, max_size=3, unique=True),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_ops, a=st.integers(0, 5), b=st.integers(0, 5))
def test_snapshot_diff_matches_dict_model(spark, tmp_path_factory, ops, a, b):
    """Random insert/update/delete sequences; a dict snapshot is recorded
    after every commit; snapshot_diff between two random commit indices
    must equal the model's added/removed/changed classification."""
    from pixels_spark.mvcc.table import MvccTable

    # seed insert: diffing a never-written table is a defined error (the
    # row schema is unknown until the first insert — engine-guarded)
    ops = [("insert", [0, 1])] + ops
    ia, ib = min(a, len(ops) - 1), min(b, len(ops) - 1)
    t = MvccTable(
        spark, str(tmp_path_factory.mktemp("sdiff") / "tbl"), key_col="k"
    )
    model: dict[int, int] = {}
    snapshots, ts_list = [], []
    version = 0
    for op, keys in ops:
        version += 1
        if op == "insert":
            rows = [(k, version * 100 + k) for k in keys]
            ts = t.insert(spark.createDataFrame(rows, ["k", "v"]))
            model.update({k: v for k, v in rows})
        elif op == "update":
            rows = [(k, version * 100 + k) for k in keys]
            ts = t.update(spark.createDataFrame(rows, ["k", "v"]))
            model.update({k: v for k, v in rows})
        else:
            ts = t.delete(keys)
            for k in keys:
                model.pop(k, None)
        snapshots.append(dict(model))
        ts_list.append(ts)

    sa, sb = snapshots[ia], snapshots[ib]
    want = {}
    for k in set(sa) | set(sb):
        if k not in sa:
            want[k] = ("added", None, sb[k])
        elif k not in sb:
            want[k] = ("removed", sa[k], None)
        elif sa[k] != sb[k]:
            want[k] = ("changed", sa[k], sb[k])
    got = {
        r["k"]: (
            r["change"],
            r["old"]["v"] if r["old"] is not None else None,
            r["new"]["v"] if r["new"] is not None else None,
        )
        for r in t.snapshot_diff(ts_list[ia], ts_list[ib]).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Full-surface model fuzz (VERDICT r10 task #8, closed in r12): random
# interleavings over EVERY public MvccTable mutation — insert / update /
# delete / merge (all matched/unmatched modes + full-sync) / schema
# evolution / compact_history / vacuum — with snapshot-equality asserts
# against the reference model at every still-travelable historical ts,
# plus point lookups and (sampled) secondary-index lookups at random
# historical snapshots. compact/vacuum forfeit time travel below their
# retain_ts by contract, so the model tracks a min-checkable ts.

import os as _os

N_FUZZ_SEQUENCES = int(_os.environ.get("PIXELS_SPARK_MVCC_FUZZ_N", "200"))


class FullModel:
    """Versions carry full value dicts (schema evolution adds columns);
    visibility rules identical to Model; compact_history prunes
    non-latest versions <= retain and deletes <= retain (the engine
    rewrites the latest-version snapshot, preserving per-row commit ts)."""

    def __init__(self):
        self.versions: dict[int, list[tuple[int, dict]]] = {}
        self.deletes: dict[int, list[int]] = {}
        self.min_ts = -1  # snapshots below this are forfeited

    def _dmax(self, k, ts):
        dels = [d for d in self.deletes.get(k, []) if d <= ts]
        return max(dels) if dels else -1

    def visible(self, k, ts):
        dmax = self._dmax(k, ts)
        return [
            (c, v) for c, v in self.versions.get(k, []) if c <= ts and c >= dmax
        ]

    def count(self, ts):
        return sum(len(self.visible(k, ts)) for k in self.versions)

    def latest(self, ts):
        out = {}
        for k in self.versions:
            vis = self.visible(k, ts)
            if vis:
                out[k] = max(vis)[1]
        return out

    def insert(self, rows, ts):
        for k, vd in rows:
            self.versions.setdefault(k, []).append((ts, vd))

    def delete(self, keys, ts):
        for k in keys:
            self.deletes.setdefault(k, []).append(ts)

    def compact(self, retain):
        for k in list(self.versions):
            vis = self.visible(k, retain)
            kept = [max(vis)] if vis else []
            kept += [(c, v) for c, v in self.versions[k] if c > retain]
            self.versions[k] = kept
        for k in list(self.deletes):
            self.deletes[k] = [d for d in self.deletes[k] if d > retain]
        self.min_ts = max(self.min_ts, retain)

    def vacuum(self, retain):
        # whole-commit GC below retain: invisible at every ts >= retain
        # anyway (hidden by the deletes that justified removal), so the
        # model state is unchanged — only the checkable horizon moves
        self.min_ts = max(self.min_ts, retain)


def _mk_rows(spark, keys, step, extra_col=None):
    vals = [(k, step * 100 + k) for k in keys]
    if extra_col:
        return spark.createDataFrame(
            [(k, v, step) for k, v in vals], ["k", "v", extra_col]
        ), [(k, {"v": v, extra_col: step}) for k, v in vals]
    return (
        spark.createDataFrame(vals, ["k", "v"]),
        [(k, {"v": v}) for k, v in vals],
    )


def test_full_surface_model_fuzz(spark, tmp_path):
    import random

    from pixels_spark.mvcc.secondary import SecondaryIndex

    ops_hit = set()
    for seq in range(N_FUZZ_SEQUENCES):
        rng = random.Random(1000 + seq)
        t = MvccTable(spark, str(tmp_path / f"fz{seq}"), key_col="k")
        model = FullModel()
        log: list[int] = []
        keyspace = list(range(12))
        evolved = 0

        for step in range(rng.randint(3, 5)):
            choices = ["insert", "update", "delete", "merge", "evolve"]
            if log:
                choices += ["compact", "vacuum"]
            op = rng.choice(choices)
            ops_hit.add(op)
            keys = rng.sample(keyspace, rng.randint(1, 4))
            if op == "insert":
                df, rows = _mk_rows(spark, keys, step)
                ts = t.insert(df)
                model.insert(rows, ts)
            elif op == "update":
                df, rows = _mk_rows(spark, keys, step)
                ts = t.update(df)
                model.delete(keys, ts)
                model.insert(rows, ts)
            elif op == "delete":
                ts = t.delete(keys)
                model.delete(keys, ts)
            elif op == "evolve":
                evolved += 1
                col = f"x{evolved}"
                df, rows = _mk_rows(spark, keys, step, extra_col=col)
                ts = t.insert(df)  # widens the persisted schema
                model.insert(rows, ts)
            elif op == "merge":
                wm = rng.choice(["update", "delete", "ignore"])
                wnm = rng.choice(["insert", "ignore"])
                full_sync = rng.random() < 0.2
                df, rows = _mk_rows(spark, keys, step)
                now = t.trans.high_watermark
                present = set(model.latest(now)) if log else set()
                matched = [k for k in keys if k in present]
                unmatched = [k for k in keys if k not in present]
                if wm == "ignore" and wnm == "ignore" and not full_sync:
                    continue  # engine would commit an empty transaction
                ts = t.merge(
                    df,
                    when_matched=wm,
                    when_not_matched=wnm,
                    delete_unmatched_target=full_sync,
                )
                rowmap = dict(rows)
                if wm in ("update", "delete"):
                    model.delete(matched, ts)
                if wm == "update":
                    model.insert([(k, rowmap[k]) for k in matched], ts)
                if wnm == "insert":
                    model.insert([(k, rowmap[k]) for k in unmatched], ts)
                if full_sync:
                    model.delete(sorted(present - set(keys)), ts)
            elif op == "compact":
                retain = rng.choice(log)
                t.compact_history(retain_ts=retain)
                model.compact(retain)
                continue  # no new commit ts
            else:  # vacuum
                retain = rng.choice(log)
                t.vacuum(retain)
                model.vacuum(retain)
                continue
            log.append(ts)

        # snapshot equality at EVERY still-travelable historical ts:
        # one collect per ts yields both the multi-version count and
        # (max commit-ts per key) the latest-version values
        valid = [ts for ts in log if ts >= model.min_ts]
        for ts in valid:
            rows = t.read(ts).collect()
            assert len(rows) == model.count(ts), f"seq={seq} read@{ts}"
            got_latest = {}
            for r in rows:
                prev = got_latest.get(r["k"])
                if prev is None or r["_commit_ts"] > prev[0]:
                    got_latest[r["k"]] = (r["_commit_ts"], r["v"])
            want = {k: vd["v"] for k, vd in model.latest(ts).items()}
            assert {k: v for k, (_c, v) in got_latest.items()} == want, (
                f"seq={seq} latest@{ts}"
            )
        if valid:
            # engine's own latest_only path at the final snapshot
            ts = valid[-1]
            got = {r["k"]: r["v"] for r in t.read_latest_version(ts).collect()}
            assert got == {
                k: vd["v"] for k, vd in model.latest(ts).items()
            }, f"seq={seq} read_latest_version@{ts}"
            # point lookup at a random historical snapshot
            ts = rng.choice(valid)
            k = rng.choice(keyspace)
            got = t.point_lookup(k, ts).collect()
            want_v = model.latest(ts).get(k)
            if want_v is None:
                assert got == [], f"seq={seq} point_lookup {k}@{ts}"
            else:
                assert len(got) == 1 and got[0]["v"] == want_v["v"], (
                    f"seq={seq} point_lookup {k}@{ts}"
                )
            # sampled secondary-index lookup (two-step resolution path)
            if seq % 25 == 7:
                si = SecondaryIndex(t, "v")
                si.build()
                ts = rng.choice(valid)
                lat = model.latest(ts)
                if lat:
                    val = rng.choice(sorted(vd["v"] for vd in lat.values()))
                    got = {r["k"] for r in si.lookup(val, ts).collect()}
                    want = {k for k, vd in lat.items() if vd["v"] == val}
                    assert got == want, f"seq={seq} sidx {val}@{ts}"
    assert ops_hit >= {
        "insert", "update", "delete", "merge", "evolve", "compact", "vacuum"
    }


# ---------------------------------------------------------------------------
# Indexed-path fuzz: the same random surface on an INDEXED table (two files
# per commit), so random histories reach the manifest-driven point lookup.
# Every key of the keyspace plus one absent key is looked up at every
# still-travelable ts and must equal the merge-on-read latest-version read
# (rows, column order, types) and the model.

N_INDEXED_SEQUENCES = 2


def test_indexed_point_lookup_model_fuzz(spark, tmp_path):
    import random

    keyspace = list(range(8))
    absent = 99
    for seq in range(N_INDEXED_SEQUENCES):
        rng = random.Random(4000 + seq)
        t = MvccTable(
            spark, str(tmp_path / f"ix{seq}"), key_col="k",
            indexed=True, index_files=2,
        )
        model = FullModel()
        log: list[int] = []
        evolved = 0
        # a leading insert, then every op once in a random order
        plan = ["insert", "update", "delete", "merge", "evolve", "compact",
                "vacuum"]
        rng.shuffle(plan)
        for step, op in enumerate(["insert"] + plan):
            keys = rng.sample(keyspace, rng.randint(1, 4))
            if op in ("insert", "evolve"):
                col = None
                if op == "evolve":
                    evolved += 1
                    col = f"x{evolved}"
                df, rows = _mk_rows(spark, keys, step, extra_col=col)
                ts = t.insert(df)
                model.insert(rows, ts)
            elif op == "update":
                df, rows = _mk_rows(spark, keys, step)
                ts = t.update(df)
                model.delete(keys, ts)
                model.insert(rows, ts)
            elif op == "delete":
                ts = t.delete(keys)
                model.delete(keys, ts)
            elif op == "merge":
                df, rows = _mk_rows(spark, keys, step)
                present = set(model.latest(t.trans.high_watermark))
                full_sync = rng.random() < 0.3
                ts = t.merge(df, delete_unmatched_target=full_sync)
                rowmap = dict(rows)
                gone = sorted(present - set(keys)) if full_sync else []
                model.delete([k for k in keys if k in present] + gone, ts)
                model.insert([(k, rowmap[k]) for k in keys], ts)
            elif op == "compact":
                retain = rng.choice(log)
                t.compact_history(retain_ts=retain)
                model.compact(retain)
                continue
            else:  # vacuum
                retain = rng.choice(log)
                t.vacuum(retain)
                model.vacuum(retain)
                continue
            log.append(ts)

        for ts in [ts for ts in log if ts >= model.min_ts]:
            latest = t.read_latest_version(ts)
            by_key: dict = {}
            for r in latest.collect():
                by_key.setdefault(r["k"], []).append(tuple(r))
            want_latest = model.latest(ts)
            for k in keyspace + [absent]:
                got = t.point_lookup(k, ts)
                where = f"seq={seq} point_lookup {k}@{ts}"
                assert [(f.name, f.dataType) for f in got.schema] == [
                    (f.name, f.dataType) for f in latest.schema
                ], where
                rows = sorted(tuple(r) for r in got.collect())
                assert rows == sorted(by_key.get(k, [])), where
                want = want_latest.get(k)
                if want is None:
                    assert rows == [], where
                else:
                    assert len(rows) == 1, where
                    r = dict(zip(got.columns, rows[0]))
                    assert {c: r[c] for c in want} == want, where
