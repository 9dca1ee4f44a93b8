"""MVCC table: hidden commit-ts column + merge-on-read deletes + snapshots.

Reference mapping (SURVEY.md §2.9-2.10):
- hidden ``_commit_ts`` LongType column per row ≈ the hidden timestamp
  vector (``pixels-core/.../vector/VectorizedRowBatch.java:54``,
  ``proto/pixels.proto:68`` hasHiddenColumn), written on every insert
  (``RetinaResourceManager.insertRecord:705``).
- deletion table (key, _deleted_ts) ≈ row-group visibility bitmaps
  (``pixels-retina/.../RGVisibility.java:144-158``): a delete at ts T hides
  the row from every snapshot ≥ T — merge-on-read via left-anti join.
- snapshot read at ts ≈ ``PixelsReaderOption.transTimestamp``
  (``reader/PixelsReaderOption.java:93``) applied in the record reader
  (``PixelsRecordReaderImpl.java:512-545, 1104-1203``).
- every write is one ``_commit`` transaction: append rows, tombstone keys,
  one commit ts, abort cleanup on failure. UPDATE appends the new rows and
  tombstones their keys, read back from the written commit — an append and
  a visibility bit per row, never a re-read of the table (README.md:34-36
  CDC mirror; Retina's update path, SURVEY §2.9, §3.4).
- point lookup by key ≈ SinglePointIndex.getUniqueRowId
  (``pixels-common/.../index/SinglePointIndex.java:108``) then the
  visibility check (``RGVisibility.java:144-158``): on an indexed table the
  manifest maps the key to files, the driver reads only their [key, ts]
  columns (parquet stats + the in-file sort prune the rest) and the
  tombstones to pick the one visible version, then reads that version's
  rows from the winning file itself and serves them as a local relation —
  a lookup runs 0 Spark jobs, instead of RocksDB.

Storage layout: append-only parquet under ``<root>/data/`` (one subdir per
commit → snapshot filtering can prune whole commit dirs by path), deletes
under ``<root>/deletes/``. At 100 TB both are per-table-partition and the
anti-join key set stays small relative to data (deletes are rare); AQE
broadcasts it when it fits.
"""

from __future__ import annotations

import json
import os
import shutil
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .trans import TransService

COMMIT_TS = "_commit_ts"
DELETED_TS = "_deleted_ts"


class _JsonManifest:
    """Point-index manifest persisted as a JSON file with flock'd atomic
    read-modify-write (human-inspectable) — the file-granular stand-in for
    the reference's SinglePointIndex persistence
    (``pixels-index/``, ``SinglePointIndex.java:108-202``)."""

    def __init__(self, root: str):
        self.path = os.path.join(root, "_point_index.json")

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def load(self) -> list[dict]:
        if not self.exists():
            return []
        with open(self.path) as f:
            return json.load(f)

    def _rmw(self, mutate) -> None:
        import fcntl

        with open(self.path + ".lock", "a") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                idx = self.load()
                idx = mutate(idx)
                tmp = self.path + ".tmp"
                with open(tmp, "w") as f:
                    json.dump(idx, f)
                os.replace(tmp, self.path)
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def append(self, entries: list[dict]) -> None:
        self._rmw(lambda idx: idx + entries)

    def remove_commits(self, ts_set: set[int]) -> None:
        self._rmw(lambda idx: [e for e in idx if e["commit_ts"] not in ts_set])


def _remove_commit_dir(path: str, ignore_errors: bool = False) -> None:
    """Remove a ``_commit=`` directory whether it is a real directory or a
    symlink into a clone source (``clone()`` materializes shallow clones as
    symlinked commit dirs). ``shutil.rmtree`` raises OSError on a symlink;
    ``os.unlink`` removes only the link, never the shared target — so
    maintenance ops (compact_history / vacuum) on a clone drop only the
    clone's own references and leave the source's data intact."""
    if os.path.islink(path):
        try:
            os.unlink(path)
        except OSError:
            if not ignore_errors:
                raise
    else:
        shutil.rmtree(path, ignore_errors=ignore_errors)


def _commits(parent: str) -> list[int]:
    """Timestamps of the ``_commit=<ts>`` directories under ``parent`` (a
    table's data or deletes directory), ascending; none if it is absent."""
    if not os.path.isdir(parent):
        return []
    return sorted(
        int(e.split("=", 1)[1]) for e in os.listdir(parent) if e.startswith("_commit=")
    )


def footer_range_entries(commit_dir: str, col: str, ts: int) -> list[dict]:
    """Per-file [min, max] of ``col`` from the parquet footers of one
    commit directory — the shared kernel behind the primary manifest and
    any SecondaryIndex column manifest. A missing directory (e.g. a
    delete-only commit ts, which writes no data files) yields no entries."""
    import pyarrow.parquet as pq

    if not os.path.isdir(commit_dir):
        return []
    entries = []
    for fname in sorted(os.listdir(commit_dir)):
        if not fname.endswith(".parquet"):
            continue
        fpath = os.path.join(commit_dir, fname)
        md = pq.read_metadata(fpath)
        mn = mx = None
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                if c.path_in_schema == col and c.statistics:
                    s = c.statistics
                    mn = s.min if mn is None else min(mn, s.min)
                    mx = s.max if mx is None else max(mx, s.max)
        if mn is not None:
            entries.append({"path": fpath, "commit_ts": ts, "min": mn, "max": mx})
    return entries


class MvccTable:
    def __init__(
        self,
        spark: SparkSession,
        root: str,
        key_col: str,
        trans: TransService | None = None,
        indexed: bool = False,
        index_files: int | None = None,
    ):
        """``indexed=True`` maintains a point-lookup index on ingest
        (≈ SinglePointIndex key→RowLocation,
        ``pixels-common/.../index/SinglePointIndex.java:108-202``): each
        insert clusters rows by key (range partition + sort) and records
        every written file's (min_key, max_key) in a manifest, so
        ``point_lookup`` opens only the files whose key range covers the
        probe — O(matching files), not O(table), on a multi-file table.
        ``index_files`` bounds files per commit (defaults to the session's
        shuffle parallelism)."""
        self.spark = spark
        self.root = root
        self.key_col = key_col
        self.data_dir = os.path.join(root, "data")
        self.delete_dir = os.path.join(root, "deletes")
        self.trans = trans or TransService(root)
        self.indexed = indexed
        self.index_files = index_files
        self.manifest = _JsonManifest(root)
        self.index_path = self.manifest.path
        os.makedirs(self.data_dir, exist_ok=True)

    # -- write path --------------------------------------------------------
    def _abort_cleanup(self, ts: int) -> None:
        """Physically remove everything written at an aborted ts. Visibility
        alone does NOT protect aborted writes: the filter is `ts <=
        watermark`, and a LATER commit raises the watermark past the
        aborted ts — so its files must not survive the abort."""
        for d in (
            os.path.join(self.data_dir, f"_commit={ts}"),
            os.path.join(self.delete_dir, f"_commit={ts}"),
        ):
            _remove_commit_dir(d, ignore_errors=True)
        if self.manifest.exists():
            self.manifest.remove_commits({ts})

    def _commit(
        self,
        rows: DataFrame | None = None,
        keys: DataFrame | None = None,
        replace: bool = False,
    ) -> int:
        """The one write transaction every writer runs: draw a commit ts,
        append ``rows`` stamped with it (≈ insertRecord: MemTable append +
        hidden ts), then tombstone ``keys`` at it (≈ deleteRecord:537
        flipping visibility bits at ts). ``replace`` also tombstones the
        keys of the rows just written, read back from the commit's own key
        column, so ``rows`` is evaluated once. A tombstone at ts hides only
        versions committed before ts, so rows written at ts stay visible.
        Returns the ts."""
        ctx = self.trans.begin_trans()
        ts = ctx.timestamp
        try:
            tombstones = None
            if keys is not None:
                tombstones = keys.select(F.col(keys.columns[0]).alias(self.key_col))
            if rows is not None:
                out = rows.withColumn(COMMIT_TS, F.lit(ts).cast("long"))
                if self.indexed:
                    # cluster by key so each file covers a narrow, disjoint
                    # key range — what makes the per-file manifest selective
                    parts = [self.index_files] if self.index_files else []
                    out = out.repartitionByRange(
                        *parts, self.key_col
                    ).sortWithinPartitions(self.key_col)
                else:
                    # compact commit files on write: AQE REBALANCE sizes
                    # output files to the advisory partition size instead of
                    # inheriting the input's task count (a 32-slot session
                    # otherwise writes 32 tiny files per commit, and every
                    # later read pays a footer open per file per query)
                    out = out.hint("rebalance")
                commit_dir = os.path.join(self.data_dir, f"_commit={ts}")
                # evolve the persisted schema BEFORE the data lands: a crash
                # between the two then leaves a wider schema with no data
                # (harmless nulls), never a committed column the
                # explicit-schema read would hide
                self._evolve_schema(out.schema)
                out.write.mode("overwrite").parquet(commit_dir)
                if self.indexed:
                    self._index_commit(commit_dir, ts)
                if replace:
                    written = self._read_parquet(commit_dir).select(self.key_col)
                    tombstones = (
                        written if tombstones is None else tombstones.unionByName(written)
                    )
            if tombstones is not None:
                out = tombstones.withColumn(DELETED_TS, F.lit(ts).cast("long"))
                # the same commit-file compaction as the append
                out.hint("rebalance").write.mode("overwrite").parquet(
                    os.path.join(self.delete_dir, f"_commit={ts}")
                )
        except BaseException:
            # a failed write (schema rejection, write error) must ABORT its
            # transaction — a forever-pending ts would wedge the high
            # watermark and hide every later commit — and remove its partial
            # data and tombstones, which a later commit raising the
            # watermark past ts would otherwise expose
            self._abort_cleanup(ts)
            self.trans.abort_trans(ctx)
            raise
        self.trans.commit_trans(ctx)
        return ts

    def insert(self, df: DataFrame) -> int:
        """Append rows stamped with a fresh commit timestamp
        (≈ insertRecord: MemTable append + hidden ts). Returns the ts."""
        return self._commit(rows=df)

    def _index_commit(self, commit_dir: str, ts: int) -> None:
        """Record (file, min_key, max_key) for every file of a commit in the
        manifest (the putPrimaryEntries analog — file-granular instead of
        row-granular because parquet min/max + in-file sort already resolve
        the row)."""
        # manifest mutations are atomic (flock'd read-modify-write), so an
        # insert landing mid-vacuum can't have its entries dropped by the
        # vacuum's rewrite
        self.manifest.append(footer_range_entries(commit_dir, self.key_col, ts))

    def delete(self, keys: Sequence | DataFrame) -> int:
        """Row-level delete by key at a fresh commit timestamp
        (≈ deleteRecord:537 flipping visibility bits at ts)."""
        if not isinstance(keys, DataFrame):
            keys = self.spark.createDataFrame([(k,) for k in keys], [self.key_col])
        return self._commit(keys=keys)

    def update(self, df: DataFrame) -> int:
        """UPDATE = insert the new rows and tombstone their keys' older
        versions in one transaction (one commit ts), per the reference's
        CDC convention; the tombstoned keys are read back from the written
        commit, so ``df`` is evaluated once."""
        return self._commit(rows=df, replace=True)

    def merge(
        self,
        source: DataFrame,
        when_matched: str = "update",
        when_not_matched: str = "insert",
        delete_unmatched_target: bool = False,
    ) -> int:
        """Batch MERGE (upsert) in ONE transaction — the set-oriented form
        of the reference's per-record CDC ops (insert/update/deleteRecord),
        expressed the way a Spark lakehouse user expects (Delta-style
        MERGE INTO):

        - source keys present in the current snapshot: ``when_matched`` =
          'update' (replace with the source row), 'delete', or 'ignore';
        - source keys absent: ``when_not_matched`` = 'insert' or 'ignore';
        - ``delete_unmatched_target=True`` additionally deletes target keys
          missing from the source (full-sync semantics).

        All actions commit at one timestamp, and a tombstone at ts hides
        only versions committed before ts. So a matched action's tombstones
        need no matched/unmatched split: an unmatched key has no visible
        version for its tombstone to hide, and a row inserted at ts stays
        visible (the UPDATE convention). 'update' tombstones the
        keys of the rows it writes, read back from the commit; 'delete'
        tombstones every source key. The default update + insert is then
        one append of the source with no read of the table. Only a merge
        that inserts one side of the source and not the other, or a full
        sync, joins against the current snapshot's key set (a left-semi or
        anti join: no collect, a shuffle on the key).
        """
        if when_matched not in ("update", "delete", "ignore"):
            raise ValueError(f"when_matched={when_matched!r}")
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(f"when_not_matched={when_not_matched!r}")
        one_side = (when_matched == "update") != (when_not_matched == "insert")
        existing = None
        # a never-written target (found by the r12 model fuzz) has no
        # columns to join on: every source key is unmatched, and there is
        # no target to full-sync against
        if (one_side or delete_unmatched_target) and self.persisted_schema() is not None:
            existing = self.read_latest_version().select(self.key_col)
        rows = source if when_not_matched == "insert" else None
        if one_side and existing is not None:
            how = "left_semi" if when_matched == "update" else "left_anti"
            rows = source.join(existing, self.key_col, how)
        keys = source.select(self.key_col) if when_matched == "delete" else None
        if existing is not None and delete_unmatched_target:
            gone = existing.join(source.select(self.key_col), self.key_col, "left_anti")
            keys = gone if keys is None else keys.unionByName(gone)
        return self._commit(rows, keys, replace=when_matched == "update")

    # -- read path ---------------------------------------------------------
    def _tombstone_files(self, after: int = -1, upto: int | None = None) -> list[str]:
        """Parquet files of the tombstone commits ``deletes/_commit=<ts>``
        with ``after < ts <= upto``, oldest commit first."""
        dirs = [
            os.path.join(self.delete_dir, f"_commit={ts}")
            for ts in _commits(self.delete_dir)
            if after < ts and (upto is None or ts <= upto)
        ]
        return [
            os.path.join(d, f)
            for d in dirs
            for f in sorted(os.listdir(d))
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]

    def _deletes(self) -> DataFrame | None:
        files = self._tombstone_files()
        if not files:
            return None
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import from_arrow_schema

        # the one-footer schema Spark would infer, read on the driver: an
        # inferring read runs a Spark job on every call; `_commit` is
        # still discovered from the paths as a partition column
        schema = from_arrow_schema(pq.read_schema(files[0]))
        return (
            self.spark.read.schema(schema)
            .option("basePath", self.delete_dir)
            .parquet(self.delete_dir)
        )

    def _tombstones(self, ts: int, newest: bool = True) -> DataFrame | None:
        """The tombstones visible at ``ts`` (commit dir and delete ts both
        ≤ ts; the dir filter prunes by path), or None when the table has
        none. ``newest`` folds them to each key's newest delete ts as
        ``(_del_key, _del_ts)``; otherwise one ``(key, _deleted_ts)`` row
        per tombstone."""
        dels = self._deletes()
        if dels is None:
            return None
        d = (
            dels.filter(F.col("_commit") <= ts)
            .drop("_commit")
            .filter(F.col(DELETED_TS) <= ts)
        )
        if not newest:
            return d
        return (
            d.groupBy(self.key_col)
            .agg(F.max(DELETED_TS).alias("_del_ts"))
            .withColumnRenamed(self.key_col, "_del_key")
        )

    # -- schema evolution --------------------------------------------------
    def persisted_schema(self):
        """The table's authoritative footer schema (union of every commit's
        columns, in first-seen order), or None before the first insert."""
        from pyspark.sql.types import StructType as _ST

        path = os.path.join(self.root, "_schema.json")
        if not os.path.exists(path):
            return None
        with open(path) as f:
            return _ST.fromJson(json.load(f))

    def _evolve_schema(self, new_schema) -> None:
        """Union-evolve the persisted schema: ADD COLUMN without rewriting
        history (≈ the reference's versioned table schema — metadata
        ``SCHEMA_VERSIONS``/``addSchema``; old files stay readable, their
        missing columns read back as typed nulls via the tolerant
        explicit-schema scan in ``read``).

        New columns append in arrival order and must not collide with an
        existing column at a DIFFERENT type — type changes are rejected
        (no implicit casts; that is a rewrite, not an evolution).

        The read-modify-write runs under an exclusive flock (same
        discipline as the manifest's _rmw): two concurrent inserts adding
        DIFFERENT columns must each see the other's addition, not clobber
        it with their own union-over-stale-base."""
        import fcntl

        from pyspark.sql.types import StructField, StructType

        path = os.path.join(self.root, "_schema.json")
        with open(path + ".lock", "a+") as lf:
            fcntl.flock(lf, fcntl.LOCK_EX)
            try:
                cur = self.persisted_schema()
                if cur is None:
                    evolved = new_schema
                else:
                    have = {f.name: f for f in cur.fields}
                    added = []
                    for f in new_schema.fields:
                        old = have.get(f.name)
                        if old is None:
                            added.append(StructField(f.name, f.dataType, True))
                        elif old.dataType != f.dataType:
                            raise ValueError(
                                f"schema evolution cannot change column "
                                f"{f.name!r} from "
                                f"{old.dataType.simpleString()} to "
                                f"{f.dataType.simpleString()}; rewrite the "
                                f"table"
                            )
                    if not added:
                        return
                    evolved = StructType(cur.fields + added)
                tmp = path + ".tmp"
                with open(tmp, "w") as f:
                    f.write(evolved.json())
                os.replace(tmp, path)
            finally:
                fcntl.flock(lf, fcntl.LOCK_UN)

    def _read_parquet(self, *paths: str, base_path: str | None = None) -> DataFrame:
        """Read commit data under the persisted (evolved) schema: columns a
        file predates come back as typed nulls — one footer never speaks
        for the whole table, and no mergeSchema footer sweep is needed."""
        r = self.spark.read
        if base_path is not None:
            r = r.option("basePath", base_path)
        ps = self.persisted_schema()
        if ps is not None:
            r = r.schema(ps)
        return r.parquet(*paths)

    def read(self, snapshot_ts: int | None = None) -> DataFrame:
        """Snapshot read: rows committed at or before ``snapshot_ts`` whose
        key has no delete at or before ``snapshot_ts``; a deleted key
        re-inserted later reappears (visibility per version: only versions
        older than the delete are hidden). Latest-committed by default."""
        if snapshot_ts is None:
            snapshot_ts = self.trans.high_watermark
        if not _commits(self.data_dir):
            # empty table (never written, or fully vacuumed): serve the
            # persisted schema with zero rows
            from pyspark.sql.types import StructType as _ST

            return self.spark.createDataFrame(
                [], self.persisted_schema() or _ST()
            )
        data = self._read_parquet(self.data_dir, base_path=self.data_dir)
        # the _commit=<ts> dirs surface as a discovered partition column:
        # filtering on it prunes whole commit directories BY PATH (no file
        # footer even opened for future commits); the row-level _commit_ts
        # filter stays as the authoritative visibility predicate. The
        # partition column is dropped before returning so the schema matches
        # the persisted one (and can't collide with user columns — the
        # underscore name is reserved).
        visible = (
            data.filter(F.col("_commit") <= snapshot_ts)
            .drop("_commit")
            .filter(F.col(COMMIT_TS) <= snapshot_ts)
        )
        return self.apply_delete_visibility(visible, snapshot_ts)

    def apply_delete_visibility(self, visible: DataFrame, snapshot_ts: int) -> DataFrame:
        """Anti-join the delete tombstones visible at ``snapshot_ts`` onto
        ``visible`` — the single home of the visibility convention.

        Strict <: a delete at ts T hides versions committed BEFORE T, so a
        delete+insert in one transaction (UPDATE, same ts) leaves the new
        version visible — matching the reference's CDC mirror convention
        (delete old version, insert new, one commit)."""
        d = self._tombstones(snapshot_ts)
        if d is None:
            return visible
        return visible.join(
            d,
            (visible[self.key_col] == F.col("_del_key"))
            & (visible[COMMIT_TS] < F.col("_del_ts")),
            "left_anti",
        )

    def latest_only(self, visible: DataFrame) -> DataFrame:
        """Keep only the newest version per key (UPDATE semantics on read)
        — the single home of the latest-version rule."""
        if self.key_col not in visible.columns:
            # never-written table: read() returns a columnless empty frame
            # (no persisted schema to shape it); grouping on the key would
            # throw an opaque UNRESOLVED_COLUMN — pass the empty through,
            # matching read()'s own empty-table contract (found by the
            # snapshot_diff model fuzz: a delete-before-any-insert history)
            return visible
        w_cols = [c for c in visible.columns if c != COMMIT_TS]
        latest = visible.groupBy(self.key_col).agg(
            F.max(COMMIT_TS).alias("_max_ts")
        )
        return (
            visible.join(
                latest.withColumnRenamed(self.key_col, "_lk"),
                (visible[self.key_col] == F.col("_lk"))
                & (visible[COMMIT_TS] == F.col("_max_ts")),
                "left_semi",
            )
            .select(*w_cols, COMMIT_TS)
        )

    def _latest_schema(self):
        """``latest_only``'s output schema: the persisted columns with
        ``_commit_ts`` moved last, nullable at every nesting level as a
        file scan reads them."""
        from pyspark.sql.types import ArrayType, MapType, StructField, StructType

        def nullable(dt):
            if isinstance(dt, StructType):
                return StructType(
                    [StructField(f.name, nullable(f.dataType), True) for f in dt]
                )
            if isinstance(dt, ArrayType):
                return ArrayType(nullable(dt.elementType), True)
            if isinstance(dt, MapType):
                return MapType(nullable(dt.keyType), nullable(dt.valueType), True)
            return dt

        ps = self.persisted_schema()
        if ps is None:
            return StructType()
        return nullable(
            StructType([f for f in ps.fields if f.name != COMMIT_TS] + [ps[COMMIT_TS]])
        )

    def read_latest_version(
        self, snapshot_ts: int | None = None, keys: DataFrame | None = None
    ) -> DataFrame:
        """Snapshot read keeping only the newest visible version per key.

        ``keys`` (a 1-column DataFrame of key values) restricts the read
        to those keys BEFORE the latest-per-key computation — latest-only
        commutes with key-set restriction, so results are identical, but
        the groupBy-max and self-semi-join shuffles then carry only the
        requested keys' version rows instead of the full history. This is
        what makes IVM deltas delta-sized past the scan (the file scan
        itself is still full-width absent a key index; the shuffles —
        the expensive part at scale — are not)."""
        visible = self.read(snapshot_ts)
        if self.persisted_schema() is None:
            # never-written table (r12 model fuzz): zero rows and no key
            # column to fold or filter — latest-of-nothing is the empty
            # read itself, not an analysis error
            return visible
        if keys is not None:
            kname = keys.columns[0]
            visible = visible.join(
                keys.select(F.col(kname).alias(self.key_col)).distinct(),
                self.key_col,
                "left_semi",
            )
        return self.latest_only(visible)

    def snapshot_diff(self, ts_a: int, ts_b: int) -> DataFrame:
        """Audit diff between two snapshots → (key, change, old, new) with
        ``change`` ∈ added / removed / changed (unchanged keys are not
        emitted; ``old``/``new`` are structs of the non-key columns, NULL
        on the side where the key does not exist).

        This is the "what did the last day of ingest actually do" report
        the time-travel read makes possible: both sides are plain
        snapshot reads at their ts (same visibility rules as any query),
        compared with ONE full-outer key join and a null-safe struct
        equality — no version-log replay, no driver state. Cost is two
        snapshot reads + one key-keyed shuffle, independent of how many
        commits lie between the two timestamps.
        """
        if self.persisted_schema() is None:
            raise ValueError(
                "snapshot_diff on a never-written table: the row schema is "
                "unknown until the first insert"
            )
        a = self.read_latest_version(ts_a).drop(COMMIT_TS)
        b = self.read_latest_version(ts_b).drop(COMMIT_TS)
        val_cols = [c for c in b.columns if c != self.key_col]
        if not val_cols:
            raise ValueError(
                "snapshot_diff needs at least one non-key column "
                "(a key-only table can only add/remove, never change)"
            )
        sa = a.select(
            F.col(self.key_col).alias("_ka"), F.struct(*val_cols).alias("old")
        )
        sb = b.select(
            F.col(self.key_col).alias("_kb"), F.struct(*val_cols).alias("new")
        )
        j = sa.join(sb, sa["_ka"] == sb["_kb"], "full_outer")
        change = (
            F.when(F.col("_ka").isNull(), F.lit("added"))
            .when(F.col("_kb").isNull(), F.lit("removed"))
            .when(~F.col("old").eqNullSafe(F.col("new")), F.lit("changed"))
        )
        return (
            j.select(
                F.coalesce(F.col("_ka"), F.col("_kb")).alias(self.key_col),
                change.alias("change"),
                "old",
                "new",
            )
            .filter(F.col("change").isNotNull())
        )

    def restore(self, ts: int) -> int:
        """Roll the table back to its snapshot at ``ts`` — as a NEW
        forward commit (lakehouse RESTORE semantics, e.g. Delta's
        ``RESTORE TABLE … TIMESTAMP AS OF``): history between ``ts`` and
        the restore stays time-travelable; only the CURRENT snapshot
        changes. The undo-the-bad-ingest primitive time travel alone
        can't provide (reading an old snapshot doesn't change what new
        writers see).

        Write volume is O(Δ), not O(table): keys that vanished since
        ``ts`` are re-inserted, keys added since are deleted, changed
        keys are updated back (insert + tombstone at one ts, the UPDATE
        convention) — computed with one ``exceptAll`` + one anti-join
        between the two snapshots, all shuffles keyed on the key. Rows
        untouched since ``ts`` are not rewritten. One transaction; abort
        removes any partial files (the ``_commit`` contract).
        """
        if self.persisted_schema() is None:
            raise ValueError("restore on a never-written table")
        target = self.read_latest_version(ts).drop(COMMIT_TS)
        current = self.read_latest_version().drop(COMMIT_TS)
        # keys present now but absent at ts → delete; target rows that are
        # not byte-identical to a current row → (re-)insert, with their
        # current version (if any) hidden at the same ts
        gone = current.select(self.key_col).join(
            target.select(self.key_col), self.key_col, "left_anti"
        )
        return self._commit(rows=target.exceptAll(current), keys=gone, replace=True)

    def clone(self, dest_root: str, ts: int | None = None) -> "MvccTable":
        """Zero-copy SHALLOW CLONE at snapshot ``ts`` (Delta Lake
        ``CREATE TABLE … SHALLOW CLONE`` semantics): the clone is a new,
        independently writable table whose initial state is this table's
        snapshot, created WITHOUT copying data — committed ``_commit=``
        directories at or before ``ts`` are symlinked into the clone, so
        clone creation is O(commits), not O(bytes). The dev/test-fork
        primitive: experiment on production data instantly, throw the
        fork away.

        Independence contract (pinned in tests/test_mvcc.py): writes to
        the clone land in its OWN commit dirs (its timestamp oracle is
        seeded at the source's next_ts, so clone commits are strictly
        newer than every cloned one and the source never sees them);
        writes to the source after the clone are invisible to the clone
        (its dirs were never linked). Shared caveat, same as Delta's:
        VACUUM or COMPACT_HISTORY on the source can remove commit dirs a
        shallow clone still references (the clone's symlinks dangle) —
        deep-copy (``restore``-style rewrite) the clone before running
        either maintenance op on the source. Maintenance ops ON the clone
        are safe: they unlink only the clone's symlinks, never the shared
        source data (see ``_remove_commit_dir``).
        """
        if self.persisted_schema() is None:
            raise ValueError("clone of a never-written table")
        if ts is None:
            ts = self.trans.high_watermark
        if os.path.exists(os.path.join(dest_root, "_trans_oracle.json")):
            raise ValueError(f"clone destination {dest_root!r} already exists")
        os.makedirs(dest_root, exist_ok=True)
        src_state = self.trans._read()
        # seed the clone's oracle PAST the source's: clone commits can
        # never collide with (or be mistaken for) cloned history
        tmp = os.path.join(dest_root, "_trans_oracle.json")
        with open(tmp + ".tmp", "w") as f:
            json.dump(
                {
                    "next_trans_id": src_state["next_trans_id"],
                    "next_ts": src_state["next_ts"],
                    "high_watermark": ts,
                    "pending": [],
                },
                f,
            )
        os.replace(tmp + ".tmp", tmp)
        src_schema = os.path.join(self.root, "_schema.json")
        if os.path.exists(src_schema):
            shutil.copyfile(src_schema, os.path.join(dest_root, "_schema.json"))
        dest = MvccTable(
            self.spark,
            dest_root,
            self.key_col,
            indexed=self.indexed,
            index_files=self.index_files,
        )
        for src_parent, dst_parent in (
            (self.data_dir, dest.data_dir),
            (self.delete_dir, dest.delete_dir),
        ):
            if not os.path.isdir(src_parent):
                continue
            os.makedirs(dst_parent, exist_ok=True)
            for e in os.listdir(src_parent):
                if not e.startswith("_commit="):
                    continue
                if int(e.split("=", 1)[1]) <= ts:
                    os.symlink(
                        os.path.realpath(os.path.join(src_parent, e)),
                        os.path.join(dst_parent, e),
                    )
        if self.indexed and self.manifest.exists():
            dest.manifest.append(
                [e for e in self.manifest.load() if e["commit_ts"] <= ts]
            )
        return dest

    def read_history(self, snapshot_ts: int | None = None) -> DataFrame:
        """SCD Type 2 view of the FULL version history at ``snapshot_ts``:
        every version ever committed (including ones superseded or hidden
        by a delete — ``read()`` deliberately drops those) with

        - ``valid_from_ts``  — the version's own commit ts;
        - ``valid_to_ts``    — the earliest of the key's next version's
          commit ts and the first tombstone STRICTLY after this version
          (strict <, matching ``apply_delete_visibility``: an UPDATE's
          delete+insert at one ts closes the old version at exactly the
          new version's ts); NULL while the version is still open;
        - ``is_current``     — valid_to_ts IS NULL.

        This is the warehouse SCD2 materialization derived from the same
        commit/tombstone log the CDC reader replays (the reference mirrors
        transactions as delete+insert pairs, README.md:34-36) — no extra
        bookkeeping at write time. Plan shape: one window over versions
        per key + one aggregated tombstone join, both shuffling on the
        key — the same cost as a latest-version read, scale-invariant.
        """
        from pyspark.sql.window import Window

        if snapshot_ts is None:
            snapshot_ts = self.trans.high_watermark
        if not _commits(self.data_dir):
            # never-written (or fully vacuumed) table: empty history with
            # the persisted schema + the SCD2 columns — same guard as read()
            from pyspark.sql.types import StructType as _ST

            empty = self.spark.createDataFrame([], self.persisted_schema() or _ST())
            return (
                empty.withColumn("valid_from_ts", F.lit(None).cast("long"))
                .withColumn("valid_to_ts", F.lit(None).cast("long"))
                .withColumn("is_current", F.lit(None).cast("boolean"))
            )
        data = (
            self._read_parquet(self.data_dir, base_path=self.data_dir)
            .filter(F.col("_commit") <= snapshot_ts)
            .drop("_commit")
            .filter(F.col(COMMIT_TS) <= snapshot_ts)
        )
        dels = self._tombstones(snapshot_ts, newest=False)
        if dels is None:
            nxt = F.lead(COMMIT_TS).over(
                Window.partitionBy(self.key_col).orderBy(COMMIT_TS)
            )
            h = data.withColumn("_next_ts", nxt).withColumn(
                "_del_after", F.lit(None).cast("long")
            )
        else:
            # r12 optimization: ONE per-key window pass over the union of
            # version rows and tombstone rows replaces the previous
            # lead-window + (slim ⋈ tombstones) + groupBy + join-back
            # pipeline (5→2 Exchange, data scanned once instead of twice).
            # Commit timestamps are integers, so the range frame
            # [ts+1, +inf) is exactly "strictly after this version":
            #   _next_ts   = min over future VERSION rows' ts;
            #   _del_after = min over future TOMBSTONE rows' delete-ts —
            # the same values lead() and min(DELETED_TS > ts) produced.
            # A same-ts tombstone (UPDATE's delete+insert pair) stays
            # excluded, matching apply_delete_visibility's strict <.
            d = dels.select(
                *[
                    F.lit(None).cast(data.schema[c].dataType).alias(c)
                    if c != self.key_col
                    else F.col(self.key_col)
                    for c in data.columns
                ],
                F.col(DELETED_TS).alias("_ord_ts"),
                F.col(DELETED_TS).alias("_tomb_ts"),
                F.lit(None).cast("long").alias("_ver_ts"),
            )
            u = data.select(
                "*",
                F.col(COMMIT_TS).alias("_ord_ts"),
                F.lit(None).cast("long").alias("_tomb_ts"),
                F.col(COMMIT_TS).alias("_ver_ts"),
            ).unionByName(d)
            w = (
                Window.partitionBy(self.key_col)
                .orderBy("_ord_ts")
                .rangeBetween(1, Window.unboundedFollowing)
            )
            h = (
                u.withColumn("_next_ts", F.min("_ver_ts").over(w))
                .withColumn("_del_after", F.min("_tomb_ts").over(w))
                .filter(F.col("_ver_ts").isNotNull())
                .drop("_ord_ts", "_tomb_ts", "_ver_ts")
            )
        return (
            h.withColumn("valid_from_ts", F.col(COMMIT_TS))
            .withColumn("valid_to_ts", F.least("_next_ts", "_del_after"))
            .withColumn("is_current", F.col("valid_to_ts").isNull())
            .drop("_next_ts", "_del_after")
        )

    def compact_history(
        self, retain_ts: int | None = None, target_files: int | None = None
    ) -> list[int]:
        """OPTIMIZE/checkpoint for the mutable table: rewrite the visible
        latest-version snapshot at ``retain_ts`` into ONE compacted commit
        directory and drop the older commit dirs + their applied
        tombstones. Many small per-commit files (one dir per micro-batch
        under streaming ingest) become a single clustered layout, and
        reads stop paying the merge-on-read anti-join for history that
        can no longer change — the Retina-side counterpart of ETL COMPACT
        (``pixels-cli`` COMPACT works on immutable layouts; Retina itself
        only GCs, ``StorageGarbageCollector.java``).

        Semantics: per-row ``_commit_ts`` values are PRESERVED (restamping
        would reorder them against commits in (retain_ts, now]), and the
        consolidated dir is named ``_commit=<retain_ts>`` so path pruning
        stays exact for snapshots ≥ retain_ts. Time travel to snapshots
        < retain_ts is forfeited — the same contract as ``vacuum``.
        Tombstones with commit ≤ retain_ts are dropped: they only hide
        versions committed before them, all of which were either applied
        into the snapshot or discarded with it. Single-writer op, like
        vacuum. Returns the removed commit timestamps.
        """
        if retain_ts is None:
            retain_ts = self.trans.high_watermark
        old_ts = [ts for ts in _commits(self.data_dir) if ts <= retain_ts]
        if not old_ts:
            return []
        snap = self.read_latest_version(retain_ts)
        if self.indexed:
            parts = [target_files or self.index_files] if (target_files or self.index_files) else []
            snap = snap.repartitionByRange(*parts, self.key_col).sortWithinPartitions(
                self.key_col
            )
        elif target_files:
            snap = snap.coalesce(target_files)
        # materialize BEFORE removing the dirs the plan reads from
        tmp_dir = os.path.join(self.root, f"_compact_tmp={retain_ts}")
        snap.write.mode("overwrite").parquet(tmp_dir)
        for ts in old_ts:
            _remove_commit_dir(os.path.join(self.data_dir, f"_commit={ts}"))
        for ts in _commits(self.delete_dir):
            if ts <= retain_ts:
                _remove_commit_dir(os.path.join(self.delete_dir, f"_commit={ts}"))
        new_dir = os.path.join(self.data_dir, f"_commit={retain_ts}")
        os.replace(tmp_dir, new_dir)
        if self.manifest.exists():
            self.manifest.remove_commits(set(old_ts))
        if self.indexed:
            self._index_commit(new_dir, retain_ts)
        return sorted(set(old_ts) - {retain_ts})

    def vacuum(self, retain_ts: int) -> list[int]:
        """Garbage-collect commit directories no snapshot ≥ ``retain_ts``
        can see (≈ Retina's retired-file GC,
        ``pixels-retina/.../StorageGarbageCollector.java`` /
        ``processRetiredFiles:411``): a data commit is removable when every
        row in it is deleted at or before ``retain_ts`` (remember: a delete
        at ts T hides versions with commit < T). Returns removed commit ts.

        Time travel to snapshots older than ``retain_ts`` is forfeited for
        the removed commits — same contract as the reference's GC horizon.
        """
        d = self._tombstones(retain_ts)
        if d is None or not os.path.isdir(self.data_dir):
            # delete-only table (tombstones but never a data commit, r12
            # model fuzz): nothing to GC
            return []
        removed: list[int] = []
        for ts in _commits(self.data_dir):
            if ts >= retain_ts:
                continue
            entry = f"_commit={ts}"
            part = self._read_parquet(os.path.join(self.data_dir, entry))
            survivors = part.join(
                d,
                (part[self.key_col] == F.col("_del_key"))
                & (F.lit(ts) < F.col("_del_ts")),
                "left_anti",
            ).count()
            if survivors == 0:
                _remove_commit_dir(os.path.join(self.data_dir, entry))
                removed.append(ts)
        if removed and self.manifest.exists():
            self.manifest.remove_commits(set(removed))
        return removed

    def point_lookup(self, key, snapshot_ts: int | None = None) -> DataFrame:
        """Primary-key point lookup: index → row location → visibility
        check (≈ SinglePointIndex.getUniqueRowId:108, then
        RGVisibility.java:144-158), with the newest visible version as
        the answer (``latest_only``'s columns and rows).

        On an ``indexed`` table the manifest resolves the key to the files
        whose [min,max] range covers it, ``_visible_versions`` picks the
        version on the driver, and ``_versions_frame`` reads its rows on
        the driver too: a hit, a deleted key and an absent key all run 0
        Spark jobs. Unindexed tables, and tables with a commit the
        manifest lacks, fall back to the merge-on-read
        ``read_latest_version`` filtered to the key."""
        if snapshot_ts is None:
            snapshot_ts = self.trans.high_watermark
        if self.persisted_schema() is None:
            # never-written table (r12 model fuzz): no key column exists
            # yet, so there is nothing a point lookup could match
            return self.read(snapshot_ts)
        files = self._index_files([key], snapshot_ts)
        if files is None:
            return self.read_latest_version(snapshot_ts).filter(
                F.col(self.key_col) == key
            )
        return self._versions_frame(self._visible_versions([key], snapshot_ts, files))

    def _index_files(self, keys: list, snapshot_ts: int) -> list[str] | None:
        """The manifest's files at or before ``snapshot_ts`` whose key range
        covers any of ``keys``; None when the table has no manifest, or the
        manifest lacks a visible commit (one written while the table was
        opened unindexed, or an interrupted index write), whose rows only
        a full-layout scan can reach."""
        if not (self.indexed and self.manifest.exists()):
            return None
        idx = self.manifest.load()
        visible = {ts for ts in _commits(self.data_dir) if ts <= snapshot_ts}
        if not visible <= {e["commit_ts"] for e in idx}:
            return None
        return [
            e["path"]
            for e in idx
            if e["commit_ts"] <= snapshot_ts
            and any(e["min"] <= k <= e["max"] for k in keys)
        ]

    def _visible_versions(self, keys: list, snapshot_ts: int, files: list[str]) -> dict:
        """Resolve each key's visible version on the driver, with no Spark
        job: ``{file: {key: ts}}`` for the files holding a key's newest
        ``_commit_ts <= snapshot_ts`` among ``files``. A key with no
        version there, or whose version a tombstone hides, is absent.

        Each file's [key, ts] columns are read once through pyarrow with
        the key set and snapshot as filters, so row-group stats and the
        in-file sort skip the rest. The per-row ts is what counts, not the
        manifest's: ``compact_history`` keeps original ts under
        ``_commit=<retain>``. Visibility is ``apply_delete_visibility``'s
        strict <: a delete at T hides versions committed before T, so only
        tombstones in (winning ts, snapshot_ts] hide a winner, and an
        UPDATE's delete+insert at one ts stays visible. Tombstone files are
        read one at a time: their key type may differ between commits."""
        import pyarrow.parquet as pq

        def newest(path: str, ts_col: str, after: int = -1) -> dict:
            t = pq.read_table(
                path,
                columns=[self.key_col, ts_col],
                filters=[
                    (self.key_col, "in", keys),
                    (ts_col, ">", after),
                    (ts_col, "<=", snapshot_ts),
                ],
            )
            g = t.group_by(self.key_col).aggregate([(ts_col, "max")])
            return dict(zip(g[self.key_col].to_pylist(), g[f"{ts_col}_max"].to_pylist()))

        found = {p: newest(p, COMMIT_TS) for p in files}
        win: dict = {}
        for kts in found.values():
            for k, ts in kts.items():
                win[k] = max(ts, win.get(k, ts))
        after = min(win.values(), default=snapshot_ts)
        for p in self._tombstone_files(after, snapshot_ts):
            for k, del_ts in newest(p, DELETED_TS, after).items():
                if del_ts > win.get(k, del_ts):
                    del win[k]
        found = {p: {k: ts for k, ts in kts.items() if win.get(k) == ts} for p, kts in found.items()}
        return {p: kts for p, kts in found.items() if kts}

    def _versions_frame(self, found: dict) -> DataFrame:
        """``_visible_versions``' winning rows, read on the driver and
        served in ``latest_only``'s schema as a local relation, so a
        collect runs no Spark job. The driver holds only the winning keys'
        rows at their winning ts; reading each file under that schema
        fills the columns it predates with typed nulls, as ``read`` does."""
        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = self._latest_schema()
        target = to_arrow_schema(schema)
        parts = [target.empty_table()]
        for p, kts in sorted(found.items()):
            # every write stamps one ts per key per file (a commit file
            # holds one ts; compact_history keeps one version per key), so
            # the two set filters select exactly the winning rows
            parts.append(pq.read_table(
                p,
                schema=target,
                filters=[
                    (self.key_col, "in", list(kts)),
                    (COMMIT_TS, "in", sorted(set(kts.values()))),
                ],
            ))
        return self.spark.createDataFrame(pa.concat_tables(parts), schema)
