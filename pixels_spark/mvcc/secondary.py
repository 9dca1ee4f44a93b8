"""Secondary (non-unique) point index over an MvccTable column.

Reference analog: the reference's ``SinglePointIndex`` supports secondary
indexes whose lookups return a LIST of row ids
(``pixels-common/.../index/SinglePointIndex.java:100`` ``isUnique``,
``:116`` ``getRowIds``) which are then resolved to row locations through
the main index. This mirrors that two-step shape at file granularity:

1. the secondary manifest maps the indexed column's per-file [min, max]
   to files — a lookup scans ONLY covering files and yields candidate
   PRIMARY KEYS (≈ getRowIds);
2. the candidates resolve through the table's PRIMARY manifest to the
   files holding their versions, and the table's driver-side resolver
   (``MvccTable._visible_versions``, one home for the visibility and
   latest-version rules) picks each key's visible version and reads its
   rows on the driver;
3. the secondary predicate is re-checked against those LATEST versions
   (a key whose newest version no longer matches the value must not
   surface — the classic stale-secondary trap). Past step 1's
   candidate-key collect, a point-shaped lookup runs 0 Spark jobs.

Selectivity caveat (honest, documented): the reference's KV index is
row-granular and clustering-independent; a file-range index only prunes
when the layout clusters the indexed column (primary-key clustering when
values correlate, else Z-order — ``storage/layout_opt.py``). Lookups are
correct regardless; ``candidate_files()`` exposes the pruning achieved.

Candidate keys above ``max_candidates`` (a low-cardinality column — not
point-lookup-shaped) switch to a distributed semi-join instead of the
driver-side key list, so lookups stay correct and bounded either way.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .table import COMMIT_TS, MvccTable, _commits, _JsonManifest, footer_range_entries


class SecondaryIndex:
    def __init__(
        self,
        table: MvccTable,
        col: str,
        max_candidates: int = 10_000,
    ):
        if col == table.key_col:
            raise ValueError("use the primary index for the key column")
        self.table = table
        self.col = col
        self.max_candidates = max_candidates
        root = os.path.join(table.root, f"sidx_{col}")
        os.makedirs(root, exist_ok=True)
        self.manifest = _JsonManifest(root)

    # -- maintenance -------------------------------------------------------
    def index_commit(self, ts: int) -> None:
        """Record (file, min, max) of the indexed column for one commit
        (call after each insert — ≈ putSecondaryEntries at file grain).
        A delete-only ts (no data directory) is a no-op."""
        commit_dir = os.path.join(self.table.data_dir, f"_commit={ts}")
        self.manifest.append(footer_range_entries(commit_dir, self.col, ts))

    def build(self) -> None:
        """Index every commit currently on disk (backfill). A commit whose
        manifest entries all point at removed files (its directory was
        rewritten by ``compact_history`` under the same ts) is re-indexed
        from the current files."""
        by_ts: dict[int, list[dict]] = {}
        for e in self.manifest.load():
            by_ts.setdefault(e["commit_ts"], []).append(e)
        for ts in _commits(self.table.data_dir):
            es = by_ts.get(ts)
            if es is not None and any(os.path.exists(e["path"]) for e in es):
                continue
            if es is not None:
                self.manifest.remove_commits({ts})
            self.index_commit(ts)

    # -- lookup ------------------------------------------------------------
    def _covered(self, snapshot_ts: int) -> bool:
        """Every visible on-disk data commit must have at least one LIVE
        manifest entry. A ts whose entries all point at removed files is
        NOT covered — ``compact_history`` can rewrite a directory under
        the same ts, and trusting the stale entries would silently drop
        the consolidated file from lookups."""
        live: dict[int, bool] = {}
        for e in self.manifest.load():
            live[e["commit_ts"]] = live.get(e["commit_ts"], False) or os.path.exists(
                e["path"]
            )
        return all(
            live.get(ts, False) for ts in _commits(self.table.data_dir) if ts <= snapshot_ts
        )

    def candidate_files(self, value, snapshot_ts: int | None = None) -> list[str]:
        return self._candidate_files(
            lambda e: e["min"] <= value <= e["max"], snapshot_ts
        )

    def _candidate_files(self, match, snapshot_ts: int | None = None) -> list[str]:
        if snapshot_ts is None:
            snapshot_ts = self.table.trans.high_watermark
        # a vacuumed commit leaves stale manifest entries behind (vacuum
        # only rewrites the PRIMARY manifest); its rows were fully deleted
        # — invisible at any surviving snapshot — so skipping missing
        # files preserves correctness. prune_vacuumed() tidies them up.
        return [
            e["path"]
            for e in self.manifest.load()
            if e["commit_ts"] <= snapshot_ts
            and match(e)
            and os.path.exists(e["path"])
        ]

    def prune_vacuumed(self, removed_ts: list[int]) -> None:
        """Drop manifest entries for vacuumed commits (call with
        ``MvccTable.vacuum``'s return value — the same contract the
        primary manifest gets inside vacuum itself)."""
        self.manifest.remove_commits(set(removed_ts))

    def lookup(self, value, snapshot_ts: int | None = None) -> DataFrame:
        """Latest visible rows whose LATEST version has ``col == value``
        (≈ secondary getRowIds → main-index resolution → visibility)."""
        return self._lookup(
            lambda e: e["min"] <= value <= e["max"],
            F.col(self.col) == value,
            snapshot_ts,
        )

    def lookup_range(self, lo, hi, snapshot_ts: int | None = None) -> DataFrame:
        """Latest visible rows whose LATEST version has ``lo <= col <= hi``
        — the same two-step resolution as ``lookup``, with file pruning by
        [min, max] INTERVAL OVERLAP against [lo, hi] (beyond the
        reference's point-only getRowIds: a file-range manifest gives
        range scans for free)."""
        if lo > hi:
            raise ValueError(f"empty range: lo={lo!r} > hi={hi!r}")
        return self._lookup(
            lambda e: not (e["max"] < lo or e["min"] > hi),
            F.col(self.col).between(lo, hi),
            snapshot_ts,
        )

    def _lookup(self, match, pred, snapshot_ts: int | None = None) -> DataFrame:
        t = self.table
        if snapshot_ts is None:
            snapshot_ts = t.trans.high_watermark
        if not self._covered(snapshot_ts):
            # unindexed commits present → correct-but-unpruned fallback
            return t.read_latest_version(snapshot_ts).filter(pred)
        cands = self._candidate_files(match, snapshot_ts)
        if not cands:
            return t._versions_frame({})
        # step 1: candidate primary keys (≈ getRowIds). Point-shaped
        # lookups get a driver-side list (mirrors the reference's
        # List<Long> return) that feeds the primary-manifest file pruning;
        # a low-cardinality value whose candidates exceed max_candidates,
        # or a table whose primary manifest is absent or lacks a visible
        # commit, switches to a distributed semi-join — no unbounded
        # collect, no unreachable rows.
        cand_keys_df = (
            self.table._read_parquet(*cands)
            .filter((F.col(COMMIT_TS) <= snapshot_ts) & pred)
            .select(t.key_col)
            .distinct()
        )
        keys = [r[0] for r in cand_keys_df.limit(self.max_candidates + 1).collect()]
        if not keys:
            return t._versions_frame({})
        files = None
        if len(keys) <= self.max_candidates:
            files = t._index_files(keys, snapshot_ts)
        if files is None:
            visible = t.read(snapshot_ts).join(cand_keys_df, t.key_col, "left_semi")
            return t.latest_only(visible).filter(pred)
        # steps 2-3: each key's visible version through the primary
        # manifest, read on the driver, THEN the secondary predicate — a
        # newer version that changed the value wins (never serve a stale
        # secondary hit)
        return t._versions_frame(t._visible_versions(keys, snapshot_ts, files)).filter(pred)
