"""SQL entry point over the registered catalog.

Reference: the Calcite frontend (``pixels-parser/.../PixelsParser.java`` —
parse → validate over PixelsSchema → RelNode → Volcano optimization) and the
Trino delegation path (SURVEY.md §3.1-3.2). Spark mapping: register the
catalog tables as views and hand the text to ``spark.sql`` — Catalyst is the
parser/validator/optimizer the reference assembles from Calcite + host
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .catalog import TABLES, register_views


def sql(spark: SparkSession, sf_dir: str, query: str) -> DataFrame:
    """Run SQL text against the fixture tables (views auto-registered)."""
    register_views(spark, sf_dir, TABLES)
    return spark.sql(query)


def ctas(
    spark: SparkSession,
    sf_dir: str,
    store,
    schema_name: str,
    table_name: str,
    query: str,
    dest: str,
    files: int | None = None,
) -> DataFrame:
    """CREATE TABLE AS SELECT: run ``query`` over the catalog, write the
    result as a columnar table at ``dest``, and register it (columns, row
    count, ordered layout) in the metadata store — the DDL lifecycle the
    reference drives through Trino/Calcite (CreateTable in
    ``pixels-parser``; metadata_schema.sql tables/layouts), completed on
    the Spark side in one call.

    The write is the query's own distributed output (optionally
    repartitioned to ``files``); registration reuses the MetadataStore
    conventions every other surface reads (``spark_schema``,
    ``reader_path``). Returns the re-read table."""
    df = sql(spark, sf_dir, query)
    out = df if files is None else df.repartition(files)
    out.write.mode("overwrite").parquet(dest)
    written = spark.read.parquet(dest)
    if schema_name not in store.get_schemas():
        store.create_schema(schema_name)
    store.create_table(
        schema_name,
        table_name,
        [{"name": f.name, "type": f.dataType.simpleString()} for f in written.schema.fields],
    )
    store.update_row_count(schema_name, table_name, written.count())
    store.add_layout(schema_name, table_name, ordered_paths=[dest])
    return written


# ---------------------------------------------------------------------------
# DML routing (restricted grammar) onto MVCC tables

import re as _re

_INSERT_RE = _re.compile(r"^\s*INSERT\s+INTO\s+(\w+)\s+(.+)$", _re.I | _re.S)
_DELETE_RE = _re.compile(
    r"^\s*DELETE\s+FROM\s+(\w+)(?:\s+WHERE\s+(.+))?\s*$", _re.I | _re.S
)
_UPDATE_RE = _re.compile(
    r"^\s*UPDATE\s+(\w+)\s+SET\s+(.+?)(?:\s+WHERE\s+(.+))?\s*$", _re.I | _re.S
)


def _split_top_level(s: str, sep: str = ",") -> list[str]:
    """Split on ``sep`` outside parens and string literals (so
    ``SET a = greatest(x, y), b = 'v,w'`` parses as two assignments)."""
    parts, depth, quote, start = [], 0, None, 0
    for i, ch in enumerate(s):
        if quote:
            if ch == quote:
                quote = None
        elif ch in ("'", '"'):
            quote = ch
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == sep and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    return [p.strip() for p in parts if p.strip()]


def dml(spark: SparkSession, sf_dir: str, tables: dict, text: str) -> int:
    """Route a DML statement onto an MVCC table — the mutation half of the
    SQL frontend (the reference runs these through its Trino connector into
    Retina; here each statement of the restricted grammar below becomes one
    call of ``MvccTable.insert/delete/update``, and so one ``_commit``
    transaction — one commit ts, abort cleanup, index maintenance).

    Grammar (documented subset, errors are loud, nothing is guessed):

    - ``INSERT INTO <t> <select>`` — the SELECT runs on the engine's own
      SQL surface (fixture views + every MVCC table's current snapshot
      are in scope) and appends in one transaction.
    - ``DELETE FROM <t> [WHERE <pred>]`` — the predicate evaluates
      against the current snapshot; matching keys get tombstones.
    - ``UPDATE <t> SET c = expr[, ...] [WHERE <pred>]`` — matching rows
      are rewritten (new rows appended and their keys tombstoned at one
      ts, the CDC convention); the SELECT over the snapshot view runs
      once, as the append, and the tombstone keys are read back from the
      written commit. Unassigned columns pass through.

    MERGE INTO text is intentionally NOT parsed here — use
    ``MvccTable.merge`` (richer matched/unmatched actions than the SQL
    form); the router raises with that pointer. Statements over names not
    in ``tables`` raise KeyError (fixture views are read-only).

    Known grammar limit (documented, loud on misuse): the SET/WHERE split
    is keyword-based, so a string literal containing the word ``WHERE``
    inside a SET expression would mis-split; assignments themselves are
    split quote- and paren-aware (``_split_top_level``).

    Returns the commit timestamp of the applied transaction.
    """
    register_views(spark, sf_dir, TABLES)
    for name, tbl in tables.items():
        # a never-written table has no schema yet — INSERT INTO seeds it;
        # registering its (columnless) empty snapshot would break analysis
        if tbl.persisted_schema() is None:
            continue
        tbl.read_latest_version().drop("_commit_ts").createOrReplaceTempView(name)

    if _re.match(r"^\s*MERGE\b", text, _re.I):
        raise ValueError(
            "MERGE INTO text is not routed; call MvccTable.merge "
            "(when_matched/when_not_matched/delete_unmatched_target)"
        )
    m = _INSERT_RE.match(text)
    if m:
        name, select = m.group(1), m.group(2)
        return tables[name].insert(spark.sql(select))
    m = _UPDATE_RE.match(text)
    if m:
        name, sets, pred = m.group(1), m.group(2), m.group(3)
        tbl = tables[name]
        if tbl.persisted_schema() is None:
            raise ValueError(f"table {name!r} has never been written; INSERT first")
        snap = tbl.read_latest_version().drop("_commit_ts")
        cols = snap.columns
        dtypes = dict(snap.dtypes)
        assigned = {}
        for part in _split_top_level(sets):
            col, eq, expr = part.partition("=")
            col = col.strip()
            if not eq or not _re.fullmatch(r"\w+", col):
                raise ValueError(f"unparseable SET assignment: {part!r}")
            if col not in cols:
                raise ValueError(f"SET references unknown column {col!r}")
            assigned[col] = expr.strip()
        # SQL UPDATE assignment semantics: the expression coerces to the
        # column's declared type (so SET value = 0 keeps a DOUBLE column
        # DOUBLE instead of tripping schema evolution's type-change guard)
        proj = ", ".join(
            f"CAST(({assigned[c]}) AS {dtypes[c]}) AS {c}" if c in assigned else c
            for c in cols
        )
        where = f" WHERE {pred}" if pred else ""
        return tbl.update(spark.sql(f"SELECT {proj} FROM {name}{where}"))
    m = _DELETE_RE.match(text)
    if m:
        name, pred = m.group(1), m.group(2)
        tbl = tables[name]
        if tbl.persisted_schema() is None:
            raise ValueError(f"table {name!r} has never been written; INSERT first")
        where = f" WHERE {pred}" if pred else ""
        keys = spark.sql(f"SELECT {tbl.key_col} FROM {name}{where}")
        return tbl.delete(keys)
    raise ValueError(f"unsupported DML statement: {text[:80]!r}")


# ---------------------------------------------------------------------------
# time-travel SELECT (the reference's transTs scan option as SQL text)

_ASOF_RE = _re.compile(
    r"\b(\w+)\s+FOR\s+(?:SYSTEM_TIME|TIMESTAMP)\s+AS\s+OF\s+(\d+)", _re.I
)


def query_at(
    spark: SparkSession, sf_dir: str, tables: dict, text: str
) -> DataFrame:
    """SELECT with per-table TIME TRAVEL: every ``<t> FOR TIMESTAMP AS OF
    <ts>`` (or ``FOR SYSTEM_TIME AS OF``, the SQL:2011 spelling) in the
    text is rewritten onto that MVCC table's snapshot at ``ts`` — the SQL
    surface of the reference's per-scan ``transTs`` option
    (``PixelsScanOptions`` / the Trino connector's transaction timestamp;
    here ``MvccTable.read_latest_version(ts)`` carries the visibility
    contract). Tables named WITHOUT the clause resolve to their current
    snapshot; fixture views stay in scope, so travel composes with joins
    against both (e.g. "join last week's snapshot to today's").

    Mechanics: each AS-OF occurrence registers the snapshot under a
    derived view name (``<t>__asof_<ts>``) and the clause is replaced by
    that name — any trailing alias in the original text keeps working.
    ``ts`` is the INTEGER commit timestamp (the same values
    ``insert``/``update`` return and ``read_history`` exposes) — date/
    timestamp literals are NOT supported and fail with a clear
    ValueError (ADVICE r8: any 'AS OF' text the rewrite did not consume
    is rejected up front rather than surfacing as a confusing Spark
    parse error); an unknown table name raises KeyError, matching
    ``dml``'s contract."""
    register_views(spark, sf_dir, TABLES)
    for name, tbl in tables.items():
        if tbl.persisted_schema() is None:
            continue
        tbl.read_latest_version().drop("_commit_ts").createOrReplaceTempView(
            name
        )

    def _sub(m: "_re.Match[str]") -> str:
        name, ts = m.group(1), int(m.group(2))
        if name not in tables:
            raise KeyError(
                f"FOR TIMESTAMP AS OF on unknown MVCC table {name!r}"
            )
        view = f"{name}__asof_{ts}"
        tables[name].read_latest_version(ts).drop(
            "_commit_ts"
        ).createOrReplaceTempView(view)
        return view

    rewritten = _ASOF_RE.sub(_sub, text)
    if _re.search(r"\bAS\s+OF\b", rewritten, _re.I):
        raise ValueError(
            "unsupported AS OF clause: time travel takes an INTEGER commit "
            "timestamp — '<table> FOR TIMESTAMP AS OF <int>' or "
            "'FOR SYSTEM_TIME AS OF <int>' (date/timestamp literals are "
            "not supported; read_history() lists valid commit timestamps)"
        )
    return spark.sql(rewritten)
