"""The benchmark's three workloads: closed loops with one client.

``olap_mix`` and ``kernel_mix`` run seeded passes over declared queries
through the noop sink; ``mvcc_cdc`` drives an indexed ``MvccTable`` with a
seeded stream of commits, point lookups and snapshot scans. The seed fixes
the query order of each pass and every key, batch and delta of the CDC
stream; the program only ever sees the generated inputs.
"""

from __future__ import annotations

import math
import os
import random
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

from tracing import SparkRest, Tracer

# Oracled scan/join/aggregate queries: parquet scans, joins, aggregates and
# the sql frontend do the work; functions kernels and mvcc stay idle.
OLAP_MIX = (
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q9", "tpch_q13",
    "tpch_q18", "tpch_q21", "sql_tpch_q6", "cb_daily", "cb_top_users",
    "cb_rollup", "cb_json_props", "setop_except", "win_topn_per_customer",
    "range_price_bands", "asof_attribution", "dec_money_rollup",
    "struct_field_rollup",
)
# Oracled kernel-heavy queries: text-dedup and embedding near-duplicate
# pair expansion, and the recommender served from the stored rec_model.
# Few, short queries, so a window times each several times.
KERNEL_MIX = ("dedup_containment", "vec_near_dup", "rec_user_topk")
# Derived artifacts each workload serves from, built during set-up.
ARTIFACTS = {
    "olap_mix": ("money", "ev_struct"),
    "kernel_mix": ("rec_model",),
    "mvcc_cdc": (),
}
# Tables each workload reads, the ones its set-up stages; None is all.
READS = {
    "olap_mix": None,
    "kernel_mix": ("documents", "embeddings", "lineitem", "orders"),
    "mvcc_cdc": ("orders",),
}
# Set-ups per run; setup_s is their median. The first pays the JVM's
# warm-up; mvcc_cdc's set-up takes about a second, so five of them cost
# little and keep one stalled set-up from reaching the median.
SETUP_REPS = {"olap_mix": 3, "kernel_mix": 3, "mvcc_cdc": 5}

ORDERS_COLS = (
    "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
    "o_orderpriority",
)
MERGE_BATCH = 20  # rows per merge upsert, a quarter of them new keys
DELETE_BATCH = 5
UPDATE_SPAN = 10  # keys covered by one sql.dml UPDATE range
WARMUP_PLAN = [
    ("merge", ""), ("lookup", "latest"), ("delete", ""), ("lookup", "older"),
    ("update", ""), ("lookup", "absent"), ("scan", "older"), ("scan", "latest"),
]
NEW_KEY_BASE = 10**6
_CLK_TCK = os.sysconf("SC_CLK_TCK")
ABSENT_KEY_BASE = 10**7


def query_pass(rng: random.Random, names: tuple[str, ...]) -> list[str]:
    """One timed pass: every query of the mix once, in seeded order."""
    return rng.sample(names, len(names))


def window_open(start: float, units: int, seconds: float) -> bool:
    """Whether to run another whole unit (query pass or compaction cycle):
    units repeat until the window reaches ``seconds`` to within half a
    unit, so every run times whole units and each query equally often."""
    return not units or (time.perf_counter() - start) * (1 + 0.5 / units) < seconds


# -- mvcc_cdc model ---------------------------------------------------------


class OrdersModel:
    """In-memory truth of the CDC table: one {key: row} state per commit
    since the last compaction, so lookups and scans at any snapshot the
    table still serves can be checked."""

    def __init__(self, rows: list[tuple], ts: int):
        self.snapshots: list[tuple[int, dict]] = [(ts, {r[0]: r for r in rows})]
        self.next_new_key = NEW_KEY_BASE

    @property
    def latest(self) -> dict:
        return self.snapshots[-1][1]

    def state_at(self, ts: int | None) -> dict:
        if ts is None:
            return self.latest
        return [s for t, s in self.snapshots if t <= ts][-1]

    def commit(self, op: tuple, ts: int) -> None:
        state = dict(self.latest)
        kind = op[0]
        if kind == "merge":
            for row in op[1]:
                state[row[0]] = row
        elif kind == "delete":
            for k in op[1]:
                state.pop(k, None)
        elif kind == "update":
            for k in range(op[1], op[2] + 1):
                if k in state:
                    r = state[k]
                    state[k] = r[:3] + (r[3] + 1.0,) + r[4:]
        else:
            raise ValueError(f"not a commit: {kind}")
        self.snapshots.append((ts, state))

    def compacted(self, retain_ts: int) -> None:
        """Snapshots older than ``retain_ts`` are no longer served."""
        keep = [i for i, (t, _) in enumerate(self.snapshots) if t <= retain_ts][-1]
        self.snapshots = self.snapshots[keep:]

    def check_lookup(self, key: int, ts: int | None, rows: list[tuple]) -> str | None:
        want = self.state_at(ts).get(key)
        got = rows[0] if len(rows) == 1 else (None if not rows else rows)
        if got != want:
            return f"lookup {key}@{ts}: got {got!r}, model has {want!r}"
        return None

    def check_scan(self, ts: int | None, count: int, total: float | None) -> str | None:
        state = self.state_at(ts)
        want = math.fsum(r[3] for r in state.values())
        if count != len(state) or not math.isclose(total or 0.0, want, rel_tol=1e-9):
            return f"scan @{ts}: got ({count}, {total}), model has ({len(state)}, {want})"
        return None


def cycle_plan(rng: random.Random) -> list[tuple[str, str]]:
    """One compaction cycle as (kind, variant) steps: the four commits (two
    merge upserts, a small delete, a sql.dml UPDATE) in seeded order, each
    followed by three point lookups and a snapshot scan; the cycle then
    ends with compact_history + vacuum, timed as one more commit. The shape
    is fixed, so every run reads the table in the same states: a lookup of
    a live key, one at an older snapshot, then an absent key after every
    other commit; the scan after every other commit reads an older
    snapshot. Lookups are the majority, so the median operation is one."""
    commits = ["merge", "merge", "delete", "update"]
    rng.shuffle(commits)
    plan = []
    for i, kind in enumerate(commits):
        plan += [
            (kind, ""),
            ("lookup", "latest"),
            ("lookup", "older"),
            ("lookup", "absent" if i % 2 else "latest"),
            ("scan", "older" if i % 2 else "latest"),
        ]
    return plan


def next_cdc_op(rng: random.Random, model: OrdersModel, kind: str, variant: str) -> tuple:
    """Draw the keys, rows or range of the next operation from the model
    alone. An "older" read picks a snapshot the table still serves."""
    live = sorted(model.latest)
    old_ts = [t for t, _ in model.snapshots[:-1]]
    snapshot = rng.choice(old_ts) if variant == "older" and old_ts else None
    if kind == "lookup":
        if variant == "absent":
            return ("lookup", ABSENT_KEY_BASE + rng.randrange(10**6), None)
        pool = live if snapshot is None else sorted(model.state_at(snapshot))
        return ("lookup", rng.choice(pool), snapshot)
    if kind in ("scan", "compact"):
        return (kind, snapshot)
    if kind == "merge":
        n_new = MERGE_BATCH // 4
        rows = []
        for k in rng.sample(live, MERGE_BATCH - n_new):
            r = model.latest[k]
            price = round(r[3] * 1.01 + rng.randint(1, 99) / 100, 2)
            rows.append((k, r[1], rng.choice("FOP"), price, r[4], r[5]))
        base = model.latest[live[0]]
        for _ in range(n_new):
            rows.append(
                (model.next_new_key, rng.randrange(1500), "O",
                 round(rng.uniform(1e3, 5e5), 2), base[4], base[5])
            )
            model.next_new_key += 1
        return ("merge", rows)
    if kind == "delete":
        return ("delete", rng.sample(live, DELETE_BATCH))
    lo = rng.choice(live)
    return ("update", lo, lo + UPDATE_SPAN - 1)


# -- run context ------------------------------------------------------------


class Run:
    """State of one benchmark run: session, tracer, the parts of each
    set-up, timed operations, correctness problems and per-operation REST
    metrics."""

    def __init__(self, spark, tracer: Tracer, fixture_dir: str, work_dir: str,
                 seed: int, seconds: float):
        self.spark = spark
        self.fixture_dir = fixture_dir
        self.work_dir = work_dir
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.rest = SparkRest(spark) if tracer.enabled else None
        self.jvm_stat = f"/proc/{spark._jvm.java.lang.ProcessHandle.current().pid()}/stat"
        self.session_s = 0.0
        self.setups: list[dict[str, float]] = []  # wall seconds of each part
        self.setup_cpu: list[float] = []  # CPU seconds of each set-up
        self.ops: list[dict] = []
        self.problems: list[str] = []
        self.op_metrics: list[dict] = []
        self.trace_overhead: list[float] = []
        self.counters: dict[str, list[float]] = {}
        self.window_s = 0.0
        self.check_s = 0.0  # untimed, checked warm-up before the window
        self.staged_dir = ""
        self.cdc = None  # (table, bulk-load commit ts) of the last set-up

    def cpu_s(self) -> float:
        """CPU seconds used so far by the Spark JVM (every thread: tasks,
        planner, compiler, collector) and this Python driver. The kernel
        leaves out the time the machine's hypervisor gave this machine's
        cores to others."""
        with open(self.jvm_stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / _CLK_TCK + time.process_time()

    def count(self, name: str, value: float) -> None:
        """Record a per-layer counter sample of the current timed operation."""
        if self.tracer.op_id is not None:
            self.counters.setdefault(name, []).append(value)

    @contextmanager
    def setup_step(self, name: str):
        t = time.perf_counter()
        with self.tracer.span(name):
            yield
        self.setups[-1][name] = time.perf_counter() - t

    @contextmanager
    def operation(self, op_id: str, kind: str, name: str):
        """Time one closed-loop operation of class ``kind`` (query, commit,
        lookup, scan) and name ``name`` (the query, or the class); an
        exception fails the operation (counted, traceback to stderr)
        instead of ending the run."""
        sc = self.spark.sparkContext
        if self.rest:
            sc.setJobGroup(op_id, op_id)
        self.tracer.op_id = op_id
        rec = {"id": op_id, "kind": kind, "name": name, "ok": True}
        cpu = self.cpu_s()
        t = time.perf_counter()
        try:
            with self.tracer.span("op"):
                yield rec
        except Exception:
            rec["ok"] = False
            traceback.print_exc(file=sys.stderr)
        rec["s"] = time.perf_counter() - t
        rec["cpu_s"] = self.cpu_s() - cpu
        self.tracer.op_id = None
        self.ops.append(rec)
        if self.rest:
            t = time.perf_counter()
            sc.setLocalProperty("spark.jobGroup.id", None)
            self.op_metrics.append(self.rest.op_metrics(op_id))
            self.trace_overhead.append(time.perf_counter() - t)

    def fail(self, problem: str) -> None:
        print(f"correctness: {problem}", file=sys.stderr)
        self.problems.append(problem)


def set_up(run: Run, workload: str) -> None:
    """The set-up the program itself pays, SETUP_REPS times, each into
    fresh directories: LOAD staging of the tables the workload reads, then
    the artifacts it serves from, or for ``mvcc_cdc`` the indexed bulk load
    of ``orders``. The first set-up pays the JVM's warm-up; the run then
    serves from the last one."""
    import bench

    fixture_files = {t: os.path.join(run.fixture_dir, f"{t}.parquet") for t in bench.TABLES}
    reads = READS[workload] or bench.TABLES
    for i in range(SETUP_REPS[workload]):
        run.setups.append({})
        cpu = run.cpu_s()
        cache = os.path.join(run.work_dir, f"setup{i}")
        os.environ["PIXELS_SPARK_IVF_CACHE"] = os.path.join(cache, "ivf")
        os.environ["PIXELS_SPARK_DERIVED_CACHE"] = os.path.join(cache, "derived")
        with run.setup_step("storage.stage"):
            run.staged_dir = _stage(bench, run.spark, run.fixture_dir, cache, reads)
        # the tables the workload does not read stay as generated, so the
        # DuckDB oracle and the catalog still see every table
        for t, path in fixture_files.items():
            if t not in reads:
                shutil.copyfile(path, os.path.join(run.staged_dir, f"{t}.parquet"))
        for name in ARTIFACTS[workload]:
            with run.setup_step(f"storage.build_{name}"):
                _build(name, run.spark, run.staged_dir)
        if workload == "mvcc_cdc":
            from pixels_spark.mvcc import MvccTable

            with run.setup_step("mvcc.bulk_load"):
                tbl = MvccTable(run.spark, os.path.join(cache, "orders_cdc"), "o_orderkey",
                                indexed=True)
                base_ts = tbl.insert(
                    run.spark.read.parquet(os.path.join(run.staged_dir, "orders.parquet"))
                )
            run.cdc = (tbl, base_ts)
        run.setup_cpu.append(run.cpu_s() - cpu)


def _stage(bench, spark, fixture_dir: str, cache: str, tables: tuple[str, ...]) -> str:
    """``bench.stage_tables`` over ``tables`` only."""
    every = bench.TABLES
    bench.TABLES = tables
    try:
        return bench.stage_tables(spark, fixture_dir, cache)
    finally:
        bench.TABLES = every


def _build(name: str, spark, staged: str) -> None:
    from pixels_spark.queries.decimalq import money_path
    from pixels_spark.queries.graphq import rec_model_path
    from pixels_spark.queries.structq import ev_struct_path
    from pixels_spark.queries.vector_search import ensure_ivf_index

    build_fns = {
        "money": money_path,
        "ev_struct": ev_struct_path,
        "ivf": ensure_ivf_index,
        "rec_model": rec_model_path,
    }
    build_fns[name](spark, staged)


# -- query mixes ------------------------------------------------------------


def run_query_mix(run: Run, names: tuple[str, ...]) -> None:
    from tests.oracle import compare

    from pixels_spark import sql as sql_layer
    from pixels_spark.queries import load_all_modules

    registry = load_all_modules()
    spark = run.spark
    # untimed warm-up pass that is also the correctness check: each query
    # once against its DuckDB oracle on the staged data the run times
    wrong = set()
    t = time.perf_counter()
    for q in names:
        problems = compare(spark, run.staged_dir, registry[q].fn, registry[q].sql)
        spark.catalog.clearCache()
        if problems:
            wrong.add(q)
            run.fail(f"{q}: {problems}")
    run.check_s = time.perf_counter() - t

    # span every module's reference to sql.sql (query modules import it)
    plan = sql_layer.sql
    for mod in list(sys.modules.values()):
        if mod and mod.__name__.startswith("pixels_spark.") and getattr(mod, "sql", None) is plan:
            run.tracer.wrap(mod, "sql", "sql.plan")
    rng = random.Random(run.seed)
    passes = 0
    start = time.perf_counter()
    while window_open(start, passes, run.seconds):
        for q in query_pass(rng, names):
            with run.operation(f"{q}#{len(run.ops)}", "query", q) as rec:
                with run.tracer.span("queries.build"):
                    df = registry[q].fn(spark, run.staged_dir)
                with run.tracer.span("queries.exec"):
                    df.write.mode("overwrite").format("noop").save()
                rec["ok"] = q not in wrong
            # operators persist small frames inside their plans; drop them
            # so passes do not accumulate caches (as bench.py does)
            spark.catalog.clearCache()
        passes += 1
    run.window_s = time.perf_counter() - start


# -- mvcc_cdc ---------------------------------------------------------------


def _files(path: str, suffix: str = ".parquet") -> list[str]:
    return [
        os.path.join(r, f) for r, _d, fs in os.walk(path) for f in fs if f.endswith(suffix)
    ]


def _bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in _files(path, ""))


def run_mvcc_cdc(run: Run, base_rows: list[tuple]) -> dict[str, float]:
    from pixels_spark.mvcc import MvccTable

    spark, tr = run.spark, run.tracer
    tbl, base_ts = run.cdc
    model = OrdersModel(base_rows, base_ts)
    for attr in ("merge", "delete", "compact_history", "vacuum"):
        tr.wrap(tbl, attr, f"mvcc.{attr}")
    tr.wrap(tbl.trans, "begin_trans", "mvcc.trans_begin")
    tr.wrap(tbl.trans, "commit_trans", "mvcc.trans_commit")
    aborted = []
    if tr.enabled:
        inner_abort = tbl.trans.abort_trans
        tbl.trans.abort_trans = lambda ctx: (aborted.append(ctx), inner_abort(ctx))[1]
    rng = random.Random(run.seed)

    def cycle(plan: list[tuple[str, str]], timed: bool) -> None:
        for kind, variant in plan + [("compact", "")]:
            op = next_cdc_op(rng, model, kind, variant)
            op_class = kind if kind in ("lookup", "scan") else "commit"
            step = run.operation(f"{kind}#{len(run.ops)}", op_class, op_class) if timed else _untimed()
            with step as rec:
                problem = _cdc_step(run, tbl, model, op)
                if problem:
                    rec["ok"] = False
                    run.fail(problem)

    # an untimed, checked warm-up cycle runs every code path once, so the
    # window does not time first-use class loading and code generation
    t = time.perf_counter()
    cycle(WARMUP_PLAN, timed=False)
    run.check_s = time.perf_counter() - t
    cycles = 0
    start = time.perf_counter()
    # whole compaction cycles: scan cost and space grow within a cycle
    while window_open(start, cycles, run.seconds):
        cycle(cycle_plan(rng), timed=True)
        cycles += 1
    run.window_s = time.perf_counter() - start
    run.counters["mvcc.aborted_trans"] = [len(aborted)]

    # space amplification: table root vs the same latest snapshot written
    # once through the same indexed insert path (outside the window)
    once = MvccTable(spark, os.path.join(run.work_dir, "orders_once"), "o_orderkey", indexed=True)
    once.insert(tbl.read_latest_version().drop("_commit_ts"))
    return {"space_amp": _bytes(tbl.root) / _bytes(once.root)}


@contextmanager
def _untimed():
    yield {}


def _tombstone_rows(delete_dir: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in _files(delete_dir))


def _cdc_step(run: Run, tbl, model: OrdersModel, op: tuple) -> str | None:
    """Apply one stream operation to the table; return a model mismatch."""
    from pyspark.sql import functions as F

    from pixels_spark import sql as sql_layer
    from pixels_spark.catalog import SCHEMAS

    spark, tr, kind = run.spark, run.tracer, op[0]
    if kind == "lookup":
        _, key, ts = op
        if tr.enabled:
            snap = tbl.trans.high_watermark if ts is None else ts
            run.count("mvcc.lookup_candidate_files", sum(
                e["commit_ts"] <= snap and e["min"] <= key <= e["max"]
                for e in tbl.manifest.load()
            ))
        with tr.span("mvcc.point_lookup"):
            rows = tbl.point_lookup(key, ts).collect()
        return model.check_lookup(key, ts, [tuple(r[c] for c in ORDERS_COLS) for r in rows])
    if kind == "scan":
        ts = op[1]
        if tr.enabled:
            run.count("mvcc.table_files", len(_files(tbl.data_dir)))
            run.count("mvcc.live_tombstones", _tombstone_rows(tbl.delete_dir))
        with tr.span("mvcc.read"):
            cnt, total = tbl.read(ts).agg(F.count("*"), F.sum("o_totalprice")).first()
        return model.check_scan(ts, cnt, total)
    if kind == "compact":
        retain = tbl.trans.high_watermark
        tbl.compact_history(retain)
        tbl.vacuum(retain)
        model.compacted(retain)
        if tr.enabled:
            run.count("mvcc.bytes_rewritten", _bytes(os.path.join(tbl.data_dir, f"_commit={retain}")))
        return None
    if kind == "merge":
        ts = tbl.merge(spark.createDataFrame(op[1], SCHEMAS["orders"]))
    elif kind == "delete":
        ts = tbl.delete(op[1])
    else:
        with tr.span("sql.dml"):
            ts = sql_layer.dml(
                spark, run.staged_dir, {"orders_cdc": tbl},
                f"UPDATE orders_cdc SET o_totalprice = o_totalprice + 1 "
                f"WHERE o_orderkey BETWEEN {op[1]} AND {op[2]}",
            )
    model.commit(op, ts)
    if tr.enabled:
        run.count("mvcc.files_per_commit", sum(
            len(_files(os.path.join(d, f"_commit={ts}")))
            for d in (tbl.data_dir, tbl.delete_dir)
        ))
    return None
