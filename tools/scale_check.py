#!/usr/bin/env python3
"""Synthetic scale-up validation (VERDICT r6 #6): materialize a ~5×
fixture from sf0.1 — the original tables unioned with key-shifted copies,
written through the engine's own LOAD path (repartition + parquet, the
same layout staging the bench uses) — run the headline suite ONCE at each
scale in the same session, and print per-query scaling ratios as a
markdown table for SCALE.md.

Key shifting preserves referential integrity: every entity key
(custkey / orderkey / partkey / suppkey / event_id / user_id / doc_id /
vec_id) shifts by copy_index × 100M in every table that carries it, so
each copy is a self-contained shard of the database. nation/region stay
single copies — 25/5-row dims shared across shards, exactly how a real
5× ingest would look.

Content columns are DERANGED per shard, not copied verbatim: document
words and embedding dims rotate by the copy index (length-, n_chars- and
norm-preserving), so cross-shard texts/vectors are NOT near-duplicates.
Exact copies would turn every similarity-join workload quadratic in the
copy count (measured: dedup_ngram_jaccard's candidate pairs grow ~25× at
5 copies — the first fixture attempt never finished it), which measures
a different WORKLOAD, not the same workload at more volume. Within-shard
duplicate/near-dup structure is preserved exactly, so the dedup family
still finds 5× the pairs — linear, like a real 5× corpus.

Usage: python tools/scale_check.py [copies] [--skew] [--only q1 q2 ...]
(copies defaults to 5)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from pyspark.sql import functions as F  # noqa: E402

import bench  # noqa: E402
from pixels_spark.catalog import TABLES, load_table  # noqa: E402
from pixels_spark.queries import load_all_modules  # noqa: E402
from pixels_spark.session import build_session  # noqa: E402
from pixels_spark import config as _cfg  # noqa: E402

_OFF = 100_000_000
_SHIFT_COLS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}


def make_scaled_fixture(spark, src_dir: str, dest_dir: str, copies: int) -> float:
    """LOAD the ~copies× fixture into ``dest_dir`` (skipped if present).
    Returns the build time in seconds (0.0 on cache hit)."""
    marker = os.path.join(dest_dir, "_SCALED")
    if os.path.exists(marker):
        return 0.0
    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    os.makedirs(dest_dir, exist_ok=True)
    # write shard-BY-shard (append after the first) instead of unioning
    # all copies into one plan: a 25-way union of rotation expressions
    # over text/array columns allocates all shards' buffers in one job
    # and GCLocker-crashed the JVM at copies=25. Per-shard jobs bound
    # memory to one copy regardless of the copy factor.
    for t in TABLES:
        df = load_table(spark, src_dir, t)
        keys = _SHIFT_COLS.get(t)
        parts = n if t in ("lineitem", "orders", "events") else max(4, n // 4)
        dest = os.path.join(dest_dir, f"{t}.parquet")
        if not keys:
            df.repartition(parts).write.mode("overwrite").parquet(dest)
            continue
        shard_parts = max(2, parts // copies + 1)
        for i in range(copies):
            s = df
            for k in keys:
                s = s.withColumn(k, (F.col(k) + F.lit(i * _OFF)).cast("bigint"))
            if i > 0 and t == "documents":
                # shard-SEEDED pseudorandom positional permutation: word
                # j moves to rank md5('{i}:{j}') — same words, same
                # n_chars, and the permutation is shared by every doc in
                # the shard, so within-shard exact/near-dup structure is
                # preserved EXACTLY while cross-shard adjacencies (and
                # therefore 3-gram shingles) decorrelate at EVERY doc
                # length. Two earlier derangements failed measurably:
                # r8's per-shard ROTATION (rotations of one sequence
                # share almost all shingles — all copies were genuine
                # near-dups; dedup_ngram_jaccard read 90x at 25x), and a
                # stride-deal permutation (identity on docs shorter than
                # the stride — 19% of the corpus; candidate bound still
                # 621x base). With the seeded shuffle the cross-shard
                # trigram collision is ~1/n per doc (residual only on
                # 3-4-word docs where few distinct orderings exist).
                shuffled = (
                    "array_join(transform(array_sort(transform("
                    "sequence(0, size(split(text, ' ')) - 1), "
                    f"j -> struct(md5(concat('{i}:', CAST(j AS STRING))) "
                    "AS h, j AS j))), "
                    "t -> element_at(split(text, ' '), t.j + 1)), ' ')"
                )
                s = s.withColumn("text", F.expr(shuffled))
            if i > 0 and t == "embeddings":
                # rotate dims by i: norm-preserving, cosine vs the
                # original ~ random -> not a cross-shard near-dup
                v = F.col("embedding")
                s = s.withColumn(
                    "embedding",
                    F.concat(
                        F.slice(v, i + 1, F.size(v) - i), F.slice(v, 1, i)
                    ),
                )
            mode = "overwrite" if i == 0 else "append"
            s.repartition(shard_parts).write.mode(mode).parquet(dest)
    with open(marker, "w") as f:
        f.write(f"copies={copies} src={src_dir}")
    return round(time.perf_counter() - t0, 2)


# join/agg tier probed under Zipf keys (VERDICT r9 task #5): the queries
# whose shuffles key on events.user_id or lineitem.l_partkey — the two
# columns the skew fixture reweights
SKEW_PROBE = [
    "tpch_q9_ps",
    "graph_triangles",
    "graph_link_predict",
    "graph_modularity",
    "rec_item_sim",
    "rec_assoc_rules",
    "win_sessionize",
    "funnel_signup_click_purchase",
    "cb_window_funnel",
]


def make_skewed_fixture(spark, scaled_src: str, dest_dir: str) -> float:
    """Zipf-reweight the scaled fixture's join keys IN PLACE of the
    uniform ones: every 25×/5× probe so far ran on near-uniform synthetic
    keys, but real 100 TB joins die on Zipf keys. Each events row redraws
    its user_id and each lineitem row its l_partkey from a Zipf(1)
    distribution over the SAME per-shard key domain (id = floor(N^u) with
    u uniform from a row-seeded md5 — P(id ≤ x) = ln x/ln N, density
    ∝ 1/id), so the head key collects ~1/ln N of ALL rows (~14% of events
    per shard, ~10% of lineitems) while volume, schema and referential
    integrity (partkeys stay within the shard's part table) are
    unchanged. Comparing the probe tier on uniform-vs-skewed at EQUAL
    volume isolates the skew penalty from the volume penalty."""
    marker = os.path.join(dest_dir, "_SCALED")
    if os.path.exists(marker):
        return 0.0
    t0 = time.perf_counter()
    os.makedirs(dest_dir, exist_ok=True)
    n = spark.sparkContext.defaultParallelism

    def zipf_key(key_col: str, seed_col, n_keys: int):
        u = (
            F.conv(F.substring(F.md5(seed_col), 1, 15), 16, 10).cast("double")
            / F.lit(float(1 << 60))
        )
        shard = (F.floor(F.col(key_col) / _OFF) * _OFF).cast("bigint")
        return (shard + F.floor(F.pow(F.lit(float(n_keys)), u))).cast("bigint")

    for t in TABLES:
        df = spark.read.parquet(os.path.join(scaled_src, f"{t}.parquet"))
        if t == "events":
            n_users = int(
                df.agg(F.max(F.col("user_id") % _OFF)).first()[0]
            ) + 1
            df = df.withColumn(
                "user_id",
                zipf_key("user_id", F.col("event_id").cast("string"), n_users),
            )
        elif t == "lineitem":
            n_parts = int(
                df.agg(F.max(F.col("l_partkey") % _OFF)).first()[0]
            ) + 1
            seed = F.concat_ws(
                "#", F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
            )
            df = df.withColumn(
                "l_partkey", zipf_key("l_partkey", seed, n_parts)
            )
        parts = n if t in ("lineitem", "orders", "events") else max(4, n // 4)
        df.repartition(parts).write.mode("overwrite").parquet(
            os.path.join(dest_dir, f"{t}.parquet")
        )
    with open(marker, "w") as f:
        f.write(f"skewed from {scaled_src}")
    return round(time.perf_counter() - t0, 2)


def _session():
    spark = build_session(
        master=f"local[{_cfg.CPUS}]",
        # scale probes genuinely hold copies x the fixture in flight;
        # the 1g PySpark default heap (fine for the sf0.1 bench) OOMs
        # at 25x. A real cluster sizes executor memory to the data -
        # the probe does the same.
        extra_conf={"spark.driver.memory": "48g"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _run_pair(
    copies: int, base_sf: str, cache_root: str, names: list[str], skew: bool
) -> None:
    """Targeted two-fixture probe of ``names``: base vs copies× or, with
    ``skew``, uniform vs Zipf keys at equal copies× volume (ratio >> 1 =
    the query's shuffle keels over on skewed keys). One timed pass per
    fixture; per-query results cached so a killed run resumes."""
    scaled_src = os.path.join(cache_root, "fixtures", f"sf0.{copies}x")
    if skew:
        prefix, cols = "skew", ("uniform", "zipf")
        heads = (f"uniform {copies}x s", f"zipf {copies}x s")
        srcs = (scaled_src, scaled_src + "_skew")
    else:
        prefix, cols = "only", ("base", "scaled")
        heads = ("sf0.1 s", f"{copies}x s")
        srcs = (base_sf, scaled_src)
    key = hashlib.md5(",".join(sorted(names)).encode()).hexdigest()[:8]
    save = os.path.join(cache_root, f"scale_{prefix}_{copies}x_{key}.json")
    out: dict[str, dict[str, float]] = {}
    if os.path.exists(save):
        with open(save) as f:
            out = json.load(f)
    if any(n not in out.get(col, {}) for col in cols for n in names):
        registry = load_all_modules()
        spark = _session()
        build_sec = make_scaled_fixture(spark, base_sf, scaled_src, copies)
        if build_sec:
            print(f"scaled fixture build: {build_sec}s", flush=True)
        if skew:
            build_sec = make_skewed_fixture(spark, scaled_src, srcs[1])
            if build_sec:
                print(f"skewed fixture build: {build_sec}s", flush=True)
        for col, src in zip(cols, srcs):
            pend = [n for n in names if n not in out.get(col, {})]
            if not pend:
                continue
            # stage_tables only — bench.prepare's derived/IVF prebuilds
            # are for the full suite; a targeted probe should not pay
            # (or OOM on) k-means over a 25x corpus its queries never read
            staged = bench.stage_tables(spark, src, cache_root)
            for n, sec in bench.timed_runs(spark, registry, staged, pend, 1):
                out.setdefault(col, {})[n] = sec
                print(f"  {col} {n}: {sec}s", flush=True)
                with open(save, "w") as f:
                    json.dump(out, f)
        spark.stop()
    print(f"| query | {heads[0]} | {heads[1]} | ratio |")
    print("|---|---|---|---|")
    for n in names:
        b, s = out[cols[0]][n], out[cols[1]][n]
        print(f"| {n} | {b:.2f} | {s:.2f} | {s / b:.2f}x |")


def run_suite(
    spark, registry, staged_dir: str, save_path: str | None = None
) -> dict[str, float]:
    """One timed pass over HEADLINE. With ``save_path``, results persist
    after EVERY query so a killed run resumes where it left off."""
    out: dict[str, float] = {}
    if save_path and os.path.exists(save_path):
        with open(save_path) as f:
            out = json.load(f)
    pend = [name for name in bench.HEADLINE if name not in out]
    for name, sec in bench.timed_runs(spark, registry, staged_dir, pend, 1):
        out[name] = sec
        print(f"  {name}: {sec}s", flush=True)
        if save_path:
            with open(save_path, "w") as f:
                json.dump(out, f)
    return out


def main() -> None:
    """Stages (each resumable, results cached as JSON under .bench_cache):
    ``build`` → ``base`` → ``scaled`` → ``report``. Run with no args to
    execute the next missing stage; repeat until report prints.

    ``--only q1 q2 ...`` restricts the probe to the named queries and
    runs BOTH scales in one invocation (targeted deep-scale checks, e.g.
    the 25× pair-generating-trio probe of VERDICT r7 task #5) — results
    cached per (copies, query-set) so re-runs only report."""
    args = sys.argv[1:]
    only: list[str] | None = None
    skew = "--skew" in args
    if skew:
        args.remove("--skew")
    if "--only" in args:
        i = args.index("--only")
        only = args[i + 1 :]
        args = args[:i]
    copies = int(args[0]) if args else 5
    base_sf = _cfg.DEFAULT_SF_DIR
    cache_root = os.path.join(_ROOT, ".bench_cache")
    if skew or only:
        _run_pair(copies, base_sf, cache_root, only or SKEW_PROBE, skew)
        return
    # NB: under fixtures/ so stage_tables' dest (cache_root/<basename>)
    # can never collide with — and rmtree — the fixture itself
    scaled_src = os.path.join(cache_root, "fixtures", f"sf0.{copies}x")
    base_json = os.path.join(cache_root, "scale_base.json")
    scaled_json = os.path.join(cache_root, "scale_scaled.json")

    if os.path.exists(base_json) and os.path.exists(scaled_json):
        with open(base_json) as f:
            base = json.load(f)
        with open(scaled_json) as f:
            scaled = json.load(f)
        print(f"| query | sf0.1 s | {copies}x s | ratio |")
        print("|---|---|---|---|")
        flagged = []
        for name in bench.HEADLINE:
            if name not in base or name not in scaled:
                continue
            r = scaled[name] / base[name] if base[name] > 0 else float("inf")
            print(
                f"| {name} | {base[name]:.2f} | {scaled[name]:.2f} | {r:.2f}x |"
            )
            if r > copies + 1:
                flagged.append((name, round(r, 2)))
        tb, ts = sum(base.values()), sum(scaled.values())
        print(f"| **total** | {tb:.1f} | {ts:.1f} | {ts / tb:.2f}x |")
        if flagged:
            print("\nsuper-linear (> copies+1):", flagged)
        return

    registry = load_all_modules()
    spark = _session()
    build_sec = make_scaled_fixture(spark, base_sf, scaled_src, copies)
    if build_sec:
        print(f"scaled fixture build: {build_sec}s ({copies}x of {base_sf})")
    if not os.path.exists(base_json):
        staged, *_ = bench.prepare(spark, base_sf, cache_root)
        res = run_suite(spark, registry, staged, base_json + ".partial")
        os.replace(base_json + ".partial", base_json)
        print(f"base suite done: {sum(res.values()):.1f}s -> {base_json}")
    else:
        staged, *_ = bench.prepare(spark, scaled_src, cache_root)
        res = run_suite(spark, registry, staged, scaled_json + ".partial")
        os.replace(scaled_json + ".partial", scaled_json)
        print(f"scaled suite done: {sum(res.values()):.1f}s -> {scaled_json}")
    spark.stop()


if __name__ == "__main__":
    main()
