"""Vector similarity-search queries over ``embeddings``.

The embedding column maps the reference's VECTOR type
(``pixels-core/.../TypeDescription.java:218``, ``VectorColumnVector.java``).
Built on ``pixels_spark.functions.vector``; dot/cosine fold left→right over
the array in both engines (Spark F.aggregate ≡ DuckDB list_sum∘list_transform),
so similarity values are bit-identical and the oracle can compare exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, table_path
from ..functions import dedup as D
from ..functions import vector as V
from .registry import declare

# DuckDB ordered fold dot product matching F.aggregate(zip_with(...)) exactly
_SQL_DOT = (
    "list_sum(list_transform(range(1, len({a})+1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
)


def _sql_cos(a: str, b: str) -> str:
    return (
        f"{_SQL_DOT.format(a=a, b=b)} / "
        f"(sqrt({_SQL_DOT.format(a=a, b=a)}) * sqrt({_SQL_DOT.format(a=b, b=b)}))"
    )


def _sql_l2(a: str, b: str, d: int) -> str:
    """Ordered-fold squared L2 over the first ``d`` dims — bit-identical
    to ``F.aggregate(zip_with((x-y)*(x-y)), 0.0, acc+x)``."""
    diff = f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    return (
        f"list_sum(list_transform(range(1, {d + 1}), i -> {diff} * {diff}))"
    )


# ---------------------------------------------------------------------------
# Oracle CTE builders for the trained-index probe family. Training itself
# is replayed in SQL: init is deterministic (lowest-id vectors), every
# Lloyd mean is DECIMAL(18,9)-quantized before summing (order-independent
# — see functions.vector.stable_mean), and every similarity/distance is an
# ordered fold, so centroids, codebooks, assignments, and ADC scores are
# all bit-identical between the Spark trainers and these CTEs.


def _lloyd_cte(rounds: int = 2, n_cells: int = 8, src: str = "embeddings") -> str:
    """CTEs computing IVF centroids after ``rounds`` Lloyd iterations:
    c0 (init = lowest-id vectors) … c{rounds}(cell_id, cvec). ``src`` is
    the TRAINING relation (a subquery string for subset-trained indexes,
    e.g. the incremental-append lifecycle)."""
    parts = [
        f"""c0 AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT * FROM {src} ORDER BY vec_id LIMIT {n_cells}))"""
    ]
    for r in range(1, rounds + 1):
        cos = _sql_cos("e.embedding", "c.cvec")
        parts.append(
            f"""a{r} AS (
      SELECT vec_id, embedding, cell_id FROM (
        SELECT e.vec_id, e.embedding, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {cos} DESC, c.cell_id) AS rn
        FROM {src} e CROSS JOIN c{r - 1} c) t WHERE rn = 1)"""
        )
        parts.append(
            f"""m{r} AS (
      SELECT cell_id, pos,
             CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
               / count(*) AS mv
      FROM (SELECT cell_id, CAST(u['p'] AS INTEGER) AS pos, u['v'] AS v
            FROM (SELECT cell_id,
                         unnest(list_transform(range(1, len(embedding)+1),
                           i -> struct_pack(p := i-1, v := embedding[i]))) AS u
                  FROM a{r}) x) y
      GROUP BY cell_id, pos)"""
        )
        parts.append(
            f"""c{r} AS (
      SELECT p.cell_id, coalesce(n.cvec, p.cvec) AS cvec
      FROM c{r - 1} p LEFT JOIN (
        SELECT cell_id, list(mv ORDER BY pos) AS cvec
        FROM m{r} GROUP BY cell_id) n ON p.cell_id = n.cell_id)"""
        )
    return ",\n    ".join(parts)


def _ivf_cands_cte(
    rounds: int = 2, n_assign: int = 2, n_probe: int = 2, qid: int = 7
) -> str:
    """CTEs q / asg / probe / cands: spill assignment to the final
    centroids, query-side cell ranking, candidate vec_ids (deduped)."""
    R = rounds
    return f"""q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
    asg AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_sql_cos("e.embedding", "c.cvec")} DESC, c.cell_id) AS rn
        FROM embeddings e CROSS JOIN c{R} c) t WHERE rn <= {n_assign}),
    probe AS (
      SELECT cell_id FROM (
        SELECT c.cell_id,
               row_number() OVER (
                 ORDER BY {_sql_cos("c.cvec", "qv")} DESC, c.cell_id) AS rn
        FROM c{R} c CROSS JOIN q) t WHERE rn <= {n_probe}),
    cands AS (SELECT DISTINCT a.vec_id
              FROM asg a JOIN probe p ON a.cell_id = p.cell_id)"""


def _ivf_probe_oracle() -> str:
    """Full IVF-probe oracle: exact cosine top-10 within the probed cells'
    (spill-assigned, deduplicated) candidates."""
    return f"""
    WITH {_lloyd_cte(2, 8)},
    {_ivf_cands_cte(2, 2, 2, 7)}
    SELECT vec_id, sim FROM (
      SELECT e.vec_id, {_sql_cos("e.embedding", "qv")} AS sim
      FROM embeddings e JOIN cands USING (vec_id) CROSS JOIN q) t
    ORDER BY sim DESC, vec_id LIMIT 10
    """


def _pq_cte(rounds: int = 2, m: int = 16, k: int = 32, d_sub: int = 4) -> str:
    """CTEs training PQ codebooks: subsp / spts (per-subspace views) /
    cb0 (init = k lowest-id subvectors) … cb{rounds}(sub, code, cv)."""
    l2 = _sql_l2("p.sv", "c.cv", d_sub)
    parts = [
        f"""subsp AS (SELECT unnest(range(0, {m})) AS sub),
    spts AS (
      SELECT e.vec_id, s.sub,
             list_transform(range(1, {d_sub + 1}),
               i -> CAST(e.embedding[s.sub*{d_sub} + i] AS DOUBLE)) AS sv
      FROM embeddings e CROSS JOIN subsp s),
    cb0 AS (
      SELECT sub, row_number() OVER (PARTITION BY sub ORDER BY vec_id) - 1 AS code,
             sv AS cv
      FROM spts
      QUALIFY row_number() OVER (PARTITION BY sub ORDER BY vec_id) <= {k})"""
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""pa{r} AS (
      SELECT sub, vec_id, sv, code FROM (
        SELECT p.sub, p.vec_id, p.sv, c.code,
               row_number() OVER (PARTITION BY p.sub, p.vec_id
                 ORDER BY {l2}, c.code) AS rn
        FROM spts p JOIN cb{r - 1} c ON p.sub = c.sub) t WHERE rn = 1)"""
        )
        parts.append(
            f"""pm{r} AS (
      SELECT sub, code, pos,
             CAST(sum(CAST(v AS DECIMAL(18,9))) AS DOUBLE) / count(*) AS mv
      FROM (SELECT sub, code, CAST(u['p'] AS INTEGER) AS pos, u['v'] AS v
            FROM (SELECT sub, code,
                         unnest(list_transform(range(1, {d_sub + 1}),
                           i -> struct_pack(p := i-1, v := sv[i]))) AS u
                  FROM pa{r}) x) y
      GROUP BY sub, code, pos)"""
        )
        parts.append(
            f"""cb{r} AS (
      SELECT c.sub, c.code, coalesce(n.cv, c.cv) AS cv
      FROM cb{r - 1} c LEFT JOIN (
        SELECT sub, code, list(mv ORDER BY pos) AS cv
        FROM pm{r} GROUP BY sub, code) n
        ON c.sub = n.sub AND c.code = n.code)"""
        )
    return ",\n    ".join(parts)


def _adc_cte(
    rounds: int = 2, d_sub: int = 4, qid: int = 7, with_q: bool = True
) -> str:
    """CTEs q / qs / enc / lut / qn: encode the corpus against the final
    codebooks and precompute the query's per-(sub, code) partial dot +
    codeword squared norm — the ADC lookup tables ``pq_knn`` ships as
    literals, here as a k×m relation. ``with_q=False`` when a ``q`` CTE
    is already in scope (the IVF candidate CTEs define the same one)."""
    R = rounds
    l2 = _sql_l2("p.sv", "c.cv", d_sub)
    q_cte = (
        f"q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),\n    "
        if with_q
        else ""
    )
    return f"""{q_cte}qs AS (SELECT s.sub,
                  list_transform(range(1, {d_sub + 1}),
                    i -> CAST(q.qv[s.sub*{d_sub} + i] AS DOUBLE)) AS qsv
           FROM q CROSS JOIN subsp s),
    enc AS (
      SELECT sub, vec_id, code FROM (
        SELECT p.sub, p.vec_id, c.code,
               row_number() OVER (PARTITION BY p.sub, p.vec_id
                 ORDER BY {l2}, c.code) AS rn
        FROM spts p JOIN cb{R} c ON p.sub = c.sub) t WHERE rn = 1),
    lut AS (
      SELECT c.sub, c.code,
             {_SQL_DOT.format(a="s.qsv", b="c.cv")} AS pdot,
             {_SQL_DOT.format(a="c.cv", b="c.cv")} AS pn2
      FROM cb{R} c JOIN qs s ON c.sub = s.sub),
    qn AS (SELECT sqrt({_SQL_DOT.format(a="qv", b="qv")}) AS qnorm FROM q)"""


_ADC_SCORE = """vsc AS (
      SELECT e.vec_id,
             list_sum(list(l.pdot ORDER BY l.sub)) AS d,
             list_sum(list(l.pn2 ORDER BY l.sub)) AS n2
      FROM enc e JOIN lut l ON e.sub = l.sub AND e.code = l.code{cand_join}
      GROUP BY e.vec_id)
    SELECT vec_id, d / (sqrt(n2) * qnorm) AS sim
    FROM vsc CROSS JOIN qn
    ORDER BY sim DESC, vec_id LIMIT 10
    """


def _pq_probe_oracle() -> str:
    return f"""
    WITH {_pq_cte(2, 16, 32, 4)},
    {_adc_cte(2, 4, 7)},
    {_ADC_SCORE.format(cand_join="")}"""


def _ivfpq_probe_oracle() -> str:
    """IVF+PQ: candidate set from the (shared-centroid) IVF spill
    assignment ∩ probed cells, scored by ADC against the shared PQ
    codebooks — exactly what the partitioned code index serves."""
    cand = "\n      JOIN cands ON e.vec_id = cands.vec_id"
    return f"""
    WITH {_lloyd_cte(2, 8)},
    {_pq_cte(2, 16, 32, 4)},
    {_ivf_cands_cte(2, 2, 2, 7)},
    {_adc_cte(2, 4, 7, with_q=False)},
    {_ADC_SCORE.format(cand_join=cand)}"""


@declare(
    "vec_norms",
    sql=f"""
    SELECT vec_id, label,
           sqrt({_SQL_DOT.format(a="embedding", b="embedding")}) AS l2_norm,
           {_SQL_DOT.format(a="embedding", b="embedding")} AS self_dot
    FROM embeddings
    ORDER BY vec_id
    """,
    tags=("vector",),
)
def vec_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """per-vector norms / self-dot (vector round-trip ≈ VectorColumnVector IO)."""
    e = load_table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        V.l2_norm(F.col("embedding")).alias("l2_norm"),
        V.dot(F.col("embedding"), F.col("embedding")).alias("self_dot"),
    ).orderBy("vec_id")


@declare(
    "vec_knn",
    sql=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7)
    SELECT vec_id, {_sql_cos("embedding", "qv")} AS sim
    FROM embeddings, q
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
    tags=("vector", "topk", "knn"),
)
def vec_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """brute-force cosine top-k against a fixed query vector (exact ANN baseline)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    return V.knn_brute_force(e, "embedding", "vec_id", q, k=10)


# auto-sizing for near-dup cell blocking: n_cells = ceil(sqrt(corpus)/2).
# BOTH legs of the operator scale with k: the pair leg is
# n·occupancy = n²/k (bigger k → fewer candidates) while the
# broadcast-centroid ASSIGNMENT leg is n·k dot products (bigger k → more
# assignment work — the r9 25× probe measured the first occupancy-constant
# rule, k = n/64, at 31.9×: assignment alone was n²/64). k ∝ √n balances
# them at O(n^1.5) total — measured ~4.7× wall at 25× data (SCALE.md r9).
# Clamped to 4096 cells; past that scale plug a sub-linear assigner
# (hierarchical coarse quantizer / ANN assignment) — the standard IVF
# build path at 100 TB. Fixture sizes: 500 rows → 12 cells, 2000 → 23,
# 25× probe (50k) → 112.
_NEAR_DUP_MAX_CELLS = 4096

# labeled assignment CTEs with AUTO-SIZED k: same deterministic kernel as
# _ASSIGN_CTES (k lowest-id seeds, bit-identical cosine argmax, ties ->
# lowest cell) but the seed-prefix length is computed from the corpus row
# count instead of a literal, mirroring the Spark side's driver-side count.
# sqrt of a BIGINT and /2 are exact IEEE ops — identical in both engines.
_ASSIGN_LBL_AUTO_CTES = f"""sized AS (
      SELECT vec_id, label, embedding,
             row_number() OVER (ORDER BY vec_id) AS seed_rn,
             count(*) OVER () AS n_corpus
      FROM embeddings),
    init AS (
      SELECT seed_rn - 1 AS cell_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM sized
      WHERE seed_rn <= greatest(1, least({_NEAR_DUP_MAX_CELLS},
            CAST(ceil(sqrt(CAST(n_corpus AS DOUBLE)) / 2.0) AS INTEGER)))),
    sims AS (
      SELECT e.vec_id, e.label, e.embedding, i.cell_id,
             {{dot_eb}} /
             (sqrt({{dot_ee}}) * sqrt({{dot_bb}})) AS sim
      FROM embeddings e CROSS JOIN init i),
    assigned AS (
      SELECT vec_id, label, embedding, cell_id
      FROM (SELECT vec_id, label, embedding, cell_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cell_id ASC) AS rn
            FROM sims)
      WHERE rn = 1)"""


@declare(
    "vec_near_dup",
    sql=f"""
    WITH {_ASSIGN_LBL_AUTO_CTES.format(
        dot_eb=_SQL_DOT.format(a="e.embedding", b="i.cvec"),
        dot_ee=_SQL_DOT.format(a="e.embedding", b="e.embedding"),
        dot_bb=_SQL_DOT.format(a="i.cvec", b="i.cvec"),
    )}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_sql_cos("a.embedding", "b.embedding")} AS sim
    FROM assigned a JOIN assigned b
      ON a.label = b.label AND a.cell_id = b.cell_id AND a.vec_id < b.vec_id
    WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.4
    ORDER BY id_a, id_b
    """,
    tags=("vector", "dedup", "join", "clustering"),
)
def vec_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, blocked on (label x auto-sized
    deterministic k-means cell) — the CANONICAL near-dup query, declared
    on the scale-safe kernel (VERDICT r8 task #1; formerly
    ``vec_near_dup_cells``, now promoted with auto-sizing).

    n_cells = clamp(ceil(sqrt(corpus_rows)/2), 1, 4096) — k ∝ √n
    balances the two legs that BOTH scale with k (pair candidates
    n²/k vs broadcast-assignment n·k) at O(n^1.5) total. Measured
    (SCALE.md §25x, r9): this rule ~4.7x wall at 25x data, vs 31.9x for
    the occupancy-constant rule k = n/64 (assignment became n²/64) and
    157x for label-only blocking. The driver-side count() is the
    model-sizing step (parquet-metadata cheap), and the SQL oracle
    restates the same rule via a rank prefix (sqrt + /2 are exact IEEE
    in both engines), so the whole pair set hash-matches the replay.

    The cell assignment (lowest-id Lloyd seeds + bit-identical cosine
    argmax, ties -> lowest cell — the vec_kmeans_round kernel) is exactly
    oracle-replayable. Near-threshold pairs split across a cell boundary
    are the recall trade every IVF-blocked dedup makes; the exact
    label-only reference twin is ``vec_near_dup_exact``."""
    import math

    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    n_cells = max(
        1, min(_NEAR_DUP_MAX_CELLS, math.ceil(math.sqrt(float(n)) / 2.0))
    )
    init = V.make_centroids(e, "embedding", "vec_id", n_cells=n_cells, iterations=0)
    assigned = V.ivf_assign(
        e.select("vec_id", "label", "embedding"), "embedding", init, id_col="vec_id"
    )
    return D.embedding_near_dup_pairs(
        assigned,
        "vec_id",
        "embedding",
        partition_col=["label", "ivf_cell"],
        threshold=0.4,
    ).orderBy("id_a", "id_b")


@declare(
    "vec_near_dup_exact",
    sql=f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           {_sql_cos("a.embedding", "b.embedding")} AS sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {_sql_cos("a.embedding", "b.embedding")} >= 0.4
    ORDER BY id_a, id_b
    """,
    tags=("vector", "dedup", "join"),
)
def vec_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-within-label near-dup pairs — the documented REFERENCE TWIN
    of ``vec_near_dup`` (full recall within each label, no cell-boundary
    misses), kept for parity audits the way ``vec_hybrid_rrf`` keeps the
    full-rank form next to ``vec_hybrid_rrf_topn``.

    Contract note (measured, SCALE.md 25x): exact-within-block is
    QUADRATIC in block size by construction — with a fixed-cardinality
    blocking column the candidate volume grows as (corpus/blocks)², and
    the 25x probe measured 157x wall. Do not run this form at corpus
    scale; ``vec_near_dup`` (auto-sized cell blocking) is the scale path."""
    e = load_table(spark, sf_dir, "embeddings")
    return D.embedding_near_dup_pairs(
        e, "vec_id", "embedding", partition_col="label", threshold=0.4
    ).orderBy("id_a", "id_b")


@declare(
    "vec_label_centroids",
    sql="""
    SELECT label, dim,
           CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE) / count(*)
               AS mean_v
    FROM (SELECT label, CAST(u['dim'] AS INTEGER) AS dim,
                 CAST(u['v'] AS FLOAT) AS v
          FROM (SELECT label,
                       unnest(list_transform(range(1, len(embedding)+1),
                         i -> struct_pack(dim := i-1, v := embedding[i]))) AS u
                FROM embeddings))
    GROUP BY label, dim
    HAVING dim < 8
    ORDER BY label, dim
    """,
    tags=("vector", "aggregation"),
)
def vec_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mean vector (centroid) per label — F.zip_with-free aggregation via
    posexplode + group, the scalable layout for long vectors (oracle).
    """
    e = load_table(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("label", "dim")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_v")
        )
        .filter(F.col("dim") < 8)
        .orderBy("label", "dim")
    )


def _lsh_sql(dim: int = 64, n_planes: int = 8, seed: int = 42,
             threshold: float = 0.3) -> str:
    """Full oracle for the LSH bucket join: the seeded hyperplanes are
    deterministic driver-side constants, so they inline into DuckDB SQL as
    float literals; the dot fold is the same left-to-right sequence proven
    bit-identical by vec_knn/vec_norms, so sign bits — and therefore
    buckets, candidate pairs, and the sim threshold — match exactly."""
    from ..functions.vector import _hyperplanes

    planes = _hyperplanes(dim, n_planes, seed)

    def dot_plane(p) -> str:
        lst = "[" + ",".join(repr(float(v)) for v in p) + "]"
        return (
            f"list_sum(list_transform(range(1, {dim + 1}), "
            f"j -> CAST(embedding[j] AS DOUBLE) * ({lst})[j]))"
        )

    bucket = " + ".join(
        f"(CASE WHEN {dot_plane(planes[i])} >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(n_planes)
    )
    return f"""
    WITH b AS (
      SELECT vec_id, embedding, {bucket} AS bucket FROM embeddings
    ), pairs AS (
      SELECT a.vec_id AS id_a, c.vec_id AS id_b,
             {_sql_cos("a.embedding", "c.embedding")} AS sim
      FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id < c.vec_id
    )
    SELECT id_a, id_b, sim FROM pairs
    WHERE sim >= {threshold}
    ORDER BY id_a, id_b
    """


@declare("vec_lsh_pairs", sql=_lsh_sql(), tags=("vector", "lsh"))
def vec_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed candidate pairs — the scale path for near-dup. Fully oracled:
    seeded hyperplanes inline into the SQL as literals (see _lsh_sql); recall
    additionally property-tested in tests/test_vector.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    return (
        V.lsh_candidate_pairs(e, "embedding", "vec_id", dim=64, n_planes=8)
        .filter(F.col("sim") >= 0.3)
        .orderBy("id_a", "id_b")
    )


# int8-quantized kNN — the memory-bound serving path (4× smaller corpus
# footprint). Fully oracled: the floor-based symmetric quantization and the
# dequantized cosine fold are restated in DuckDB exactly (floor(x/s + 0.5)
# is engine-identical where round() is not).
_SQL_DEQ = (
    "list_transform({v}, x -> CAST(CASE WHEN sc = 0 THEN 0 "
    "ELSE floor(CAST(x AS DOUBLE) / sc + 0.5) END AS INTEGER) * sc)"
)


@declare(
    "vec_knn_int8",
    sql=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    z AS (
      SELECT vec_id,
             {_SQL_DEQ.format(v="embedding")} AS deq
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
            FROM embeddings)
    )
    SELECT vec_id, {_sql_cos("deq", "qv")} AS sim
    FROM z, q
    ORDER BY sim DESC, vec_id
    LIMIT 10
    """,
    tags=("vector", "topk", "knn", "quantization"),
)
def vec_knn_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 cosine kNN over int8-quantized embeddings (4x memory serving
    path), floor quantization engine-identical to the oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    return V.knn_int8(e, "embedding", "vec_id", q, k=10)


@declare(
    "vec_knn_pq",
    sql=_pq_probe_oracle(),
    tags=("vector", "topk", "knn", "quantization", "pq"),
)
def vec_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 approximate cosine kNN over PRODUCT-QUANTIZED embeddings —
    16 codebook codes per 64-dim vector (16x memory vs float32), scored by
    Asymmetric Distance Computation: two literal-LUT folds per row, never
    touching a float vector. EXACTLY oracled: codebook training replays in
    SQL (deterministic init + decimal-stable Lloyd means + ordered folds),
    so every code and ADC score is bit-identical; ADC==reconstructed-cosine
    identity and recall pinned in tests/test_vector.py."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "embeddings")
    books = V.pq_codebooks(e, "embedding", "vec_id", m=16, k=32)
    enc = V.pq_encode(e, "embedding", "vec_id", books)
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 7).first()["embedding"]]
    return V.pq_knn(enc, "vec_id", books, qvec, k=10)


@declare("vec_ivf_knn", sql=_ivf_probe_oracle(), tags=("vector", "ivf", "knn"))
def vec_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF assign + probe — ANN with k-means (Lloyd) centroids, top-2 spill
    assignment, broadcast probe. EXACTLY oracled: the 2 Lloyd rounds replay
    in SQL (deterministic init, decimal-stable means), assignment/probe
    ranking and the within-cell exact cosine are ordered folds with
    deterministic tiebreaks. Recall additionally property-tested >= 0.9 at
    n_probe=4 in tests/test_vector.py.
    """
    e = load_table(spark, sf_dir, "embeddings")
    cents = V.make_centroids(e, "embedding", "vec_id", n_cells=8, iterations=2)
    assigned = V.ivf_assign(e, "embedding", cents, id_col="vec_id", n_assign=2)
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    return V.ivf_probe(assigned, "embedding", "vec_id", q, cents, k=10, n_probe=2)


def ensure_ivf_index(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 8,
    iterations: int = 2,
    n_assign: int = 2,
    cache_root: str | None = None,
) -> tuple[str, str]:
    """Build-once IVF index (cell-partitioned corpus + centroid table) for
    the ``embeddings`` table of ``sf_dir``; return (index_path, cents_path).

    This is the amortized lifecycle a real ANN deployment runs: train
    k-means and materialize the partitioned layout ONCE (a write job, like
    LOAD), then serve every query from ``ivf_probe_index`` whose scan is
    partition-pruned to the probed cells. The build-once/fingerprint-key/
    atomic-rename mechanics live in ``storage.derived.ensure_derived``
    (shared with the PQ, money/ev_struct and rec_model builds), so a
    ``None`` ``cache_root`` falls back to ``PIXELS_SPARK_DERIVED_CACHE``
    like theirs (the bench pins it so its prebuild and the timed probe
    share a key).
    """
    import os

    from ..storage.derived import ensure_derived

    def build(sp, tmp):
        e = load_table(sp, sf_dir, "embeddings")
        cents = V.make_centroids(
            e, "embedding", "vec_id", n_cells=n_cells, iterations=iterations
        )
        assigned = V.ivf_assign(
            e, "embedding", cents, id_col="vec_id", n_assign=n_assign
        )
        V.write_ivf_index(assigned, os.path.join(tmp, "index"))
        cents.write.mode("overwrite").parquet(os.path.join(tmp, "centroids.parquet"))

    dest = ensure_derived(
        spark,
        sf_dir,
        name="ivf",
        source_paths=[table_path(sf_dir, "embeddings")],
        build=build,
        params=f"c{n_cells}_i{iterations}_a{n_assign}_v2",
        cache_root=cache_root,
    )
    return os.path.join(dest, "index"), os.path.join(dest, "centroids.parquet")


def ensure_pq_index(spark: SparkSession, sf_dir: str, m: int = 16, k: int = 32):
    """Build-once PQ index for the embeddings table: codebooks (JSON) +
    the encoded corpus (parquet, one codes array per id). Same build-once
    fingerprint-keyed lifecycle as the IVF index (storage/derived.py);
    returns (books, encoded_path)."""
    import json
    import os

    from ..storage.derived import ensure_derived

    def build(sp, tmp):
        e = load_table(sp, sf_dir, "embeddings")
        books = V.pq_codebooks(e, "embedding", "vec_id", m=m, k=k)
        with open(os.path.join(tmp, "codebooks.json"), "w") as f:
            json.dump(books, f)
        V.pq_encode(e, "embedding", "vec_id", books).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "encoded.parquet"))

    dest = ensure_derived(
        spark,
        sf_dir,
        name="pq",
        source_paths=[table_path(sf_dir, "embeddings")],
        build=build,
        params=f"m{m}_k{k}_v3",
    )
    with open(os.path.join(dest, "codebooks.json")) as f:
        books = json.load(f)
    return books, os.path.join(dest, "encoded.parquet")


@declare("vec_pq_probe", sql=_pq_probe_oracle(), tags=("vector", "topk", "knn", "pq"))
def vec_pq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC probe against the PREBUILT PQ index — the per-query serving
    path: read the encoded (16x smaller) corpus, fold two literal LUTs,
    top-10. Codebook training is amortized like the IVF build. EXACTLY
    oracled (training replayed in SQL — decimal-stable means make the
    codebooks order-independent, hence engine-reproducible); consistency
    and recall additionally pinned in tests/test_vector.py."""
    from pyspark.sql import functions as F

    books, enc_path = ensure_pq_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 7).first()["embedding"]]
    return V.pq_knn(spark.read.parquet(enc_path), "vec_id", books, qvec, k=10)


def ensure_ivfpq_index(
    spark: SparkSession,
    sf_dir: str,
    n_cells: int = 8,
    n_assign: int = 2,
    m: int = 16,
    k: int = 32,
):
    """Build-once IVF+PQ index — the full ANN serving stack (FAISS-IVFPQ
    shape): the corpus is cell-partitioned (partition pruning bounds the
    scan to probed cells) AND stored as PQ codes (16x smaller than the
    float vectors the plain IVF index keeps). Returns
    (books, cents_path, index_path)."""
    import json
    import os

    from ..storage.derived import ensure_derived

    # reuse the plain PQ index (codebooks + encoded corpus): training and
    # encoding are shared work, and keeping ONE codebook set per fixture
    # means PQ and IVF+PQ serve identical scores for the same candidates
    books, enc_path = ensure_pq_index(spark, sf_dir, m=m, k=k)

    def build(sp, tmp):
        e = load_table(sp, sf_dir, "embeddings")
        cents = V.make_centroids(e, "embedding", "vec_id", n_cells=n_cells, iterations=2)
        assigned = V.ivf_assign(e, "embedding", cents, id_col="vec_id", n_assign=n_assign)
        codes = sp.read.parquet(enc_path)
        # the stored index carries ONLY (vec_id, codes, ivf_cell) — no floats
        enc = assigned.select("vec_id", "ivf_cell").join(codes, "vec_id")
        enc.write.mode("overwrite").partitionBy("ivf_cell").parquet(
            os.path.join(tmp, "index")
        )
        cents.write.mode("overwrite").parquet(os.path.join(tmp, "centroids.parquet"))
        with open(os.path.join(tmp, "codebooks.json"), "w") as f:
            json.dump(books, f)

    dest = ensure_derived(
        spark,
        sf_dir,
        name="ivfpq",
        source_paths=[table_path(sf_dir, "embeddings")],
        build=build,
        params=f"c{n_cells}_a{n_assign}_m{m}_k{k}_v3",
    )
    with open(os.path.join(dest, "codebooks.json")) as f:
        books = json.load(f)
    return books, os.path.join(dest, "centroids.parquet"), os.path.join(dest, "index")


@declare("vec_ivfpq_probe", sql=_ivfpq_probe_oracle(), tags=("vector", "ivf", "pq", "knn"))
def vec_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ probe: rank centroids driver-side (O(n_cells)), scan ONLY the
    probed cells' directories (static partition filter), deduplicate spill
    copies, ADC-score the codes — the scan is bounded by n_probe x cell
    size AND reads 16x fewer bytes than float vectors. EXACTLY oracled:
    shared centroids + codebooks replay in SQL; candidate set (spill
    assignment ∩ probed cells) and ADC scores are bit-identical.
    Probed-subset equivalence + pruning asserted in tests/test_vector.py."""
    from pyspark.sql import functions as F

    books, cents_path, idx_path = ensure_ivfpq_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 7).first()["embedding"]]
    probed = probed_cells(spark, cents_path, qvec, n_probe=2)
    enc = (
        spark.read.parquet(idx_path)
        .filter(F.col("ivf_cell").isin(probed))
        .groupBy("vec_id")
        .agg(F.first("codes").alias("codes"))
    )
    return V.pq_knn(enc, "vec_id", books, qvec, k=10)


def rank_cells(cent_rows: list, qvec: list, n_probe: int) -> list:
    """Top-``n_probe`` cell ids by centroid cosine vs the query, over
    already-collected centroid rows — the O(n_cells) driver-side index
    lookup every ANN serving path performs. Split out so callers that
    need the centroid rows for other subtrees collect them ONCE."""
    import math

    qn = math.sqrt(sum(x * x for x in qvec))
    ranked = []
    for r in cent_rows:
        c = list(r["cell_vec"])
        cn = math.sqrt(sum(x * x for x in c))
        sim = sum(a * b for a, b in zip(qvec, c)) / (qn * cn) if cn and qn else -1.0
        ranked.append((sim, r["cell_id"]))
    ranked.sort(key=lambda t: (-t[0], t[1]))
    return [cid for _s, cid in ranked[:n_probe]]


def probed_cells(spark: SparkSession, cents_path: str, qvec: list, n_probe: int) -> list:
    return rank_cells(spark.read.parquet(cents_path).collect(), qvec, n_probe)


@declare("vec_ivf_probe", sql=_ivf_probe_oracle(), tags=("vector", "ivf", "knn"))
def vec_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF probe against a prebuilt partitioned index — the per-query serving path
    (what users actually run after write_ivf_index; build cost is paid once,
    amortized across queries). The scan is partition-pruned to the probed cells
    (plan-asserted in tests). EXACTLY oracled: the trained centroids are
    order-independent (decimal-stable Lloyd means), so the oracle recomputes
    them in SQL and replays assignment, cell ranking, and the within-cell
    exact cosine bit-identically. Top-k vs brute force within probed cells
    additionally tested in tests/test_vector.py.
    """
    idx_path, cents_path = ensure_ivf_index(spark, sf_dir)
    cents = spark.read.parquet(cents_path)
    e = load_table(spark, sf_dir, "embeddings")
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    return V.ivf_probe_index(
        spark, idx_path, "embedding", "vec_id", q, cents, k=10, n_probe=2
    )


# NDCG@10 discount table: 1/log2(i+1) precomputed to 12 decimals and
# embedded as DECIMAL literals in BOTH engines — no runtime log2, so the
# whole metric is exact decimal arithmetic + one final division (log2
# library rounding is not guaranteed identical across engines).
_NDCG_DISCOUNTS = {
    1: "1.000000000000", 2: "0.630929753571", 3: "0.500000000000",
    4: "0.430676558073", 5: "0.386852807235", 6: "0.356207187108",
    7: "0.333333333333", 8: "0.315464876786", 9: "0.301029995664",
    10: "0.289064826318",
}
_NDCG_IDCG = "29.966109248936"  # sum((11-i) * d_i), exact decimal
_NDCG_DISC_CASE = "CASE i " + " ".join(
    f"WHEN {i} THEN CAST('{d}' AS DECIMAL(14,12))"
    for i, d in _NDCG_DISCOUNTS.items()
) + " END"


@declare(
    "eval_ndcg_ann",
    sql=f"""
    WITH {{LLOYD}},
    {{CANDS}},
    ann AS (
      SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS i
      FROM (SELECT e.vec_id, {_sql_cos("e.embedding", "qv")} AS sim
            FROM embeddings e JOIN cands USING (vec_id) CROSS JOIN q
            ORDER BY sim DESC, vec_id LIMIT 10) t),
    ex AS (
      SELECT vec_id, r FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY {_sql_cos("e.embedding", "qv")} DESC, e.vec_id) AS r
        FROM embeddings e CROSS JOIN q) t WHERE r <= 10),
    terms AS (
      SELECT a.i, coalesce(11 - x.r, 0) AS rel,
             {_NDCG_DISC_CASE} AS disc
      FROM ann a LEFT JOIN ex x USING (vec_id))
    SELECT CAST(7 AS BIGINT) AS qid,
           CAST(sum(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
           CAST(CAST(sum(rel * disc) AS DECIMAL(24,12)) AS DOUBLE) AS dcg,
           CAST('{_NDCG_IDCG}' AS DOUBLE) AS idcg,
           CAST(CAST(sum(rel * disc) AS DECIMAL(24,12)) AS DOUBLE)
             / CAST('{_NDCG_IDCG}' AS DOUBLE) AS ndcg
    FROM terms
    """.replace("{LLOYD}", _lloyd_cte(2, 8)).replace(
        "{CANDS}", _ivf_cands_cte(2, 2, 2, 7)
    ),
    tags=("eval", "ndcg", "vector", "ann", "beyond-parity"),
)
def eval_ndcg_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality report: NDCG@10 of the IVF probe's ranking against the
    exact brute-force ranking for the same query — the vector-side twin
    of ``dedup_lsh_eval`` (how much ranking quality does cell pruning
    cost at this n_probe?). Relevance of the item at exact rank r is
    11−r (graded, 0 outside the exact top-10); discounts 1/log2(i+1)
    are PRECOMPUTED decimal literals shared verbatim by both engines, so
    DCG is exact decimal arithmetic (order-independent sum) and NDCG one
    IEEE division — no engine-dependent log2 rounding anywhere.

    Scale: the exact leg is knn_brute_force (map-side similarity +
    TakeOrderedAndProject, no corpus shuffle); the ANN leg is the
    partition-pruned index probe; ranks attach via windows over the two
    10-row result frames. Per-query cost is two bounded top-k jobs —
    the shape of an offline recall/NDCG sweep over a query sample."""
    from pyspark.sql import Window

    idx_path, cents_path = ensure_ivf_index(spark, sf_dir)
    cents = spark.read.parquet(cents_path)
    e = load_table(spark, sf_dir, "embeddings")
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    w10 = Window.orderBy(F.desc("sim"), "vec_id")
    ann = (
        V.ivf_probe_index(
            spark, idx_path, "embedding", "vec_id", q, cents, k=10, n_probe=2
        )
        .withColumn("i", F.row_number().over(w10))
        .select("vec_id", "i")
    )
    exact = (
        V.knn_brute_force(e, "embedding", "vec_id", q, k=10)
        .withColumn("r", F.row_number().over(w10))
        .select("vec_id", "r")
    )
    terms = ann.join(exact, "vec_id", "left").select(
        "i",
        F.coalesce(F.lit(11) - F.col("r"), F.lit(0)).alias("rel"),
        F.expr(_NDCG_DISC_CASE).alias("disc"),
    )
    dcg = F.sum(F.col("rel") * F.col("disc")).cast("decimal(24,12)")
    idcg = F.lit(_NDCG_IDCG).cast("double")
    return terms.agg(
        F.lit(7).cast("bigint").alias("qid"),
        F.sum(F.when(F.col("rel") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hits"),
        dcg.cast("double").alias("dcg"),
    ).select(
        "qid",
        "n_hits",
        "dcg",
        idcg.alias("idcg"),
        (F.col("dcg") / idcg).alias("ndcg"),
    )


_KMEANS_DOT = _SQL_DOT  # ordered fold — bit-identical to F.aggregate

# shared CTEs: deterministic init (k lowest-id vectors) + bit-identical
# cosine argmax assignment — the exactly-oracle-able clustering kernel
# (used by vec_kmeans_round and vec_semdedup)
_ASSIGN_CTES = f"""init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 8)),
    sims AS (
      SELECT e.vec_id, e.embedding, i.cell_id,
             {_KMEANS_DOT.format(a="e.embedding", b="i.cvec")} /
             (sqrt({_KMEANS_DOT.format(a="e.embedding", b="e.embedding")})
              * sqrt({_KMEANS_DOT.format(a="i.cvec", b="i.cvec")})) AS sim
      FROM embeddings e CROSS JOIN init i),
    assigned AS (
      SELECT vec_id, embedding, cell_id
      FROM (SELECT vec_id, embedding, cell_id,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY sim DESC, cell_id ASC) AS rn
            FROM sims)
      WHERE rn = 1)"""


@declare(
    "vec_kmeans_round",
    sql=f"""
    WITH {_ASSIGN_CTES},
    exploded AS (
      SELECT cell_id, CAST(u['dim'] AS INTEGER) AS dim, CAST(u['v'] AS FLOAT) AS v
      FROM (SELECT cell_id,
                   unnest(list_transform(range(1, len(embedding)+1),
                     i -> struct_pack(dim := i-1, v := embedding[i]))) AS u
            FROM assigned))
    SELECT CAST(cell_id AS BIGINT) AS cell_id, dim,
           CAST(count(*) AS BIGINT) AS n_assigned,
           CAST(sum(CAST(CAST(v AS DOUBLE) AS DECIMAL(18,9))) AS DOUBLE)
               / count(*) AS mean_v
    FROM exploded
    GROUP BY cell_id, dim
    HAVING dim < 4
    ORDER BY cell_id, dim
    """,
    tags=("vector", "clustering", "kmeans"),
)
def vec_kmeans_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """one EXACTLY-oracled distributed Lloyd round (document clustering for
    mixture balancing): deterministic init = 8 lowest-id vectors, cosine
    argmax assignment (ties → lowest cell), per-cell element-wise means
    decimal-quantized so the update step is order-independent; reports
    cell sizes + the first 4 centroid dims. The iterative production path
    is ``functions.vector.make_centroids`` (same assignment kernel)."""
    e = load_table(spark, sf_dir, "embeddings")
    init = V.make_centroids(e, "embedding", "vec_id", n_cells=8, iterations=0)
    assigned = V.ivf_assign(
        e.select("vec_id", "embedding"), "embedding", init, id_col="vec_id"
    )
    return (
        assigned.select("ivf_cell", F.posexplode("embedding").alias("dim", "v"))
        .groupBy("ivf_cell", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_assigned"),
            (
                F.sum(F.col("v").cast("double").cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1))
            ).alias("mean_v"),
        )
        .filter(F.col("dim") < 4)
        .select(
            F.col("ivf_cell").cast("bigint").alias("cell_id"),
            "dim",
            F.col("n_assigned").cast("bigint").alias("n_assigned"),
            "mean_v",
        )
        .orderBy("cell_id", "dim")
    )

@declare(
    "vec_semdedup",
    sql=f"""
    WITH {_ASSIGN_CTES},
    sup AS (
      SELECT DISTINCT b.vec_id
      FROM assigned a JOIN assigned b
        ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
       AND {_sql_cos("a.embedding", "b.embedding")} >= 0.4)
    SELECT a.vec_id, CAST(a.cell_id AS BIGINT) AS cell_id
    FROM assigned a LEFT JOIN sup s ON a.vec_id = s.vec_id
    WHERE s.vec_id IS NULL
    ORDER BY a.vec_id
    """,
    tags=("vector", "dedup", "clustering", "semdedup"),
)
def vec_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (semantic dedup, Abbas et al. 2023 shape): cluster the
    embedding corpus (deterministic k-means assignment — init = 8
    lowest-id vectors), then WITHIN each cluster drop every vector that
    has a lower-id neighbor at cosine >= 0.4; kept (vec_id, cell_id),
    exactly oracled (bit-identical cosine folds + deterministic
    centroids). The pair search is cluster-blocked — never all-pairs —
    which is what makes semantic dedup tractable at corpus scale."""
    e = load_table(spark, sf_dir, "embeddings")
    init = V.make_centroids(e, "embedding", "vec_id", n_cells=8, iterations=0)
    assigned = V.ivf_assign(
        e.select("vec_id", "embedding"), "embedding", init, id_col="vec_id"
    )
    pairs = D.embedding_near_dup_pairs(
        assigned, "vec_id", "embedding", partition_col="ivf_cell", threshold=0.4
    )
    suppressed = pairs.select(F.col("id_b").alias("vec_id")).distinct()
    return (
        assigned.join(suppressed, "vec_id", "left_anti")
        .select("vec_id", F.col("ivf_cell").cast("bigint").alias("cell_id"))
        .orderBy("vec_id")
    )


@declare(
    "vec_batch_knn",
    sql=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv
               FROM embeddings WHERE vec_id < 16),
    scored AS (
      SELECT q.q_id, e.vec_id, {_sql_cos("e.embedding", "qv")} AS sim
      FROM embeddings e CROSS JOIN q),
    ranked AS (
      SELECT q_id, vec_id, sim,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY sim DESC, vec_id) AS rnk
      FROM scored)
    SELECT q_id, CAST(rnk AS BIGINT) AS rank, vec_id, sim
    FROM ranked WHERE rnk <= 10
    ORDER BY q_id, rank
    """,
    tags=("vector", "topk", "knn", "batch"),
)
def vec_batch_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch retrieval: 16 query vectors against the corpus, exact top-10
    each, in ONE pass — two-phase per-partition top-k, so the exchange
    carries k rows per (query, partition) instead of corpus × |Q|. Sims
    fold identically to the single-query path (bit-exact oracle)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    return V.batch_knn(e, "embedding", "vec_id", q, k=10).orderBy("q_id", "rank")


@declare(
    "vec_hybrid_rrf",
    sql=f"""
    WITH qt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id = 7),
    dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents WHERE doc_id <> 7),
    kw AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS kw_overlap
           FROM dt d JOIN qt q ON d.w = q.w GROUP BY d.doc_id),
    kwr AS (SELECT b.doc_id, coalesce(k.kw_overlap, 0) AS kw_overlap,
                   row_number() OVER (
                     ORDER BY coalesce(k.kw_overlap, 0) DESC, b.doc_id
                   ) AS kw_rank
            FROM (SELECT doc_id FROM documents WHERE doc_id <> 7) b
            LEFT JOIN kw k ON k.doc_id = b.doc_id),
    qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7),
    vr0 AS (SELECT vec_id AS doc_id, {_sql_cos("embedding", "qvec")} AS sim
            FROM embeddings, qv WHERE vec_id <> 7),
    vr AS (SELECT doc_id, sim,
                  row_number() OVER (ORDER BY sim DESC, doc_id) AS vec_rank
           FROM vr0)
    SELECT k.doc_id AS doc_id, k.kw_overlap,
           CAST(k.kw_rank AS BIGINT) AS kw_rank,
           CAST(v.vec_rank AS BIGINT) AS vec_rank,
           CAST(1.0 / (60 + k.kw_rank) + 1.0 / (60 + v.vec_rank) AS DOUBLE)
             AS rrf
    FROM kwr k JOIN vr v ON v.doc_id = k.doc_id
    ORDER BY rrf DESC, k.doc_id
    LIMIT 10
    """,
    tags=("vector", "text", "search", "rrf", "beyond-parity"),
)
def vec_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval — keyword + vector ranks fused with Reciprocal
    Rank Fusion (rrf = Σ 1/(60+rank), the standard k=60 constant): the
    retrieval shape every RAG/search stack runs, keyword recall catching
    what the embedding misses and vice versa. Query = document 7 against
    the rest of the corpus (documents ⟷ embeddings share the id space).

    Keyword rank: distinct-token overlap with the query document
    (string_split ≡ F.split, the repo's pinned tokenization), zero-overlap
    docs ranked too (LEFT JOIN from the corpus). Vector rank: exact cosine
    (the pinned left-fold — bit-identical across engines). Ranks are
    integers, the fusion is exact rational arithmetic in double — fully
    oracle-able.

    Scale note: the fixture ranks the whole corpus (row_number over a
    global order — fine at test SF); at 100 TB each retriever contributes
    its top-N candidate list (bounded TakeOrdered, as vec_knn /
    vec_ivf_probe produce) and RRF fuses the ≤2N candidates — the fusion
    itself never touches corpus scale.
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    w_kw = Window.orderBy(F.col("kw_overlap").desc(), F.col("doc_id"))
    w_v = Window.orderBy(F.col("sim").desc(), F.col("doc_id"))

    q_toks = (
        d.filter(F.col("doc_id") == 7)
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
    )
    d_toks = (
        d.filter(F.col("doc_id") != 7)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
    )
    kw = (
        d_toks.join(F.broadcast(q_toks), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("kw_overlap"))
    )
    kwr = (
        d.filter(F.col("doc_id") != 7)
        .select("doc_id")
        .join(kw, "doc_id", "left_outer")
        .select(
            "doc_id", F.coalesce("kw_overlap", F.lit(0).cast("bigint")).alias("kw_overlap")
        )
        .withColumn("kw_rank", F.row_number().over(w_kw).cast("bigint"))
    )
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    q = q.select("_qvec", V.l2_norm(F.col("_qvec")).alias("_qnorm"))
    corpus = e.filter(F.col("vec_id") != 7).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding"),
        V.l2_norm(F.col("embedding")).alias("_vnorm"),
    )
    vr = (
        corpus.crossJoin(F.broadcast(q))
        .select(
            "doc_id",
            (
                V.dot(F.col("embedding"), F.col("_qvec"))
                / (F.col("_vnorm") * F.col("_qnorm"))
            ).alias("sim"),
        )
        .withColumn("vec_rank", F.row_number().over(w_v).cast("bigint"))
        .select("doc_id", "vec_rank")
    )
    return (
        kwr.join(vr, "doc_id")
        .select(
            "doc_id",
            "kw_overlap",
            "kw_rank",
            "vec_rank",
            (
                F.lit(1.0) / (F.lit(60) + F.col("kw_rank"))
                + F.lit(1.0) / (F.lit(60) + F.col("vec_rank"))
            )
            .cast("double")
            .alias("rrf"),
        )
        .orderBy(F.col("rrf").desc(), "doc_id")
        .limit(10)
    )


_TOPN = 200


@declare(
    "vec_hybrid_rrf_topn",
    sql=f"""
    WITH qt AS (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
                FROM documents WHERE doc_id = 7),
    dt AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents WHERE doc_id <> 7),
    kw AS (SELECT d.doc_id, CAST(count(*) AS BIGINT) AS kw_overlap
           FROM dt d JOIN qt q ON d.w = q.w GROUP BY d.doc_id),
    kwc AS (SELECT doc_id, rank_a FROM (
              SELECT doc_id,
                     row_number() OVER (ORDER BY kw_overlap DESC, doc_id)
                       AS rank_a
              FROM kw) t WHERE rank_a <= {_TOPN}),
    qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7),
    vc AS (SELECT doc_id, rank_b FROM (
             SELECT vec_id AS doc_id,
                    row_number() OVER (
                      ORDER BY {_sql_cos("embedding", "qvec")} DESC, vec_id)
                      AS rank_b
             FROM embeddings, qv WHERE vec_id <> 7) t WHERE rank_b <= {_TOPN})
    SELECT coalesce(k.doc_id, v.doc_id) AS doc_id,
           CAST(k.rank_a AS BIGINT) AS rank_a,
           CAST(v.rank_b AS BIGINT) AS rank_b,
           CAST(coalesce(1.0 / (60 + k.rank_a), 0.0)
                + coalesce(1.0 / (60 + v.rank_b), 0.0) AS DOUBLE) AS rrf
    FROM kwc k FULL JOIN vc v ON k.doc_id = v.doc_id
    ORDER BY rrf DESC, doc_id
    LIMIT 10
    """,
    tags=("vector", "text", "search", "rrf", "topk", "beyond-parity"),
)
def vec_hybrid_rrf_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PRODUCTION-shape hybrid retrieval: each retriever contributes a
    BOUNDED top-200 candidate list — keyword overlap (docs sharing ≥1
    query token, TakeOrdered) and exact-cosine kNN (TakeOrderedAndProject)
    — fused with ``functions.vector.rrf_fuse``. No corpus-wide rank
    anywhere: the plan has NO Window node (plan-asserted), ranks come from
    a sort of each ≤200-row candidate list collapsed to one row, and the
    fusion join touches ≤400 rows. ``vec_hybrid_rrf`` stays as the
    full-rank exactness reference; on the fixture the fused top-10 equals
    the full-rank top-10 (tests/test_vector.py cross-check). An id absent
    from one list contributes 0 for that list (standard candidate-list
    RRF), which is the only semantic difference from the full-rank form.
    """
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    q_toks = (
        d.filter(F.col("doc_id") == 7)
        .select(F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
    )
    d_toks = (
        d.filter(F.col("doc_id") != 7)
        .select("doc_id", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .distinct()
    )
    kw_cands = (
        d_toks.join(F.broadcast(q_toks), "w")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("score"))
        .orderBy(F.col("score").desc(), "doc_id")
        .limit(_TOPN)
    )
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    vec_cands = (
        V.knn_brute_force(
            e.filter(F.col("vec_id") != 7), "embedding", "vec_id", q, k=_TOPN
        )
        .select(F.col("vec_id").alias("doc_id"), F.col("sim").alias("score"))
    )
    return V.rrf_fuse(kw_cands, vec_cands, "doc_id", k=10)


_INCR_SPLIT = 400


def ensure_ivf_incr_index(spark: SparkSession, sf_dir: str):
    """Build-once INCREMENTAL IVF index: train + assign on the initial
    corpus slice (vec_id < 400), materialize the partitioned layout, then
    absorb the remaining vectors through ``ivf_append`` — the real
    serving lifecycle (train once, keep ingesting against frozen
    centroids). Returns (index_path, cents_path)."""
    import os

    from ..storage.derived import ensure_derived

    def build(sp, tmp):
        e = load_table(sp, sf_dir, "embeddings")
        old = e.filter(F.col("vec_id") < _INCR_SPLIT)
        cents = V.make_centroids(old, "embedding", "vec_id", n_cells=8, iterations=2)
        assigned = V.ivf_assign(old, "embedding", cents, id_col="vec_id", n_assign=1)
        idx = os.path.join(tmp, "index")
        V.write_ivf_index(assigned, idx)
        cents.write.mode("overwrite").parquet(os.path.join(tmp, "centroids.parquet"))
        V.ivf_append(
            e.filter(F.col("vec_id") >= _INCR_SPLIT),
            "embedding",
            cents,
            idx,
            id_col="vec_id",
            n_assign=1,
        )

    dest = ensure_derived(
        spark,
        sf_dir,
        name="ivf_incr",
        source_paths=[table_path(sf_dir, "embeddings")],
        build=build,
        params=f"split{_INCR_SPLIT}_c8_i2_a1_v1",
    )
    return os.path.join(dest, "index"), os.path.join(dest, "centroids.parquet")


def _ivf_incr_oracle() -> str:
    """Subset-trained centroids (vec_id < split), full-corpus assignment,
    probe top-2 cells, exact cosine top-10 — frozen-centroid append means
    old ∪ new is indistinguishable from a one-shot assignment, which this
    oracle states directly."""
    src = f"(SELECT * FROM embeddings WHERE vec_id < {_INCR_SPLIT})"
    return f"""
    WITH {_lloyd_cte(2, 8, src=src)},
    {_ivf_cands_cte(2, 1, 2, 7)}
    SELECT vec_id, sim FROM (
      SELECT e.vec_id, {_sql_cos("e.embedding", "qv")} AS sim
      FROM embeddings e JOIN cands USING (vec_id) CROSS JOIN q) t
    ORDER BY sim DESC, vec_id LIMIT 10
    """


@declare(
    "vec_ivf_incremental",
    sql=_ivf_incr_oracle(),
    tags=("vector", "ivf", "incremental", "serving", "beyond-parity"),
)
def vec_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe against the INCREMENTALLY-built IVF index (train on the
    first 400 vectors, ``ivf_append`` the rest against the frozen
    centroids — O(new batch) writes, no retrain, partition pruning sees
    old ∪ new immediately). EXACTLY oracled: frozen-centroid append is
    bit-identical to one-shot assignment (same deterministic kernel), so
    the oracle restates the whole lifecycle as subset-trained Lloyd CTEs
    + full-corpus assignment + probed-cell exact top-10."""
    idx_path, cents_path = ensure_ivf_incr_index(spark, sf_dir)
    cents = spark.read.parquet(cents_path)
    e = load_table(spark, sf_dir, "embeddings")
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    return V.ivf_probe_index(
        spark, idx_path, "embedding", "vec_id", q, cents, k=10, n_probe=2
    )


# ---------------------------------------------------------------------------
# distributed PCA — exact-integer co-moment + power iteration
# ---------------------------------------------------------------------------

_PCA_BASE_CTES = """q AS (
      SELECT vec_id, CAST(u['i'] AS BIGINT) AS i, CAST(u['q'] AS HUGEINT) AS qx
      FROM (SELECT vec_id,
                   unnest(list_transform(range(1, len(embedding)+1),
                     k -> struct_pack(i := k-1,
                            q := CAST(floor(CAST(embedding[k] AS DOUBLE)
                                            * 1000000.0 + 0.5) AS BIGINT))))
                     AS u
            FROM embeddings) t
    ), lin AS (
      SELECT i, CAST(sum(qx) AS HUGEINT) AS s,
             CAST(count(*) AS HUGEINT) AS n
      FROM q GROUP BY i
    ), p AS (
      SELECT a.i AS i, b.i AS j, CAST(sum(a.qx * b.qx) AS HUGEINT) AS p
      FROM q a JOIN q b ON a.vec_id = b.vec_id AND a.i <= b.i
      GROUP BY a.i, b.i
    ), m AS (
      SELECT p.i, p.j, li.n * p.p - li.s * lj.s AS m, li.n AS n
      FROM p JOIN lin li ON p.i = li.i JOIN lin lj ON p.j = lj.i
    )"""


def _pca_power_oracle(rounds: int = 3) -> str:
    parts = [
        _PCA_BASE_CTES,
        """mfull AS (
      SELECT i, j, m FROM m
      UNION ALL
      SELECT j AS i, i AS j, m FROM m WHERE i < j
    ), msc AS (
      SELECT max(abs(m)) // CAST(1000000000000 AS HUGEINT)
             + CAST(1 AS HUGEINT) AS ms FROM mfull
    ), ms AS (
      SELECT i, j,
             CAST(CASE WHEN m < 0 THEN -1 ELSE 1 END AS HUGEINT)
               * (abs(m) // ms) AS m
      FROM mfull, msc
    ), v0 AS (
      SELECT i, CAST(1000000 AS HUGEINT) AS v FROM lin
    )""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""w{r} AS (
      SELECT ms.i, sum(ms.m * v{r - 1}.v) AS w
      FROM ms JOIN v{r - 1} ON ms.j = v{r - 1}.i GROUP BY ms.i
    ), vm{r} AS (
      SELECT greatest(max(abs(w)), CAST(1 AS HUGEINT)) AS vm FROM w{r}
    ), v{r} AS (
      SELECT i,
             CAST(CASE WHEN w < 0 THEN -1 ELSE 1 END AS HUGEINT)
               * ((abs(w) * 1000000) // vm) AS v
      FROM w{r}, vm{r}
    )"""
        )
    parts.append(
        f"""n2 AS (SELECT sum(v * v) AS n2 FROM v{rounds})
    SELECT i AS dim, CAST(v AS BIGINT) AS v_scaled,
           CAST(v AS DOUBLE) / sqrt(CAST(n2 AS DOUBLE)) AS loading
    FROM v{rounds}, n2 ORDER BY dim"""
    )
    return "WITH " + ",\n    ".join(parts)


def _pca_scores_oracle(rounds: int = 3, k: int = 10) -> str:
    """Same training CTEs as ``_pca_power_oracle``, closed by the
    projection: score(doc) = Σ qᵢ·vᵢ (exact HUGEINT), top-k extremes."""
    head = _pca_power_oracle(rounds)
    head = head[: head.index("n2 AS (")]
    return (
        head
        + f"""n2 AS (SELECT sum(v * v) AS n2 FROM v{rounds}),
    sc AS (
      SELECT q.vec_id, sum(q.qx * v.v) AS score
      FROM q JOIN v{rounds} v ON q.i = v.i
      GROUP BY q.vec_id
    )
    SELECT vec_id, CAST(score AS DOUBLE) AS score,
           CAST(score AS DOUBLE)
             / (1000000.0 * sqrt(CAST(n2 AS DOUBLE))) AS proj
    FROM sc, n2
    ORDER BY abs(CAST(score AS DOUBLE)) DESC, vec_id
    LIMIT {k}"""
    )


@declare(
    "vec_covariance",
    sql=f"""
    WITH {_PCA_BASE_CTES.strip()}
    SELECT i, j, CAST(m AS VARCHAR) AS m_str,
           CAST(m AS DOUBLE) / CAST(n * n AS DOUBLE) / 1000000000000.0
             AS cov
    FROM m ORDER BY i, j
    """,
    tags=("vector", "pca", "covariance", "beyond-parity"),
)
def vec_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact covariance matrix of the embedding corpus (upper triangle,
    d(d+1)/2 rows): the ML screening primitive (feature correlation,
    whitening prep, PCA input) computed in ONE distributed pass. The
    centered co-moment M = n²·Cov stays in exact integers (quantized
    components, mean never materialized), so Spark and DuckDB agree
    bit-for-bit on the 38-digit values; ``cov`` rescales to float once,
    via a fixed chain of IEEE ops. See ``functions.vector.comoment_matrix``
    for the no-self-join pair expansion and the O(partitions·d²) wire
    bound."""
    m = V.comoment_matrix(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )
    return m.select(
        "i",
        "j",
        F.col("m").cast("string").alias("m_str"),
        (
            F.col("m").cast("double")
            / (F.col("n") * F.col("n")).cast("double")
            / F.lit(1.0e12)
        ).alias("cov"),
    ).orderBy("i", "j")


@declare(
    "vec_pca_power",
    sql=_pca_power_oracle(3),
    tags=("vector", "pca", "power-iteration", "beyond-parity"),
)
def vec_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by 3 rounds of
    power iteration over the exact-integer co-moment matrix — distributed
    PCA with a bit-identical cross-engine result (every iterate is
    integer; only the final loadings touch doubles, via one exact decimal
    sum). The oracle replays the identical integer recursion in HUGEINT.
    One corpus pass total; iteration cost is O(d²) regardless of corpus
    size. See ``functions.vector.pca_power``."""
    return V.pca_power(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@declare(
    "vec_pca_scores",
    sql=_pca_scores_oracle(3, 10),
    tags=("vector", "pca", "projection", "outliers", "beyond-parity"),
)
def vec_pca_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 most extreme embeddings along the learned principal
    direction — PCA-based outlier screening, end to end in the engine:
    exact-integer training (``vec_pca_power``) plus a second corpus pass
    projecting every vector onto the broadcast direction (exact decimal
    scores, TakeOrdered top-k). The oracle replays training AND
    projection in HUGEINT."""
    return V.pca_scores(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


def _power_round_ctes(mat: str, pfx: str, rounds: int) -> str:
    """Round CTEs ``{pfx}1..{pfx}{rounds}`` of the integer power kernel
    over matrix CTE ``mat``, starting from the all-ones ``{pfx}0``."""
    parts = []
    for r in range(1, rounds + 1):
        parts.append(
            f"""{pfx}w{r} AS (
      SELECT {mat}.i, sum({mat}.m * {pfx}{r - 1}.v) AS w
      FROM {mat} JOIN {pfx}{r - 1} ON {mat}.j = {pfx}{r - 1}.i
      GROUP BY {mat}.i
    ), {pfx}vm{r} AS (
      SELECT greatest(max(abs(w)), CAST(1 AS HUGEINT)) AS vm FROM {pfx}w{r}
    ), {pfx}{r} AS (
      SELECT i,
             CAST(CASE WHEN w < 0 THEN -1 ELSE 1 END AS HUGEINT)
               * ((abs(w) * 1000000) // vm) AS v
      FROM {pfx}w{r}, {pfx}vm{r}
    )"""
        )
    return ",\n    ".join(parts)


def _pca2_oracle(rounds: int = 3) -> str:
    R = rounds
    sql = (
        "WITH "
        + _PCA_BASE_CTES
        + """, mfull AS (
      SELECT i, j, m FROM m
      UNION ALL
      SELECT j AS i, i AS j, m FROM m WHERE i < j
    ), msc AS (
      SELECT max(abs(m)) // CAST(1000000000000 AS HUGEINT)
             + CAST(1 AS HUGEINT) AS ms FROM mfull
    ), ms AS (
      SELECT i, j,
             CAST(CASE WHEN m < 0 THEN -1 ELSE 1 END AS HUGEINT)
               * (abs(m) // ms) AS m
      FROM mfull, msc
    ), a0 AS (
      SELECT i, CAST(1000000 AS HUGEINT) AS v FROM lin
    ),
    """
        + _power_round_ctes("ms", "a", R)
        + f""",
    v1s AS (
      SELECT i, CAST(CASE WHEN v < 0 THEN -1 ELSE 1 END AS HUGEINT)
               * (abs(v) // 100) AS v
      FROM a{R}
    ), mv AS (
      SELECT ms.i, sum(ms.m * s.v) AS mv
      FROM ms JOIN v1s s ON ms.j = s.i GROUP BY ms.i
    ), sc AS (
      SELECT sum(s.v * s.v) AS c1, sum(s.v * mv.mv) AS c2
      FROM v1s s JOIN mv ON s.i = mv.i
    ), nfull AS (
      SELECT ms.i, ms.j, sc.c1 * sc.c1 * ms.m - sc.c2 * si.v * sj.v AS m
      FROM ms JOIN v1s si ON ms.i = si.i JOIN v1s sj ON ms.j = sj.i, sc
    ), nsc AS (
      SELECT max(abs(m)) // CAST(1000000000000 AS HUGEINT)
             + CAST(1 AS HUGEINT) AS ms FROM nfull
    ), ns AS (
      SELECT i, j,
             CAST(CASE WHEN m < 0 THEN -1 ELSE 1 END AS HUGEINT)
               * (abs(m) // ms) AS m
      FROM nfull, nsc
    ), b0 AS (
      SELECT i, CAST(1000000 AS HUGEINT) AS v FROM lin
    ),
    """
        + _power_round_ctes("ns", "b", R)
        + f""",
    n2a AS (SELECT sum(v * v) AS n2 FROM a{R}),
    n2b AS (SELECT sum(v * v) AS n2 FROM b{R})
    SELECT a.i AS dim,
           CAST(a.v AS BIGINT) AS v_scaled,
           CAST(a.v AS DOUBLE) / sqrt(CAST(n2a.n2 AS DOUBLE)) AS loading,
           CAST(b.v AS BIGINT) AS v_scaled2,
           CAST(b.v AS DOUBLE) / sqrt(CAST(n2b.n2 AS DOUBLE)) AS loading2
    FROM a{R} a JOIN b{R} b ON a.i = b.i, n2a, n2b
    ORDER BY dim"""
    )
    # DuckDB inlines CTEs per reference: with two chained power-iteration
    # stages the reused subtrees (scan/matrix/iterates) would re-expand
    # exponentially — thousands of parquet opens ("Too many open files").
    # Materialize every multiply-referenced CTE; evaluation becomes linear.
    for cte in ("q", "ms", f"a{R}", "v1s", "ns", f"b{R}"):
        sql = sql.replace(f"{cte} AS (", f"{cte} AS MATERIALIZED (", 1)
    return sql


@declare(
    "vec_pca_top2",
    sql=_pca2_oracle(3),
    tags=("vector", "pca", "deflation", "beyond-parity"),
)
def vec_pca_top2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top TWO principal directions via exact-integer Hotelling deflation:
    N = c₁²·M_s − c₂·v₁v₁ᵀ stays integer (N·v₁ = 0 for an exact
    eigenvector — the first component is annihilated in one multiply), so
    the second component runs the identical bit-deterministic power
    kernel. The oracle replays training, deflation, and the second
    iteration entirely in HUGEINT. See ``functions.vector.pca_top2`` for
    the magnitude audit (every intermediate < 10²⁸)."""
    return V.pca_top2(
        load_table(spark, sf_dir, "embeddings"), "vec_id", "embedding"
    )


@declare(
    "vec_cluster_purity",
    sql=f"""
    WITH {_ASSIGN_CTES},
    j AS (
      SELECT a.cell_id, d.lang
      FROM assigned a JOIN documents d ON d.doc_id = a.vec_id),
    cl AS (SELECT cell_id, lang, CAST(count(*) AS BIGINT) AS c
           FROM j GROUP BY cell_id, lang),
    agg AS (
      SELECT cell_id,
             CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_langs,
             CAST(sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                  AS DECIMAL(38,12))) AS DECIMAL(38,12)) AS s
      FROM cl GROUP BY cell_id),
    top AS (
      SELECT cell_id, lang AS majority_lang, c AS majority_n FROM (
        SELECT cell_id, lang, c,
               row_number() OVER (PARTITION BY cell_id
                                  ORDER BY c DESC, lang) AS rn
        FROM cl) t WHERE rn = 1)
    SELECT CAST(a.cell_id AS BIGINT) AS cell_id, a.n, a.n_langs,
           t.majority_lang,
           CAST(t.majority_n AS DOUBLE) / a.n AS purity,
           ln(CAST(a.n AS DOUBLE))
             - CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE) AS lang_entropy
    FROM agg a JOIN top t USING (cell_id)
    ORDER BY cell_id
    """,
    tags=("vector", "clustering", "multimodal-join", "curation",
          "beyond-parity"),
)
def vec_cluster_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-MODAL curation diagnostic: are the embedding-space k-means
    cells coherent with the TEXT side's language labels? Per cell —
    size, distinct languages, majority language + purity, and the exact
    Shannon entropy of the language mix (the dq_skew_report identity:
    ln(n) − Σ c·ln(c)/n with the Σ decimal-quantized, so the aggregate
    is order-independent and oracle-exact). Low purity / high entropy
    flags clusters that mix languages — embeddings disagreeing with
    text metadata, the standard "trust the cluster assignments?" gate
    before cluster-balanced sampling.

    The 1:1 vec_id↔doc_id join is the multimodal seam: the cell comes
    from the exactly-oracled assignment kernel (vec_kmeans_round), the
    label from the documents table. Scale: assignment is the broadcast
    argmax pass; the join shuffles on the shared id; everything after is
    (cells × langs)-grain."""
    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    init = V.make_centroids(e, "embedding", "vec_id", n_cells=8, iterations=0)
    assigned = V.ivf_assign(
        e.select("vec_id", "embedding"), "embedding", init, id_col="vec_id"
    )
    cl = (
        assigned.select(F.col("vec_id"), F.col("ivf_cell").alias("cell_id"))
        .join(d, F.col("vec_id") == F.col("doc_id"))
        .groupBy("cell_id", "lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    agg = cl.groupBy("cell_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.expr(
            """sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               AS DECIMAL(38,12)))"""
        ).alias("s"),
    )
    from pyspark.sql import Window

    top = (
        cl.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cell_id").orderBy(F.desc("c"), "lang")
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cell_id",
            F.col("lang").alias("majority_lang"),
            F.col("c").alias("majority_n"),
        )
    )
    return (
        agg.join(top, "cell_id")
        .select(
            F.col("cell_id").cast("bigint").alias("cell_id"),
            "n",
            "n_langs",
            "majority_lang",
            (F.col("majority_n").cast("double") / F.col("n")).alias("purity"),
            F.expr(
                """ln(CAST(n AS DOUBLE))
                   - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)"""
            ).alias("lang_entropy"),
        )
        .orderBy("cell_id")
    )


@declare(
    "eval_mrr_ternary",
    sql=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv
               FROM embeddings WHERE vec_id < 8),
    corpus AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 8),
    z AS (
      SELECT vec_id, {_SQL_DEQ.format(v="embedding")} AS deq
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 1.0 AS sc
            FROM corpus)),
    ann AS (
      SELECT q_id, vec_id, rnk FROM (
        SELECT q.q_id, z.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {_sql_cos("z.deq", "qv")} DESC, z.vec_id) AS rnk
        FROM z CROSS JOIN q) t WHERE rnk <= 10),
    ex AS (
      SELECT q_id, vec_id FROM (
        SELECT q.q_id, c.vec_id,
               row_number() OVER (PARTITION BY q.q_id
                 ORDER BY {_sql_cos("c.embedding", "qv")} DESC, c.vec_id) AS r
        FROM corpus c CROSS JOIN q) t WHERE r <= 10),
    per AS (
      SELECT a.q_id,
             CAST(min(CASE WHEN x.vec_id IS NOT NULL THEN a.rnk END)
                  AS BIGINT) AS first_hit_rank
      FROM ann a LEFT JOIN ex x ON x.q_id = a.q_id AND x.vec_id = a.vec_id
      GROUP BY a.q_id),
    per2 AS (
      SELECT q_id, first_hit_rank,
             CASE WHEN first_hit_rank IS NOT NULL
                  THEN 1.0 / first_hit_rank ELSE 0.0 END AS rr
      FROM per),
    m AS (SELECT CAST(sum(CAST(rr AS DECIMAL(18,12))) AS DOUBLE) / count(*)
                 AS mrr FROM per2)
    SELECT q_id, first_hit_rank, rr, mrr
    FROM per2 CROSS JOIN m ORDER BY q_id
    """,
    tags=("eval", "mrr", "vector", "quantization", "beyond-parity"),
)
def eval_mrr_ternary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean reciprocal rank of TERNARY-quantized retrieval (q ∈ {−1,0,1},
    ~1.6 bits/dim — the 16× extreme-compression regime) against exact
    float retrieval — the standard 'does compression still find the right
    thing FIRST' eval, batched: 8 held-out query vectors (excluded from
    the corpus), compressed leg = dequantized-cosine top-10, truth =
    exact-cosine top-10, rr = 1/rank of the first true hit (0 when the
    compressed list misses entirely). Int8 was measured FIRST and is
    non-discriminating on this corpus (MRR exactly 1.0 — it always finds
    the true top-1); ternary actually loses rank (MRR 0.84 at sf0.01),
    which is the regime worth monitoring. Reciprocals of small ints are
    exact IEEE; MRR sums them quantized to DECIMAL(18,12)
    (order-independent) over the 8-row frame, so the whole report is
    exactly oracled.

    Scale: both legs are batch_knn — the corpus is broadcast-scored
    map-side with a ≤k-per-(query,partition) pool, never shuffled at its
    own volume (functions/vector.batch_knn); the MRR attach is a 1-row
    broadcast onto the persisted 8-row per-query frame."""
    from ..functions.dedup import spread

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    # SHARED-PASS rewrite (r12 optimization): both retrieval legs (the
    # ternary-dequantized one and the exact-float truth) scan the SAME
    # corpus against the SAME 8 broadcast queries — so score both in ONE
    # corpus×|Q| pass, pool the per-partition top-k for each leg in one
    # mapInPandas (a row survives if it is in EITHER leg's pool — each
    # leg's true top-k rows are always present, so slicing the merged
    # sort still yields exactly that leg's top-k), and close with one
    # 8-row aggregate whose array logic computes first_hit_rank in-row.
    # Each leg's score/ordering expressions are unchanged
    # (functions/vector.batch_knn's), so ranks — and the oracle hash —
    # are bit-identical to the two-pass form; the second corpus scan,
    # its Arrow boundary, and the ann⋈exact shuffle all disappear.
    corpus = spread(
        e.filter(F.col("vec_id") >= 8).select("vec_id", "embedding"), "vec_id"
    )
    deq = F.transform(
        F.col("_z.q"), lambda x: x.cast("double") * F.col("_z.scale")
    )
    cz = (
        corpus.withColumn(
            "_z", V.quantize_int8(F.col("embedding"), levels=1.0)
        )
        .select("vec_id", "embedding", deq.alias("deq"))
        .select(
            "vec_id",
            "embedding",
            "deq",
            V.l2_norm(F.col("deq")).alias("_an"),
            V.l2_norm(F.col("embedding")).alias("_en"),
        )
    )
    qn = q.select("q_id", "q_vec", V.l2_norm(F.col("q_vec")).alias("_qnorm"))
    sim_a = V.dot(F.col("deq"), F.col("q_vec")) / (
        F.col("_an") * F.col("_qnorm")
    )
    sim_e = V.dot(F.col("embedding"), F.col("q_vec")) / (
        F.col("_en") * F.col("_qnorm")
    )
    scored = cz.crossJoin(F.broadcast(qn)).select(
        F.col("q_id"),
        (-sim_a).alias("_na"),
        (-sim_e).alias("_ne"),
        F.col("vec_id").alias("_cid"),
    )
    out_schema = scored.schema

    def _part_topk2(batches):
        import pandas as pd

        kept = None
        for pdf in batches:
            pool = pdf if kept is None else pd.concat(
                [kept, pdf], ignore_index=True
            )
            ka = (
                pool.sort_values(["_na", "_cid"])
                .groupby("q_id", sort=False)
                .head(10)
            )
            ke = (
                pool.sort_values(["_ne", "_cid"])
                .groupby("q_id", sort=False)
                .head(10)
            )
            kept = pd.concat([ka, ke]).drop_duplicates(["q_id", "_cid"])
        if kept is not None:
            yield kept

    pre = scored.mapInPandas(_part_topk2, out_schema)
    top = lambda neg: F.slice(  # noqa: E731
        F.sort_array(
            F.collect_list(
                F.struct(F.col(neg).alias("neg"), F.col("_cid").alias("id"))
            )
        ),
        1,
        10,
    )
    merged = pre.groupBy("q_id").agg(
        top("_na").alias("_ta"), top("_ne").alias("_te")
    )
    # the exact-leg id array is bound as a lambda VARIABLE (transform over
    # a 1-element array) so the per-element contains test doesn't inline —
    # and re-evaluate — the id-projection transform per rank probed (the
    # HOF-binding class tools/hof_lint.py guards; bounded 10x10 here, but
    # the lint keeps the class out everywhere)
    hit_ranks = F.element_at(
        F.transform(
            F.array(F.transform(F.col("_te"), lambda s: s["id"])),
            lambda ex: F.filter(
                F.transform(
                    F.col("_ta"),
                    lambda s, i: F.when(
                        F.array_contains(ex, s["id"]), i + 1
                    ),
                ),
                lambda r: r.isNotNull(),
            ),
        ),
        1,
    )
    per = (
        merged.select(
            "q_id",
            F.array_min(hit_ranks).cast("bigint").alias("first_hit_rank"),
        )
        .select(
            "q_id",
            "first_hit_rank",
            F.when(
                F.col("first_hit_rank").isNotNull(),
                F.lit(1.0) / F.col("first_hit_rank"),
            )
            .otherwise(F.lit(0.0))
            .alias("rr"),
        )
    )
    # r12: the MRR scalar attaches via a GLOBAL window over the 8-row
    # frame (same exact decimal sum) instead of persist + aggregate +
    # broadcast crossJoin — one job instead of three
    from pyspark.sql import Window

    w_all = Window.partitionBy()
    return (
        per.withColumn(
            "mrr",
            F.sum(F.col("rr").cast("decimal(18,12)"))
            .over(w_all)
            .cast("double")
            / F.count(F.lit(1)).over(w_all),
        )
        .select("q_id", "first_hit_rank", "rr", "mrr")
        .orderBy("q_id")
    )


def _hybrid_bm25_oracle() -> str:
    from .text_pipeline import _BM25_CTES

    return f"""
    WITH {_BM25_CTES},
    kw AS (SELECT doc_id, bm25 AS score FROM bm25s
           ORDER BY bm25 DESC, doc_id LIMIT 50),
    kwr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank_a
            FROM kw),
    qv AS (SELECT embedding AS qvec FROM embeddings WHERE vec_id = 7),
    vr0 AS (SELECT vec_id AS doc_id,
                   {_sql_cos("embedding", "qvec")} AS score
            FROM embeddings, qv WHERE vec_id <> 7
            ORDER BY score DESC, doc_id LIMIT 50),
    vrr AS (SELECT doc_id,
                   row_number() OVER (ORDER BY score DESC, doc_id) AS rank_b
            FROM vr0)
    SELECT doc_id,
           CAST(rank_a AS BIGINT) AS bm25_rank,
           CAST(rank_b AS BIGINT) AS vec_rank,
           CAST(coalesce(1.0 / (60 + rank_a), 0.0)
                + coalesce(1.0 / (60 + rank_b), 0.0) AS DOUBLE) AS rrf
    FROM kwr FULL OUTER JOIN vrr USING (doc_id)
    ORDER BY rrf DESC, doc_id LIMIT 10
    """


@declare(
    "vec_hybrid_bm25",
    sql=_hybrid_bm25_oracle(),
    tags=("vector", "text", "search", "bm25", "rrf", "beyond-parity"),
)
def vec_hybrid_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval with a PRINCIPLED keyword leg: Okapi BM25 top-50
    (txt_bm25_topk's exact scoring kernel) fused with exact-cosine kNN
    top-50 by Reciprocal Rank Fusion — the production RAG retrieval
    stack (vec_hybrid_rrf's raw-overlap leg upgraded to the standard
    lexical ranker). Both legs are BOUNDED candidate lists (TakeOrdered,
    never a corpus-wide rank — the vec_hybrid_rrf_topn shape); ids
    absent from one list contribute 0 (candidate-list RRF). Exactly
    oracled end to end: BM25 scores are decimal-quantized sums, cosine
    is the pinned left-fold, ranks/rrf are exact rational chains."""
    from .text_pipeline import bm25_scores

    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    kw50 = (
        bm25_scores(d)
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(50)
        .withColumnRenamed("bm25", "score")
    )
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    vec50 = V.knn_brute_force(
        e.filter(F.col("vec_id") != 7), "embedding", "vec_id", q, k=50
    ).select(F.col("vec_id").alias("doc_id"), F.col("sim").alias("score"))
    return V.rrf_fuse(kw50, vec50, "doc_id", k=10).select(
        "doc_id",
        F.col("rank_a").alias("bm25_rank"),
        F.col("rank_b").alias("vec_rank"),
        "rrf",
    )


def _recall_sweep_oracle() -> str:
    legs, rows = [], []
    for na in (1, 2):
        legs.append(f"""asg{na} AS (
      SELECT vec_id, cell_id FROM (
        SELECT e.vec_id, c.cell_id,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY {_sql_cos("e.embedding", "c.cvec")} DESC,
                          c.cell_id) AS rn
        FROM embeddings e CROSS JOIN c2 c) t WHERE rn <= {na})""")
        for np_ in (1, 2, 4):
            legs.append(f"""cands{na}_{np_} AS (
      SELECT DISTINCT a.vec_id
      FROM asg{na} a JOIN pr p ON a.cell_id = p.cell_id AND p.rn <= {np_}),
    ann{na}_{np_} AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY {_sql_cos("e.embedding", "qv")} DESC, e.vec_id) AS r
        FROM embeddings e JOIN cands{na}_{np_} USING (vec_id) CROSS JOIN q) t
      WHERE r <= 10)""")
            rows.append(
                f"""SELECT CAST({na} AS BIGINT) AS n_assign,
           CAST({np_} AS BIGINT) AS n_probe,
           (SELECT CAST(count(*) AS BIGINT) FROM cands{na}_{np_})
             AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT)
            FROM ann{na}_{np_} a JOIN ex USING (vec_id)) AS n_hits,
           (SELECT count(*) FROM ann{na}_{np_} a JOIN ex USING (vec_id))
             / 10.0 AS recall_at_10"""
            )
    return f"""
    WITH {_lloyd_cte(2, 8)},
    q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    pr AS (
      SELECT c.cell_id,
             row_number() OVER (
               ORDER BY {_sql_cos("c.cvec", "qv")} DESC, c.cell_id) AS rn
      FROM c2 c CROSS JOIN q),
    ex AS (
      SELECT vec_id FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY {_sql_cos("e.embedding", "qv")} DESC, e.vec_id) AS r
        FROM embeddings e CROSS JOIN q) t WHERE r <= 10),
    {",".join(legs)}
    SELECT * FROM ({" UNION ALL ".join(rows)}) ORDER BY n_assign, n_probe
    """


@declare(
    "eval_recall_sweep",
    sql=_recall_sweep_oracle(),
    tags=("eval", "recall", "vector", "ann", "ivf", "beyond-parity"),
)
def eval_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ANN TUNING GRID: recall@10 and candidates-scanned of the IVF
    probe over (n_assign ∈ {1,2}) × (n_probe ∈ {1,2,4}) against the
    exact brute-force top-10 — the table every vector deployment reads
    before fixing its index spill factor and probe count (the sweep form
    of eval_ndcg_ann's single point). MEASURED on the fixture: spill-1
    recall is 0.8/0.9/0.9 with 64/117/238 candidates, while spill-2
    assignment saturates recall at 1.0 from n_probe=1 (126 candidates) —
    i.e. the 2× index-storage spill buys probe-1 serving, which is
    exactly the decision this grid exists to surface. Exactly oracled:
    shared Lloyd centroids replay in SQL; rank ties break on vec_id;
    recall is one division.

    Scale: ONE plan, not six sequential legs (VERDICT r9 task #4 — the
    cost was measured to be Spark job count, not data). The probed-cell
    sets are NESTED (probe-1 ⊆ probe-2 ⊆ probe-4), so each candidate
    carries its best cell's probe rank; exploding the tiny (1,2,4) grid
    and filtering min_rank ≤ n_probe reproduces every leg's candidate
    set exactly, a 6-partition window ranks all legs at once, and one
    closing aggregate emits the 6 rows. Similarity is computed once per
    (assign-mode, candidate) instead of once per leg; everything stays
    bounded by the probed cells' candidates; the exact leg is one
    map-side brute-force pass joined as a 10-row broadcast flag.
    Measured STANDALONE warm at sf0.1 best-of-3: 2.6 s vs 4.6 s for the
    6-leg form it replaced (in-bench context per BENCHLOG)."""
    from pyspark.sql import Window

    idx_path, cents_path = ensure_ivf_index(spark, sf_dir)
    e = load_table(spark, sf_dir, "embeddings")
    qvec = [float(x) for x in e.filter(F.col("vec_id") == 7).first()["embedding"]]
    # setup collects ONCE (r13 fixed-cost cut): the query vector (already
    # in hand from the lookup above) and the k=8 centroid rows come back
    # as literal local frames, so the exact-leg query broadcast, the qn
    # broadcast and the centroid re-score no longer each re-scan parquet
    # inside their broadcast subtrees. Collected doubles round-trip
    # exactly, so every downstream expression is bit-identical.
    q = spark.createDataFrame([(qvec,)], "_qvec array<double>")
    cent_rows = spark.read.parquet(cents_path).collect()
    cents = spark.createDataFrame(
        [(r["cell_id"], [float(x) for x in r["cell_vec"]]) for r in cent_rows],
        "cell_id bigint, cell_vec array<double>",
    )
    # no persist: the exact top-10 is consumed exactly ONCE (as the
    # broadcast flag below), so caching it was a wasted materialization
    # pass that also outlived the query in the session's block store
    exact = (
        V.knn_brute_force(e, "embedding", "vec_id", q, k=10)
        .select("vec_id")
        .withColumn("_hit", F.lit(1))
    )
    probed4 = rank_cells(cent_rows, qvec, n_probe=4)
    pr = spark.createDataFrame(
        [(int(c), i + 1) for i, c in enumerate(probed4)],
        "ivf_cell long, cell_rank int",
    )
    idx = spark.read.parquet(idx_path)
    # assign-1 derived from the STORED spill-2 index instead of re-scoring
    # corpus × all-centroids (r12 optimization round): the nearest cell is
    # by construction one of each vector's two stored cells (the index keeps
    # the top-2 by (sim DESC, cell_id ASC)), so re-scoring only those two
    # rows and taking max_by(sim, -cell) reproduces ivf_assign(n_assign=1)
    # bit-exactly — same dot/norm expressions on the same stored values,
    # same tie-break to the lowest cell id. Drops one full corpus scan and
    # a corpus×k crossJoin from the plan; oracle-verified hash-identical.
    cn = cents.withColumn("_cnorm", V.l2_norm(F.col("cell_vec")))
    re_sim = V.dot(F.col("embedding"), F.col("cell_vec")) / (
        V.l2_norm(F.col("embedding")) * F.col("_cnorm")
    )
    # ONE index scan feeds both assign legs (r13): rank each vector's two
    # stored cells by (sim DESC, cell ASC) — rn=1 is exactly the row
    # max_by(ivf_cell, struct(_sim, -ivf_cell)) picked before (highest
    # sim, tie to the lowest cell id; same re-score expression on the
    # same stored values) — then tag-explode: the rn=1 row serves legs
    # {1,2}, the spill row leg {2} only. Replaces the separate
    # groupBy-idx-scan + union-idx-scan (two full index reads and an
    # extra exchange) with one scan and the same vec_id key shuffle.
    wbest = Window.partitionBy("vec_id").orderBy(
        F.desc("_sim"), F.col("ivf_cell").cast("long")
    )
    cand = (
        idx.join(
            F.broadcast(cn),
            F.col("ivf_cell").cast("long") == F.col("cell_id").cast("long"),
        )
        .withColumn("_sim", re_sim)
        .withColumn("_rn", F.row_number().over(wbest))
        .select(
            F.explode(
                F.when(
                    F.col("_rn") == 1, F.array(F.lit(1), F.lit(2))
                ).otherwise(F.array(F.lit(2)))
            ).alias("n_assign"),
            "vec_id",
            "embedding",
            F.col("ivf_cell").cast("long").alias("ivf_cell"),
        )
        .join(F.broadcast(pr), "ivf_cell")
        # spill-assigned duplicates collapse here (ivf_probe's dedup),
        # keeping the best (lowest) probe rank each vector is visible at
        .groupBy("n_assign", "vec_id")
        .agg(
            F.min("cell_rank").alias("min_rank"),
            F.first("embedding").alias("embedding"),
        )
    )
    qn = q.select("_qvec", V.l2_norm(F.col("_qvec")).alias("_qnorm"))
    scored = cand.crossJoin(F.broadcast(qn)).select(
        "n_assign",
        "vec_id",
        "min_rank",
        (
            V.dot(F.col("embedding"), F.col("_qvec"))
            / (V.l2_norm(F.col("embedding")) * F.col("_qnorm"))
        ).alias("sim"),
    )
    grid = scored.select(
        "*",
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(4))).alias("n_probe"),
    ).filter(F.col("min_rank") <= F.col("n_probe"))
    w = Window.partitionBy("n_assign", "n_probe").orderBy(
        F.desc("sim"), "vec_id"
    )
    ranked = grid.withColumn("rk", F.row_number().over(w)).join(
        F.broadcast(exact), "vec_id", "left"
    )
    return (
        ranked.groupBy("n_assign", "n_probe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
            F.sum(
                F.when(
                    (F.col("rk") <= 10) & F.col("_hit").isNotNull(), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_hits"),
        )
        .select(
            F.col("n_assign").cast("bigint").alias("n_assign"),
            F.col("n_probe").cast("bigint").alias("n_probe"),
            "n_candidates",
            "n_hits",
            (F.col("n_hits") / F.lit(10.0)).alias("recall_at_10"),
        )
        .orderBy("n_assign", "n_probe")
    )


@declare(
    "eval_rbo",
    sql=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    z AS (
      SELECT vec_id,
             {_SQL_DEQ.format(v="embedding")} AS deq
      FROM (SELECT vec_id, embedding,
                   list_max(list_transform(embedding,
                     x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS sc
            FROM embeddings)),
    appr AS (
      SELECT vec_id, row_number() OVER (ORDER BY sim DESC, vec_id) AS rb
      FROM (SELECT z.vec_id, {_sql_cos("deq", "qv")} AS sim
            FROM z, q ORDER BY sim DESC, vec_id LIMIT 10) t),
    ex AS (
      SELECT vec_id, r AS ra FROM (
        SELECT e.vec_id,
               row_number() OVER (
                 ORDER BY {_sql_cos("e.embedding", "qv")} DESC, e.vec_id) AS r
        FROM embeddings e CROSS JOIN q) t WHERE r <= 10),
    m AS (SELECT greatest(ra, rb) AS m FROM appr JOIN ex USING (vec_id)),
    grid AS (SELECT CAST(unnest(generate_series(1, 10)) AS BIGINT) AS depth),
    x AS (
      SELECT depth,
             CAST(coalesce(sum(CASE WHEN m <= depth THEN 1 ELSE 0 END), 0)
                  AS BIGINT) AS overlap
      FROM grid LEFT JOIN m ON true GROUP BY depth),
    t AS (
      SELECT depth, overlap,
             CAST(overlap AS DOUBLE) / depth AS agreement,
             CAST(overlap AS DOUBLE) * round(power(9, depth - 1))
               / round(power(10, depth - 1)) / depth * 0.1 AS term
      FROM x)
    SELECT depth, overlap, agreement,
           sum(term) OVER (ORDER BY depth
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rbo_min
    FROM t ORDER BY depth
    """,
    tags=("eval", "rbo", "ranking", "vector", "quantization", "beyond-parity"),
)
def eval_rbo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-Biased Overlap (Webber et al., p=0.9, depth 10) between the
    int8-quantized retrieval ranking and the exact float ranking — the
    top-weighted agreement measure that says WHERE two rankers diverge,
    where eval_mrr_ternary only says whether the single best item moved
    and eval_recall_sweep only counts set membership. Per depth d:
    overlap X_d = |exact@d ∩ int8@d| (via each shared item's
    max(rank_a, rank_b) — it joins the overlap at that depth), agreement
    X_d/d, and the truncated RBO_min prefix Σ(1−p)·p^(d−1)·X_d/d. The
    weights p^(d−1) = 9^(d−1)/10^(d−1) are exact doubles for d ≤ 10
    (both engines round the exact power), so every term is one fixed
    IEEE chain and the running sum accumulates in depth order —
    hash-identical by construction.

    Scale: both rankings are LIMIT-10 frames (map-side top-k, no corpus
    shuffle); the depth grid is 10 rows crossed with the ≤10-row overlap
    frame. Per-query cost is two bounded top-k jobs, the eval_ndcg_ann
    shape."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    w10 = Window.orderBy(F.desc("sim"), "vec_id")
    appr = (
        V.knn_int8(e, "embedding", "vec_id", q, k=10)
        .withColumn("rb", F.row_number().over(w10))
        .select("vec_id", "rb")
    )
    exact = (
        V.knn_brute_force(e, "embedding", "vec_id", q, k=10)
        .withColumn("ra", F.row_number().over(w10))
        .select("vec_id", "ra")
    )
    m = appr.join(exact, "vec_id").select(
        F.greatest("ra", "rb").alias("m")
    )
    grid = spark.range(1, 11).select(F.col("id").cast("bigint").alias("depth"))
    x = (
        grid.join(F.broadcast(m), F.lit(True), "left")
        .groupBy("depth")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("m") <= F.col("depth"), 1).otherwise(0)),
                F.lit(0),
            )
            .cast("bigint")
            .alias("overlap")
        )
    )
    term = (
        F.col("overlap").cast("double")
        * F.round(F.pow(F.lit(9.0), F.col("depth") - 1))
        / F.round(F.pow(F.lit(10.0), F.col("depth") - 1))
        / F.col("depth")
        * F.lit(0.1)
    )
    wd = Window.orderBy("depth").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        x.select(
            "depth",
            "overlap",
            (F.col("overlap").cast("double") / F.col("depth")).alias(
                "agreement"
            ),
            term.alias("term"),
        )
        .select(
            "depth",
            "overlap",
            "agreement",
            F.sum("term").over(wd).alias("rbo_min"),
        )
        .orderBy("depth")
    )


def _mmr_oracle(k: int = 5, c: int = 16, qid: int = 7) -> str:
    """Unrolled greedy-MMR CTEs (the pagerank/kcore unroll convention):
    step i joins the remaining candidates against the union of the i-1
    prior selections, takes max pairwise cosine, scores
    0.7·rel − 0.3·maxsim, and argmaxes with the (score DESC, vec_id)
    tie order. Every cosine is the ordered-fold _sql_cos, bit-identical
    to the Spark side."""
    parts = [
        f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = {qid}),
    cand AS (SELECT vec_id, embedding,
                    {_sql_cos("embedding", "qv")} AS rel
             FROM embeddings, q ORDER BY rel DESC, vec_id LIMIT {c}),
    s1 AS (SELECT vec_id, embedding, rel, rel AS score
           FROM cand ORDER BY rel DESC, vec_id LIMIT 1)"""
    ]
    for i in range(2, k + 1):
        selu = " UNION ALL ".join(
            f"SELECT vec_id, embedding FROM s{j}" for j in range(1, i)
        )
        parts.append(
            f""",
    selu{i - 1} AS ({selu}),
    rem{i} AS (SELECT * FROM cand
               WHERE vec_id NOT IN (SELECT vec_id FROM selu{i - 1})),
    ms{i} AS (SELECT r.vec_id,
                     max({_sql_cos("r.embedding", "s.embedding")}) AS ms
              FROM rem{i} r CROSS JOIN selu{i - 1} s GROUP BY r.vec_id),
    s{i} AS (SELECT r.vec_id, r.embedding, r.rel,
                    0.7 * r.rel - 0.3 * m.ms AS score
             FROM rem{i} r JOIN ms{i} m ON m.vec_id = r.vec_id
             ORDER BY score DESC, r.vec_id LIMIT 1)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rnk, vec_id, rel, score FROM s{i}"
        for i in range(1, k + 1)
    )
    parts.append(f"\n    SELECT rnk, vec_id, rel, score FROM ({finals}) ORDER BY rnk")
    return "".join(parts)


@declare(
    "vec_mmr",
    sql=_mmr_oracle(),
    tags=("vector", "mmr", "diversity", "reranking", "beyond-parity"),
)
def vec_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein
    1998) — the diversity stage every RAG/retrieval serving path runs
    after kNN: from the top-16 cosine candidates, greedily select 5
    maximizing 0.7·relevance − 0.3·max-similarity-to-already-selected,
    so near-duplicate passages don't crowd the context window. The
    greedy chain is built ENTIRELY in-plan: each step is a bounded
    (≤16-row) frame joined against the union of prior one-row argmax
    frames — no driver-side loop state, one job at the end; ties break
    (score DESC, vec_id), so the sequence is deterministic and the
    unrolled-CTE oracle (_mmr_oracle, the pagerank convention) replays
    it exactly.

    Scale: candidate generation is the knn plan (broadcast 1-row query,
    map-side cosine, TakeOrdered top-16 — no corpus shuffle); everything
    after operates on ≤16 rows regardless of corpus size. k and the
    candidate budget are the only knobs."""
    lam = 0.7
    e = load_table(spark, sf_dir, "embeddings")
    q = V.query_vector(e, "vec_id", "embedding", qid=7)
    qn = q.select("_qvec", V.l2_norm(F.col("_qvec")).alias("_qn"))
    cand = (
        e.select("vec_id", "embedding", V.l2_norm(F.col("embedding")).alias("_vn"))
        .crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            "embedding",
            (
                V.dot(F.col("embedding"), F.col("_qvec"))
                / (F.col("_vn") * F.col("_qn"))
            ).alias("rel"),
        )
        .orderBy(F.col("rel").desc(), "vec_id")
        .limit(16)
        .persist()
    )
    picks = [
        cand.orderBy(F.col("rel").desc(), "vec_id")
        .limit(1)
        .select("vec_id", "embedding", "rel", F.col("rel").alias("score"))
    ]
    for _i in range(2, 6):
        selu = picks[0].select("vec_id", "embedding")
        for p in picks[1:]:
            selu = selu.unionByName(p.select("vec_id", "embedding"))
        rem = cand.join(
            F.broadcast(selu.select("vec_id")), "vec_id", "left_anti"
        )
        ms = (
            rem.crossJoin(
                F.broadcast(
                    selu.select(
                        F.col("vec_id").alias("_sid"),
                        F.col("embedding").alias("_semb"),
                    )
                )
            )
            .groupBy("vec_id")
            .agg(
                F.max(V.cosine(F.col("embedding"), F.col("_semb"))).alias("ms")
            )
        )
        picks.append(
            rem.join(F.broadcast(ms), "vec_id")
            .select(
                "vec_id",
                "embedding",
                "rel",
                # F.lit(0.3), NOT F.lit(1 - lam): 1 - 0.7 is
                # 0.30000000000000004 while the oracle's literal 0.3 is
                # the nearest double below it — both engines must
                # multiply by the SAME double or a near-tie can flip the
                # greedy argmax (ADVICE r11)
                (F.lit(lam) * F.col("rel") - F.lit(0.3) * F.col("ms")).alias(
                    "score"
                ),
            )
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
        )
    out = None
    for i, p in enumerate(picks, 1):
        row = p.select(
            F.lit(i).cast("bigint").alias("rnk"), "vec_id", "rel", "score"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rnk")


def _kmeanspp_oracle(k: int = 4, d: int = 64) -> str:
    """Unrolled farthest-first CTEs (the _mmr_oracle convention): seed 1
    is the max-norm vector; step i argmaxes the MIN squared L2 distance
    to the i-1 prior seeds with (d2 DESC, vec_id) tie order. Every
    distance is the ordered-fold _sql_l2, bit-identical to the Spark
    F.aggregate(zip_with) fold."""
    norm2 = _SQL_DOT.format(a="embedding", b="embedding")
    parts = [
        f"""
    WITH s1 AS (SELECT vec_id, embedding, {norm2} AS score
                FROM embeddings ORDER BY score DESC, vec_id LIMIT 1)"""
    ]
    for i in range(2, k + 1):
        selu = " UNION ALL ".join(
            f"SELECT vec_id, embedding FROM s{j}" for j in range(1, i)
        )
        parts.append(
            f""",
    selu{i - 1} AS ({selu}),
    s{i} AS (SELECT r.vec_id, r.embedding,
                    min({_sql_l2("r.embedding", "s.embedding", d)}) AS score
             FROM embeddings r CROSS JOIN selu{i - 1} s
             WHERE r.vec_id NOT IN (SELECT vec_id FROM selu{i - 1})
             GROUP BY r.vec_id, r.embedding
             ORDER BY score DESC, r.vec_id LIMIT 1)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT CAST({i} AS BIGINT) AS rnk, vec_id, score FROM s{i}"
        for i in range(1, k + 1)
    )
    parts.append(
        f"\n    SELECT rnk, vec_id, score FROM ({finals}) ORDER BY rnk"
    )
    return "".join(parts)


@declare(
    "vec_kmeanspp_seed",
    sql=_kmeanspp_oracle(),
    tags=("vector", "kmeans", "seeding", "clustering", "beyond-parity"),
)
def vec_kmeanspp_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic farthest-first k-means seeding (Gonzalez k-center
    2-approx — the RNG-free counterpart of k-means++ a reproducible
    pipeline wants before vec_kmeans_round): seed 1 = max-norm vector;
    each next seed maximizes the minimum squared L2 distance to the
    seeds chosen so far, ties broken (score DESC, vec_id) so the
    sequence is deterministic and the unrolled-CTE oracle replays it
    exactly. ``score`` is the seed's selection objective (norm² for
    seed 1, min-dist² after).

    Scale: k-1 greedy steps, each ONE corpus scan folded map-side into a
    TakeOrdered(1) against the broadcast ≤(k-1)-row seed frame — no
    corpus shuffle anywhere; k linear passes total (cache the slim
    (vec_id, embedding) projection to pay the parquet read once). The
    distance fold is the JVM zip_with/aggregate chain, never Python."""
    k = 4
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def l2sq(a, b):
        return F.aggregate(
            F.zip_with(
                a, b,
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    picks = [
        e.select(
            "vec_id",
            "embedding",
            V.dot(F.col("embedding"), F.col("embedding")).alias("score"),
        )
        .orderBy(F.col("score").desc(), "vec_id")
        .limit(1)
    ]
    for _ in range(2, k + 1):
        sel = None
        for p in picks:
            one = p.select(
                F.col("vec_id").alias("_sid"), F.col("embedding").alias("_semb")
            )
            sel = one if sel is None else sel.unionByName(one)
        rem = e.join(
            F.broadcast(sel.select(F.col("_sid").alias("vec_id"))),
            "vec_id",
            "left_anti",
        )
        md = (
            rem.crossJoin(F.broadcast(sel))
            .groupBy("vec_id", "embedding")
            .agg(
                F.min(l2sq(F.col("embedding"), F.col("_semb"))).alias("score")
            )
        )
        picks.append(
            md.select("vec_id", "embedding", "score")
            .orderBy(F.col("score").desc(), "vec_id")
            .limit(1)
        )
    out = None
    for i, p in enumerate(picks, 1):
        row = p.select(
            F.lit(i).cast("bigint").alias("rnk"), "vec_id", "score"
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rnk")
