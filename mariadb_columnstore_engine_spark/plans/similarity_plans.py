"""Similarity search over the ``embeddings`` table (ArrayType(Float)).

No reference analogue (north-star extension): brute-force cosine top-k as
the correctness baseline, plus a random-hyperplane LSH-bucketed ANN
variant as the scale path.

Numeric parity policy: cosine is computed explicitly in DOUBLE with the
same left-to-right accumulation in both engines (Spark
zip_with+aggregate, DuckDB list_transform+list_sum), so results are
bit-identical; outputs are additionally rounded to 6 dp and ranked with a
vec_id tiebreak.

LSH planes are ±1 hyperplanes materialized as LITERAL arrays generated in
Python from md5 — deterministic, dependency-free, and identical in the
Spark plan and the oracle SQL. At 100 TB you would precompute the plane
matrix the same way (it is tiny: n_planes × dim) and broadcast it; bucket
assignment stays map-side, and only same-bucket candidates are joined —
NO all-pairs cartesian in the ANN path. An IVF variant would swap the
hash bucket for a k-means cell id; the plan shape (bucket join + exact
rerank) is unchanged.

The brute-force baseline joins a CONSTANT-SIZE probe set (broadcast) to
the corpus — linear in corpus size, embarrassingly parallel; that is the
correct scale shape for "score this fixed query batch", not for all-pairs.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession

from mariadb_columnstore_engine_spark.catalog import Catalog
from mariadb_columnstore_engine_spark.plans.registry import query

DIM = 64
# 2^N_PLANES buckets; sized so the fixture corpus (500 vecs) keeps ~8
# candidates per bucket. At larger corpus sizes raise it to hold bucket
# density roughly constant (planes ∝ log2(N / target_bucket_size)).
N_PLANES = 6
N_PROBES = 10
TOP_K = 5


def _plane_sign(p: int, i: int) -> int:
    """Deterministic ±1 from md5 — same constants in Spark and oracle."""
    h = int(hashlib.md5(f"{p}_{i}".encode()).hexdigest()[:6], 16)
    return 1 if h % 2 == 0 else -1


PLANES: list[list[int]] = [
    [_plane_sign(p, i) for i in range(DIM)] for p in range(N_PLANES)
]


def _dot(a: Column, b: Column) -> Column:
    """Sequential-accumulation double dot product (drift-free parity)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _dot_sql(a: str, b: str) -> str:
    """SQL spelling of _dot over column NAMES — parses to the identical
    analyzed plan (same ArrayAggregate/ZipWith, 0.0D is the same
    Literal(0.0, Double) as F.lit(0.0)) in one py4j round trip where
    the Column form issues ~40 (two Python lambda conversions plus the
    operator chain) — plan-construction cost, r12 change 12."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0.0D, "
            f"(acc, v) -> acc + v)")


def _plane_array_sql(plane: list[int]) -> str:
    """SQL literal spelling of a ±1 hyperplane as array<double> — the
    same Literal(±1.0, Double) elements F.lit(float(s)) produced, with
    ZERO py4j calls (the Column form issued one per element: 65 round
    trips per 64-dim plane, ~780 per 12-plane bank — measured 0.3 s of
    the cosine_neardup build)."""
    return "array(" + ", ".join(f"{float(s)!r}D" for s in plane) + ")"


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


_SQL_DOT = (
    "list_sum(list_transform(range(1, {n} + 1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


def _sql_cos(a: str, b: str) -> str:
    d = _SQL_DOT.format(n=DIM, a=a, b=b)
    na = _SQL_DOT.format(n=DIM, a=a, b=a)
    nb = _SQL_DOT.format(n=DIM, a=b, b=b)
    return f"({d}) / sqrt(({na}) * ({nb}))"


@query(
    "sim_bruteforce_cosine_topk",
    section="LLM-pipeline: brute-force cosine top-k for a constant probe "
    "set (broadcast probe × corpus scan; linear, no all-pairs)",
    bench=True,
    cache_plan=True,  # pure plan builder (VERDICT r12 #7)
    oracle=f"""
    WITH probes AS (
        SELECT vec_id AS probe_id, embedding AS pe FROM embeddings
        WHERE vec_id < {N_PROBES}
    ),
    scored AS (
        SELECT probe_id, e.vec_id AS neighbor_id,
               {_sql_cos('pe', 'e.embedding')} AS cos
        FROM probes JOIN embeddings e ON e.vec_id <> probe_id
    ),
    ranked AS (
        SELECT probe_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT probe_id, neighbor_id, round(cos, 6) AS cosine, rank
    FROM ranked
    WHERE rank <= {TOP_K}
    ORDER BY probe_id, rank
    """,
)
def bruteforce_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    emb = t.embeddings
    # Norms are hoisted BELOW the join (r12, guide §1.2 step 1 — don't
    # recompute what a pass already knows): the corpus self-dot ran once
    # per (probe, corpus) pair, i.e. N_PROBES times per vector, and the
    # probe self-dot once per corpus row. Computing each side's norm in
    # its own projection keeps the per-pair work to ONE dot product.
    # sqrt(pp * nn) multiplies the same doubles the inline form did, so
    # results are bit-identical.
    # selectExpr throughout (r12 change 12): the Column-API spelling of
    # this build issued ~790 py4j round trips (~0.17 s per invocation);
    # the SQL strings parse to the identical analyzed plan.
    probes = emb.where(F.col("vec_id") < N_PROBES).selectExpr(
        "vec_id AS probe_id",
        "CAST(embedding AS array<double>) AS pe",
    )
    probes = probes.selectExpr(
        "probe_id", "pe", f"{_dot_sql('pe', 'pe')} AS pp"
    )
    corpus = emb.selectExpr(
        "vec_id AS neighbor_id",
        "CAST(embedding AS array<double>) AS ne",
    )
    corpus = corpus.selectExpr(
        "neighbor_id", "ne", f"{_dot_sql('ne', 'ne')} AS nn"
    )
    scored = (
        corpus.join(F.broadcast(probes))
        .where(F.col("neighbor_id") != F.col("probe_id"))
        .selectExpr(
            "probe_id",
            "neighbor_id",
            f"{_dot_sql('pe', 'ne')} / sqrt(pp * nn) AS cos",
        )
    )
    return (
        scored.selectExpr(
            "probe_id",
            "neighbor_id",
            "cos",
            "row_number() OVER (PARTITION BY probe_id "
            "ORDER BY cos DESC, neighbor_id) AS rank",
        )
        .where(F.col("rank") <= TOP_K)
        .select("probe_id", "neighbor_id", F.round("cos", 6).alias("cosine"),
                "rank")
        .orderBy("probe_id", "rank")
    )


def _lsh_sql() -> str:
    plane_lits = [
        "[" + ", ".join(str(s) for s in PLANES[p]) + "]"
        for p in range(N_PLANES)
    ]
    bucket_terms = " + ".join(
        f"(CASE WHEN ({_SQL_DOT.format(n=DIM, a='embedding', b=plane_lits[p])})"
        f" > 0 THEN {1 << p} ELSE 0 END)"
        for p in range(N_PLANES)
    )
    return f"""
    WITH sig AS (
        SELECT vec_id, embedding, {bucket_terms} AS bucket
        FROM embeddings
    ),
    probes AS (SELECT vec_id AS probe_id, embedding AS pe, bucket
               FROM sig WHERE vec_id < {N_PROBES}),
    cands AS (
        SELECT p.probe_id, p.pe, s.vec_id AS neighbor_id, s.embedding AS ne
        FROM probes p JOIN sig s
          ON s.bucket = p.bucket AND s.vec_id <> p.probe_id
    ),
    scored AS (
        SELECT probe_id, neighbor_id, {_sql_cos('pe', 'ne')} AS cos
        FROM cands
    ),
    ranked AS (
        SELECT probe_id, neighbor_id, cos,
               row_number() OVER (PARTITION BY probe_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM scored
    )
    SELECT probe_id, neighbor_id, round(cos, 6) AS cosine, rank
    FROM ranked
    WHERE rank <= 3
    ORDER BY probe_id, rank
    """


@query(
    "sim_lsh_ann_topk",
    section="LLM-pipeline: random-hyperplane LSH ANN — map-side bucket "
    "signature, same-bucket candidate join, exact cosine rerank "
    "(the 100 TB path: no cartesian, candidates ∝ bucket density)",
    oracle=_lsh_sql(),
)
def lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    bucket = None
    for p in range(N_PLANES):
        plane = F.expr(_plane_array_sql(PLANES[p]))
        term = F.when(_dot(F.col("e"), plane) > 0, F.lit(1 << p)).otherwise(0)
        bucket = term if bucket is None else bucket + term
    # Per-vector norm rides next to the bucket signature (r12): the
    # rerank's self-dots otherwise recompute per candidate pair. Same
    # doubles, same multiply order — bit-identical cosines.
    sig = emb.select(
        "vec_id", "e", bucket.alias("bucket"),
        _dot(F.col("e"), F.col("e")).alias("ee"),
    )
    probes = sig.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("bucket").alias("pbucket"),
        F.col("ee").alias("pp"),
    )
    cands = sig.join(
        F.broadcast(probes),
        (F.col("bucket") == F.col("pbucket"))
        & (F.col("vec_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("pe"), F.col("e"))
            / F.sqrt(F.col("pp") * F.col("ee"))
        ).alias("cos"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cands.select(
            "probe_id", "neighbor_id", "cos",
            F.row_number().over(w).alias("rank"),
        )
        .where(F.col("rank") <= 3)
        .select("probe_id", "neighbor_id", F.round("cos", 6).alias("cosine"),
                "rank")
        .orderBy("probe_id", "rank")
    )


@query(
    "sim_embedding_stats",
    section="LLM-pipeline: ArrayType column stats — L2 norms, per-label "
    "aggregates (zip_with/aggregate, JVM-side)",
    oracle=f"""
    WITH n AS (
        SELECT label,
               sqrt({_SQL_DOT.format(n=DIM, a='embedding', b='embedding')})
                   AS l2
        FROM embeddings
    )
    SELECT label, count(*) AS n_vecs,
           round(avg(l2), 6) AS avg_norm,
           round(min(l2), 6) AS min_norm,
           round(max(l2), 6) AS max_norm
    FROM n
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    e = _as_double(F.col("embedding"))
    n = t.embeddings.select(
        "label", F.sqrt(_dot(e, e)).alias("l2")
    )
    return (
        n.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("l2"), 6).alias("avg_norm"),
            F.round(F.min("l2"), 6).alias("min_norm"),
            F.round(F.max("l2"), 6).alias("max_norm"),
        )
        .orderBy("label")
    )


# Separate plane bank for pair mining (3 bands x 4 planes): banded OR
# boosts recall at moderate cosine exactly like MinHash banding.
# Scaling: 4-bit band keys give 16 buckets/band — sized for the sf0.01
# gate corpus (500 vecs, ~30/bucket). Grow PAIR_ROWS with the corpus
# (rows ∝ log2(N / target_bucket_size)) to keep candidate pairs linear;
# the recall loss per added row trades against rerank cost.
PAIR_BANDS = 3
PAIR_ROWS = 4
PAIR_PLANES: list[list[int]] = [
    [_plane_sign(100 + p, i) for i in range(DIM)]
    for p in range(PAIR_BANDS * PAIR_ROWS)
]
COSINE_PAIR_THRESHOLD = 0.4


def _pair_sql() -> str:
    plane_lits = [
        "[" + ", ".join(str(s) for s in PAIR_PLANES[p]) + "]"
        for p in range(PAIR_BANDS * PAIR_ROWS)
    ]

    def band_key(k: int) -> str:
        return " + ".join(
            f"(CASE WHEN ({_SQL_DOT.format(n=DIM, a='embedding', b=plane_lits[k * PAIR_ROWS + r])})"
            f" > 0 THEN {1 << r} ELSE 0 END)"
            for r in range(PAIR_ROWS)
        )

    bands = "\n        UNION ALL\n".join(
        f"        SELECT vec_id, embedding, {k} AS band_id,"
        f" {band_key(k)} AS key FROM embeddings"
        for k in range(PAIR_BANDS)
    )
    return f"""
    WITH bands AS (
{bands}
    ),
    cands AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM bands a
        JOIN bands b ON a.band_id = b.band_id AND a.key = b.key
                     AND a.vec_id < b.vec_id
    ),
    scored AS (
        SELECT vec_a, vec_b, {_sql_cos('x.embedding', 'y.embedding')} AS cos
        FROM cands
        JOIN embeddings x ON x.vec_id = vec_a
        JOIN embeddings y ON y.vec_id = vec_b
    )
    SELECT vec_a, vec_b, round(cos, 6) AS cosine
    FROM scored
    WHERE cos >= {COSINE_PAIR_THRESHOLD}
    ORDER BY vec_a, vec_b
    """


@query(
    "sim_cosine_neardup_pairs",
    section="LLM-pipeline: embedding-cosine near-dup PAIR mining — banded "
    "random-hyperplane LSH candidates (3 bands x 4 planes, OR-amplified "
    "recall) + exact rerank; NO all-pairs cartesian",
    oracle=_pair_sql(),
)
def cosine_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    # cache(): the embedding table is referenced by both band self-join
    # sides AND the two rerank joins — without it the 12 plane dot
    # products recompute once per reference (the minhash lesson).
    emb = t.embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    ).cache()
    # Per-vector self-norm hoisted below the explode (r12): one dot per
    # vector, not per pair; rides the band rows through the self-join.
    band_structs = []
    for k in range(PAIR_BANDS):
        key = None
        for r in range(PAIR_ROWS):
            plane = F.expr(_plane_array_sql(PAIR_PLANES[k * PAIR_ROWS + r]))
            bit = F.when(_dot(F.col("e"), plane) > 0, F.lit(1 << r)).otherwise(0)
            key = bit if key is None else key + bit
        band_structs.append(
            F.struct(F.lit(k).alias("band_id"), key.alias("key"))
        )
    bands = emb.select(
        "vec_id", "e", _dot(F.col("e"), F.col("e")).alias("n2"),
        F.explode(F.array(*band_structs)).alias("bk"),
    ).select("vec_id", "e", "n2", "bk.band_id", "bk.key")
    # Join strategy, MEASURED at sf0.1 and sf1 (r12): the band key
    # space is only PAIR_BANDS x 2^PAIR_ROWS = 48 values, so the
    # in-bucket work skews. Salting (a-side xxhash64 salt, b-side
    # exploded k ways, guide §2.5) and a SHUFFLE_HASH hint were both
    # tried: at sf1 the unsalted sort-merge is FASTEST (14.7 s vs 15.8
    # salt=8, 21.8 salt=8+SHJ, 58.8 SHJ) because AQE's skew-join split
    # already parallelizes the oversized sort-merge partitions there,
    # while salting pays b-side replication for nothing; only below
    # AQE's 256 MB skew threshold (sf0.1 fixtures) would salt+SHJ win
    # (2.2 s vs 4.6 s) — the wrong regime to tune for. Sort-merge also
    # spills natively (DiskJoinStep parity, as in the minhash verify).
    a = bands.alias("a")
    b = bands.alias("b")
    # Score INSIDE the band self-join (r12, guide §8: move the payload
    # once). The 4-bit band keys are a recall device, not a filter —
    # measured 18% of ALL pairs collide in some band — so the former
    # shape (distinct pair list, then two joins back to the embedding
    # table) re-shuffled a 64-double payload per candidate pair:
    # ~0.18·N²/2 pairs × 2·512 B, quadratic in bytes (≈19 GB at sf1).
    # Both self-join sides already carry the vector, so the cosine is
    # computed where the pair is born; only the sparse survivors
    # (cos ≥ threshold) reach the dedup shuffle. A pair colliding in
    # several bands is scored up to PAIR_BANDS times, but each
    # evaluation folds the same doubles in the same order, so the
    # rounded copies are identical and distinct() collapses them —
    # results bit-identical to the join-back shape (oracle-verified).
    #
    # ``+ rand()*0`` is numerically the identity (adding +0.0 changes no
    # bit of a double) but marks the alias non-deterministic, so the
    # threshold filter is NOT inlined into the join condition and the
    # output Project does not re-evaluate the dot product — the 64-dim
    # dot runs exactly once per collision (same fix as
    # text_minhash_lsh_dedup's Jaccard, r12).
    cos = (
        _dot(F.col("a.e"), F.col("b.e"))
        / F.sqrt(F.col("a.n2") * F.col("b.n2"))
        + F.rand() * F.lit(0.0)
    )
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            cos.alias("cos"),
        )
        .where(F.col("cos") >= COSINE_PAIR_THRESHOLD)
        .select("vec_a", "vec_b", F.round("cos", 6).alias("cosine"))
        .distinct()
        .orderBy("vec_a", "vec_b")
    )


N_CELLS = 16


@query(
    "sim_ivf_ann_topk",
    section="LLM-pipeline: IVF-flat ANN — coarse quantizer (16 fixed "
    "centroids), map-side cell assignment, within-cell candidates + exact "
    "rerank. The k-means-trained variant swaps the centroid source only; "
    "plan shape (broadcast centroids -> cell join -> rerank) is identical",
    oracle=f"""
    WITH seeds AS (
        SELECT vec_id AS cell_id, embedding AS ce FROM embeddings
        WHERE vec_id < {N_CELLS}
    ),
    assigned AS (
        SELECT vec_id, embedding, cell_id FROM (
            SELECT e.vec_id, e.embedding, s.cell_id,
                   row_number() OVER (PARTITION BY e.vec_id
                       ORDER BY {_sql_cos('e.embedding', 's.ce')} DESC,
                                s.cell_id) AS rn
            FROM embeddings e CROSS JOIN seeds s
        ) ranked WHERE rn = 1
    ),
    probes AS (SELECT vec_id AS probe_id, embedding AS pe, cell_id
               FROM assigned WHERE vec_id < {N_PROBES}),
    cands AS (
        SELECT p.probe_id, p.pe, a.vec_id AS neighbor_id,
               a.embedding AS ne
        FROM probes p JOIN assigned a
          ON a.cell_id = p.cell_id AND a.vec_id <> p.probe_id
    ),
    ranked AS (
        SELECT probe_id, neighbor_id,
               {_sql_cos('pe', 'ne')} AS cos,
               row_number() OVER (PARTITION BY probe_id
                   ORDER BY {_sql_cos('pe', 'ne')} DESC, neighbor_id)
                   AS rank
        FROM cands
    )
    SELECT probe_id, neighbor_id, round(cos, 6) AS cosine, rank
    FROM ranked
    WHERE rank <= 3
    ORDER BY probe_id, rank
    """,
)
def ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    t = Catalog(spark, sf_dir)
    # Hoisted norms (r12): the cell-assignment cosine recomputed the
    # vector's self-dot once per CENTROID and the rerank once per
    # candidate pair. One norm per vector / per seed; sqrt(ee * cn)
    # multiplies the same doubles in the same order — bit-identical.
    emb = t.embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    emb = emb.select("vec_id", "e", _dot(F.col("e"), F.col("e")).alias("ee"))
    seeds = emb.where(F.col("vec_id") < N_CELLS).select(
        F.col("vec_id").alias("cell_id"), F.col("e").alias("ce"),
        F.col("ee").alias("cn"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("cell_cos"), "cell_id"
    )
    assigned = (
        emb.join(F.broadcast(seeds))
        .select(
            "vec_id",
            "e",
            "ee",
            "cell_id",
            (
                _dot(F.col("e"), F.col("ce"))
                / F.sqrt(F.col("ee") * F.col("cn"))
            ).alias("cell_cos"),
        )
        .select(
            "vec_id", "e", "ee", "cell_id",
            F.row_number().over(w_assign).alias("rn"),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    probes = assigned.where(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("probe_id"),
        F.col("e").alias("pe"),
        F.col("cell_id").alias("pcell"),
        F.col("ee").alias("pp"),
    )
    cands = assigned.join(
        F.broadcast(probes),
        (F.col("cell_id") == F.col("pcell"))
        & (F.col("vec_id") != F.col("probe_id")),
    ).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        (
            _dot(F.col("pe"), F.col("e"))
            / F.sqrt(F.col("pp") * F.col("ee"))
        ).alias("cos"),
    )
    w = Window.partitionBy("probe_id").orderBy(F.desc("cos"), "neighbor_id")
    return (
        cands.select(
            "probe_id", "neighbor_id", "cos",
            F.row_number().over(w).alias("rank"),
        )
        .where(F.col("rank") <= 3)
        .select("probe_id", "neighbor_id", F.round("cos", 6).alias("cosine"),
                "rank")
        .orderBy("probe_id", "rank")
    )


K_CLUSTERS = 8


def _assign(emb: DataFrame, cents: DataFrame) -> DataFrame:
    """Map each vector to its max-cosine centroid (ties → lower cid).
    Centroids are broadcast (tiny: K × DIM), so assignment is map-side —
    the scan stays linear and shuffle-free at any corpus size."""
    from pyspark.sql import Window

    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), "cid")
    # Hoisted norms (r12): self-dots once per vector / per centroid
    # instead of once per (vector, centroid); same multiply order, so
    # assignments are bit-identical.
    emb_n = emb.select(
        "vec_id", "e", _dot(F.col("e"), F.col("e")).alias("_ee")
    )
    cents_n = cents.select(
        "cid", "ce", _dot(F.col("ce"), F.col("ce")).alias("_cn")
    )
    return (
        emb_n.join(F.broadcast(cents_n))
        .select(
            "vec_id", "e", "cid",
            (
                _dot(F.col("e"), F.col("ce"))
                / F.sqrt(F.col("_ee") * F.col("_cn"))
            ).alias("cos"),
        )
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .drop("rn")
    )


@query(
    "sim_kmeans_two_iterations",
    section="LLM-pipeline: iterative algorithm under the oracle gate — "
    "two deterministic Lloyd iterations (fixed seeds = vec_id < K, "
    "argmax-cosine assignment with cid tiebreak, centroid update "
    "QUANTIZED to 6 dp so mean-accumulation-order noise cannot leak "
    "into the next assignment). Per-iteration cost: broadcast K×DIM "
    "centroids + linear scan (assignment), one shuffle on (cid, dim) "
    "(update) — no all-pairs, corpus never re-shuffled on itself",
    oracle=f"""
    WITH emb AS (SELECT vec_id, embedding AS e FROM embeddings),
    seeds AS (SELECT vec_id AS cid, embedding AS ce FROM embeddings
              WHERE vec_id < {K_CLUSTERS}),
    a1 AS (
        SELECT vec_id, e, cid FROM (
            SELECT emb.vec_id, emb.e, s.cid,
                   row_number() OVER (PARTITION BY emb.vec_id
                       ORDER BY {_sql_cos('emb.e', 's.ce')} DESC, s.cid)
                       AS rn
            FROM emb CROSS JOIN seeds s
        ) r WHERE rn = 1
    ),
    dims AS (SELECT cid, generate_subscripts(e, 1) AS dim,
                    unnest(e)::DOUBLE AS v
             FROM a1),
    c1 AS (
        SELECT cid, list(m ORDER BY dim) AS ce FROM (
            SELECT cid, dim, round(avg(v), 6) AS m
            FROM dims GROUP BY cid, dim
        ) t GROUP BY cid
    ),
    a2 AS (
        SELECT vec_id, e, cid FROM (
            SELECT emb.vec_id, emb.e, c.cid,
                   row_number() OVER (PARTITION BY emb.vec_id
                       ORDER BY {_sql_cos('emb.e', 'c.ce')} DESC, c.cid)
                       AS rn
            FROM emb CROSS JOIN c1 c
        ) r WHERE rn = 1
    )
    SELECT a2.cid AS cluster_id,
           count(*) AS n_members,
           round(list_sum(c1.ce), 6) AS centroid_sum,
           round(avg({_sql_cos('a2.e', 'c1.ce')}), 4) AS mean_cos
    FROM a2 JOIN c1 ON a2.cid = c1.cid
    GROUP BY cluster_id, c1.ce
    ORDER BY cluster_id
    """,
)
def kmeans_two_iterations(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = Catalog(spark, sf_dir)
    emb = t.embeddings.select(
        "vec_id", _as_double(F.col("embedding")).alias("e")
    )
    seeds = emb.where(F.col("vec_id") < K_CLUSTERS).select(
        F.col("vec_id").alias("cid"), F.col("e").alias("ce")
    )
    a1 = _assign(emb, seeds)
    c1 = (
        a1.select("cid", F.posexplode("e").alias("pos", "v"))
        .groupBy("cid", "pos")
        .agg(F.round(F.avg("v"), 6).alias("m"))
        .groupBy("cid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s["m"],
            ).alias("ce")
        )
    )
    a2 = _assign(emb, c1)
    centroid_sum = F.aggregate(
        F.col("ce"), F.lit(0.0), lambda acc, v: acc + v
    )
    return (
        a2.join(c1, "cid")
        .groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.round(F.first(centroid_sum), 6).alias("centroid_sum"),
            F.round(F.avg("cos"), 4).alias("mean_cos"),
        )
        .orderBy("cluster_id")
    )


@query(
    "sim_embedding_quantize",
    section="LLM-pipeline: int8 scalar quantization of embeddings "
    "(per-vector max-abs scale, symmetric round-to-nearest) with "
    "reconstruction-error audit — the storage-compression step ANN "
    "indexes run before sharding",
    oracle=f"""
    WITH s AS (
        SELECT label,
               list_transform(embedding, x -> x::DOUBLE) AS emb,
               list_aggregate(
                   list_transform(embedding, x -> abs(x::DOUBLE)), 'max')
                   AS mx
        FROM embeddings
    ), q AS (
        SELECT label, mx,
               (CASE WHEN mx = 0 THEN 1.0 ELSE mx END) / 127.0 AS scale,
               emb
        FROM s
    ), e AS (
        SELECT label, mx,
               list_sum(list_transform(
                   emb, x -> abs(round(x / scale) * scale - x)
               )) / {DIM} AS err
        FROM q
    )
    SELECT label,
           count(*) AS n_vecs,
           round(avg(mx), 6) AS avg_max_abs,
           round(avg(err), 6) AS avg_abs_err,
           round(max(err), 6) AS max_abs_err
    FROM e
    GROUP BY label
    ORDER BY label
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization audit (scale = max|x| / 127).

    Codes are implicitly in [-127, 127] (|x| ≤ max|x| by construction),
    so no clamp branch exists to diverge between engines. Zero vectors
    take scale 1/127 via an identical CASE in both engines.

    Parity: quantize/dequantize error is computed per-dimension in DOUBLE
    with the module's sequential-accumulation idiom (zip-free transform +
    aggregate vs list_sum(list_transform)), so per-vector err is
    bit-identical; per-label avg rides the usual round-to-6dp policy.

    Scale shape: entirely map-side per vector (no shuffle before the
    per-label audit agg) — at 100 TB this is the projection you fuse into
    the embedding write; int8 + one float scale per vector is a 3.9×
    storage cut, which is what makes the IVF/LSH shards (sim_ivf_ann_topk)
    fit executor memory.
    """
    t = Catalog(spark, sf_dir)
    emb = _as_double(F.col("embedding"))
    s = t.embeddings.select("label", emb.alias("emb")).withColumn(
        "mx",
        F.aggregate(
            F.transform("emb", lambda x: F.abs(x)),
            F.lit(0.0),
            lambda a, v: F.greatest(a, v),
        ),
    )
    q = s.withColumn(
        "scale",
        F.when(F.col("mx") == 0.0, F.lit(1.0)).otherwise(F.col("mx"))
        / 127.0,
    )
    e = q.select(
        "label",
        "mx",
        (
            F.aggregate(
                F.transform(
                    "emb",
                    lambda x: F.abs(
                        F.round(x / F.col("scale")) * F.col("scale") - x
                    ),
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            )
            / DIM
        ).alias("err"),
    )
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.avg("mx"), 6).alias("avg_max_abs"),
            F.round(F.avg("err"), 6).alias("avg_abs_err"),
            F.round(F.max("err"), 6).alias("max_abs_err"),
        )
        .orderBy("label")
    )


def _recall_oracle() -> str:
    """Compose the registered brute-force and LSH oracles as CTEs — the
    eval pins recall against the SAME artifacts the gate checks."""
    from mariadb_columnstore_engine_spark.plans.registry import QUERIES

    brute = QUERIES["sim_bruteforce_cosine_topk"].oracle
    approx = QUERIES["sim_lsh_ann_topk"].oracle
    return f"""
    WITH brute AS ({brute}),
         approx AS ({approx})
    SELECT b.probe_id,
           CAST(count(a.neighbor_id) AS BIGINT) AS hits,
           CAST({TOP_K} AS BIGINT) AS k,
           CAST((10000 * count(a.neighbor_id)) // {TOP_K} AS BIGINT)
               AS recall_bps
    FROM brute b
    LEFT JOIN approx a
      ON a.probe_id = b.probe_id AND a.neighbor_id = b.neighbor_id
    GROUP BY b.probe_id
    ORDER BY b.probe_id
    """


@query(
    "sim_lsh_recall_eval",
    section="LLM-pipeline: ANN quality evaluation — recall@k of the LSH "
    "index against the brute-force ground truth, composed from the two "
    "registered queries (the accept/reject metric for an index build)",
    oracle=_recall_oracle(),
)
def lsh_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k per probe, in exact integer basis points.

    Both sides reuse the registered plan builders, so the eval measures
    the production index, not a reimplementation. Scale: both inputs are
    top-k results (probes × k rows) — the join and groupBy are over
    result-sized data, trivially small next to the index build itself.
    At 100 TB this is the query you run on a sampled probe set after
    every index (re)build; recall_bps < threshold → widen buckets or
    add bands (see the plane-count scaling notes above).
    """
    brute = bruteforce_cosine_topk(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    )
    approx = lsh_ann_topk(spark, sf_dir).select(
        "probe_id", F.col("neighbor_id").alias("a_id")
    )
    return (
        brute.join(
            approx,
            (brute.probe_id == approx.probe_id)
            & (brute.neighbor_id == approx.a_id),
            "left",
        )
        .groupBy(brute.probe_id)
        .agg(
            F.count("a_id").alias("hits"),
            F.lit(TOP_K).cast("long").alias("k"),
            F.expr(f"(10000 * count(a_id)) div {TOP_K}").alias(
                "recall_bps"
            ),
        )
        .orderBy("probe_id")
    )


# ---- linear-model inference in pure relational ops ------------------------

#: fixed 3-class x 64-dim weight matrix (deterministic, small literals
#: that parse to identical doubles in both engines)
_LM_CLASSES = 3
_LM_DIM = 64
_LM_W = [
    [(((c * _LM_DIM + d) * 37) % 13 - 6) / 10.0 for d in range(_LM_DIM)]
    for c in range(_LM_CLASSES)
]


def _lm_oracle() -> str:
    wrows = ", ".join(
        f"({c}, [{', '.join(repr(x) for x in _LM_W[c])}])"
        for c in range(_LM_CLASSES)
    )
    return f"""
    WITH w(cls, wv) AS (VALUES {wrows}),
    l AS (
        SELECT e.vec_id, w.cls,
               round(list_sum(list_transform(generate_series(1, {_LM_DIM}),
                     i -> CAST(e.embedding[i] AS DOUBLE) * wv[i])), 4)
                   AS logit
        FROM embeddings e, w
    ), r AS (
        SELECT vec_id, cls, logit,
               row_number() OVER (PARTITION BY vec_id
                   ORDER BY logit DESC, cls) AS rn
        FROM l
    )
    SELECT vec_id, CAST(cls AS BIGINT) AS pred, logit AS best_logit
    FROM r WHERE rn = 1
    ORDER BY vec_id
    """


@query(
    "sim_linear_model_inference",
    section="LLM-pipeline: linear-model inference in pure relational "
    "ops (the ICDE 2025 'ML inference in pure SQL via operator fusion' "
    "pattern, PAPERS.md) — per-class dot products as JVM-side zip_with "
    "+ sequential fold (bit-identical to the oracle's index-ordered "
    "list_sum), argmax with smallest-class tiebreak; broadcast-free, "
    "one map-side pass over the corpus",
    oracle=_lm_oracle(),
)
def linear_model_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score every embedding against a fixed 3-class linear model and
    emit the argmax class + its logit. Scale shape: weights are plan
    literals (no join at all); the whole computation is one projection
    inside whole-stage codegen — the fused-operator inference shape."""
    t = Catalog(spark, sf_dir)
    emb = F.col("embedding").cast("array<double>")
    logits = [
        F.round(
            F.aggregate(
                F.zip_with(
                    emb,
                    F.array(*[F.lit(x) for x in _LM_W[c]]),
                    lambda a, b: a * b,
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
            4,
        ).alias(f"l{c}")
        for c in range(_LM_CLASSES)
    ]
    scored = t.embeddings.select("vec_id", *logits)
    l0, l1, l2 = F.col("l0"), F.col("l1"), F.col("l2")
    pred = (
        F.when((l0 >= l1) & (l0 >= l2), F.lit(0))
        .when(l1 >= l2, F.lit(1))
        .otherwise(F.lit(2))
    )
    return scored.select(
        "vec_id",
        pred.cast("long").alias("pred"),
        F.greatest(l0, l1, l2).alias("best_logit"),
    ).orderBy("vec_id")
