"""Approximate-nearest-neighbor search over embedding columns.

Two tiers (task north star — similarity search over array<float>):

- brute-force cosine top-k: the exact baseline. Query set x corpus via
  broadcast of the (small) query side; per-query top-k with a window,
  which TakeOrdered-style keeps k rows per query per partition before the
  final shuffle. Exact-oracle-checkable (bit-identical to DuckDB, see
  functions/vectors.py).
- random-hyperplane LSH buckets: the 100 TB path. p signed projections
  give a p-bit bucket id; candidates are bucket collisions only, so the
  join is linear-ish in collisions instead of |queries| x |corpus|.
  Hyperplanes are generated once from a fixed seed on the driver and
  broadcast — tiny (p x dim doubles).
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.vectors import as_double, cosine, dot, norm

def _pair_sim() -> F.Column:
    """Per-pair cosine with per-SIDE precomputed double vectors and
    norms: dot/(|a|*|b|) evaluates bit-identically whether the norms are
    computed inside the pair expression or once per row, but higher-order
    functions are interpreted (not codegen'd), so hoisting the cast + two
    norm aggregates out of the |Q| x |corpus| pair space cuts the
    per-pair work from 5 array traversals to 1 — the difference between
    O(pairs x 5d) and O(pairs x d + rows x 4d) interpreted ops at any
    scale."""
    return dot(F.col("_qvec"), F.col("_cvec")) / (
        F.col("_qnorm") * F.col("_cnorm")
    )


def brute_force_topk(corpus: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     query_id_col: str = "query_id",
                     exclude_self: bool = True) -> DataFrame:
    """Exact cosine top-k per query. Queries are broadcast.

    Returns (query_id, vec_id, cosine_sim, rank), rank 1..k, ties broken
    by corpus id for determinism. ``exclude_self`` drops pairs with
    query_id == vec_id — set it False when query and corpus ids come from
    DIFFERENT domains, where an id collision is a legitimate neighbor.
    """
    q = queries.select(
        F.col(query_id_col), as_double(F.col(vec_col)).alias("_qvec")
    ).withColumn("_qnorm", norm(F.col("_qvec")))
    c = corpus.select(
        F.col(id_col), as_double(F.col(vec_col)).alias("_cvec")
    ).withColumn("_cnorm", norm(F.col("_cvec")))
    cond = (
        F.col(query_id_col) != F.col(id_col) if exclude_self else F.lit(True)
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    return (
        c.join(F.broadcast(q), cond)
        .select(query_id_col, id_col, _pair_sim().alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    return np.random.default_rng(seed).standard_normal((n_planes, dim))


def lsh_bucket_expr(vec_col: str, planes: np.ndarray) -> F.Column:
    """The p-bit hyperplane-sign signature as a pure column expression
    (dot with a literal array per plane) — broadcast-free, codegen'd,
    no Python."""
    from mapreduce_4_spark.functions.vectors import dot

    bucket = F.lit(0).cast("long")
    v = as_double(F.col(vec_col))
    for j, plane in enumerate(planes):
        lit_plane = F.array(*[F.lit(float(x)) for x in plane])
        bucket = bucket + F.when(dot(v, lit_plane) > 0, F.lit(1 << j)).otherwise(0)
    return bucket


def lsh_bucket_ids(df: DataFrame, planes: np.ndarray,
                   vec_col: str = "embedding") -> DataFrame:
    """Add a ``bucket`` column: p-bit signature of hyperplane signs."""
    return df.withColumn("bucket", lsh_bucket_expr(vec_col, planes))


def lsh_topk(corpus: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             n_planes: int = 8, id_col: str = "vec_id",
             vec_col: str = "embedding",
             query_id_col: str = "query_id",
             multiprobe: bool = False,
             exclude_self: bool = True) -> DataFrame:
    """Approximate top-k: exact ranking within LSH bucket collisions.

    Recall < 1.0 by construction; the property test measures it against
    brute force. More planes -> smaller buckets -> faster and less
    recall. ``multiprobe=True`` additionally probes every bucket at
    hamming distance 1 from the query's bucket (each sign bit flipped
    once) — the standard recall-vs-cost knob: probe cost grows by
    n_planes x, recall approaches brute force, corpus side is untouched.

    ``dim`` (the embedding dimensionality) is REQUIRED so plan
    construction stays action-free — no driver-side probe of the corpus.
    ``exclude_self`` as in :func:`brute_force_topk`.
    """
    if not isinstance(dim, int) or dim < 1:
        raise ValueError(f"dim must be a positive int, got {dim!r}")
    planes = hyperplanes(dim, n_planes)
    c = lsh_bucket_ids(
        corpus.select(id_col, as_double(F.col(vec_col)).alias("_cvec")),
        planes, "_cvec",
    ).withColumn("_cnorm", norm(F.col("_cvec")))
    q = lsh_bucket_ids(
        queries.select(query_id_col, as_double(F.col(vec_col)).alias("_qvec")),
        planes, "_qvec",
    ).withColumn("_qnorm", norm(F.col("_qvec")))
    if multiprobe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(n_planes)],
        )
        q = q.withColumn("bucket", F.explode(probe_buckets))
    w = Window.partitionBy(query_id_col).orderBy(
        F.desc("cosine_sim"), F.asc(id_col)
    )
    out = c.join(F.broadcast(q), "bucket")
    if exclude_self:
        out = out.filter(F.col(query_id_col) != F.col(id_col))
    return (
        out.select(query_id_col, id_col, _pair_sim().alias("cosine_sim"))
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
    )


def decontam_max_cosine(corpus: DataFrame, bench: DataFrame, tau: float,
                        n_planes: int | None = None, dim: int | None = None,
                        multiprobe: bool = True,
                        n_tables: int = 1) -> DataFrame:
    """Per-corpus-vector max cosine against a benchmark set, with the
    contamination verdict — the semantic-decontamination kernel.

    ``corpus`` must carry (vec_id, v); ``bench`` (bench_id, bv); both
    vectors as array<double> (``functions.vectors.as_double``). Norms
    are computed here once per ROW and hoisted out of the pair space
    (the _pair_sim discipline).

    Two routing modes:

    - ``n_planes=None`` (exact): corpus x broadcast(bench) — every pair
      scored, every corpus row gets a non-NULL verdict. Right when the
      bench set is small (tens of vectors): 100 TB of corpus streams
      through one map-side argmax and never shuffles. Cost is a
      |bench|-multiplier on the corpus scan, which is why this mode
      must not be used with a 10^4-10^5-vector real benchmark suite.
    - ``n_planes=k`` (LSH-routed): both sides bucket on k seeded
      hyperplane signs (the similarity_lsh_topk infrastructure); the
      BENCH side additionally explodes hamming-1 probe buckets when
      ``multiprobe`` (bench is the small side — the probe fan-out never
      touches the corpus). A corpus vector is scored only against bench
      members in its own bucket, so per-row cost is O(colliding bench)
      instead of O(|bench|); rows with no collision return NULL
      max_cos / contaminated=false (routed clear). Recall < 1.0 by
      construction — measured against the exact mode in BASELINE.md
      (``ab_decontam_*``) and tests/test_similarity.py.

    ``n_tables`` is the OR-amplification recall dial for the LSH mode
    (r9 verdict ask #2): t independent seeded plane sets (seed 42+t, so
    n_tables=1 is bit-identical to the single-table config) each
    contribute a band table; a pair collides when it collides in ANY
    table, so flag recall rises ~1-(1-r)^t at ~t x probe cost. The
    COMBINED bucket key is ``t * 2^n_planes + bucket_t`` — one long, so
    the plan stays exactly ONE BroadcastHashJoin on one key no matter
    how many tables (plan-pinned). Only the bench side fans out by
    t x (1+n_planes) probe rows; the corpus computes t keys per row
    (an explode of t cheap struct-free longs, no shuffle). Duplicate
    (corpus, bench) collisions across tables are NOT deduped — the
    argmax aggregate is duplicate-insensitive, and a dedup would cost
    the shuffle this plan exists to avoid.

    Returns (vec_id, nearest_bench_id, max_cos, contaminated).
    """
    c = corpus.withColumn("_cn", norm(F.col("v")))
    b = bench.withColumn("_bn", norm(F.col("bv")))
    if n_planes is None:
        # LEFT join on a true predicate, not crossJoin: with a non-empty
        # bench the output is identical (every corpus row matches every
        # bench row), and with an EMPTY bench every corpus row still
        # gets its contaminated=false verdict instead of vanishing —
        # the same no-collision contract the LSH mode has.
        joined = c.join(F.broadcast(b), F.lit(True), "left")
    else:
        if not isinstance(dim, int) or dim < 1:
            raise ValueError(f"dim must be a positive int, got {dim!r}")
        if not isinstance(n_tables, int) or n_tables < 1:
            raise ValueError(
                f"n_tables must be a positive int, got {n_tables!r}"
            )
        tables = [hyperplanes(dim, n_planes, seed=42 + t)
                  for t in range(n_tables)]
        keys = [
            F.lit(t << n_planes) + lsh_bucket_expr("v", planes)
            for t, planes in enumerate(tables)
        ]
        c = c.withColumn(
            "bucket", keys[0] if n_tables == 1
            else F.explode(F.array(*keys))
        )
        bu = None
        for t, planes in enumerate(tables):
            bt = b.withColumn(
                "_bb", F.lit(t << n_planes) + lsh_bucket_expr("bv", planes)
            )
            bu = bt if bu is None else bu.unionByName(bt)
        if multiprobe:
            # hamming-1 probes flip only the low n_planes bits, so a
            # probe never crosses into another table's key subspace
            bu = bu.withColumn(
                "_bb",
                F.explode(F.array(
                    F.col("_bb"),
                    *[F.col("_bb").bitwiseXOR(F.lit(1 << j))
                      for j in range(n_planes)],
                )),
            )
        joined = c.join(F.broadcast(bu), F.col("bucket") == F.col("_bb"),
                        "left")
    # zero-norm guard BEFORE the division: under Spark 4's default ANSI
    # mode x/0.0 raises DIVIDE_BY_ZERO; a zero-norm vector scores -1.0
    # against everything instead (the exact_cosine_pairs convention,
    # matching DuckDB list_cosine_similarity on zero-norm input).
    denom = F.col("_cn") * F.col("_bn")
    cos = F.when(denom != 0, dot(F.col("v"), F.col("bv")) / denom) \
        .otherwise(F.lit(-1.0))
    sims = joined.select(
        "vec_id", "bench_id",
        F.when(F.col("bench_id").isNotNull(), cos).alias("cos"),
    )
    # argmax(cos) with bench_id tiebreak as ONE hash aggregate (partial
    # combine runs map-side); NULL-struct rows (no collision) are
    # ignored by min(), so an unrouted vector aggregates to NULL.
    best = sims.groupBy("vec_id").agg(
        F.min(
            F.when(
                F.col("cos").isNotNull(),
                F.struct((-F.col("cos")).alias("neg"), F.col("bench_id")),
            )
        ).alias("b")
    )
    return best.select(
        "vec_id",
        F.col("b.bench_id").alias("nearest_bench_id"),
        (-F.col("b.neg")).alias("max_cos"),
        F.coalesce(-F.col("b.neg") >= tau, F.lit(False)).alias("contaminated"),
    )


def exact_cosine_pairs(corpus: DataFrame, threshold: float, dim: int,
                       n_blocks: int = 16, id_col: str = "vec_id",
                       vec_col: str = "embedding") -> DataFrame:
    """EXACT cosine-threshold self-join without the quadratic nested-loop
    plan the naive ``a JOIN b ON id_a < id_b`` form produces.

    Block nested-loop with pruning, every tier provably lossless at
    ``threshold``:

    1. **Blocking** — each vector goes to its nearest of ``n_blocks``
       seed directions, generated from ``(dim, n_blocks, seed)`` by the
       same seeded generator as the LSH hyperplanes — derived from NO
       data, so plan construction is action-free. The unit-normalized
       seeds are inlined as LITERAL arrays in a single argmax
       expression, so assignment is a pure per-row column expression —
       no join, no window, no shuffle, no driver-side corpus probe.
       Blocks partition the corpus, so every unordered pair lives in
       exactly one block pair.
    2. **Block-pair bound pruning** — per block pair, inside the verify
       step: unit mean-direction centroid + angular radius (max member
       angle to it), both recomputed deterministically from the member
       matrices. For any u in A, v in B the spherical triangle
       inequality gives ``angle(u,v) >= angle(cA,cB) - rA - rB``, hence
       ``cos(u,v) <= cos(max(0, angle(cA,cB) - rA - rB))``; a block pair
       whose bound is below ``threshold - 1e-6`` cannot contain a
       qualifying pair and its GEMM is skipped (the slack dwarfs the
       ~1e-7 worst-case float error of the angle math — the bound holds
       for ANY centroid choice, so no coordination between tiers is
       needed). On an angularly clustered corpus this skips most block
       pairs; on an adversarially uniform corpus (where NO exact method
       beats Omega(n^2) pair inspections) it degrades to vectorized
       brute force, never to a wrong answer.
    3. **Vectorized verify** — block pairs join their member arrays
       (equi-joins on block id: the plan is hash joins only, no
       BroadcastNestedLoopJoin, no CartesianProduct — pinned by
       tests/test_plan_properties.py) and a ``mapInPandas`` step runs
       one normalized numpy GEMM per surviving block pair, emitting
       candidate id pairs at ``threshold - 1e-6`` (GEMM and the JVM's
       left-to-right accumulation agree to ~1e-12 relative, so no
       qualifying pair can be lost). Candidates — a tiny fraction of
       the pair space — are re-scored with the bit-exact JVM expression
       ``dot/(|a|*|b|)`` (functions/vectors.py) and filtered at
       ``threshold``, so output VALUES are bit-identical to DuckDB's
       ``list_cosine_similarity`` all-pairs oracle.

    Zero-norm vectors: DuckDB's ``list_cosine_similarity`` defines the
    cosine of a zero-norm pair as -1.0, so the exact tier emits -1.0 for
    them (never a DIVIDE_BY_ZERO under ANSI mode) and the GEMM keeps its
    NaN hits as candidates only when the threshold admits -1.0.

    100 TB posture: communication is O(n_blocks * n) — each block ships
    to at most n_blocks partners; FLOPs are n^2 d only in the
    no-structure worst case and run at BLAS speed. Scale n_blocks ~
    n / desired_block_rows so one block's member matrix fits a task
    (e.g. 10k x 64 doubles = 5 MB); for corpora with real angular
    structure, swap the data-free seeds for a trained
    ``train_centroids(iters>=1)`` table to tighten radii — the bound
    logic is unchanged.

    Returns (id_a, id_b, cosine_sim) with id_a < id_b.
    """
    import math

    spark = corpus.sparkSession
    emb = corpus.select(id_col, vec_col)

    # Seed directions come from the SAME seeded generator as the LSH
    # hyperplanes — derived from (dim, n_blocks, seed) alone, NEVER from
    # the data, so plan construction stays action-free (the repo-wide
    # convention lsh_topk/ivf pin: no driver-side probe of the corpus).
    # ``dim`` is required for the same reason. Any deterministic
    # direction set yields a valid partition of the corpus; the
    # block-level bound is computed downstream from the ACTUAL members,
    # so correctness never depends on seed quality — only pruning rate
    # does.
    raw_seeds = hyperplanes(dim, n_blocks)
    unit_seeds = []
    for sv in raw_seeds:
        sn = math.sqrt(math.fsum(float(x) * float(x) for x in sv))
        unit_seeds.append([float(x) / sn for x in sv])

    # Nearest-seed assignment as ONE literal column expression: an
    # argmax over k literal dot products. Seeds are unit-normalized
    # driver-side, so argmax(dot(v, unit_seed)) == argmax(cosine) with
    # NO division in the expression (ANSI mode makes x/0 an error, and
    # the argmax is scale-invariant in |v| anyway). Ties break to the
    # lowest seed index via the negated-index struct field (array_max
    # compares struct fields lexicographically); a zero-norm vector
    # scores 0 against every seed and lands in block 1 — also fine,
    # blocks only need to be a deterministic partition.
    vd = as_double(F.col(vec_col))
    scored = [
        F.struct(
            dot(vd, F.array(*[F.lit(x) for x in us])).alias("s"),
            F.lit(-k).alias("nid"),
        )
        for k, us in enumerate(unit_seeds, start=1)
    ]
    block_expr = (-F.array_max(F.array(*scored))["nid"]).cast("int")
    assigned = emb.withColumn("block", block_expr)
    members = assigned.groupBy("block").agg(
        F.collect_list(
            F.struct(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        ).alias("members")
    )
    # All K(K+1)/2 unordered block-id pairs as a literal join table;
    # empty blocks simply never match the inner equi-joins.
    bp = spark.createDataFrame(
        [(ba, bb) for ba in range(1, n_blocks + 1)
         for bb in range(ba, n_blocks + 1)],
        "ba int, bb int",
    )
    paired = (
        bp.join(members.select(F.col("block").alias("ba"),
                               F.col("members").alias("ma")), "ba")
        .join(members.select(F.col("block").alias("bb"),
                             F.col("members").alias("mb")), "bb")
    )

    prefilter = float(threshold) - 1e-6
    # Zero-norm semantics: DuckDB's list_cosine_similarity returns -1.0
    # when either side has zero norm, so such pairs qualify only at
    # threshold <= -1.0; the GEMM's NaN hits are kept as candidates only
    # in that regime and the exact tier emits the -1.0 itself.
    nan_qualifies = prefilter <= -1.0

    def _gemm(batches):
        import math

        import pandas as pd

        def unpack(m):
            ids = np.fromiter((x["id"] for x in m), dtype=np.int64)
            vs = np.array([x["v"] for x in m], dtype=np.float64)
            with np.errstate(divide="ignore", invalid="ignore"):
                un = vs / np.linalg.norm(vs, axis=1)[:, None]
            return ids, un

        def stats(un):
            # unit centroid + max member angle; valid for ANY centroid,
            # so NaN rows (zero-norm members) just force radius = pi.
            c = np.nansum(un, axis=0)
            nc = np.linalg.norm(c)
            if nc == 0 or not np.isfinite(nc):
                return None, math.pi
            c = c / nc
            cosines = un @ c
            if np.isnan(cosines).any():
                return c, math.pi
            return c, math.acos(max(-1.0, min(1.0, float(cosines.min()))))

        for pdf in batches:
            out_a: list = []
            out_b: list = []
            for ba, bb, ma, mb in zip(pdf["ba"], pdf["bb"],
                                      pdf["ma"], pdf["mb"]):
                ia, ua = unpack(ma)
                ib, ub = unpack(mb)
                ca, ra = stats(ua)
                cb, rb = stats(ub)
                if ca is not None and cb is not None:
                    ang = math.acos(max(-1.0, min(1.0, float(ca @ cb))))
                    if math.cos(max(0.0, ang - ra - rb)) < prefilter:
                        continue  # provably no qualifying pair inside
                sim = ua @ ub.T
                with np.errstate(invalid="ignore"):
                    keep = sim >= prefilter
                    if nan_qualifies:
                        keep |= np.isnan(sim)
                ii, jj = np.nonzero(keep)
                id1, id2 = ia[ii], ib[jj]
                mask = id1 < id2 if ba == bb else id1 != id2
                id1, id2 = id1[mask], id2[mask]
                out_a.append(np.minimum(id1, id2))
                out_b.append(np.maximum(id1, id2))
            yield pd.DataFrame({
                "id_a": np.concatenate(out_a) if out_a else
                        np.array([], dtype=np.int64),
                "id_b": np.concatenate(out_b) if out_b else
                        np.array([], dtype=np.int64),
            })

    cands = paired.mapInPandas(_gemm, "id_a long, id_b long")

    a = emb.select(F.col(id_col).alias("id_a"),
                   as_double(F.col(vec_col)).alias("_ea")).withColumn(
        "_na", norm(F.col("_ea")))
    b = emb.select(F.col(id_col).alias("id_b"),
                   as_double(F.col(vec_col)).alias("_eb")).withColumn(
        "_nb", norm(F.col("_eb")))
    # identical FP op order to DuckDB list_cosine_similarity, including
    # its -1.0 for zero-norm inputs (the when-guard also keeps ANSI mode
    # from raising DIVIDE_BY_ZERO on the guarded branch)
    sim = F.when(
        (F.col("_na") * F.col("_nb")) == 0.0, F.lit(-1.0)
    ).otherwise(
        dot(F.col("_ea"), F.col("_eb")) / (F.col("_na") * F.col("_nb"))
    )
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", sim.alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )


def cosine_topk_ids(queries: DataFrame, cand: DataFrame, col: str,
                    k: int) -> DataFrame:
    """(query_id, vec_id) of each query's cosine top-k over ``cand[col]``
    — the bounded-brute-force contract shared by the recall evals: the
    query side (``query_id``, ``qv``) broadcasts, ranking is
    (cosine desc, vec_id asc) with the WindowGroupLimit pushdown, and
    self-matches are excluded."""
    pairs = F.broadcast(queries).join(
        cand, F.col("query_id") != F.col("vec_id")
    )
    rnk = F.row_number().over(
        Window.partitionBy("query_id").orderBy(
            cosine(F.col("qv"), F.col(col)).desc(), F.col("vec_id").asc()
        )
    )
    return (
        pairs.withColumn("rnk", rnk)
        .filter(F.col("rnk") <= k)
        .select("query_id", "vec_id")
    )


def recall_vs_exact(exact_ids: DataFrame, approx_ids: DataFrame) -> DataFrame:
    """Per-query recall@k of an approximate id set against the exact one:
    (query_id, n_true, n_hit, recall_at_10). The shared eval tail of the
    quantization/LSH recall queries — one convention, one place."""
    hits = approx_ids.withColumn("_hit", F.lit(1))
    return (
        exact_ids.join(hits, ["query_id", "vec_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.count("_hit").alias("n_hit"),
            (F.count("_hit").cast("double") / F.count(F.lit(1))).alias(
                "recall_at_10"
            ),
        )
    )
