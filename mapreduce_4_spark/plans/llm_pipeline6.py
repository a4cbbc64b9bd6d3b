"""Round-7 LLM-pipeline additions: winnowing fingerprints (the MOSS
span-level dedup signal), BPE first-merge pair statistics, fixed-width
block dedup with document reconstruction (C4-style line dedup adapted to
the fixture's delimiter-free token soup), per-source token-distribution
drift (total-variation distance — chosen over KL deliberately: TVD stays
in exact integer arithmetic until ONE final IEEE division, where KL's
per-token log would drift in the last ulp across engines), and an int8
scalar-quantization recall eval for the similarity tier. All fully
oracle-checked.

Reference anchor: each is a composition of the reference's
Map -> Shuffle -> Reduce contract (asio_deep/main.cpp:216-516)
generalized to gram-, pair-, block-, token- and vector-keyed spaces.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.text import ngrams_join, sql_words, words
from mapreduce_4_spark.functions.vectors import as_double
from mapreduce_4_spark.operators.dedup import MERSENNE_31, _base31
from mapreduce_4_spark.registry import REGISTRY as _REG
from mapreduce_4_spark.registry import register
from mapreduce_4_spark.sources import load_table

_W = sql_words("text")

#: winnowing parameters: k-gram size and window width. Guarantee: any
#: shared span of >= _WIN_K + _WIN_W - 1 tokens produces at least one
#: shared fingerprint (the winnowing theorem), at ~2/(w+1) the storage
#: of the full gram set.
_WIN_K = 3
_WIN_W = 4

#: BPE pair statistics: report the top-N adjacent-symbol pairs.
_BPE_TOP = 30

#: block dedup: block width in tokens (C4 uses lines; the fixture has no
#: newlines, so fixed-width token blocks stand in for them).
_BLOCK = 20

#: quantization eval reuses the similarity tier's query/k conventions.
_QR_QUERIES = 5
_QR_K = 10
_QR_DIM = 64

#: number of BPE merge rounds to train. Semantics per round: count
#: adjacent symbol pairs over the vocabulary weighted by word frequency,
#: pick the (count desc, pair asc) winner, merge it everywhere with ONE
#: left-to-right non-overlapping replace pass (so 'a a a' -> 'aa a' —
#: replace() semantics are identical in Spark and DuckDB, which is what
#: makes the unrolled oracle bit-exact).
_BPE_MERGES = 5


def _bpe_oracle() -> str:
    """Programmatically unrolled DuckDB twin of the 5-round merge loop."""
    parts = [
        f"WITH wc AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt "
        f"FROM (SELECT unnest({_W}) AS word FROM documents) GROUP BY word), "
        "s0 AS (SELECT ' ' || array_to_string("
        "[word[i] for i in range(1, len(word) + 1)], ' ') || ' ' AS s, cnt "
        "FROM wc)"
    ]
    for r in range(1, _BPE_MERGES + 1):
        prev = f"s{r - 1}"
        parts.append(
            f", p{r} AS (SELECT w[i] || ' ' || w[i+1] AS pair, cnt "
            f"FROM (SELECT w, cnt, unnest(range(1, len(w))) AS i "
            f"FROM (SELECT string_split(trim(s), ' ') AS w, cnt "
            f"FROM {prev})))"
            f", t{r} AS (SELECT CAST({r} AS BIGINT) AS merge_rank, pair, "
            f"CAST(SUM(cnt) AS BIGINT) AS pair_count FROM p{r} "
            f"GROUP BY pair ORDER BY pair_count DESC, pair LIMIT 1)"
        )
        if r < _BPE_MERGES:
            parts.append(
                f", s{r} AS (SELECT replace(s, "
                f"' ' || (SELECT pair FROM t{r}) || ' ', "
                f"' ' || replace((SELECT pair FROM t{r}), ' ', '') || ' ') "
                f"AS s, cnt FROM {prev})"
            )
    union = " UNION ALL ".join(
        f"SELECT * FROM t{r}" for r in range(1, _BPE_MERGES + 1)
    )
    return "".join(parts) + " " + union


@register(
    "winnow_fingerprints_docs",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_W} AS w FROM documents
            WHERE len({_W}) >= {_WIN_K + _WIN_W - 1}
        ),
        g AS (
            SELECT doc_id,
                   [CAST('0x' || substring(md5(w[i] || ' ' || w[i+1] || ' ' ||
                                               w[i+2]), 1, 8) AS BIGINT)
                    & {MERSENNE_31}
                    for i in range(1, len(w) - 1)] AS hs
            FROM t
        ),
        p AS (
            SELECT doc_id, CAST(len(hs) AS BIGINT) AS n_grams,
                   s['i'] - 1 AS p, s['h'] AS h
            FROM (SELECT doc_id, hs,
                         unnest([{{'i': i, 'h': hs[i]}}
                                 for i in range(1, len(hs) + 1)]) AS s
                  FROM g)
        ),
        wm AS (
            SELECT doc_id, n_grams, p,
                   MIN(h) OVER (PARTITION BY doc_id ORDER BY p
                                ROWS BETWEEN CURRENT ROW
                                AND {_WIN_W - 1} FOLLOWING) AS wmin
            FROM p
        )
        SELECT doc_id, n_grams,
               COUNT(*) AS n_windows,
               COUNT(DISTINCT wmin) AS n_fingerprints,
               MIN(wmin) AS fp_min,
               CAST(SUM(DISTINCT wmin) AS BIGINT) AS fp_checksum
        FROM wm
        WHERE p <= n_grams - {_WIN_W}
        GROUP BY doc_id, n_grams
    """,
    tags=("text", "dedup", "fingerprint"),
    description="winnowing fingerprints (MOSS): md5-base31 3-gram hashes, "
                "min over each 4-window — any shared span of >= 6 tokens "
                "shares a fingerprint; per-doc count/min/checksum digest "
                "(docs shorter than k+w-1 words excluded on both engines)",
)
def winnow_fingerprints_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing selects ~2/(w+1) of the k-gram hashes as the document's
    fingerprint set while guaranteeing every sufficiently long shared
    span is detected — the classic span-level dedup signal (Schleimer et
    al., MOSS). Per-partition cost is linear and the only shuffle keys on
    doc_id (the window partition), so the plan is embarrassingly
    parallel at 100 TB; fingerprint sets feed the same banded-join
    machinery as MinHash downstream."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", words("text").alias("w")).filter(
        F.size("w") >= _WIN_K + _WIN_W - 1
    )
    grams = ngrams_join(F.col("w"), _WIN_K)
    # explode the hash EXPRESSION, not a materialized array column:
    # Generate over an attribute triggers InferFiltersFromGenerate, whose
    # size(g)>0 / isnotnull(g) predicates get substituted through the
    # projections and re-evaluate the whole tokenize+gram pipeline ~3x
    # (measured 5.7s -> 0.8s at sf0.1 for the explode stage alone)
    pos = toks.select(
        "doc_id",
        (F.size("w") - (_WIN_K - 1)).cast("long").alias("n_grams"),
        F.posexplode(F.transform(grams, _base31)).alias("p", "h"),
    )
    win = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.currentRow, _WIN_W - 1)
    )
    wm = pos.withColumn("wmin", F.min("h").over(win))
    return (
        wm.filter(F.col("p") <= F.col("n_grams") - _WIN_W)
        .groupBy("doc_id", "n_grams")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.countDistinct("wmin").alias("n_fingerprints"),
            F.min("wmin").alias("fp_min"),
            F.sum_distinct(F.col("wmin")).alias("fp_checksum"),
        )
        .select("doc_id", "n_grams", "n_windows", "n_fingerprints",
                "fp_min", "fp_checksum")
    )


@register(
    "bpe_top_pairs",
    oracle=f"""
        WITH w AS (SELECT unnest({_W}) AS word FROM documents),
        wc AS (
            SELECT word, COUNT(*) AS cnt FROM w
            WHERE len(word) >= 2 GROUP BY word
        ),
        p AS (
            SELECT substring(word, i, 2) AS pair, word, cnt
            FROM (SELECT word, cnt, unnest(range(1, len(word))) AS i FROM wc)
        )
        SELECT pair,
               COUNT(DISTINCT word) AS n_words,
               CAST(SUM(cnt) AS BIGINT) AS pair_count
        FROM p
        GROUP BY pair
        ORDER BY pair_count DESC, pair
        LIMIT {_BPE_TOP}
    """,
    tags=("text", "tokenizer"),
    description="BPE training's first merge step: corpus-frequency-weighted "
                "adjacent character-pair counts, top 30 with deterministic "
                "(count desc, pair asc) tiebreak — computed over the "
                "vocabulary with word multiplicities, not the raw stream",
)
def bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first iteration of byte-pair-encoding training: which adjacent
    symbol pair is most frequent. Scale shape: aggregate the corpus to
    its VOCABULARY first (word -> count, map-side combine applies), then
    explode character pairs over the vocabulary only — pair rows scale
    with distinct words, not corpus tokens, exactly how production BPE
    trainers batch their pair counts. Top-30 is TakeOrderedAndProject.
    Single-char words have no pair and are excluded on both engines."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    wc = (
        docs.select(F.explode(words("text")).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = wc.select(
        "word",
        "cnt",
        F.explode(
            F.expr(
                "transform(sequence(1, length(word) - 1), "
                "i -> substring(word, i, 2))"
            )
        ).alias("pair"),
    )
    return (
        pairs.groupBy("pair")
        .agg(
            F.countDistinct("word").alias("n_words"),
            F.sum("cnt").alias("pair_count"),
        )
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(_BPE_TOP)
    )


@register(
    "block_dedup_docs",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, {_W} AS w FROM documents WHERE len({_W}) >= 1
        ),
        b AS (
            SELECT doc_id, j AS bidx,
                   array_to_string(
                       w[(j-1)*{_BLOCK}+1:(j-1)*{_BLOCK}+{_BLOCK}], ' '
                   ) AS btext,
                   LEAST({_BLOCK}, len(w) - (j-1)*{_BLOCK}) AS blen
            FROM (SELECT doc_id, w,
                         unnest(range(1,
                             CAST(ceil(len(w) / {_BLOCK}.0) AS BIGINT) + 1)
                         ) AS j
                  FROM t)
        ),
        r AS (
            SELECT doc_id, bidx, blen,
                   ROW_NUMBER() OVER (PARTITION BY btext
                                      ORDER BY doc_id, bidx) AS rn
            FROM b
        )
        SELECT doc_id,
               COUNT(*) AS n_blocks,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept_blocks,
               CAST(SUM(blen) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN rn = 1 THEN blen ELSE 0 END) AS BIGINT)
                   AS n_tokens_kept,
               CAST(SUM(CASE WHEN rn = 1 THEN blen ELSE 0 END) AS DOUBLE)
                   / SUM(blen) AS kept_token_fraction
        FROM r
        GROUP BY doc_id
    """,
    tags=("pipeline", "dedup"),
    description="C4-style block-level dedup: split every doc into fixed "
                "20-token blocks, keep only the globally FIRST occurrence "
                "of each distinct block (order by doc_id, block index), "
                "report per-doc surviving block/token counts — the "
                "reconstruction ledger for span-level boilerplate removal",
)
def block_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line/paragraph dedup is the C4 pipeline's remedy for repeated
    boilerplate INSIDE otherwise-distinct documents; with no newlines in
    the fixture, fixed-width token blocks are the unit. Scale shape: the
    first-occurrence pick is a block-text-keyed AGGREGATE (min struct),
    so a globally repeated boilerplate block — the hot key this query
    exists to find — collapses map-side instead of sorting through one
    window task; then one probe-side join (AQE skew-split handles the
    hot probe) and the doc-keyed re-aggregation. The (doc_id, bidx)
    choice is deterministic, so replays are idempotent."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select("doc_id", words("text").alias("w")).filter(
        F.size("w") >= 1
    )
    blocks = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, cast(ceil(size(w) / {_BLOCK}.0) "
                f"as int)), j -> struct(j as bidx, "
                f"concat_ws(' ', slice(w, (j-1)*{_BLOCK}+1, {_BLOCK})) "
                f"as btext, "
                f"least({_BLOCK}, size(w) - (j-1)*{_BLOCK}) as blen))"
            )
        ).alias("b"),
    ).select("doc_id", "b.bidx", "b.btext", "b.blen")
    # first occurrence = MIN(struct(doc_id, bidx)) per block text: a
    # hash AGGREGATE (map-side combine collapses a hot boilerplate
    # block to one partial per task) instead of a per-btext window
    # sort that would funnel every occurrence through one task. Same
    # (doc_id, bidx) lexicographic choice as the oracle's ROW_NUMBER.
    first = blocks.groupBy("btext").agg(
        F.min(F.struct("doc_id", "bidx")).alias("_first")
    )
    r = blocks.join(first, "btext")
    is_first = F.struct("doc_id", "bidx") == F.col("_first")
    kept = F.when(is_first, 1).otherwise(0)
    kept_toks = F.when(is_first, F.col("blen")).otherwise(0)
    return (
        r.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(kept).alias("n_kept_blocks"),
            F.sum("blen").alias("n_tokens"),
            F.sum(kept_toks).alias("n_tokens_kept"),
        )
        .select(
            "doc_id",
            "n_blocks",
            "n_kept_blocks",
            "n_tokens",
            "n_tokens_kept",
            (
                F.col("n_tokens_kept").cast("double") / F.col("n_tokens")
            ).alias("kept_token_fraction"),
        )
    )


@register(
    "source_token_drift",
    oracle=f"""
        WITH tok AS (SELECT source, unnest({_W}) AS word FROM documents),
        cst AS (
            SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
            FROM tok GROUP BY source, word
        ),
        ct AS (SELECT word, CAST(SUM(c) AS BIGINT) AS ct FROM cst GROUP BY word),
        ns AS (SELECT source, CAST(SUM(c) AS BIGINT) AS ns FROM cst
               GROUP BY source),
        tot AS (SELECT CAST(SUM(ct) AS BIGINT) AS n,
                       COUNT(*) AS vocab_total FROM ct),
        agg AS (
            SELECT cst.source,
                   COUNT(*) AS vocab_used,
                   SUM(ABS(CAST(cst.c AS HUGEINT) * tot.n
                           - CAST(ct.ct AS HUGEINT) * ns.ns)) AS s_term,
                   CAST(SUM(ct.ct) AS HUGEINT) AS t_s
            FROM cst
            JOIN ct USING (word)
            JOIN ns ON cst.source = ns.source
            CROSS JOIN tot
            GROUP BY cst.source, ns.ns, tot.n
        )
        SELECT agg.source, ns.ns AS n_tokens, agg.vocab_used,
               tot.vocab_total,
               CAST(agg.s_term + (CAST(tot.n AS HUGEINT) - agg.t_s) * ns.ns
                    AS DOUBLE)
               / (2.0 * CAST(ns.ns AS DOUBLE) * CAST(tot.n AS DOUBLE)) AS tvd
        FROM agg JOIN ns ON agg.source = ns.source CROSS JOIN tot
    """,
    tags=("pipeline", "statistics"),
    description="per-source token-distribution drift vs the corpus: total "
                "variation distance 0.5*sum|p_src - p_corpus|, computed in "
                "exact integer cross-products with ONE final IEEE division "
                "(bit-exact where KL's logs would drift) — the mixture "
                "monitor that flags a feed whose content shifted",
)
def source_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TVD decomposes as [sum over the source's own vocabulary of
    |c_st*N - c_t*n_s| plus the mass of tokens the source never uses,
    (N - T_s)*n_s] / (2*n_s*N) — so NO source x global-vocab grid is
    materialized: cost is the distinct (source, token) relation joined
    to the vocabulary table on its natural key. At 100 TB that is the
    same shape as the per-source counts themselves. The big operands
    ride decimal(38,0) (exact to 1e38; token counts at 100 TB are ~1e13,
    products ~1e26), and order-free integer sums make the result
    reduction-order-independent across engines."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    tok = docs.select("source", F.explode(words("text")).alias("word"))
    cst = tok.groupBy("source", "word").agg(F.count(F.lit(1)).alias("c"))
    ct = cst.groupBy("word").agg(F.sum("c").alias("ct"))
    ns = cst.groupBy("source").agg(F.sum("c").alias("ns"))
    tot = ct.agg(
        F.sum("ct").alias("n"), F.count(F.lit(1)).alias("vocab_total")
    )
    d38 = lambda col: F.col(col).cast("decimal(38,0)")  # noqa: E731
    # vocab_total rides the FIRST broadcast and survives the groupBy as
    # a grouping column — a second crossJoin(tot) would re-run the whole
    # tokenize+vocab lineage (different projection defeats ReuseExchange)
    agg = (
        cst.join(ct, "word")
        .join(ns, "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", "ns", "n", "vocab_total")
        .agg(
            F.count(F.lit(1)).alias("vocab_used"),
            F.sum(F.abs(d38("c") * d38("n") - d38("ct") * d38("ns")))
            .alias("s_term"),
            F.sum("ct").cast("decimal(38,0)").alias("t_s"),
        )
    )
    return (
        agg
        .select(
            "source",
            F.col("ns").alias("n_tokens"),
            "vocab_used",
            "vocab_total",
            (
                (
                    F.col("s_term")
                    + (d38("n") - F.col("t_s")) * d38("ns")
                ).cast("double")
                / (
                    F.lit(2.0)
                    * F.col("ns").cast("double")
                    * F.col("n").cast("double")
                )
            ).alias("tvd"),
        )
    )


@register(
    "embedding_quantize_recall",
    oracle=f"""
        WITH e AS (
            SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        ),
        d AS (
            SELECT i, MAX(ABS(v[i])) AS m
            FROM e CROSS JOIN range(1, {_QR_DIM + 1}) t(i)
            GROUP BY i
        ),
        mx AS (SELECT list(m ORDER BY i) AS marr FROM d),
        dq AS (
            SELECT vec_id,
                   [CASE WHEN marr[i] = 0.0 THEN 0.0
                         ELSE floor(v[i] / marr[i] * 127.0 + 0.5)
                              * marr[i] / 127.0 END
                    for i in range(1, {_QR_DIM + 1})] AS dv
            FROM e CROSS JOIN mx
        ),
        qt AS (
            SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.dv, c.dv) DESC,
                                    c.vec_id
                       ) AS rnk
                FROM dq q JOIN dq c
                  ON q.vec_id < {_QR_QUERIES} AND q.vec_id <> c.vec_id
            ) WHERE rnk <= {_QR_K}
        ),
        ex AS (
            SELECT query_id, vec_id FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS vec_id,
                       ROW_NUMBER() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY list_cosine_similarity(q.v, c.v) DESC,
                                    c.vec_id
                       ) AS rnk
                FROM e q JOIN e c
                  ON q.vec_id < {_QR_QUERIES} AND q.vec_id <> c.vec_id
            ) WHERE rnk <= {_QR_K}
        )
        SELECT ex.query_id,
               COUNT(*) AS n_true,
               COUNT(qt.vec_id) AS n_hit,
               CAST(COUNT(qt.vec_id) AS DOUBLE) / COUNT(*) AS recall_at_10
        FROM ex LEFT JOIN qt
          ON ex.query_id = qt.query_id AND ex.vec_id = qt.vec_id
        GROUP BY ex.query_id
    """,
    tags=("similarity", "quantization", "diagnostics"),
    description="int8 scalar-quantization recall eval: per-dimension "
                "symmetric max-abs quantization of the embeddings, "
                "dequantized cosine top-10 vs the exact top-10, recall "
                "per query — the compression knob of the similarity tier "
                "shipping with its measured quality, fully oracled",
)
def embedding_quantize_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar (per-dimension max-abs) int8 quantization is the standard
    4x compression step before ANN serving; this query measures what it
    costs in top-10 recall. Scale shape: the dimension-stats pass is one
    tiny aggregation (64 rows) broadcast back; quantization is a pure
    column expression; the eval joins only the sampled query set against
    the corpus (the same bounded brute-force contract as
    ``lsh_recall_at_k``). floor(x/m*127 + 0.5) keeps the code assignment
    in correctly-rounded IEEE ops — bit-identical across engines where a
    round() builtin's half-even/half-up choice would not be."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", as_double("embedding").alias("v")
    )
    marr = (
        emb.select(F.posexplode("v").alias("i", "x"))
        .groupBy("i")
        .agg(F.max(F.abs("x")).alias("m"))
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("marr")
        )
    )
    dq = emb.crossJoin(F.broadcast(marr)).select(
        "vec_id",
        F.zip_with(
            "v",
            "marr",
            lambda x, m: F.when(m == 0.0, F.lit(0.0)).otherwise(
                F.floor(x / m * 127.0 + 0.5).cast("double") * m / 127.0
            ),
        ).alias("dv"),
    )

    from mapreduce_4_spark.operators.similarity import (
        cosine_topk_ids,
        recall_vs_exact,
    )

    def topk(df: DataFrame, col: str) -> DataFrame:
        q = df.filter(F.col("vec_id") < _QR_QUERIES).select(
            F.col("vec_id").alias("query_id"), F.col(col).alias("qv")
        )
        return cosine_topk_ids(q, df.select("vec_id", col), col, _QR_K)

    return recall_vs_exact(topk(emb, "v"), topk(dq, "dv"))


@register(
    "bpe_train_merges",
    oracle=_bpe_oracle(),
    tags=("text", "tokenizer", "iterative"),
    description="iterative BPE training, 5 merge rounds: per round, count "
                "adjacent symbol pairs over the frequency-weighted "
                "vocabulary, adopt the (count desc, pair asc) winner, and "
                "merge it everywhere with one left-to-right replace pass; "
                "emits (merge_rank, pair, pair_count) — oracled by a "
                "programmatically unrolled 5-stage CTE chain",
)
def bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The iterative-algorithm showcase of the tokenizer family (the
    same driver-loop shape as ``dedup_clusters``' pointer jumping): each
    round is one vocabulary-sized aggregation plus a 1-row driver action
    for the winning pair, which then enters the next round's plan as a
    LITERAL — no growing lineage of scalar subqueries. Scale shape: the
    corpus collapses to its vocabulary ONCE (persisted across rounds, the
    derived_partsupp move), so the 5 rounds never rescan documents; at
    1e7 distinct words each round is a sub-second aggregate. Merge
    application is a single non-overlapping replace pass — identical
    semantics in Spark and DuckDB, so the unrolled oracle is bit-exact
    (canonical BPE re-scans after every within-word merge; this batched
    variant is the documented, engine-portable choice: 'a a a' merges to
    'aa a', not 'aa aa')."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    wc = (
        docs.select(F.explode(words("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    chars = F.expr(
        "transform(sequence(1, length(word)), i -> substring(word, i, 1))"
    )
    cur = wc.select(
        F.concat(F.lit(" "), F.concat_ws(" ", chars), F.lit(" ")).alias("s"),
        "cnt",
    ).persist()
    try:
        cur.count()  # materialize the vocabulary once for all rounds
        out = []
        for r in range(1, _BPE_MERGES + 1):
            # guard size >= 2: sequence(1, 0) would generate DESCENDING
            # [1, 0] for single-symbol words and emit null pairs
            toks = cur.select(
                F.split(F.trim("s"), " ").alias("w"), "cnt"
            ).filter(F.size("w") >= 2)
            pairs = toks.select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, size(w) - 1), "
                        "i -> concat(w[i-1], ' ', w[i]))"
                    )
                ).alias("pair"),
                "cnt",
            )
            top = (
                pairs.groupBy("pair")
                .agg(F.sum("cnt").alias("pair_count"))
                .orderBy(F.desc("pair_count"), F.asc("pair"))
                .limit(1)
                .first()
            )
            if top is None:  # degenerate corpus: nothing left to merge
                break
            out.append((r, top["pair"], top["pair_count"]))
            if r < _BPE_MERGES:
                merged = top["pair"].replace(" ", "")
                nxt = cur.select(
                    F.replace(
                        F.col("s"),
                        F.lit(f" {top['pair']} "),
                        F.lit(f" {merged} "),
                    ).alias("s"),
                    "cnt",
                ).persist()
                nxt.count()
                cur.unpersist()
                cur = nxt
    finally:
        cur.unpersist()
    return spark.createDataFrame(
        out, "merge_rank bigint, pair string, pair_count bigint"
    )


@register(
    "neardup_degree_histogram",
    oracle="""
        WITH pairs AS ({PAIRS}),
        deg AS (
            SELECT doc_id, COUNT(other) AS degree FROM (
                SELECT d.doc_id, p.id AS other
                FROM documents d
                LEFT JOIN (
                    SELECT id_a AS doc_id, id_b AS id FROM pairs
                    UNION ALL
                    SELECT id_b AS doc_id, id_a AS id FROM pairs
                ) p USING (doc_id)
            ) GROUP BY doc_id
        )
        SELECT degree, COUNT(*) AS n_docs
        FROM deg GROUP BY degree
    """.replace("{PAIRS}", _REG["ngram_jaccard_pairs"].oracle),
    tags=("dedup", "graph", "diagnostics"),
    description="degree distribution of the near-dup graph (exact-Jaccard "
                ">= 0.8 pairs as undirected edges, degree-0 docs included): "
                "the duplication-topology monitor — a fat tail means hub "
                "documents (templates) that chain clusters together",
)
def neardup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph analytics over the dedup tier as a composition: the pair
    relation is the registered ``ngram_jaccard_pairs`` lineage (prefix-
    filtered candidates — never quadratic), doubled into undirected
    edges, counted per doc, and histogrammed. Two extra shuffles beyond
    the pair computation, both keyed on high-cardinality doc ids."""
    from mapreduce_4_spark.plans.dedup import ngram_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    pairs = ngram_jaccard_pairs(spark, sf_dir)
    # one endpoint-explode instead of a two-branch union: referencing the
    # pair relation twice would duplicate its whole (non-trivial) lineage
    # inside the single Catalyst plan
    ends = pairs.select(
        F.explode(F.array("id_a", "id_b")).alias("doc_id")
    )
    deg = (
        docs.join(
            ends.groupBy("doc_id").agg(F.count(F.lit(1)).alias("d")),
            "doc_id", "left",
        )
        .select(F.coalesce("d", F.lit(0)).alias("degree"))
    )
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
        WITH assign AS ({_REG['dedup_clusters'].oracle})
        SELECT cluster_size, COUNT(*) AS n_clusters FROM (
            SELECT cluster_id, COUNT(*) AS cluster_size
            FROM assign GROUP BY cluster_id
        ) GROUP BY cluster_size
    """,
    tags=("dedup", "graph", "diagnostics"),
    description="near-dup cluster-size distribution over the connected "
                "components of the exact-Jaccard pair graph — how much of "
                "the corpus sits in big duplicate families vs singletons "
                "(the number that decides dedup's token savings)",
)
def dedup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composes the pointer-jumping connected components (O(log D)
    rounds) with two counting aggregations; the oracle wraps the
    recursive-closure oracle of ``dedup_clusters`` as a CTE, so both
    layers stay independently checked."""
    from mapreduce_4_spark.plans.dedup import dedup_clusters

    sizes = (
        dedup_clusters(spark, sf_dir)
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).alias("n_clusters")
    )


@register(
    "perplexity_bucket_docs",
    oracle="""
        WITH scores AS ({SCORES}),
        j AS (
            SELECT s.doc_id, s.mean_bigram_p, d.lang, d.n_chars
            FROM scores s JOIN documents d USING (doc_id)
        ),
        ranked AS (
            SELECT lang, n_chars,
                   ROW_NUMBER() OVER (PARTITION BY lang
                                      ORDER BY mean_bigram_p DESC, doc_id)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY lang) AS n
            FROM j
        )
        SELECT lang,
               CASE WHEN rn * 3 <= n THEN 'head'
                    WHEN rn * 3 <= 2 * n THEN 'middle'
                    ELSE 'tail' END AS bucket,
               COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM ranked GROUP BY lang, bucket
    """.replace("{SCORES}", _REG["bigram_lm_score_docs"].oracle),
    tags=("pipeline", "text", "statistics"),
    description="CCNet-style fluency buckets: per-language exact tertiles "
                "of the corpus-trained bigram-LM score (head = most "
                "fluent third), doc/char volume per (lang, bucket) — the "
                "quality-stratification step pipelines use to mix "
                "head-heavy training data",
)
def perplexity_bucket_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Buckets are pure rank arithmetic (rn*3 <= n / 2n) over a
    per-language window, so the split is exactly reproducible in any
    engine — no interpolated quantiles, no value-threshold tie lumping.
    Scale shape: CCNet's buckets ARE per-language, so the window
    partitions on lang; for a single dominant language at 100 TB the
    two-pass threshold selection of ``length_band_filter_docs`` is the
    documented alternative to a whole-language sort. Docs below the
    scorer's 2-word floor carry no score and are out of scope, exactly
    as in the scoring query."""
    from mapreduce_4_spark.plans.llm_pipeline3 import bigram_lm_score_docs

    scores = bigram_lm_score_docs(spark, sf_dir).select(
        "doc_id", "mean_bigram_p"
    )
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    j = scores.join(docs, "doc_id")
    w = Window.partitionBy("lang").orderBy(
        F.desc("mean_bigram_p"), F.asc("doc_id")
    )
    wn = Window.partitionBy("lang")
    ranked = j.select(
        "lang",
        "n_chars",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bucket = (
        F.when(F.col("rn") * 3 <= F.col("n"), "head")
        .when(F.col("rn") * 3 <= 2 * F.col("n"), "middle")
        .otherwise("tail")
    )
    return ranked.groupBy("lang", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("sum_chars"),
    )


#: the target "quality domain" for importance-style selection: one feed
#: stands in for the curated corpus (wiki/books in a real pipeline).
_AFFINITY_TARGET = "src0"


@register(
    "domain_affinity_docs",
    oracle=f"""
        WITH t AS (
            SELECT doc_id, source, {_W} AS w FROM documents
            WHERE len({_W}) >= 2
        ),
        e AS (
            SELECT doc_id, source, w[i] AS w1, w[i+1] AS w2
            FROM t, unnest(range(1, len(w))) AS r(i)
        ),
        cu AS (SELECT w1, COUNT(*) AS n1 FROM e GROUP BY w1),
        cb AS (SELECT w1, w2, COUNT(*) AS n2 FROM e GROUP BY w1, w2),
        pc AS (SELECT cb.w1, cb.w2, cb.n2 / cu.n1 AS prob
               FROM cb JOIN cu USING (w1)),
        et AS (SELECT * FROM e WHERE source = '{_AFFINITY_TARGET}'),
        cut AS (SELECT w1, COUNT(*) AS n1 FROM et GROUP BY w1),
        cbt AS (SELECT w1, w2, COUNT(*) AS n2 FROM et GROUP BY w1, w2),
        pt AS (SELECT cbt.w1, cbt.w2, cbt.n2 / cut.n1 AS prob
               FROM cbt JOIN cut USING (w1))
        SELECT e.doc_id,
               COUNT(*) AS n_bigrams,
               CAST(SUM(CAST(pt.prob AS DECIMAL(18,15))) AS DOUBLE)
                   / COUNT(*) AS target_score,
               CAST(SUM(CAST(pc.prob AS DECIMAL(18,15))) AS DOUBLE)
                   / COUNT(*) AS corpus_score,
               CAST(SUM(CAST(pt.prob AS DECIMAL(18,15))) AS DOUBLE)
                   / COUNT(*)
               - CAST(SUM(CAST(pc.prob AS DECIMAL(18,15))) AS DOUBLE)
                   / COUNT(*) AS affinity
        FROM e
        JOIN pc ON e.w1 = pc.w1 AND e.w2 = pc.w2
        LEFT JOIN pt ON e.w1 = pt.w1 AND e.w2 = pt.w2
        GROUP BY e.doc_id
    """,
    tags=("pipeline", "text", "statistics"),
    description="DSIR-shaped targeted selection signal: train a bigram LM "
                "on the target feed and on the whole corpus, score every "
                "doc under both, affinity = target mean-probability minus "
                "corpus mean-probability — docs resembling the quality "
                "domain surface without a learned classifier. Exact "
                "decimal accumulation; missing target bigrams contribute "
                "0 (the unsmoothed, engine-portable choice)",
)
def domain_affinity_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Importance-style domain selection (DSIR's shape, with mean
    probability standing in for log-likelihood: logs drift in the last
    ulp across engines, exact decimal sums don't). Scale shape: both LM
    trainings are vocabulary-sized aggregates with map-side combine;
    scoring is one inner + one left hash join keyed on bigrams. SUM of
    a NULL-only group (a doc with zero target-known bigrams) is NULL on
    both engines — surfaced as NULL target_score, not 0: 'no evidence'
    and 'poor match' stay distinguishable."""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", words("text").alias("w")
    ).filter(F.size("w") >= 2)
    # one-pass zip_with bigram structs (round-14, same construction as
    # functions.text.ngrams_join): element i is struct(w[i], w[i+1])
    # either way, without the per-position index array
    _n1 = F.size("w") - 1
    bi = F.zip_with(
        F.slice("w", 1, _n1), F.slice("w", 2, _n1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    e = docs.select("doc_id", "source", F.explode(bi).alias("b")).select(
        "doc_id", "source", "b.w1", "b.w2"
    )

    # Both LMs from ONE pair of aggregates (round-15, guide §1.2/§2.4):
    # the target feed is a SUBSET of the corpus stream, so its bigram
    # and prefix counts ride the corpus aggregates as count(CASE WHEN
    # source = target) columns instead of re-aggregating a filtered
    # second stream — 4 corpus-sized explode+aggregate passes become 2
    # (still running in parallel off the scan; deriving prefix counts
    # FROM the bigram table instead was measured slower — it serializes
    # behind the bigram chain, the bigram_lm_score_docs note). The two
    # probability tables then merge vocab-side, so the corpus stream
    # probes ONE joined table instead of two (2 corpus join passes
    # become 1). prob_t is NULL when the bigram never occurs in the
    # target feed — exactly the old LEFT JOIN's contract.
    # Measured 1.47 -> 1.32 s at sf0.1 (equal row-for-row); at cluster
    # scale the win is the halved pass count over the exploded stream.
    is_t = F.col("source") == _AFFINITY_TARGET
    cb2 = e.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("n2"),
        F.count(F.when(is_t, F.lit(1))).alias("n2t"),
    )
    cu2 = e.groupBy("w1").agg(
        F.count(F.lit(1)).alias("n1"),
        F.count(F.when(is_t, F.lit(1))).alias("n1t"),
    )
    probs = cb2.join(cu2, "w1").select(
        "w1", "w2",
        (F.col("n2") / F.col("n1")).alias("prob"),
        F.when(F.col("n2t") > 0, F.col("n2t") / F.col("n1t"))
        .alias("prob_t"),
    )
    # probabilities, not money: DECIMAL(18,15) is this query's rounding
    # contract with the oracle (its SQL twin casts the same way)
    p15 = lambda c: F.col(c).cast("decimal(18,15)")  # noqa: E731
    t_score = F.sum(p15("prob_t")).cast("double") / F.count(F.lit(1))
    c_score = F.sum(p15("prob")).cast("double") / F.count(F.lit(1))
    return (
        e.join(probs, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            t_score.alias("target_score"),
            c_score.alias("corpus_score"),
            (t_score - c_score).alias("affinity"),
        )
    )
