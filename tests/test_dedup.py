"""Property tests for the non-SQL-expressible dedup operators
(SURVEY.md §5.2: invariants + small brute-force oracles)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_4_spark.operators.dedup import (
    minhash_near_duplicates,
    shingle_sets,
    simhash_chunks_portable,
    simhash_near_pairs,
)
from mapreduce_4_spark.plans.dedup import ngram_jaccard_pairs


@pytest.fixture(scope="module")
def docs(spark, sf_smoke):
    from mapreduce_4_spark.sources import load_table

    return load_table(spark, sf_smoke, "documents").select("doc_id", "lang", "text")


def test_minhash_recall_vs_exact(spark, sf_smoke, docs):
    """LSH candidates must recover (virtually) all true >=0.8 pairs.

    With 16 bands x 4 rows, P(miss) at j=0.8 is (1-0.8^4)^16 ~= 2e-4 per
    pair — we assert >= 95% recall and exactness of reported Jaccards.
    """
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in ngram_jaccard_pairs(spark, sf_smoke).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_near_duplicates(docs, threshold=0.8).collect()
    }
    assert exact, "fixture should contain near-duplicate documents"
    recall = len(set(lsh) & set(exact)) / len(exact)
    assert recall >= 0.95, f"LSH recall {recall:.3f} too low ({len(lsh)} vs {len(exact)})"
    # verified Jaccard values are exact, so any common pair must agree
    for pair in set(lsh) & set(exact):
        assert abs(lsh[pair] - exact[pair]) < 1e-12
    # no false positives: every reported pair really has j >= 0.8
    assert all(j >= 0.8 for j in lsh.values())


def test_minhash_identical_docs_always_collide(spark, docs):
    """A document duplicated verbatim must be caught (jaccard == 1.0)."""
    base = docs.limit(5).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    both = base.unionByName(dup)
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in minhash_near_duplicates(both, threshold=0.99).collect()
    }
    for r in base.collect():
        key = (r["doc_id"], r["doc_id"] + 100000)
        assert key in pairs and pairs[key] == 1.0


def test_simhash_deterministic_and_identity(spark, docs):
    t1 = {r["doc_id"]: tuple(r) for r in simhash_chunks_portable(docs).collect()}
    t2 = {r["doc_id"]: tuple(r) for r in simhash_chunks_portable(docs).collect()}
    assert t1 == t2, "simhash must be deterministic across runs"
    # identical text => identical fingerprint => hamming 0 pair found
    base = docs.limit(3).select("doc_id", "text")
    dup = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    pairs = simhash_near_pairs(base.unionByName(dup), max_hamming=0).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    for r in base.collect():
        assert (r["doc_id"], r["doc_id"] + 100000) in found


def test_dedup_clusters_match_union_find(spark, sf_smoke, docs):
    """Distributed connected components == pure-Python union-find over
    the same pair list (transitive closure, min-id representative)."""
    from mapreduce_4_spark.operators.clustering import dedup_cluster_assignments

    pairs_df = minhash_near_duplicates(
        docs.select("doc_id", "text"), threshold=0.8
    )
    pairs = [(r["id_a"], r["id_b"]) for r in pairs_df.collect()]
    assert pairs, "fixture should contain near-dup pairs"

    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in pairs:
        union(a, b)
    expected = {
        r["doc_id"]: find(r["doc_id"]) if r["doc_id"] in parent else r["doc_id"]
        for r in docs.select("doc_id").collect()
    }
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup_cluster_assignments(
            docs.select("doc_id", "text"), pairs_df
        ).collect()
    }
    assert got == expected


def test_shingles_match_reference_tokenization(spark):
    df = spark.createDataFrame(
        [(1, "The quick  brown fox! jumps")], ["doc_id", "text"]
    )
    got = shingle_sets(df).collect()[0]["shingles"]
    # clean: "the quick  brown fox jumps" -> tokens drop the empty from the
    # double space -> 3-grams over [the, quick, brown, fox, jumps]
    assert sorted(got) == sorted(
        ["the quick brown", "quick brown fox", "brown fox jumps"]
    )


def test_short_docs_dropped_from_shingling(spark):
    df = spark.createDataFrame([(1, "one two")], ["doc_id", "text"])
    assert shingle_sets(df).count() == 0


def test_connected_components_log_rounds_on_long_chain(spark):
    """Pointer jumping: a diameter-63 chain must converge in O(log2 D)
    rounds, not D — the property that makes CC viable on pathological
    near-dup chains at scale."""
    import math

    from mapreduce_4_spark.operators.clustering import _cc_rounds

    n = 64
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    labels, rounds, changed = _cc_rounds(chain, max_iter=20)
    assert changed == 0
    assert rounds <= math.ceil(math.log2(n - 1)) + 2, rounds
    got = {r["id"]: r["label"] for r in labels.collect()}
    assert got == {i: 0 for i in range(n)}


def test_connected_components_raises_when_not_converged(spark):
    import pytest as _pytest

    from mapreduce_4_spark.operators.clustering import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)


def test_incremental_neardup_only_reports_delta_vs_base(spark):
    """base x base near-dups must NOT surface; delta x base must; and
    the candidate path stays join-shaped (no cartesian)."""
    from mapreduce_4_spark.operators.dedup import minhash_incremental_neardup

    text = "the quick brown fox jumps over the lazy dog again and again"
    base = spark.createDataFrame(
        [(1, text), (2, text), (3, "completely different words entirely "
                                   "unrelated content here today")],
        ["doc_id", "text"],
    )
    delta = spark.createDataFrame([(100, text)], ["doc_id", "text"])
    out = minhash_incremental_neardup(base, delta, threshold=0.8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = {(r["delta_id"], r["base_id"]) for r in out.collect()}
    # doc 1 and 2 are identical base-side dups: not this operator's job
    assert (1, 2) not in rows and (2, 1) not in rows
    assert rows == {(100, 1), (100, 2)}


# ---- prefix filtering (exact Jaccard tier) ---------------------------------


def _sh_df(spark, rows):
    """(doc_id, lang, shingles) DataFrame from [(id, lang, [grams])]."""
    return spark.createDataFrame(rows, "doc_id long, lang string, shingles array<string>")


def _brute_pairs(rows, threshold):
    """Driver-side all-pairs oracle for tiny corpora."""
    out = {}
    for i, (ida, la, sa) in enumerate(rows):
        for idb, lb, sb in rows[i + 1:]:
            if la != lb:
                continue
            a, b = set(sa), set(sb)
            j = len(a & b) / len(a | b)
            if j >= threshold:
                key = (min(ida, idb), max(ida, idb))
                out[key] = j
    return out


def test_prefix_filter_is_lossless_vs_bruteforce(spark):
    """Every pair the naive all-pairs join finds, the prefix-filtered
    join finds too — including boundary docs whose prefix length depends
    on exact integer ceil (m=5 at t=0.8 -> prefix 2; m=4 -> prefix 1)."""
    import random

    from mapreduce_4_spark.operators.dedup import prefix_filtered_jaccard_pairs

    rng = random.Random(42)
    vocab = [f"g{i}" for i in range(30)]
    rows = []
    for i in range(40):
        m = rng.randint(3, 12)
        rows.append((i, rng.choice(["en", "de"]), rng.sample(vocab, m)))
    # plant exact duplicates and a just-at-threshold pair (8 shared of
    # 8+2 union = 0.8 exactly)
    rows.append((100, "en", rows[0][2]))
    base10 = vocab[:9]
    rows.append((101, "en", base10[:9]))          # m=9
    rows.append((102, "en", base10[:8] + ["zz"]))  # |∩|=8, |∪|=10 -> 0.8
    got = {
        (r["id_a"], r["id_b"]): r["jaccard_sim"]
        for r in prefix_filtered_jaccard_pairs(
            _sh_df(spark, rows), threshold=0.8, block_col="lang"
        ).collect()
    }
    want = _brute_pairs(rows, 0.8)
    assert (100 in {a for a, _ in want} or 100 in {b for _, b in want})
    assert (101, 102) in want  # the exactly-0.8 boundary pair
    assert got == pytest.approx(want)


def test_prefix_filter_hot_gram_generates_no_candidates(spark):
    """THE scale property: a gram shared by every document (boilerplate,
    stopword trigram) must not generate candidate pairs — it ranks last
    in the global df order and never enters any prefix. The naive gram
    self-join would produce n(n-1)/2 candidates from it."""
    from mapreduce_4_spark.operators.dedup import jaccard_prefix_candidates

    n = 40
    rows = [
        (
            i,
            "en",
            ["HOT"] + [f"doc{i}_{j}" for j in range(9)],  # m=10, prefix=3
        )
        for i in range(n)
    ]
    cand = jaccard_prefix_candidates(
        _sh_df(spark, rows), threshold=0.8, block_col="lang"
    )
    assert cand.count() == 0, (
        "hot gram leaked into prefixes: candidate volume would be "
        "quadratic in its df on a templated corpus"
    )


def test_prefix_candidates_superset_of_qualifying_pairs(spark):
    """Candidates may over-approximate but can never miss a >=t pair
    (random corpora, several thresholds)."""
    import random

    from mapreduce_4_spark.operators.dedup import jaccard_prefix_candidates

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(20)]
    rows = [
        (i, "en", rng.sample(vocab, rng.randint(2, 10))) for i in range(30)
    ]
    for thr in (0.5, 0.7, 0.8, 0.9):
        cand = {
            (r["id_a"], r["id_b"])
            for r in jaccard_prefix_candidates(
                _sh_df(spark, rows), thr, block_col="lang"
            ).collect()
        }
        missing = set(_brute_pairs(rows, thr)) - cand
        assert not missing, f"t={thr}: prefix filter missed {missing}"


def test_prefix_filter_lossless_many_seeds(spark):
    """Losslessness across a spread of random corpora and thresholds —
    broader evidence than the single-seed test above."""
    import random

    from mapreduce_4_spark.operators.dedup import prefix_filtered_jaccard_pairs

    for seed in (1, 2, 3, 11, 23):
        rng = random.Random(seed)
        vocab = [f"g{i}" for i in range(15)]
        rows = [
            (i, "en", rng.sample(vocab, rng.randint(1, 12)))
            for i in range(25)
        ]
        for thr in (0.6, 0.8):
            got = {
                (r["id_a"], r["id_b"]): r["jaccard_sim"]
                for r in prefix_filtered_jaccard_pairs(
                    _sh_df(spark, rows), thr, block_col="lang"
                ).collect()
            }
            want = _brute_pairs(rows, thr)
            assert got == pytest.approx(want), f"seed={seed} thr={thr}"


def test_simhash_blocks6_equals_chunk4(spark, sf_smoke, docs):
    """Both banding tiers are lossless at hamming<=3, so they must emit
    the identical pair set (Manku 3-of-6 pigeonhole vs 1-of-4 chunks)."""
    from mapreduce_4_spark.operators.dedup import simhash_near_pairs

    a = {tuple(r) for r in simhash_near_pairs(
        docs, max_hamming=3, banding="chunk4").collect()}
    b = {tuple(r) for r in simhash_near_pairs(
        docs, max_hamming=3, banding="blocks6").collect()}
    assert a == b and len(a) > 0


def test_simhash_bucket_stats_counts_candidates_exactly(spark, docs):
    """The diagnostic's candidate_pairs must equal the pre-verify join
    volume: sum over buckets of df*(df-1)/2, checked by brute force."""
    from collections import Counter

    from mapreduce_4_spark.operators.dedup import (
        simhash_bucket_stats,
        simhash_chunks_portable,
    )

    sig = simhash_chunks_portable(docs).collect()
    got = {r["band"]: r for r in simhash_bucket_stats(docs).collect()}
    assert set(got) == {0, 1, 2, 3}
    for band in range(4):
        dfs = Counter(r[f"c{band}"] for r in sig)
        assert got[band]["n_buckets"] == len(dfs)
        assert got[band]["max_bucket_df"] == max(dfs.values())
        assert got[band]["candidate_pairs"] == sum(
            v * (v - 1) // 2 for v in dfs.values()
        )


def test_simhash_blocks6_bucket_stats_counts_candidates_exactly(spark, docs):
    """The blocks6 twin of the chunk4 check: the packed band keys must
    bucket documents exactly by their 3-block tuple, one band per
    C(6,3) combo, checked against a brute-force count of the tuples."""
    import itertools
    from collections import Counter

    from mapreduce_4_spark.operators.dedup import (
        _BLOCKS6,
        simhash_bucket_stats,
        simhash_chunks_portable,
    )

    sigs = [sum(r[f"c{c}"] << (16 * c) for c in range(4))
            for r in simhash_chunks_portable(docs).collect()]
    blocks = [[(s >> start) & ((1 << ln) - 1) for start, ln in _BLOCKS6]
              for s in sigs]
    combos = list(itertools.combinations(range(6), 3))
    got = {r["band"]: r
           for r in simhash_bucket_stats(docs, banding="blocks6").collect()}
    assert set(got) == set(range(len(combos)))
    for band, (i, j, k) in enumerate(combos):
        dfs = Counter((b[i], b[j], b[k]) for b in blocks)
        assert got[band]["n_buckets"] == len(dfs)
        assert got[band]["max_bucket_df"] == max(dfs.values())
        assert got[band]["candidate_pairs"] == sum(
            v * (v - 1) // 2 for v in dfs.values()
        )


def test_simhash_blocks6_buckets_are_more_selective(spark, sf_smoke):
    """The whole point of the tighter tier: on the same corpus, blocks6's
    ~32-bit band keys must generate at most chunk4's candidate volume in
    their hottest band (and strictly fewer when chunk4 has collisions)."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.operators.dedup import simhash_bucket_stats
    from mapreduce_4_spark.sources import load_table

    docs = load_table(spark, sf_smoke, "documents").select("doc_id", "text")
    c4 = simhash_bucket_stats(docs, banding="chunk4").agg(
        F.sum("candidate_pairs")).collect()[0][0]
    b6 = simhash_bucket_stats(docs, banding="blocks6").agg(
        F.sum("candidate_pairs")).collect()[0][0]
    # blocks6 has 20 bands vs 4, but its per-band volume collapses; the
    # TOTAL candidate volume (what the join actually materializes) must
    # not exceed chunk4's by more than the band-count ratio, and on any
    # corpus with real chunk collisions it is far smaller.
    assert b6 <= c4 * 5


def test_simhash_auto_routing_picks_tier_from_measured_volume(spark, docs):
    """choose_simhash_banding must route on the measured pre-verify
    candidate volume: chunk4 on the spread fixture corpus, blocks6 on a
    hot corpus (many near-identical docs saturating 16-bit buckets) —
    and the routed operator's output must be tier-invariant."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.operators.dedup import (
        choose_simhash_banding,
        simhash_near_pairs,
        simhash_near_pairs_routed,
    )

    assert choose_simhash_banding(docs) == "chunk4"

    # hot corpus: 300 copies of one text -> every chunk bucket df=300,
    # ~2*(300-1) candidates/doc under chunk4 >> the 64/doc threshold
    hot = spark.range(300).select(
        F.col("id").alias("doc_id"),
        F.lit("the same near duplicate text repeated").alias("text"),
    )
    assert choose_simhash_banding(hot) == "blocks6"

    routed = {(r["id_a"], r["id_b"], r["hamming"])
              for r in simhash_near_pairs_routed(docs).collect()}
    chunk4 = {(r["id_a"], r["id_b"], r["hamming"])
              for r in simhash_near_pairs(docs, banding="chunk4").collect()}
    assert routed == chunk4


def test_simhash_auto_routing_at_bench_scales(spark):
    """The ab_simhash_* arm corpora, routed: sf0.1 at 1x measures
    38 cands/doc -> chunk4; the 10x near-dup corpus measures 380/doc ->
    blocks6 (the SCALE.md dial, now with no human in the loop)."""
    from pyspark.sql import functions as F

    from mapreduce_4_spark.operators.dedup import choose_simhash_banding
    from mapreduce_4_spark.sources import load_table

    d01 = load_table(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    assert choose_simhash_banding(d01) == "chunk4"
    ten = None
    for i in range(10):
        c = d01.select(
            (F.col("doc_id") * 10 + F.lit(i)).alias("doc_id"),
            F.concat(F.col("text"), F.lit(f" copymark{i}")).alias("text"),
        )
        ten = c if ten is None else ten.unionAll(c)
    assert choose_simhash_banding(ten) == "blocks6"


def test_simhash_routing_decision_is_cached_per_corpus_plan(
        spark, docs, sf_smoke):
    """The routing pre-flight re-shingles the whole corpus — repeated
    plan builds over the same corpus must pay it ONCE per app (r9-advice
    fix): the second call with an equivalent plan must come from
    _SIMHASH_ROUTE_CACHE without touching simhash_bucket_stats, and
    use_cache=False must force a re-measure."""
    from unittest import mock

    from mapreduce_4_spark.operators import dedup as d

    d._SIMHASH_ROUTE_CACHE.clear()
    assert d.choose_simhash_banding(docs) == "chunk4"
    assert len(d._SIMHASH_ROUTE_CACHE) == 1

    # an equivalent RE-BUILT plan over the same corpus (what a repeated
    # registry builder call produces) hits the cache
    from mapreduce_4_spark.sources import load_table

    docs_again = load_table(docs.sparkSession, sf_smoke, "documents") \
        .select("doc_id", "lang", "text")
    with mock.patch.object(d, "simhash_bucket_stats",
                           side_effect=AssertionError("pre-flight re-ran")):
        assert d.choose_simhash_banding(docs_again) == "chunk4"
    # an opt-out re-measures (and repopulates the same key)
    assert d.choose_simhash_banding(docs, use_cache=False) == "chunk4"
    assert len(d._SIMHASH_ROUTE_CACHE) == 1
