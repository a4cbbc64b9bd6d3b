"""MinHash signature-path equivalence pins.

The signature is one hash aggregate over the exploded shingles and the
band keys one ``inline`` expression, both built from SQL strings. They
claim BIT-IDENTICAL output to the per-slot column-API lambda builders
they replaced (the oracle SQL never moved). These tests re-implement
the OLD shapes inline and compare, doc for doc and band for band, so a
future edit that breaks the equivalence fails here instead of in an
oracle hash mismatch. The data types are pinned too: the streaming
ingest appends signatures to a persisted index chain and probes band
partitions written before the rewrite.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from mapreduce_4_spark.functions.text import ngrams_join, words
from mapreduce_4_spark.operators.dedup import (
    LSH_BANDS,
    LSH_ROWS,
    MERSENNE_31,
    MINHASH_K,
    _base31,
    _minhash_shingles,
    _minhash_signatures,
    _perm_coefficients,
    _portable_shingle_table,
    candidate_pairs,
    lsh_band_table,
    minhash_signature_from_base,
)
from mapreduce_4_spark.sources import load_table

_TEN = "alpha beta gamma delta epsilon zeta eta theta iota kappa"


# -- the replaced shapes -------------------------------------------------------


def _old_portable(base):
    """The per-slot column-API portable builder: 64 array_min(transform)."""
    return F.array(*[
        F.array_min(F.transform(
            base, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_31)))
        for a, b in _perm_coefficients()
    ])


def _old_fast(shingles):
    """The fast-family builder: nested transforms over sequence(0, k-1)."""
    base = F.transform(shingles, lambda x: F.xxhash64(x))
    return F.transform(
        F.sequence(F.lit(0), F.lit(MINHASH_K - 1)),
        lambda s: F.array_min(F.transform(base, lambda h: F.xxhash64(h, s))),
    )


def _old_bands(sigs, id_col="doc_id"):
    structs = F.transform(
        F.sequence(F.lit(0), F.lit(LSH_BANDS - 1)),
        lambda j: F.struct(
            j.alias("band"),
            F.xxhash64(j, F.slice("signature", j * LSH_ROWS + 1, LSH_ROWS))
            .alias("band_hash"),
        ),
    )
    return (sigs.select(id_col, F.explode(structs).alias("b"))
            .select(id_col, "b.band", "b.band_hash"))


# -- inputs --------------------------------------------------------------------


@pytest.fixture(scope="module")
def crafted(spark):
    """Repeated shingles, exactly n words, fewer than n, empty, null."""
    rows = [
        (1, "a b c a b c a b c a b c"),          # one shingle set, repeats
        (2, "one two three"),                    # exactly n = 3 words
        (3, "one two"),                          # short: no shingle
        (4, ""),                                 # empty text
        (5, "!!! ..."),                          # punctuation only
        (6, _TEN),
        (7, _TEN + " lambda"),
        (8, "One, TWO three!"),                  # same words as doc 2
        (9, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def sf_docs(spark, sf_oracle):
    return load_table(spark, sf_oracle, "documents").select("doc_id", "text")


def _rows(df, key="doc_id"):
    return {r[key]: list(r["signature"]) for r in df.collect()}


def _filtered_shingles(docs):
    """The MinHash shingle table restricted to documents with shingles —
    the set the old builders saw (shingle_sets' size >= n filter)."""
    return _minhash_shingles(docs, 3).filter(F.size("shingles") > 0)


# -- signatures ----------------------------------------------------------------


@pytest.mark.parametrize("family", ["portable", "fast"])
@pytest.mark.parametrize("source", ["crafted", "sf_docs"])
def test_signature_equals_lambda_builders(request, family, source):
    docs = request.getfixturevalue(source)
    sh = _filtered_shingles(docs)
    if family == "portable":
        old = sh.select("doc_id", _old_portable(
            F.transform("shingles", _base31)).alias("signature"))
    else:
        old = sh.select("doc_id", _old_fast(F.col("shingles")).alias("signature"))
    new = _minhash_signatures(_minhash_shingles(docs, 3), hash_family=family)
    got, want = _rows(new), _rows(old)
    assert want and got == want
    assert new.schema["signature"].dataType == old.schema["signature"].dataType
    assert new.schema["signature"].dataType.containsNull


def test_scalar_signature_equals_aggregate(sf_docs):
    """minhash_signature_from_base (the scalar form over a base array)
    and the aggregate path give the same signature and data type."""
    sh = _portable_shingle_table(sf_docs, 3)
    scalar = sh.select("doc_id", minhash_signature_from_base(
        F.col("_base")).alias("signature"))
    old = sh.select("doc_id", _old_portable(F.col("_base")).alias("signature"))
    new = _minhash_signatures(_minhash_shingles(sf_docs, 3))
    assert _rows(scalar) == _rows(old) == _rows(new)
    assert scalar.schema["signature"].dataType == old.schema["signature"].dataType


def test_short_docs_get_no_signature(crafted):
    """An empty shingle array explodes to no rows: docs 3, 4, 5 and the
    null text have no signature (and so never become candidates)."""
    ids = set(_rows(_minhash_signatures(_minhash_shingles(crafted, 3))))
    assert ids == {1, 2, 6, 7, 8}


def test_ingest_short_doc_rule(spark, crafted):
    """streaming/ingest.py gives a short document one whole-text
    shingle (the empty string for an empty text); the aggregate
    signature over that singleton equals the old builder's."""
    toks = crafted.filter(F.col("text").isNotNull()).select(
        "doc_id", words("text").alias("_w"))
    sh = toks.select("doc_id", F.when(
        F.size("_w") >= 3, F.array_distinct(ngrams_join(F.col("_w"), 3))
    ).otherwise(F.array(F.concat_ws(" ", "_w"))).alias("shingles"))
    old = sh.select("doc_id", _old_portable(
        F.transform("shingles", _base31)).alias("signature"))
    new = _minhash_signatures(sh)
    assert _rows(new) == _rows(old)
    assert set(_rows(new)) == {1, 2, 3, 4, 5, 6, 7, 8}


# -- bands ---------------------------------------------------------------------


@pytest.mark.parametrize("source", ["crafted", "sf_docs"])
def test_band_table_equals_lambda_builder(request, source):
    docs = request.getfixturevalue(source)
    sigs = _minhash_signatures(_minhash_shingles(docs, 3))
    new, old = lsh_band_table(sigs), _old_bands(sigs)
    got = {tuple(r) for r in new.collect()}
    assert got == {tuple(r) for r in old.collect()}
    assert len(got) == LSH_BANDS * sigs.count()
    assert [(f.name, f.dataType) for f in new.schema] == \
        [(f.name, f.dataType) for f in old.schema]


def test_band_table_reads_stored_signatures(spark, tmp_path, crafted):
    """The ingest probe re-bands signatures read back from parquet: a
    round trip through the index's storage keeps every band key."""
    sigs = _minhash_signatures(_minhash_shingles(crafted, 3))
    path = str(tmp_path / "idx")
    sigs.write.parquet(path)
    back = spark.read.parquet(path)
    assert back.schema["signature"].dataType == sigs.schema["signature"].dataType
    assert {tuple(r) for r in lsh_band_table(back).collect()} == \
        {tuple(r) for r in _old_bands(sigs).collect()}


# -- candidates ----------------------------------------------------------------


def _old_candidates(bands_df, id_col="doc_id"):
    """The bucket self-join candidate_pairs replaced."""
    left = bands_df.select(F.col(id_col).alias("id_a"), "band", "band_hash")
    right = bands_df.select(F.col(id_col).alias("id_b"), "band", "band_hash")
    return (left.join(right, ["band", "band_hash"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b").distinct())


def test_candidate_pairs_equal_bucket_self_join(spark, sf_docs, crafted):
    """Per-bucket id grouping emits exactly the self-join's pair set —
    on sf0.01, and on a crafted band table with a hot bucket, a
    duplicated id and a null id."""
    bands = lsh_band_table(_minhash_signatures(_minhash_shingles(sf_docs, 3)))
    got = {tuple(r) for r in candidate_pairs(bands).collect()}
    assert got and got == {tuple(r) for r in _old_candidates(bands).collect()}

    crafted_bands = spark.createDataFrame(
        [(i, 0, 7) for i in range(6)]                 # hot bucket
        + [(3, 0, 7), (None, 0, 7), (None, 1, 9)]     # dup id, null ids
        + [(10, 1, 9), (11, 1, 9), (12, 2, 5), (10, 2, 5), (13, 3, 1)],
        "doc_id long, band int, band_hash long")
    got = {tuple(r) for r in candidate_pairs(crafted_bands).collect()}
    assert got == {tuple(r) for r in _old_candidates(crafted_bands).collect()}
    assert len(got) == 15 + 1 + 1
