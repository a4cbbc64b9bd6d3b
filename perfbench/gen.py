"""Seeded input generators for the parts of the benchmark's workloads.

Every generator is a pure function of ``(seed, size)``: the same pair
writes byte-identical files, so two runs with one seed feed the program
the same inputs. Generated inputs are cached under
``<work>/inputs/<workload>-s<seed>-<sizes>/`` and reused, one
subdirectory per part; a ``DONE`` marker is written last, so a
half-written cache entry is regenerated.

Run as a script (``python3 perfbench/gen.py WORKLOAD SEED SIZE OUT``) the
module generates one cache entry; ``run.py`` does this in a child
process so that generation never lands in the set-up time.
"""

from __future__ import annotations

import json
import os
import string
import sys
from collections import Counter

import numpy as np

#: The reference tokenizer contract (``functions/text.py``): delete every
#: C ``ispunct`` character (in the C locale exactly ``string.punctuation``)
#: and the newline, lowercase, split on a single space, drop empties.
_STRIP = str.maketrans("", "", string.punctuation + "\n")


def reference_tokens(line: str) -> list[str]:
    return [w for w in line.translate(_STRIP).lower().split(" ") if w]


def _vocabulary(n_words: int) -> list[str]:
    """``n_words`` distinct lowercase pseudo-words built from syllables.

    Fixed for every seed: the seed changes which words are drawn, never
    the word list, so vocabulary size is the same in every run.
    """
    onsets = ["b", "c", "d", "f", "g", "h", "j", "k", "l", "m", "n", "p",
              "qu", "r", "s", "t", "v", "w", "z", "br", "ch", "st", "th"]
    vowels = ["a", "e", "i", "o", "u", "ai", "ou"]
    codas = ["", "n", "r", "s", "t", "ck", "ll"]
    syllables = [o + v + c for o in onsets for v in vowels for c in codas]
    rng = np.random.default_rng(12345)
    words: list[str] = []
    seen: set[str] = set()
    while len(words) < n_words:
        k = int(rng.integers(1, 4))
        w = "".join(syllables[i] for i in rng.integers(0, len(syllables), k))
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_draw(rng: np.random.Generator, n_vocab: int, size: int,
               s: float = 1.3) -> np.ndarray:
    ranks = np.arange(1, n_vocab + 1, dtype=np.float64)
    p = ranks ** -s
    return rng.choice(n_vocab, size=size, p=p / p.sum())


# -- wordcount_text -----------------------------------------------------------

TEXT_VOCAB = 20_000
_PUNCT_SUFFIX = np.array(["", "", "", "", "", ",", ".", ";", "!", "?", ":", "'s",
                          '"', ")", "..."], dtype=object)
_PUNCT_PREFIX = np.array(["", "", "", "", "", "", "", "", "(", '"', "'", "-"],
                         dtype=object)


def _text_file(rng: np.random.Generator, cased: np.ndarray,
               n_bytes: int) -> str:
    """Plaintext of at most ``n_bytes`` ASCII bytes: Zipf words in mixed
    case with ASCII punctuation, lines of 4-20 tokens, a few double
    spaces and punctuation-only tokens (both yield empty tokens that the
    contract drops). ``cased`` holds each vocabulary word lowercase,
    capitalized and uppercase."""
    n_tok = n_bytes // 5 + 64
    case = np.searchsorted([0.88, 0.98], rng.random(n_tok), side="right")
    words = cased[case, _zipf_draw(rng, cased.shape[1], n_tok)]
    pre = _PUNCT_PREFIX[rng.integers(0, len(_PUNCT_PREFIX), n_tok)]
    suf = _PUNCT_SUFFIX[rng.integers(0, len(_PUNCT_SUFFIX), n_tok)]
    toks = pre + words + suf
    toks[rng.random(n_tok) < 0.01] = "--"
    seps = np.full(n_tok, " ", dtype=object)
    seps[rng.random(n_tok) < 0.02] = "  "
    line_len = rng.integers(4, 21, n_tok)
    ends = np.cumsum(line_len)
    seps[ends[ends < n_tok] - 1] = "\n"
    out = np.empty(2 * n_tok, dtype=object)
    out[0::2] = toks
    out[1::2] = seps
    text = "".join(out.tolist())[:n_bytes - 1]
    return text.rstrip(" ") + "\n"


def gen_text(out: str, seed: int, size_mb: int, n_files: int = 8) -> dict:
    """``n_files`` text files totalling about ``size_mb`` MB, plus the
    expected per-file word counts under the reference tokenizer."""
    rng = np.random.default_rng([seed, 1])
    vocab = _vocabulary(TEXT_VOCAB)
    cased = np.array([vocab, [w.capitalize() for w in vocab],
                      [w.upper() for w in vocab]], dtype=object)
    corpus = os.path.join(out, "corpus")
    os.makedirs(corpus)
    per_file = size_mb * 1_000_000 // n_files
    expected = {}
    for i in range(n_files):
        name = f"part_{i:03d}.txt"
        text = _text_file(rng, cased, per_file)
        with open(os.path.join(corpus, name), "w", encoding="ascii",
                  newline="") as f:
            f.write(text)
        counts: Counter = Counter()
        for line in text.split("\n"):
            counts.update(reference_tokens(line))
        expected[name] = dict(sorted(counts.items()))
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, sort_keys=True)
    return {"input_bytes": per_file * n_files, "files": n_files}


# -- dedup_minhash ------------------------------------------------------------

DEDUP_VOCAB = 50_000
DEDUP_WORDS = 150


def shingles(text: str, n: int = 3) -> set[str]:
    """The distinct space-joined word n-grams of ``text`` under the
    reference tokenizer: the set ``operators.dedup.shingle_sets`` builds."""
    w = reference_tokens(text)
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def gen_docs(out: str, seed: int, n_docs: int, dup_fraction: float = 0.1) -> dict:
    """``n_docs`` documents of ``DEDUP_WORDS`` Zipf(1.3) words; a
    ``dup_fraction`` of them are planted near-duplicates, each a copy of
    an earlier base document with 1-3 words substituted."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 2])
    vocab = np.array(_vocabulary(DEDUP_VOCAB), dtype=object)
    n_dup = int(n_docs * dup_fraction)
    n_base = n_docs - n_dup
    idx = _zipf_draw(rng, len(vocab), n_base * DEDUP_WORDS).reshape(n_base, DEDUP_WORDS)
    rows = [idx[i] for i in range(n_base)]
    planted = []
    sources = rng.integers(0, n_base, n_dup)
    for j, src in enumerate(sources):
        w = rows[src].copy()
        n_sub = int(rng.integers(1, 4))
        pos = rng.choice(DEDUP_WORDS, n_sub, replace=False)
        w[pos] = rng.integers(0, len(vocab), n_sub)
        rows.append(w)
        planted.append((int(src), n_base + j))
    texts = [" ".join(vocab[r].tolist()) + "." for r in rows]
    table = pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                      "text": pa.array(texts, pa.string())})
    pq.write_table(table, os.path.join(out, "docs.parquet"))
    sh = [shingles(t) for t in texts]
    eligible = sorted({p for p in planted if jaccard(sh[p[0]], sh[p[1]]) >= 0.8})
    with open(os.path.join(out, "planted.json"), "w") as f:
        json.dump([list(p) for p in eligible], f)
    return {"input_bytes": sum(len(t) for t in texts), "docs": n_docs,
            "planted_pairs": len(eligible)}


# -- tpch ---------------------------------------------------------------------

TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem")
ORACLE_PLACEHOLDERS = ("events", "documents", "embeddings")
_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = 9131  # days from 1970-01-01 to 1995-01-01


def _dates(rng: np.random.Generator, first_day: int, n_days: int, n: int):
    import pyarrow as pa

    days = _EPOCH_1995 + first_day + rng.integers(0, n_days, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def gen_tpch(out: str, seed: int, scale: float) -> dict:
    """The lean TPC-H-shaped star schema the registry queries read
    (FIXTURES.md section B): same tables, column names, types and value
    domains, uniform draws. ``scale`` 1.0 gives the row counts of the
    0.01 scale factor (60k lineitem rows)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 3])
    n_cust, n_supp = int(1500 * scale), int(100 * scale)
    n_part, n_ord, n_li = int(2000 * scale), int(15000 * scale), int(60000 * scale)
    i32, i64 = pa.int32(), pa.int64()
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    segments = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    priorities = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    adjectives = ["blue", "old", "red", "hot", "large", "cold", "small", "new"]
    nouns = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]

    def pick(values, n):
        return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)],
                        pa.string())

    tables = {
        "region": {"r_regionkey": pa.array(range(5), i32),
                   "r_name": pa.array(regions, pa.string())},
        "nation": {"n_nationkey": pa.array(range(25), i32),
                   "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
                   "n_regionkey": pa.array([i % 5 for i in range(25)], i32)},
        "customer": {
            "c_custkey": pa.array(range(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": pick(segments, n_cust)},
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))},
        "part": {
            "p_partkey": pa.array(range(n_part), i64),
            "p_name": pa.array([f"{a} {b}" for a, b in zip(
                np.array(adjectives)[rng.integers(0, 8, n_part)],
                np.array(nouns)[rng.integers(0, 8, n_part)])], pa.string()),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                                pa.string()),
            "p_type": pick(types, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 1))},
        "orders": {
            "o_orderkey": pa.array(range(n_ord), i64),
            # as in TPC-H, a third of the customers never order (q22's subjects)
            "o_custkey": pa.array(rng.choice(
                np.flatnonzero(np.arange(n_cust) % 3), n_ord), i64),
            "o_orderstatus": pick(["F", "O", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
            "o_orderdate": _dates(rng, 0, 2404, n_ord),
            "o_orderpriority": pick(priorities, n_ord)},
        "lineitem": {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_li)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100),
            "l_returnflag": pick(["A", "N", "R"], n_li),
            "l_linestatus": pick(["F", "O"], n_li),
            "l_shipdate": _dates(rng, 1, 2498, n_li)},
    }
    total = 0
    for name, cols in tables.items():
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(pa.table(cols), path)
        total += os.path.getsize(path)
    # tests/oracle.py opens a DuckDB view on every fixture table; the
    # queries here read none of these, so they are empty
    for name in ORACLE_PLACEHOLDERS:
        pq.write_table(pa.table({"placeholder": pa.array([], i32)}),
                       os.path.join(out, f"{name}.parquet"))
    return {"parquet_bytes": total, "lineitem_rows": n_li}


# -- versioned_dml ------------------------------------------------------------


def gen_chain(out: str, seed: int, rows: int, n_appends: int = 5) -> dict:
    """``n_appends`` append batches of ``rows`` rows each, keyed by a
    time-ordered ``k`` (batch ``i`` holds keys ``[i*rows, (i+1)*rows)``,
    shuffled), plus the DML arguments: one range delete that drops
    one whole batch and clips two more, and a merge whose updates hit
    two batches and insert new keys past the end."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng([seed, 4])
    cats = np.array(["alpha", "beta", "gamma", "delta", "eps"], dtype=object)
    for i in range(n_appends):
        k = i * rows + rng.permutation(rows)
        pq.write_table(pa.table({
            "k": pa.array(k, pa.int64()),
            "v": pa.array(np.round(rng.normal(100.0, 25.0, rows), 4)),
            "cat": pa.array(cats[rng.integers(0, len(cats), rows)], pa.string()),
        }), os.path.join(out, f"batch_{i:03d}.parquet"))
    total = n_appends * rows
    b = int(rng.integers(1, n_appends - 1))  # the batch the delete drops whole
    delete = [b * rows - int(rng.integers(1, rows // 2)),
              (b + 1) * rows - 1 + int(rng.integers(1, rows // 2))]
    hit = rng.choice([i for i in range(n_appends) if abs(i - b) > 1], 2, replace=False)
    n_upd = max(rows // 50, 2)
    upd_keys = np.concatenate([
        hit[0] * rows + rng.choice(rows, n_upd, replace=False),
        hit[1] * rows + rng.choice(rows, n_upd, replace=False),
        total + np.arange(n_upd)])
    pq.write_table(pa.table({
        "k": pa.array(upd_keys, pa.int64()),
        "v": pa.array(np.round(rng.normal(500.0, 5.0, len(upd_keys)), 4)),
        "cat": pa.array(np.full(len(upd_keys), "merged", dtype=object), pa.string()),
    }), os.path.join(out, "updates.parquet"))
    ranges = []
    for _ in range(3):
        lo = int(rng.integers(0, total - rows))
        ranges.append([lo, lo + int(rng.integers(rows // 4, rows))])
    with open(os.path.join(out, "dml.json"), "w") as f:
        json.dump({"appends": n_appends, "rows": rows, "delete": delete,
                   "ranges": ranges}, f)
    return {"rows": total}


GENERATORS = {
    "wordcount_text": gen_text,
    "dedup_minhash": gen_docs,
    "tpch_sf001": gen_tpch,
    "versioned_dml": gen_chain,
}


def generate(workload: str, seed: int, size, out: str) -> dict:
    """Write one cache entry into the empty directory ``out``: a part's
    inputs, or with ``size`` a ``{part: size}`` dict, each part's in its
    own subdirectory."""
    os.makedirs(out, exist_ok=True)
    if isinstance(size, dict):
        info = {}
        for part, part_size in size.items():
            os.makedirs(os.path.join(out, part))
            info[part] = GENERATORS[part](os.path.join(out, part), seed, part_size)
    else:
        info = GENERATORS[workload](out, seed, size)
    with open(os.path.join(out, "info.json"), "w") as f:
        json.dump(info, f, sort_keys=True)
    with open(os.path.join(out, "DONE"), "w"):
        pass
    return info


if __name__ == "__main__":
    wl, seed_arg, size_arg, out_dir = sys.argv[1:5]
    generate(wl, int(seed_arg), json.loads(size_arg), out_dir)
