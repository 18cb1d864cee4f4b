from __future__ import annotations

import __spark_entry__ as entrymod
import pytest
from tests.oracle import assert_matches_oracle

DEDUP_QUERIES = [
    "exact_dedup",
    "ngram_jaccard_pairs",
    "minhash_lsh_pairs",
    "simhash",
    "simhash64",
    "simhash_pairs",
    "embedding_cosine_pairs",
]


@pytest.mark.parametrize("name", DEDUP_QUERIES)
def test_matches_oracle(spark, sf_dir, name):
    n = assert_matches_oracle(spark, entrymod.queries()[name], entrymod.oracle_sql()[name], sf_dir)
    assert n > 0


def test_exact_dedup_collapses_duplicates(spark):
    from mapreduce_golang_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, "Hello World"), (2, "  hello world "), (3, "different")],
        ["doc_id", "text"],
    )
    rows = {r.keep_doc_id: r.n_copies for r in exact_dedup(df).collect()}
    assert rows == {1: 2, 3: 1}


def test_minhash_finds_planted_near_dups(spark, sf_dir):
    # LSH candidates must contain the true high-jaccard pairs found by
    # the exhaustive n-gram join (recall check at jaccard >= 0.5).
    qs = entrymod.queries()
    exact = {(r.doc_a, r.doc_b) for r in qs["ngram_jaccard_pairs"](spark, sf_dir).collect()}
    lsh = {(r.doc_a, r.doc_b) for r in qs["minhash_lsh_pairs"](spark, sf_dir).collect()}
    assert exact, "fixture should contain planted near-dups"
    assert lsh == exact  # at jaccard>=0.5 with 4 bands of 3, recall is total here


def test_simhash_identical_docs_same_hash(spark):
    from mapreduce_golang_spark.operators.dedup import simhash

    df = spark.createDataFrame(
        [(1, "alpha beta gamma alpha"), (2, "alpha beta gamma alpha"), (3, "omega psi chi")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.simhash for r in simhash(df).collect()}
    assert rows[1] == rows[2]
    assert 0 <= rows[1] < 2**16


def test_ngram_hot_shingle_guard_caps_posting_list(spark):
    # a boilerplate shingle shared by MANY docs must not generate
    # candidates (posting list capped at max_doc_freq), while pairs
    # sharing a rare shingle still verify Jaccard over FULL sets
    from mapreduce_golang_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved forever"  # one shared 4-token run -> shared 3-shingles
    rows = [(i, f"{boiler} unique{i} filler{i} pad{i}") for i in range(40)]
    # docs 100/101: share boilerplate AND a rare tail -> near-dup pair
    rows += [
        (100, f"{boiler} special marker tail one"),
        (101, f"{boiler} special marker tail two"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # cap below the boilerplate doc-frequency: the 40 filler docs share
    # ONLY capped shingles -> zero pairs among them
    guarded = ngram_jaccard_pairs(df, threshold=0.3, max_doc_freq=10).collect()
    pair_ids = {(r.doc_a, r.doc_b): r.jaccard for r in guarded}
    assert all(a in (100, 101) or b in (100, 101) for a, b in pair_ids)
    assert (100, 101) in pair_ids

    # jaccard must equal the UNFILTERED value (full-set verify), not the
    # underestimate from filtered postings
    exact = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in ngram_jaccard_pairs(df, threshold=0.3, max_doc_freq=None).collect()
    }
    assert pair_ids[(100, 101)] == exact[(100, 101)]


def test_ngram_guard_default_matches_exact_on_fixture(spark, sf_dir):
    # at fixture scale no shingle exceeds the default cap, so the
    # guarded default must return the identical pair set
    from mapreduce_golang_spark.operators.dedup import ngram_jaccard_pairs
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    guarded = {tuple(r) for r in ngram_jaccard_pairs(docs).collect()}
    exact = {tuple(r) for r in ngram_jaccard_pairs(docs, max_doc_freq=None).collect()}
    assert guarded == exact and len(guarded) > 0


def test_incremental_dedup_statuses(spark):
    # batch = doc_id % 10 == 0 → docs 0,10,20,30.
    # 0: exact copy of corpus doc 1 → dup_exact
    # 10: exact copy of batch doc 0 but 0 < 10 shares its hash → dup_exact
    # 20: near-dup of corpus doc 3 (one word changed) → dup_near
    # 30: unrelated → kept
    from mapreduce_golang_spark.operators.dedup import incremental_dedup

    base = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (0, "shared corpus text body here"),
            (10, "  SHARED corpus TEXT body here "),
            (20, base.replace("lazy", "sleepy")),
            (30, "completely unrelated content with its own words entirely"),
            (1, "shared corpus text body here"),
            (3, base),
            (7, "corpus filler document that matches nothing else at all"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r.status for r in incremental_dedup(df).collect()}
    assert rows == {0: "dup_exact", 10: "dup_exact", 20: "dup_near", 30: "kept"}


def test_incremental_dedup_matches_oracle(spark, sf_dir):
    n = assert_matches_oracle(
        spark,
        entrymod.queries()["incremental_dedup"],
        entrymod.oracle_sql()["incremental_dedup"],
        sf_dir,
    )
    assert n > 0


def test_minhash_crosscheck_scaled_floors_to_pinned_at_fixture_scale(spark, sf_dir):
    """num_features=None sizes by the corpus: at fixture scale the
    distinct-shingle count is far below 2^18/4, so the auto mode
    floors to the library default and must reproduce the pinned
    variant EXACTLY (same HashingTF space, same seed, same joins) —
    the two legs only diverge once the corpus outgrows the pin, which
    SCALING_XL's 100x pair measures."""
    from mapreduce_golang_spark.operators.dedup import minhash_ml_crosscheck

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    pinned = minhash_ml_crosscheck(docs).collect()
    scaled = minhash_ml_crosscheck(docs, num_features=None).collect()
    assert [tuple(r) for r in pinned] == [tuple(r) for r in scaled]
    assert len(pinned) == 1 and pinned[0]["n_ours"] >= 0


# --- guarded pair stats: driver path vs Spark plan --------------------------


def _guarded_queries(df, max_doc_freq):
    from mapreduce_golang_spark.operators import dedup as D

    return {
        "jaccard": lambda: D.ngram_jaccard_pairs(df, max_doc_freq=max_doc_freq),
        "containment": lambda: D.overlap_containment_pairs(df, max_doc_freq=max_doc_freq),
        "stats": lambda: D._guarded_pair_stats(D.word_shingles(df), max_doc_freq),
    }


def _rows_with_spark_calls(monkeypatch, build, cap=None):
    """(sorted rows of build(), number of times it ran the Spark plan of
    the pair stats), under GRAPH_BROADCAST_MAX_ROWS = cap if given."""
    from mapreduce_golang_spark.operators import dedup as D

    calls = []
    spark_plan = D._guarded_pair_stats_spark
    with monkeypatch.context() as m:
        m.setattr(D, "_guarded_pair_stats_spark", lambda *a, **kw: calls.append(1) or spark_plan(*a, **kw))
        if cap is not None:
            m.setattr(D, "GRAPH_BROADCAST_MAX_ROWS", cap)
        rows = sorted(tuple(r) for r in build().collect())
    return rows, len(calls)


def _assert_paths_agree(monkeypatch, df, max_doc_freq):
    """Every guarded query gives the same rows on the driver path and
    on the Spark plan. The Spark plan is forced with a cap of -1, not 0:
    an empty shingle stream has 0 rows and would fit a cap of 0."""
    out = {}
    for name, build in _guarded_queries(df, max_doc_freq).items():
        driver, driver_calls = _rows_with_spark_calls(monkeypatch, build)
        forced, forced_calls = _rows_with_spark_calls(monkeypatch, build, cap=-1)
        assert (driver_calls, forced_calls) == (0, 1), name
        assert driver == forced, name
        out[name] = driver
    return out


def _word(i):
    # the tokenizer keeps letters only, so numbered words spell digits as letters
    return "".join(chr(ord("a") + int(c)) for c in str(i)) + "x"


def _random_corpus(spark, seed, id_type="long", null_id=False):
    # fuzzed copies of a few base texts, most behind a shared boilerplate
    # prefix, so shingle doc freqs span 1 .. most of the corpus
    import random

    rng = random.Random(seed)
    vocab = [_word(i) for i in range(40)]
    boiler = "terms of use apply to all content here".split()
    bases = [[rng.choice(vocab) for _ in range(rng.randint(6, 14))] for _ in range(8)]
    rows = []
    for i in range(48):
        words = list(rng.choice(bases))
        for _ in range(rng.randint(0, 3)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        if rng.random() < 0.6:
            words = boiler[: rng.randint(3, len(boiler))] + words
        rows.append((i * 3 + rng.randint(0, 2), " ".join(words)))
    if null_id:
        rows.append((None, " ".join(bases[0])))
    return spark.createDataFrame(rows, f"doc_id {id_type}, text string")


@pytest.mark.parametrize(
    "max_doc_freq,id_type,null_id",
    [(1, "long", False), (2, "int", False), (3, "long", True), (256, "long", False)],
)
def test_guarded_pair_paths_agree_on_random_corpora(spark, monkeypatch, max_doc_freq, id_type, null_id):
    df = _random_corpus(spark, seed=max_doc_freq, id_type=id_type, null_id=null_id)
    out = _assert_paths_agree(monkeypatch, df, max_doc_freq)
    if max_doc_freq == 256:
        assert out["jaccard"] and out["containment"]
    if max_doc_freq > 1:
        assert out["stats"]


def test_guarded_pair_paths_agree_on_fixture(spark, sf_dir, monkeypatch):
    import os

    from mapreduce_golang_spark.operators.dedup import DEFAULT_MAX_DOC_FREQ
    from mapreduce_golang_spark.sources.tables import load_table

    docs = load_table(spark, os.path.join(os.path.dirname(sf_dir), "sf0.01"), "documents")
    out = _assert_paths_agree(monkeypatch, docs, DEFAULT_MAX_DOC_FREQ)
    assert out["jaccard"] and out["containment"]


@pytest.mark.parametrize("rows", [[], [(1, "a b"), (2, "a b"), (3, "c"), (4, "")]])
def test_guarded_pair_paths_agree_without_shingles(spark, monkeypatch, rows):
    # an empty frame, and a corpus where every doc is shorter than k = 3
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = _assert_paths_agree(monkeypatch, df, 256)
    assert out == {"jaccard": [], "containment": [], "stats": []}


def _stream_sizes(df, max_doc_freq):
    """(shingle rows, cold candidates, hot expansion) of df's shingle
    stream, counted in plain Python: the three sizes the driver path of
    the pair stats checks against its cap."""
    from collections import defaultdict
    from itertools import combinations

    from mapreduce_golang_spark.operators.dedup import word_shingles

    stream = [(r.doc_id, r.shingle) for r in word_shingles(df).collect()]
    docs_of = defaultdict(set)
    for d, s in stream:
        docs_of[s].add(d)
    hot = defaultdict(set)
    for d, s in stream:
        if len(docs_of[s]) > max_doc_freq:
            hot[d].add(s)
    cold = [sorted(ds) for ds in docs_of.values() if len(ds) <= max_doc_freq]
    pairs = {p for ds in cold for p in combinations(ds, 2)}
    n_candidates = sum(len(ds) * (len(ds) - 1) // 2 for ds in cold)
    return len(stream), n_candidates, sum(min(len(hot[a]), len(hot[b])) for a, b in pairs)


def _overflow_corpus(case):
    """(rows, max_doc_freq) whose shingle rows fit a cap equal to their
    count while ``case`` (cold candidates or hot-side expansion) does not."""
    if case == "candidates":
        # every doc shares the same eleven cold shingles (11 per pair)
        shared = "one two three four five six seven eight nine ten eleven twelve"
        return [(i, f"{shared} tail {_word(i)} end") for i in range(12)], 256
    # 15 docs share a 32-word boilerplate (30 hot shingles at cap 10);
    # ten of them also share a cold phrase, so each of their 45 pairs
    # expands over 30 hot shingles
    boiler = " ".join(_word(i) for i in range(32))
    rows = [(i, f"{boiler} alpha beta gamma u {_word(i)}") for i in range(10)]
    return rows + [(i, f"{boiler} p {_word(i)} q") for i in range(10, 15)], 10


@pytest.mark.parametrize("case", ["candidates", "hot_expansion"])
def test_guarded_pair_overflow_takes_spark_path(spark, monkeypatch, case):
    rows, max_doc_freq = _overflow_corpus(case)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    n_rows, n_candidates, n_expansion = _stream_sizes(df, max_doc_freq)
    if case == "candidates":
        assert n_rows < n_candidates
    else:
        assert n_candidates <= n_rows < n_expansion
    for name, build in _guarded_queries(df, max_doc_freq).items():
        driver, driver_calls = _rows_with_spark_calls(monkeypatch, build)
        capped, capped_calls = _rows_with_spark_calls(monkeypatch, build, cap=n_rows)
        assert (driver_calls, capped_calls) == (0, 1), name
        assert capped == driver and driver, name
