"""Differential tests: distributed BPE (operators/bpe.py) vs a pure-Python
reference implementation of the classic algorithm (Sennrich et al. 2016 —
count adjacent symbol pairs over a word-frequency table, merge the argmax,
repeat; one-pass left-to-right merge application per rule)."""

from __future__ import annotations

import random
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nexus_forge_spark.operators.bpe import (
    END_OF_WORD,
    bpe_token_counts,
    bpe_tokens,
    bpe_train,
    word_frequencies,
)


# --- pure-Python reference ------------------------------------------------


def ref_symbolize(word: str) -> tuple[str, ...]:
    return tuple(word[:-1]) + (word[-1] + END_OF_WORD,)


def ref_merge_word(word: tuple[str, ...], pair: tuple[str, str]) -> tuple[str, ...]:
    first, second = pair
    out: list[str] = []
    i = 0
    while i < len(word):
        if i < len(word) - 1 and word[i] == first and word[i + 1] == second:
            out.append(first + second)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def ref_train(
    word_counts: dict[str, int], num_merges: int
) -> list[tuple[str, str, int]]:
    vocab = {ref_symbolize(w): c for w, c in word_counts.items()}
    merges: list[tuple[str, str, int]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for word, cnt in vocab.items():
            for i in range(len(word) - 1):
                pairs[(word[i], word[i + 1])] += cnt
        if not pairs:
            break
        # freq desc, then lexical (l, r) asc — the operators' tie-break
        (l, r), freq = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((l, r, freq))
        vocab = {ref_merge_word(w, (l, r)): c for w, c in vocab.items()}
    return merges


def ref_encode(word: str, merges) -> list[str]:
    toks = ref_symbolize(word)
    for l, r, *_ in merges:
        toks = ref_merge_word(toks, (l, r))
    return list(toks)


# --- unit: reference edge semantics are what we think they are -------------


def test_ref_merge_repeated_run():
    assert ref_merge_word(("a",) * 5, ("a", "a")) == ("aa", "aa", "a")
    assert ref_merge_word(("x", "y", "x", "y"), ("x", "y")) == ("xy", "xy")
    assert ref_merge_word(("x", "x", "y"), ("x", "y")) == ("x", "xy")


# --- spark vs reference ----------------------------------------------------


def _word_df(spark, counts: dict[str, int]):
    return spark.createDataFrame(
        [(w, c) for w, c in counts.items()], "word string, cnt long"
    )


def test_train_matches_reference_fixed(spark):
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3, "aaaaa": 2}
    got = bpe_train(_word_df(spark, counts), 10)
    assert got == ref_train(counts, 10)


def test_encode_matches_reference_fixed(spark):
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    merges = ref_train(counts, 8)
    df = _word_df(spark, counts).select(
        "word", bpe_tokens(F.col("word"), merges).alias("t")
    )
    for row in df.collect():
        assert row["t"] == ref_encode(row["word"], merges), row["word"]


def test_train_and_encode_match_reference_randomized(spark):
    rng = random.Random(7)
    alphabet = "abcd"
    for trial in range(3):
        counts = {
            "".join(
                rng.choice(alphabet) for _ in range(rng.randint(1, 7))
            ): rng.randint(1, 9)
            for _ in range(12)
        }
        k = rng.randint(1, 8)
        merges = bpe_train(_word_df(spark, counts), k)
        assert merges == ref_train(counts, k), f"trial {trial}"
        df = _word_df(spark, counts).select(
            "word", bpe_tokens(F.col("word"), merges).alias("t")
        )
        for row in df.collect():
            assert row["t"] == ref_encode(row["word"], merges), (
                trial,
                row["word"],
            )


def test_regex_specials_in_symbols(spark):
    # symbols containing regex/replacement metacharacters must merge literally
    counts = {"$a$a": 4, "\\b\\b": 3, "(x)": 2}
    k = 6
    merges = bpe_train(_word_df(spark, counts), k)
    assert merges == ref_train(counts, k)
    df = _word_df(spark, counts).select(
        "word", bpe_tokens(F.col("word"), merges).alias("t")
    )
    for row in df.collect():
        assert row["t"] == ref_encode(row["word"], merges)


def test_token_counts_end_to_end(spark):
    docs = spark.createDataFrame(
        [(1, "low low lower"), (2, "newest widest"), (3, "  "), (4, "low")],
        "doc_id long, text string",
    )
    counts = {"low": 3, "lower": 1, "newest": 1, "widest": 1}
    merges = bpe_train(word_frequencies(docs), 6)
    assert merges == ref_train(counts, 6)
    got = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe_token_counts(docs, merges).collect()
    }
    want: dict[int, int] = {}
    for doc_id, text in [(1, "low low lower"), (2, "newest widest"), (4, "low")]:
        want[doc_id] = sum(len(ref_encode(w, merges)) for w in text.split())
    assert got == want  # doc 3 (whitespace only) drops out


def test_min_freq_stops_training(spark):
    counts = {"ab": 1, "cd": 1}
    merges = bpe_train(_word_df(spark, counts), 10, min_freq=2)
    assert merges == []


def test_no_python_udf_in_encode_plan(spark):
    docs = spark.createDataFrame([(1, "low lower")], "doc_id long, text string")
    merges = bpe_train(word_frequencies(docs), 3)
    plan = bpe_token_counts(docs, merges)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_train_checkpoint_resume(spark, tmp_path, monkeypatch):
    counts = {"low": 5, "lower": 2, "newest": 6, "widest": 3}
    ckpt = str(tmp_path / "bpe")
    full = ref_train(counts, 8)

    # run 1: learn only 3 merges (simulates a killed 8-merge run whose
    # journal holds the first 3 rules)
    got3 = bpe_train(_word_df(spark, counts), 3, checkpoint_path=ckpt)
    assert got3 == full[:3]

    # run 2: resume to 8 — the first 3 rules must come from the journal,
    # never from pair-count jobs; count argmax calls to prove it
    import nexus_forge_spark.operators.bpe as B

    calls = {"n": 0}
    orig = B._top_pair

    def counting(cur):
        calls["n"] += 1
        return orig(cur)

    monkeypatch.setattr(B, "_top_pair", counting)
    got8 = bpe_train(_word_df(spark, counts), 8, checkpoint_path=ckpt)
    assert got8 == full
    assert calls["n"] == 5  # only the 5 NEW merges ran aggregations

    # run 3: fully answered from the journal — zero Spark aggregations
    calls["n"] = 0
    again = bpe_train(_word_df(spark, counts), 8, checkpoint_path=ckpt)
    assert again == full and calls["n"] == 0
    # and a smaller target is the greedy prefix, also journal-only
    assert bpe_train(_word_df(spark, counts), 2, checkpoint_path=ckpt) == full[:2]
    assert calls["n"] == 0


def test_train_checkpoint_exhausted(spark, tmp_path):
    counts = {"ab": 3}
    ckpt = str(tmp_path / "bpe2")
    # only 1 merge possible: (a, b</w>)
    got = bpe_train(_word_df(spark, counts), 10, checkpoint_path=ckpt)
    assert got == ref_train(counts, 10) and len(got) == 1
    # resume with a LARGER target: journal knows the supply is exhausted
    assert bpe_train(_word_df(spark, counts), 20, checkpoint_path=ckpt) == got


def test_unigram_lm_discovers_repeated_morpheme(spark):
    """Corpus of 'abab'/'ab' style compounds: the unigram LM must keep
    'ab' as a high-count piece and segment 'ababab' into three 'ab's
    (Viterbi with integer costs prefers the reused morpheme)."""
    from nexus_forge_spark.operators.bpe import unigram_lm_train

    words = spark.createDataFrame(
        [("ab", 50), ("abab", 30), ("ababab", 10), ("cd", 5)],
        "word string, freq long",
    )
    out = {r.piece: r for r in unigram_lm_train(
        words, rounds=2, max_piece_len=4, vocab_size=6
    ).collect()}
    assert "ab" in out and "abab" in out
    # the LM keeps BOTH morphemes: 'abab' (cheaper than two 'ab's at
    # these counts) covers abab(30) + the ababab prefix(10) = 40, and
    # 'ab' covers the standalone word(50) + the ababab tail(10) = 60 —
    # a char-level fallback would leave both near zero
    assert out["abab"].cnt == 40
    assert out["ab"].cnt == 60
    # coverage invariant: every observed char survives with cnt >= 1
    for ch in "abcd":
        assert ch in out and out[ch].cnt >= 1
    # costs are consistent: higher count -> lower cost
    assert out["ab"].cost_micro < out["c"].cost_micro


def test_unigram_lm_tie_rule_prefers_smallest_j(spark):
    """Equal-cost segmentations break toward the smaller split point
    (longer final piece) — the documented (total, j) rule; the seed
    election tie-breaks by (cnt DESC, piece ASC)."""
    from nexus_forge_spark.operators.bpe import unigram_seed_vocab

    words = spark.createDataFrame(
        [("xy", 3), ("yx", 3)], "word string, freq long"
    )
    seed = {r.piece: r.cnt for r in unigram_seed_vocab(
        words, max_piece_len=2, vocab_size=2
    ).collect()}
    # substring counts: x and y appear once in EACH word -> 6 apiece;
    # xy/yx at 3 fall outside the top-2 but chars always join
    assert seed["x"] == 6 and seed["y"] == 6
    assert set(seed) == {"x", "y"}


def test_unigram_viterbi_matches_bruteforce_enumeration(spark):
    """Differential: for every word, the Viterbi UDF's segmentation must
    achieve the globally minimal total cost over ALL segmentations
    (enumerated brute-force), and among minimal ones pick the
    (total, j)-lexicographic path — randomized small alphabet."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from nexus_forge_spark.operators.bpe import _viterbi_segment_udf

    rng = random.Random(42)
    pieces = ["a", "b", "c", "ab", "bc", "abc", "cab", "bb"]
    cost_map = {p: rng.randint(1, 50) * 1000 for p in pieces}
    L = 3

    def brute(w):
        # all compositions of w into vocab pieces (lengths 1..L)
        best = None
        def rec(i, path, tot):
            nonlocal best
            if i == len(w):
                if best is None or tot < best[0]:
                    best = (tot, list(path))
                return
            for j in range(i + 1, min(i + L, len(w)) + 1):
                p = w[i:j]
                if p in cost_map:
                    path.append(p)
                    rec(j, path, tot + cost_map[p])
                    path.pop()
        rec(0, [], 0)
        return best

    words = [
        "".join(rng.choice("abc") for _ in range(rng.randint(1, 8)))
        for _ in range(40)
    ]
    seg = _viterbi_segment_udf(cost_map, L)
    df = spark.createDataFrame([(w,) for w in words], "word string")
    got = {r.word: list(r.p) for r in df.select("word", seg(F.col("word")).alias("p")).collect()}
    for w in set(words):
        bt, bp = brute(w)
        assert sum(cost_map[p] for p in got[w]) == bt, (w, got[w], bp)
        assert "".join(got[w]) == w


def test_unigram_fertility_rejects_a_word_the_vocab_cannot_segment(spark):
    """'ab' with only 'a' in the vocab has no segmentation: the Viterbi
    backtrace must name the word instead of emitting a piece 'b' the
    vocab lacks (which would read as a plausible fertility)."""
    from pyspark.errors import PythonException

    from nexus_forge_spark.operators.bpe import unigram_fertility

    vocab = spark.createDataFrame([("a", 1000)], "piece string, cost_micro long")
    docs = spark.createDataFrame([("s1", "a ab")], "source string, text string")
    with pytest.raises(PythonException, match="cannot segment word 'ab'"):
        unigram_fertility(docs, vocab).collect()


def test_unigram_fertility_twin_names_words_it_cannot_segment(spark):
    """A 17-letter corpus word: Spark segments it and counts it in
    n_words; the DuckDB twin, whose DP is unrolled to max_word_len (16)
    positions, raises a named error instead of dropping it.  A word the
    vocab cannot segment raises in both engines."""
    import duckdb
    from pyspark.errors import PythonException

    from nexus_forge_spark.operators.bpe import (
        sql_unigram_fertility,
        unigram_fertility,
        unigram_lm_train,
    )

    train = [("abc", 5), ("cab", 3), ("ba", 2)]
    long_word = "abcabcabcabcabcab"
    assert len(long_word) == 17
    vocab = unigram_lm_train(
        spark.createDataFrame(train, "word string, freq long"),
        rounds=1, max_piece_len=3, vocab_size=8,
    )
    words_sql = "SELECT * FROM (VALUES ('abc', 5), ('cab', 3), ('ba', 2)) t(word, freq)"

    def both(text: str):
        docs = spark.createDataFrame([("s1", text)], "source string, text string")
        corpus = ", ".join(f"('s1', '{w}', 1)" for w in text.split())
        sql = sql_unigram_fertility(
            words_sql,
            f"SELECT * FROM (VALUES {corpus}) t(grp, word, n)",
            rounds=1, max_piece_len=3, vocab_size=8,
        )
        return (
            lambda: [tuple(r) for r in unigram_fertility(docs, vocab, max_piece_len=3).collect()],
            lambda: [tuple(r) for r in duckdb.connect().execute(sql).fetchall()],
        )

    spark_rows, twin_rows = both("abc cab ba")
    assert spark_rows() == twin_rows() and spark_rows()[0][1] == 3

    spark_rows, twin_rows = both(f"abc {long_word} cab")
    assert [r[:2] for r in spark_rows()] == [("s1", 3)]
    with pytest.raises(duckdb.Error, match=f'word "{long_word}" is longer than max_word_len 16'):
        twin_rows()

    spark_rows, twin_rows = both("abc abd")
    with pytest.raises(PythonException, match="cannot segment word 'abd'"):
        spark_rows()
    with pytest.raises(duckdb.Error, match='cannot segment word "abd"'):
        twin_rows()
