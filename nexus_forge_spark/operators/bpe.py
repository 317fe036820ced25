"""Distributed byte-pair-encoding: vocabulary training + corpus encoding.

The classic map-reduce BPE formulation (Sennrich et al. 2016, "Neural
Machine Translation of Rare Words with Subword Units" — public paper):

* **Train** operates on the *word-frequency table*, never the corpus: one
  corpus-wide shuffle reduces 100 TB of text to ~10^7 (word, count) rows,
  and every merge iteration is a pair-count aggregation over that small
  table plus a single-row argmax collect.  This is how production BPE
  trainers scale — the corpus is touched exactly once.
* **Encode** uses the same distinct-word factoring as the resolver ladder
  (resolve.py): tokenize each *distinct* word once with the learned merge
  chain (k chained native `regexp_replace` calls, whole-stage codegen, no
  Python), then join token counts back to word occurrences.  The join is
  broadcast by default (vocabularies fit in an executor) with an escape
  hatch for pathological vocabularies.

Merge-application semantics are pinned to the reference algorithm's
one-pass left-to-right scan (merge, then continue scanning *after* the
merged token).  The Spark expression uses a lookaround regex over a
space-separated symbol string — ``(?<= )X Y(?= )`` — whose
resume-after-match behaviour reproduces the scan exactly, including runs
of repeated symbols ('a a a a a' -> 'aa aa a', not 'aa a aa').  A
randomized differential test against a pure-Python scanner pins this
(tests/test_bpe.py).

Words are symbolized as characters with the standard ``</w>`` end-of-word
marker on the final character, so learned subwords distinguish prefixes
from suffixes.  Symbols never contain spaces (words come from whitespace
tokenization), which makes the spaced-string representation lossless.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nexus_forge_spark.functions.itermetrics import iterate

END_OF_WORD = "</w>"


def _regex_quote(s: str) -> str:
    """Literal-quote a symbol for a Java regex (\\Q...\\E, embedded \\E safe)."""
    return "\\Q" + s.replace("\\E", "\\E\\\\E\\Q") + "\\E"


def _replacement_quote(s: str) -> str:
    """Escape a replacement string for Java Matcher.replaceAll ($, \\)."""
    return s.replace("\\", "\\\\").replace("$", "\\$")


def word_frequencies(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt) over whitespace-lowercase tokenization — THE one
    corpus-wide shuffle of BPE training."""
    return _words(docs, text_col).groupBy("word").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )


def _words(docs: DataFrame, text_col: str, *keys: str) -> DataFrame:
    """(keys..., word) per whitespace-lowercase token of ``text_col``."""
    return docs.select(
        *keys,
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("word"),
    ).where(F.col("word") != "")


def _per_word(docs: DataFrame, text_col: str, key_col: str, n: Column) -> DataFrame:
    """(key, word, n) per word occurrence: the expression ``n`` over the
    ``word`` column runs once per DISTINCT word, then a broadcast join
    fans it back out to the occurrences."""
    words = _words(docs, text_col, key_col)
    vocab = words.select("word").distinct().select("word", n.alias("n"))
    return words.join(F.broadcast(vocab), "word")


def spaced_symbols(word: Column) -> Column:
    """word -> ' c1 c2 ... ck</w> ' (space-separated symbols, sentinel
    spaces at both ends, end-of-word marker fused to the last char)."""
    s = F.concat(F.lit(" "), F.regexp_replace(word, "(.)", "$1 "))
    return F.concat(F.regexp_replace(s, " $", ""), F.lit(END_OF_WORD + " "))


def merge_expr(s: Column, left: str, right: str) -> Column:
    """Apply ONE merge rule to a spaced symbol string.

    Lookarounds keep the boundary spaces unconsumed, so back-to-back
    occurrences sharing a boundary all merge in one pass — Java's
    resume-after-match scan is then exactly the reference BPE word scan.
    """
    pat = "(?<= )" + _regex_quote(left) + " " + _regex_quote(right) + "(?= )"
    return F.regexp_replace(s, F.lit(pat), F.lit(_replacement_quote(left + right)))


def _top_pair(symbolized: DataFrame):
    """Single most frequent adjacent symbol pair (freq desc, then lexical
    (l, r) asc for cross-engine determinism); None when no pairs remain."""
    toks = F.split(F.trim(F.col("s")), " ")
    rows = (
        symbolized.select(
            F.explode(
                F.arrays_zip(
                    F.slice(toks, 1, F.size(toks) - 1).alias("l"),
                    F.slice(toks, 2, F.size(toks) - 1).alias("r"),
                )
            ).alias("p"),
            "cnt",
        )
        .select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "cnt")
        .groupBy("l", "r")
        .agg(F.sum("cnt").alias("freq"))
        .orderBy(F.desc("freq"), "l", "r")
        .limit(1)
        .collect()
    )
    return rows[0] if rows else None


def bpe_train(
    words: DataFrame,
    num_merges: int,
    min_freq: int = 1,
    checkpoint_path: str | None = None,
) -> list[tuple[str, str, int]]:
    """Learn up to `num_merges` merge rules from a (word, cnt) table.

    Each iteration is one aggregation job over the word table (pair
    explode -> sum -> argmax of a single row) followed by one native-regex
    rewrite pass; the table is localCheckpoint'ed per iteration so job i
    never replays merges 1..i-1.  Iterative argmax-collect loops are the
    standard shape for this algorithm (cf. the connected-components loop
    in canonicalize.py) — the collect is one row per iteration.

    With `checkpoint_path`, the learned merge list is journaled to disk
    after every iteration (atomic rename), and a restarted run resumes
    from the journal: already-learned merges replay as pure regex rewrite
    passes (no pair-count jobs), so a killed k-merge run redoes at most
    one iteration's aggregation — the same per-stage lineage contract as
    plans/checkpoint.py.
    """
    import json
    import os

    merges: list[tuple[str, str, int]] = []
    done_file = (
        os.path.join(checkpoint_path, "merges.json") if checkpoint_path else None
    )
    if done_file and os.path.exists(done_file):
        with open(done_file) as f:
            state = json.load(f)
        merges = [tuple(m) for m in state["merges"]][:num_merges]
        # greedy prefix property: k merges are exactly the first k of any
        # longer run, so a journal with >= num_merges rules answers
        # directly; "exhausted" means the pair supply ran dry, so no
        # larger target can learn more either
        if state.get("exhausted") or len(merges) >= num_merges:
            return merges

    def _journal(exhausted: bool = False) -> None:
        if not done_file:
            return
        os.makedirs(checkpoint_path, exist_ok=True)
        tmp = done_file + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"merges": merges, "exhausted": exhausted}, f)
        os.replace(tmp, done_file)

    cur = words.select(
        apply_merges(spaced_symbols(F.col("word")), merges).alias("s"), "cnt"
    ).localCheckpoint(eager=True)

    def learn(cur: DataFrame, rnd) -> DataFrame:
        top = _top_pair(cur)
        rnd.seen["exhausted"] = top is None or top["freq"] < min_freq
        if rnd.seen["exhausted"]:
            return cur
        left, right, freq = top["l"], top["r"], int(top["freq"])
        merges.append((left, right, freq))
        _journal()
        return rnd.checkpoint(
            cur.select(merge_expr(F.col("s"), left, right).alias("s"), "cnt")
        )

    iterate(
        learn, cur, num_merges - len(merges), until=lambda _, now: now["exhausted"]
    )
    _journal(exhausted=len(merges) < num_merges)
    return merges


def apply_merges(s: Column, merges: list[tuple[str, str, int]]) -> Column:
    """Chain all learned merges over a spaced symbol string — k native
    regexp_replace calls in one projection (single codegen stage)."""
    for left, right, *_ in merges:
        s = merge_expr(s, left, right)
    return s


def bpe_tokens(word: Column, merges: list[tuple[str, str, int]]) -> Column:
    """word -> array<string> of BPE tokens under the learned merges."""
    return F.split(F.trim(apply_merges(spaced_symbols(word), merges)), " ")


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document BPE token counts via distinct-word factoring: the merge
    chain runs once per *distinct* word, never per occurrence, then a
    broadcast join fans counts back out to occurrences."""
    n = F.size(bpe_tokens(F.col("word"), merges))
    toks = _per_word(docs, text_col, id_col, n)
    return toks.groupBy(id_col).agg(F.sum("n").cast("long").alias("n_bpe_tokens"))


def bpe_fertility(
    docs: DataFrame,
    merges: list[tuple[str, str, int]],
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Tokenizer fertility audit: BPE tokens per word, per corpus slice
    (language, domain, source) — the multilingual-fairness metric.  A
    merge table trained on a skewed mix under-serves minority slices,
    which then pay more tokens per word (higher training/inference cost
    per unit text and a shorter effective context); this measures it.

    Same distinct-word factoring as bpe_token_counts: the merge chain
    runs once per DISTINCT word; the per-slice rollup is one hash
    aggregate.  fertility_milli = tokens * 1000 div words (BIGINT).
    """
    n = F.size(bpe_tokens(F.col("word"), merges))
    return (
        _per_word(docs, text_col, group_col, n)
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n").cast("long").alias("n_bpe_tokens"),
        )
        .withColumn(
            "fertility_milli",
            F.expr("n_bpe_tokens * 1000 div n_words").cast("long"),
        )
    )


# ---------------------------------------------------------------- unigram LM
# SentencePiece-style unigram-LM tokenizer (Kudo 2018), HARD-EM variant:
# this engine has a deterministic integer log (functions/intlog), not a
# deterministic exp, so the E-step is Viterbi (argmin total cost) rather
# than forward-backward expectations — the dawid_skene_labels discipline.
# Every quantity is BIGINT micro-nats, so both engines agree bit-for-bit.


def unigram_seed_vocab(
    words: DataFrame,
    max_piece_len: int = 6,
    vocab_size: int = 60,
    word_col: str = "word",
    freq_col: str = "freq",
) -> DataFrame:
    """Seed vocabulary: every substring of length 1..L counted with
    multiplicity, weighted by word frequency; keep the top ``vocab_size``
    by (count DESC, piece ASC) plus ALL single characters (coverage:
    every word stays segmentable).  One map-side explode + one hash agg
    + a TakeOrderedAndProject — the word table is the distinct-word
    factoring of the corpus, so this never rescans documents."""
    L = max_piece_len
    subs = words.select(
        F.col(freq_col).alias("freq"),
        F.explode(
            F.expr(
                f"flatten(transform(sequence(1, length({word_col})), i -> "
                f"transform(sequence(i, least(i + {L - 1}, "
                f"length({word_col}))), j -> "
                f"substring({word_col}, i, j - i + 1))))"
            )
        ).alias("piece"),
    )
    cnt0 = subs.groupBy("piece").agg(F.sum("freq").cast("long").alias("cnt"))
    top = cnt0.orderBy(F.desc("cnt"), "piece").limit(vocab_size)
    chars = cnt0.where(F.length("piece") == 1)
    return (
        top.unionByName(chars)
        .groupBy("piece")
        .agg(F.max("cnt").cast("long").alias("cnt"))
    )


def _viterbi_segment_udf(cost_map: dict, max_piece_len: int):
    """Arrow-batched Viterbi over words: dp[i] = min over j of dp[j] +
    cost(word[j:i]); ties broken by SMALLEST j (prefer the longer final
    piece) — the same (total, j) lexicographic rule the oracle's
    row_number renders.  cost_map is vocab-sized (broadcast in the
    closure); a trained vocab keeps every single char it saw, but a word
    with a char outside it has no segmentation and raises ValueError
    naming the word, rather than emit a piece the vocab lacks."""
    from pyspark.sql import types as T

    L = max_piece_len
    INF = 1 << 62

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def seg(col: pd.Series) -> pd.Series:
        out = []
        for w in col:
            n = len(w)
            dp = [0] + [INF] * n
            bj = [0] * (n + 1)
            for i in range(1, n + 1):
                best, bestj = INF, -1
                for j in range(max(0, i - L), i):
                    c = cost_map.get(w[j:i])
                    if c is None or dp[j] >= INF:
                        continue
                    t = dp[j] + c
                    if t < best:
                        best, bestj = t, j
                dp[i], bj[i] = best, bestj
            if dp[n] >= INF:
                raise ValueError(f"unigram vocab cannot segment word {w!r}")
            ps, i = [], n
            while i > 0:
                j = bj[i]
                ps.append(w[j:i])
                i = j
            out.append(ps[::-1])
        return pd.Series(out)

    return seg


def unigram_lm_train(
    words: DataFrame,
    rounds: int = 2,
    max_piece_len: int = 6,
    vocab_size: int = 60,
    word_col: str = "word",
    freq_col: str = "freq",
) -> DataFrame:
    """SentencePiece-style unigram-LM tokenizer training, hard-EM:

      * seed = top substrings + all chars (:func:`unigram_seed_vocab`);
      * per round: piece cost = ln(total/count) in deterministic integer
        micro-nats (intlog — engine-exact, no libm), Viterbi-segment
        every DISTINCT word (Arrow-batched, vocab costs broadcast in the
        closure), re-count pieces weighted by word frequency; multi-char
        pieces that go unused DROP, single chars floor at count 1
        (coverage invariant);
      * output after the fixed rounds: (piece, cnt, cost_micro) with
        costs from the final counts, ordered by piece.

    Fixed round count + deterministic tie rules keep both engines
    bit-identical (the kmeans/bpe oracle discipline — the DuckDB twin
    unrolls the same DP per position).

    Scale posture: the corpus is touched ZERO times here (callers pass
    the distinct-word frequency table); each round is one vocab-sized
    cost aggregate + one Arrow pass over distinct words + one hash agg.
    The cost table collect is vocab-sized (bounded by vocab_size + the
    alphabet) — the centroid-broadcast pattern, not a corpus collect.
    """
    from nexus_forge_spark.functions.intlog import ln_micro_col

    w = words.select(
        F.col(word_col).alias("word"), F.col(freq_col).cast("long").alias("freq")
    ).localCheckpoint(eager=True)
    vocab = unigram_seed_vocab(
        w, max_piece_len, vocab_size, "word", "freq"
    ).localCheckpoint(eager=True)

    def em_round(vocab: DataFrame, rnd) -> DataFrame:
        tot = vocab.agg(F.sum("cnt").cast("long").alias("tot"))
        costs = vocab.crossJoin(F.broadcast(tot)).select(
            "piece", ln_micro_col("tot", "cnt").alias("cost")
        )
        cost_map = {r["piece"]: int(r["cost"]) for r in costs.collect()}
        seg = _viterbi_segment_udf(cost_map, max_piece_len)
        used = (
            w.select("freq", F.explode(seg(F.col("word"))).alias("piece"))
            .groupBy("piece")
            .agg(F.sum("freq").cast("long").alias("cnt"))
        )
        charset = vocab.where(F.length("piece") == 1).select("piece")
        return rnd.checkpoint(
            charset.join(used, "piece", "left")
            .select("piece", F.coalesce("cnt", F.lit(1)).cast("long").alias("cnt"))
            .unionByName(used.where(F.length("piece") > 1))
        )

    vocab = iterate(em_round, vocab, rounds)
    tot = vocab.agg(F.sum("cnt").cast("long").alias("tot"))
    return (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "piece",
            "cnt",
            ln_micro_col("tot", "cnt").alias("cost_micro"),
        )
        .orderBy("piece")
    )


def unigram_fertility(
    docs: DataFrame,
    vocab: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
    max_piece_len: int = 6,
) -> DataFrame:
    """Encode the corpus with a TRAINED unigram-LM vocab (Viterbi with
    the final costs — :func:`unigram_lm_train`'s output carries them as
    cost_micro) and report per-group fertility: pieces per word in
    integer milli.  The tokenizer-quality readout that decides whether
    the learned vocab actually compresses each domain (the
    tokenizer_fertility twin for the unigram LM).

    Same distinct-word factoring as bpe_fertility: the Viterbi UDF runs
    once per DISTINCT word (costs broadcast in the closure), then one
    broadcast join back to word occurrences + one hash agg per group.

    Every corpus word counts in ``n_words``, whatever its length; a word
    the vocab cannot segment raises (the Viterbi UDF names it), as does
    the DuckDB twin, so no engine drops a word and reports a plausible
    fertility without it.
    """
    cost_map = {
        r["piece"]: int(r["cost_micro"]) for r in vocab.collect()
    }
    seg = _viterbi_segment_udf(cost_map, max_piece_len)
    return (
        _per_word(docs, text_col, group_col, F.size(seg(F.col("word"))).cast("long"))
        .groupBy(F.col(group_col).alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_words"),
            F.sum("n").cast("long").alias("n_pieces"),
        )
        .withColumn(
            "fertility_milli",
            F.expr("n_pieces * 1000 div n_words").cast("long"),
        )
        .orderBy("grp")
    )


def _dp_parts(
    parts: list, tag: str, words_cte: str, k_cte: str, L: int, M: int
) -> str:
    """Append one Viterbi DP (per-position d CTEs) + backtrace (per-step
    b CTEs) chain against cost table ``k_cte`` over ``words_cte`` (word,
    freq); returns the name of a CTE emitting one row per (word, freq,
    piece) of the argmin segmentation."""
    parts.append(
        f"d{tag}_0 AS (SELECT word, freq, 0 AS pos, "
        f"CAST(0 AS BIGINT) AS total, 0 AS bj FROM {words_cte})"
    )
    for i in range(1, M + 1):
        prevs = " UNION ALL ".join(
            f"SELECT * FROM d{tag}_{j}" for j in range(max(0, i - L), i)
        )
        parts.append(
            f"""d{tag}_{i} AS MATERIALIZED (
  SELECT word, freq, pos, total, bj FROM (
    SELECT p.word, p.freq, {i} AS pos, p.total + k.cost AS total,
           p.pos AS bj,
           row_number() OVER (PARTITION BY p.word
               ORDER BY p.total + k.cost, p.pos) AS rn
    FROM ({prevs}) p
    JOIN {k_cte} k
      ON k.piece = substring(p.word, p.pos + 1, {i} - p.pos)
    WHERE length(p.word) >= {i}
  ) WHERE rn = 1
)"""
        )
    dall = " UNION ALL ".join(
        f"SELECT * FROM d{tag}_{i}" for i in range(1, M + 1)
    )
    parts.append(f"dall{tag} AS MATERIALIZED ({dall})")
    parts.append(
        f"b{tag}_0 AS (SELECT word, freq, length(word) AS pos, "
        f"CAST(NULL AS VARCHAR) AS piece FROM {words_cte})"
    )
    for st in range(1, M + 1):
        parts.append(
            f"""b{tag}_{st} AS MATERIALIZED (
  SELECT b.word, b.freq, d.bj AS pos,
         substring(b.word, d.bj + 1, b.pos - d.bj) AS piece
  FROM b{tag}_{st - 1} b JOIN dall{tag} d
    ON d.word = b.word AND d.pos = b.pos
  WHERE b.pos > 0
)"""
        )
    ball = " UNION ALL ".join(
        f"SELECT word, freq, piece FROM b{tag}_{st}" for st in range(1, M + 1)
    )
    parts.append(
        f"""emit{tag} AS MATERIALIZED (
  SELECT word, freq, piece FROM ({ball}) WHERE piece IS NOT NULL
)"""
    )
    return f"emit{tag}"


def _unigram_lm_parts(
    words_sql: str, rounds: int, L: int, V: int, M: int
) -> list:
    """Shared CTE chain: words, seed election, per-round cost tables +
    DP/backtrace + re-count, ending at v{rounds}."""
    from nexus_forge_spark.functions.intlog import ln_micro_sql

    cost = ln_micro_sql("tot", "cnt", "duck")
    parts = [
        f"words AS MATERIALIZED ({words_sql})",
        f"""sub0 AS (
  SELECT substring(w.word, i.i, l.l) AS piece, w.freq
  FROM words w,
       UNNEST(range(1, length(w.word) + 1)) AS i(i),
       UNNEST(range(1, {L} + 1)) AS l(l)
  WHERE i.i + l.l - 1 <= length(w.word)
)""",
        """cnt0 AS (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt FROM sub0 GROUP BY piece
)""",
        f"""top0 AS (
  SELECT piece, cnt FROM cnt0 ORDER BY cnt DESC, piece LIMIT {V}
)""",
        """v0 AS MATERIALIZED (
  SELECT piece, CAST(max(cnt) AS BIGINT) AS cnt FROM (
    SELECT * FROM top0
    UNION ALL SELECT piece, cnt FROM cnt0 WHERE length(piece) = 1
  ) GROUP BY piece
)""",
    ]
    for r in range(1, rounds + 1):
        pv = f"v{r - 1}"
        parts.append(
            f"t{r} AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM {pv})"
        )
        parts.append(
            f"""k{r} AS MATERIALIZED (
  SELECT piece, CAST({cost} AS BIGINT) AS cost FROM {pv}, t{r}
)"""
        )
        emit = _dp_parts(parts, str(r), "words", f"k{r}", L, M)
        parts.append(
            f"""p{r} AS MATERIALIZED (
  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
  FROM {emit} GROUP BY piece
)"""
        )
        parts.append(
            f"""v{r} AS MATERIALIZED (
  SELECT c.piece, CAST(coalesce(p.cnt, 1) AS BIGINT) AS cnt
  FROM (SELECT piece FROM {pv} WHERE length(piece) = 1) c
  LEFT JOIN p{r} p USING (piece)
  UNION ALL
  SELECT piece, cnt FROM p{r} WHERE length(piece) > 1
)"""
        )
    return parts


def sql_unigram_lm(
    words_sql: str,
    rounds: int = 2,
    max_piece_len: int = 6,
    vocab_size: int = 60,
    max_word_len: int = 16,
) -> str:
    """DuckDB oracle for :func:`unigram_lm_train` — the Viterbi DP
    unrolled per POSITION (d{r}_{i} CTEs: best prefix cost ending at i,
    argmin rendered as row_number over (total, j)) and the backtrace
    unrolled per STEP, per round; identical intlog costs, identical
    (total, j) tie rule, identical char floor.  words_sql -> (word,
    freq) with length(word) <= max_word_len."""
    from nexus_forge_spark.functions.intlog import ln_micro_sql

    parts = _unigram_lm_parts(
        words_sql, rounds, max_piece_len, vocab_size, max_word_len
    )
    parts.append(
        f"tf AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM v{rounds})"
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT v.piece, v.cnt,
  CAST({ln_micro_sql('tf.tot', 'v.cnt', 'duck')} AS BIGINT) AS cost_micro
FROM v{rounds} v, tf ORDER BY v.piece"""
    )


def sql_unigram_fertility(
    words_sql: str,
    corpus_sql: str,
    rounds: int = 2,
    max_piece_len: int = 6,
    vocab_size: int = 60,
    max_word_len: int = 16,
) -> str:
    """DuckDB oracle for :func:`unigram_fertility`: re-derives the
    trained vocab (same chain as sql_unigram_lm), then one MORE
    DP/backtrace chain with the FINAL costs over the corpus word list,
    rolled up per group.  corpus_sql -> (grp, word, n) with n = how many
    times the word occurs in the group.

    The DP is unrolled to ``max_word_len`` positions, so a corpus word
    longer than that has no segmentation here: the query raises a named
    ``error()`` for it, and for a word the vocab cannot segment, where
    :func:`unigram_fertility` would segment or name it (never dropping
    it from ``n_words``)."""
    from nexus_forge_spark.functions.intlog import ln_micro_sql

    L, M = max_piece_len, max_word_len
    cost = ln_micro_sql("tot", "cnt", "duck")
    parts = _unigram_lm_parts(
        words_sql, rounds, L, vocab_size, max_word_len
    )
    parts.append(
        f"tf AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM v{rounds})"
    )
    parts.append(
        f"""kf AS MATERIALIZED (
  SELECT piece, CAST({cost} AS BIGINT) AS cost FROM v{rounds}, tf
)"""
    )
    parts.append(f"corpus AS MATERIALIZED ({corpus_sql})")
    parts.append(
        """cw AS MATERIALIZED (
  SELECT word, CAST(1 AS BIGINT) AS freq
  FROM (SELECT DISTINCT word FROM corpus)
)"""
    )
    emit = _dp_parts(parts, "f", "cw", "kf", L, M)
    parts.append(
        f"""np AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS n_pieces FROM {emit} GROUP BY word
)"""
    )
    return (
        "WITH "
        + ",\n".join(parts)
        + f"""
SELECT c.grp, CAST(sum(c.n) AS BIGINT) AS n_words,
  CAST(sum(c.n * np.n_pieces) AS BIGINT) AS n_pieces,
  CAST(sum(c.n * np.n_pieces) * 1000 // sum(c.n) AS BIGINT)
    AS fertility_milli
FROM corpus c LEFT JOIN np USING (word)
WHERE CASE
  WHEN length(c.word) > {M} THEN error(
    'corpus word "' || c.word || '" is longer than max_word_len {M}')
  WHEN np.n_pieces IS NULL THEN error(
    'unigram vocab cannot segment word "' || c.word || '"')
  ELSE TRUE END
GROUP BY c.grp ORDER BY c.grp"""
    )
