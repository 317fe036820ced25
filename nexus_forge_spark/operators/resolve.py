"""Entity resolution as broadcast joins + window top-k.

Reference semantics (kgforge/specializations/resolvers/demo_resolver.py:54-79,
kgforge/core/commons/strategies.py:18-26), reproduced exactly:

* EXACT_MATCH            — first record (dictionary order) where any resolve
                           property equals the text.
* EXACT_CASE_INSENSITIVE — same with lower() on both sides.
* BEST_MATCH/ALL_MATCHES — candidate records where lower(text) is a substring
                           of any lower(property); score = len(first present
                           property value) - len(text)  (demo_resolver.py:68-79,
                           _dist at :109-110 — NOTE: the score property is the
                           *first present* resolve property of the record, not
                           the property that matched); ascending sort, stable
                           w.r.t. dictionary order → tiebreak = dict_idx.

Spark shape: mentions ⋈ broadcast(alias-exploded dim) → per-(mention,entity)
min-score dedup → window rank per mention → strategy select.  The dim is the
broadcast side (ontologies are small); the mentions side never shuffles for
the join itself — the only shuffle is the groupBy/window keyed on the
fine-grained mention identity, which is skew-free by construction even when
one ontology term is hot (AQE skew-join stays on as a backstop).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from nexus_forge_spark import dims

EXACT_MATCH = "EXACT_MATCH"
EXACT_CASE_INSENSITIVE_MATCH = "EXACT_CASE_INSENSITIVE_MATCH"
BEST_MATCH = "BEST_MATCH"
ALL_MATCHES = "ALL_MATCHES"

MENTION_KEYS = ["doc_id", "span_idx", "tok_idx", "n", "mention"]


def build_alias_table(
    dim_idx: DataFrame,
    match_props: list[str],
    type_filter: str | None = None,
    include_deprecated: bool = False,
) -> DataFrame:
    """Unpivot a dimension into (entity_id, dict_idx, prop_order, alias, score_len).

    * type pre-filter mirrors demo_resolver.py:52-53;
    * deprecated filter mirrors archetypes/resolver.py:213;
    * score_len = length of the record's first present match property — the
      value _dist measures against (demo_resolver.py:68-70).
    """
    d = dim_idx
    if type_filter is not None:
        d = d.where(F.col("type") == type_filter)
    if not include_deprecated:
        d = d.where(~F.coalesce(F.col("deprecated"), F.lit(False)))
    first_present = F.coalesce(*[F.col(p) for p in match_props])
    d = d.withColumn("score_len", F.length(first_present))
    pairs = F.array(
        *[
            F.struct(F.lit(i).alias("prop_order"), F.col(p).alias("alias"))
            for i, p in enumerate(match_props)
        ]
    )
    return (
        d.select(
            F.col("id").alias("entity_id"),
            "dict_idx",
            "score_len",
            F.explode(pairs).alias("pa"),
        )
        .where(F.col("pa.alias").isNotNull())
        .select(
            "entity_id",
            "dict_idx",
            "score_len",
            F.col("pa.prop_order").alias("prop_order"),
            F.col("pa.alias").alias("alias"),
        )
    )


def resolve(
    mentions: DataFrame,
    alias_table: DataFrame,
    strategy: str = BEST_MATCH,
    limit: int = 10,
    threshold: float | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """mentions(keys..., mention) ⋈ alias_table -> resolved candidates.

    Output: keys... , entity_id, score, rank, strategy.
    limit/threshold defaults mirror forge.resolve (core/forge.py:406-407
    limit=10, threshold applied as score <= threshold for distance scores).
    """
    keys = keys or MENTION_KEYS
    a = F.broadcast(alias_table.alias("a"))
    m = mentions.alias("m")
    mention = F.col("m.mention")
    al = F.col("a.alias")

    if strategy == EXACT_MATCH:
        cond = mention == al
        score = F.lit(0.0)
    elif strategy == EXACT_CASE_INSENSITIVE_MATCH:
        cond = F.lower(mention) == F.lower(al)
        score = F.lit(0.0)
    else:
        cond = F.instr(F.lower(al), F.lower(mention)) > 0
        score = (F.col("a.score_len") - F.length(mention)).cast("double")

    joined = m.join(a, cond, "inner").select(
        *[F.col(f"m.{k}") for k in keys],
        F.col("a.entity_id"),
        F.col("a.dict_idx"),
        F.col("a.prop_order"),
        score.alias("score"),
    )

    if strategy in (EXACT_MATCH, EXACT_CASE_INSENSITIVE_MATCH, BEST_MATCH):
        # top-1: the globally best candidate row IS its entity's best row, so
        # the per-entity dedup aggregation (and its shuffle) is unnecessary —
        # one window shuffle total; WindowGroupLimit prunes map-side.
        w = Window.partitionBy(*keys).orderBy("score", "dict_idx", "prop_order")
        out = joined.withColumn("rank", F.row_number().over(w)).where(F.col("rank") == 1)
    else:
        # ALL_MATCHES: one candidate row per (mention, entity) — a record
        # matching on two aliases is one candidate (reference returns records).
        # The (score, dict_idx, prop_order) tuple is packed into ONE long so
        # min() runs as a codegen'd HashAggregate with map-side combine —
        # min(struct(...)) would force an interpreted SortAggregate.
        # Scores here are integral (length differences), |score| < 10^4;
        # dict_idx < 10^6; prop_order < 100.
        packed = (
            (F.col("score").cast("long") + 10000) * F.lit(100000000)
            + F.col("dict_idx").cast("long") * 100
            + F.col("prop_order").cast("long")
        )
        per_entity = joined.groupBy(*keys, "entity_id").agg(
            F.min(packed).alias("b")
        ).select(
            *keys,
            "entity_id",
            (F.floor(F.col("b") / 100000000) - 10000).cast("double").alias("score"),
            F.pmod(F.floor(F.col("b") / 100), F.lit(1000000)).alias("dict_idx"),
        )
        w = Window.partitionBy(*keys).orderBy("score", "dict_idx")
        out = per_entity.withColumn("rank", F.row_number().over(w)).where(
            F.col("rank") <= limit
        )
    if threshold is not None:
        out = out.where(F.col("score") <= threshold)
    return out.select(*keys, "entity_id", "score", "rank").withColumn(
        "strategy", F.lit(strategy)
    )


def resolve_distinct(
    mentions: DataFrame,
    alias_table: DataFrame,
    strategy: str = BEST_MATCH,
    limit: int = 10,
    threshold: float | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """`resolve` factored through the distinct mention vocabulary.

    Candidate scores and ranks depend only on the mention STRING, never the
    occurrence, so the expensive non-equi (substring) join against the alias
    dim runs once per distinct mention; occurrences get their candidates via
    a broadcast equi-join on the string.  At 10^12 documents the vocabulary
    is orders of magnitude smaller than the occurrence stream — this turns
    the resolver from O(occurrences × dim) into O(vocab × dim) + one
    map-side hash join, and moves the top-k window off the big table.
    """
    keys = keys or MENTION_KEYS
    vocab = mentions.select("mention").distinct()
    resolved = resolve(vocab, alias_table, strategy, limit, threshold, keys=["mention"])
    out_cols = [c for c in resolved.columns if c != "mention"]
    return (
        mentions.select(*keys)
        .join(F.broadcast(resolved), "mention")
        .select(*keys, *out_cols)
    )


def alias_substring_index(alias_table: DataFrame) -> DataFrame:
    """Alias table -> one row per DISTINCT lowercase substring of each alias
    row: (key, alias, entity_id, dict_idx, prop_order, score_len).

    Turns the ladder's fuzzy containment predicate
    ``instr(lower(alias), lower(mention)) > 0`` into a pure broadcast
    EQUI-join: lower(mention) matches an alias row iff it equals one of the
    row's substring keys.  An alias of length L contributes <= L(L+1)/2
    keys, so this is the SMALL-dim specialization (10^3-10^4 alias rows of
    short labels -> ~10^5-10^6 broadcast keys); for dictionaries past
    broadcast size use resolve_ladder_blocked (trigram blocking) instead.
    """
    s = F.lower(F.col("alias"))
    subs = F.when(
        F.length(s) >= 1,
        F.array_distinct(
            F.flatten(
                F.transform(
                    F.sequence(F.lit(1), F.length(s)),
                    lambda ln: F.transform(
                        F.sequence(F.lit(1), F.length(s) - ln + 1),
                        lambda st: F.substr(s, st, ln),
                    ),
                )
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    return alias_table.withColumn("key", F.explode(subs))


# packing widths for the inline ladder's single-long candidate encoding:
# prop_order < 100, dict_idx < 10^6, |score| < 10^4, exact_rank in {0,1}
_PACK_PROP = 100
_PACK_DICT = 1_000_000
_PACK_SCORE_OFF = 10_000
_PACK_SCORE_SPAN = 20_000


def _ladder_index(alias_table: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """The inline ladder's three dictionary-side frames: ``fuzzy_best``
    (key, f_dict, f_score_len), ``exact_best`` (e_alias, e_dict) and
    ``recs`` (dict_idx, entity_id)."""
    idx = alias_substring_index(alias_table)
    fuzzy_packed = (
        (F.col("score_len").cast("long") + _PACK_SCORE_OFF) * _PACK_DICT
        + F.col("dict_idx")
    ) * _PACK_PROP + F.col("prop_order")
    fuzzy_best = (
        idx.groupBy("key")
        .agg(F.min(fuzzy_packed).alias("fb"))
        .select(
            "key",
            F.pmod(F.floor(F.col("fb") / _PACK_PROP), F.lit(_PACK_DICT)).alias(
                "f_dict"
            ),
            (
                F.floor(F.col("fb") / (_PACK_PROP * _PACK_DICT))
                - _PACK_SCORE_OFF
            ).alias("f_score_len"),
        )
    )
    exact_packed = F.col("dict_idx").cast("long") * _PACK_PROP + F.col("prop_order")
    exact_best = (
        alias_table.groupBy("alias")
        .agg(F.min(exact_packed).alias("eb"))
        .select(
            F.col("alias").alias("e_alias"),
            F.floor(F.col("eb") / _PACK_PROP).alias("e_dict"),
        )
    )
    recs = alias_table.select("dict_idx", "entity_id").distinct()
    return fuzzy_best, exact_best, recs


def _only_local_relations(plan) -> bool:
    leaves = plan.collectLeaves().iterator()
    while leaves.hasNext():
        if leaves.next().getClass().getSimpleName() != "LocalRelation":
            return False
    return True


def _frozen_ladder_index(alias_table: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """:func:`_ladder_index`, built once per session and dictionary.

    An alias table whose plan reads only in-memory ``LocalRelation``s (every
    resolver dimension in :mod:`nexus_forge_spark.dims` and
    ``load_resolver_dim``) is a constant, so its index is computed once and
    kept as three ``LocalRelation``s: later calls broadcast them straight
    from the driver instead of re-running three aggregations behind three
    broadcasts.  The memo lives on the session and is keyed by content: the
    analyzed plan, looked up by ``semanticHash`` and confirmed by
    ``sameResult``, so a dictionary differing in one row builds its own
    index.  A file- or cache-backed table (its data can change under the
    same plan) or a non-deterministic one keeps the lazy plan."""
    qe = alias_table._jdf.queryExecution()
    plan = qe.analyzed()
    if not (plan.deterministic() and _only_local_relations(qe.withCachedData())):
        return _ladder_index(alias_table)
    spark = alias_table.sparkSession
    bucket = vars(spark).setdefault("_frozen_ladder_indexes", {}).setdefault(
        plan.semanticHash(), []
    )
    for seen, frames in bucket:
        if seen.sameResult(plan):
            return frames
    frames = tuple(
        dims.local_frame(spark, df.collect(), df.schema)
        for df in _ladder_index(alias_table)
    )
    bucket.append((plan, frames))
    return frames


def resolve_ladder_inline(
    occurrences: DataFrame,
    alias_table: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Single-scan strategy ladder over the raw occurrence stream, with the
    ranking PRE-REDUCED into the broadcast index.

    Key insight: the ladder's winning candidate is a pure function of the
    MENTION STRING, never the occurrence — so the argmin can be computed on
    the dim side at plan time instead of aggregating the corpus:

    * fuzzy_best: per substring key, the min (score_len, dict_idx,
      prop_order) alias row containing it — score for a mention is then
      score_len - length(mention) (length is constant per key, so the
      per-key ordering is the ladder's fuzzy ordering);
    * exact_best: per VERBATIM alias string, the min (dict_idx, prop_order)
      row — joined case-sensitively; an exact hit (exact_rank 0) beats any
      fuzzy candidate, exactly the ladder's exact-first rule.

    The corpus side is then: inner hash join on lower(mention) + left hash
    join on mention, both against tiny broadcasts, one output row per
    occurrence — NO aggregation, NO window, NO second scan.  The only
    shuffle left in a consuming pipeline is its own downstream dedup.
    (The earlier formulation aggregated min(packed) per (doc, mention) —
    measured 20+s of reduce time at 1M docs that this removes outright.)
    An in-memory dictionary's index is built once per session
    (:func:`_frozen_ladder_index`).

    Returns one row PER OCCURRENCE ROW (duplicates of keys preserved);
    dedup downstream if set semantics are needed.  Use when the substring
    index fits a broadcast; resolve_ladder_blocked is the huge-dim path.
    """
    keys = keys or MENTION_KEYS
    fuzzy_best, exact_best, recs = _frozen_ladder_index(alias_table)
    mention = F.col("mention")
    j = occurrences.join(
        F.broadcast(fuzzy_best), F.lower(mention) == F.col("key"), "inner"
    ).join(F.broadcast(exact_best), mention == F.col("e_alias"), "left")
    is_exact = F.col("e_dict").isNotNull()
    return (
        j.select(
            *keys,
            F.when(is_exact, F.col("e_dict"))
            .otherwise(F.col("f_dict"))
            .alias("dict_idx"),
            F.when(is_exact, F.lit(0.0))
            .otherwise((F.col("f_score_len") - F.length(mention)).cast("double"))
            .alias("score"),
            F.when(is_exact, F.lit(EXACT_MATCH))
            .otherwise(F.lit(BEST_MATCH))
            .alias("strategy"),
        )
        .join(F.broadcast(recs), "dict_idx")
        .select(*keys, "entity_id", "score", F.lit(1).alias("rank"), "strategy")
    )


def escape_punctuation(text: str) -> str:
    """Escape regex-special punctuation in a mention before building an
    anchored case-insensitive pattern (archetypes/resolver.py:181-188;
    golden cases tests/core/test_resolving.py:20-48)."""
    import re as _re

    return _re.sub(r"([-()\[\]{}+?*.$^|\\/@:;!,#~&<>%'\"=])", r"\\\1", text)


def strategy_predicate(mention: F.Column, alias: F.Column, strategy: str) -> F.Column:
    """Strategy -> join predicate compiler, the analogue of
    _build_resolving_query's SPARQL FILTER generation (archetypes/
    resolver.py:208-252): EXACT -> equality; EXACT_CI -> anchored
    case-insensitive regex on the escaped mention; BEST/ALL -> containment."""
    if strategy == EXACT_MATCH:
        return mention == alias
    if strategy == EXACT_CASE_INSENSITIVE_MATCH:
        # regex(?, "^escaped$", "i") — rendered Spark-side as regexp_like
        pattern = F.concat(
            F.lit("(?i)^"),
            F.regexp_replace(
                mention,
                r"([\-\(\)\[\]\{\}\+\?\*\.\$\^\|\\\\/@:;!,#~&<>%'\"=])",
                r"\\$1",
            ),
            F.lit("$"),
        )
        return F.regexp_like(alias, pattern)
    return F.instr(F.lower(alias), F.lower(mention)) > 0


def trigrams(col: F.Column) -> F.Column:
    """Distinct character 3-grams of lower(text); texts shorter than 3 chars
    yield the whole string as a single gram."""
    s = F.lower(col)
    return F.when(
        F.length(s) >= 3,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.length(s) - 2),
                lambda i: F.substr(s, i, F.lit(3)),
            )
        ),
    ).otherwise(F.array(s))


def build_alias_trigram_table(alias_table: DataFrame) -> DataFrame:
    """Alias table exploded to one row per (alias row, trigram) — the
    blocking index for large dims.  Build once, write bucketed by gram on a
    real deployment."""
    return alias_table.withColumn("gram", F.explode(trigrams(F.col("alias"))))


def resolve_ladder_blocked(
    mentions: DataFrame,
    alias_table: DataFrame,
    keys: list[str] | None = None,
    salt_buckets: int | None = None,
    hot_grams: list[str] | None = None,
) -> DataFrame:
    """Scale path of resolve_ladder for dims too large to broadcast-NLJ.

    Lossless trigram blocking: if lower(mention) is a substring of
    lower(alias), then the mention's FIRST trigram is one of the alias's
    trigrams — so an equi-join on that single gram is a superset of the
    substring join, verified afterwards with the real predicate.  Turns the
    O(mentions x aliases) nested loop into one shuffle equi-join on short
    gram keys: the plan that survives a 10^6-term ontology x 10^12 docs.

    Skew: hot grams (common trigrams in hot labels) are salted —
    deterministic salt = pmod(xxhash64(doc_id), salt_buckets) on the mention
    side, exploded replication on the alias side (SURVEY.md §4.2); AQE skew
    join stays on as backstop.

    hot_grams closes the P50 measure->act loop: pass the top-k keys from
    ``key_skew_profile`` over the mention-side gram column and ONLY those
    grams are salted — mention rows off the hot list keep salt 0 and the
    alias side replicates exclusively for hot grams (an InSet predicate
    over the broadcast-small list), so the replication cost is k rows
    per bucket instead of the whole gram index.  Identical output to the
    unsalted join by construction (the salt only splits a hot key's
    partition; every (mention, alias) pair still meets exactly once).
    """
    keys = keys or MENTION_KEYS
    is_short = F.length(F.col("mention")) < 3
    long_m = mentions.where(~is_short).withColumn(
        "gram", F.element_at(trigrams(F.col("mention")), 1)
    )
    a = build_alias_trigram_table(alias_table)

    if salt_buckets and salt_buckets > 1:
        msalt = F.pmod(F.xxhash64(F.col(keys[0])), F.lit(salt_buckets))
        all_salts = F.sequence(F.lit(0), F.lit(salt_buckets - 1))
        if hot_grams is not None:
            hot = F.col("gram").isin([str(g) for g in hot_grams])
            long_m = long_m.withColumn(
                "salt", F.when(hot, msalt).otherwise(F.lit(0)).cast("int")
            )
            a = a.withColumn(
                "salt",
                F.explode(
                    F.when(hot, all_salts).otherwise(F.array(F.lit(0)))
                ),
            ).withColumn("salt", F.col("salt").cast("int"))
        else:
            long_m = long_m.withColumn("salt", msalt.cast("int"))
            a = a.withColumn("salt", F.explode(all_salts)).withColumn(
                "salt", F.col("salt").cast("int")
            )
        join_cond = (F.col("m.gram") == F.col("a.gram")) & (
            F.col("m.salt") == F.col("a.salt")
        )
    else:
        join_cond = F.col("m.gram") == F.col("a.gram")

    long_m = long_m.alias("m")
    a = a.alias("a")
    mention = F.col("m.mention")
    al = F.col("a.alias")
    verified_long = long_m.join(a, join_cond, "inner").where(
        F.instr(F.lower(al), F.lower(mention)) > 0
    ).select(*[F.col(f"m.{k}") for k in keys], "a.entity_id", "a.dict_idx",
             "a.prop_order", "a.alias", "a.score_len")
    # mentions shorter than the gram size can't block losslessly; they are a
    # tiny distinct set -> broadcast NLJ branch (the base alias table, not
    # the exploded gram index)
    short_m = mentions.where(is_short).alias("m")
    a_base = F.broadcast(alias_table.alias("a"))
    verified_short = short_m.join(
        a_base, F.instr(F.lower(F.col("a.alias")), F.lower(F.col("m.mention"))) > 0, "inner"
    ).select(*[F.col(f"m.{k}") for k in keys], "a.entity_id", "a.dict_idx",
             "a.prop_order", "a.alias", "a.score_len")
    verified = verified_long.unionByName(verified_short)
    mention = F.col("mention")
    al = F.col("alias")
    joined = verified.select(
        *keys,
        "entity_id",
        "dict_idx",
        "prop_order",
        F.when(mention == al, 0).otherwise(1).alias("exact_rank"),
        F.when(mention == al, F.lit(0.0))
        .otherwise((F.col("score_len") - F.length(mention)).cast("double"))
        .alias("score"),
    )
    # a mention may match the same alias row through its first gram only once
    # (single gram per mention side) — but the same (mention, alias row) can
    # not duplicate; ranking directly is safe, as in resolve_ladder.
    w = Window.partitionBy(*keys).orderBy("exact_rank", "score", "dict_idx", "prop_order")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .select(
            *keys,
            "entity_id",
            "score",
            "rank",
            F.when(F.col("exact_rank") == 0, F.lit(EXACT_MATCH))
            .otherwise(F.lit(BEST_MATCH))
            .alias("strategy"),
        )
    )


def resolve_ladder(
    mentions: DataFrame,
    alias_table: DataFrame,
    keys: list[str] | None = None,
) -> DataFrame:
    """Single-pass strategy ladder: EXACT_MATCH preferred, BEST_MATCH fallback.

    Equivalent to running the exact pass, anti-joining the misses, and
    running the fuzzy pass (the reference's try-exact-else-fuzzy mapping-rule
    ternary) — but as ONE broadcast join: equality implies substring
    containment, so the fuzzy predicate is a superset; an is_exact flag
    ranks exact candidates first.  Halves the scans and removes the anti-join
    shuffle entirely — at 10^12-doc scale that is the difference between one
    pass over the corpus and three.
    """
    keys = keys or MENTION_KEYS
    a = F.broadcast(alias_table.alias("a"))
    m = mentions.alias("m")
    mention = F.col("m.mention")
    al = F.col("a.alias")

    joined = m.join(a, F.instr(F.lower(al), F.lower(mention)) > 0, "inner").select(
        *[F.col(f"m.{k}") for k in keys],
        F.col("a.entity_id"),
        F.col("a.dict_idx"),
        F.col("a.prop_order"),
        F.when(mention == al, 0).otherwise(1).alias("exact_rank"),
        F.when(mention == al, F.lit(0.0))
        .otherwise((F.col("a.score_len") - F.length(mention)).cast("double"))
        .alias("score"),
    )
    # top-1 per mention: single window shuffle, no per-entity pre-aggregation
    # (the best row overall is its entity's best row).
    w = Window.partitionBy(*keys).orderBy("exact_rank", "score", "dict_idx", "prop_order")
    return (
        joined.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") == 1)
        .select(
            *keys,
            "entity_id",
            "score",
            "rank",
            F.when(F.col("exact_rank") == 0, F.lit(EXACT_MATCH))
            .otherwise(F.lit(BEST_MATCH))
            .alias("strategy"),
        )
    )


def coherence_disambiguate(
    candidates: DataFrame,
    doc_col: str = "doc_id",
    mention_col: str = "mention",
    entity_col: str = "entity_id",
) -> DataFrame:
    """Collective entity disambiguation by document coherence — the
    linking pass AFTER candidate generation that the reference's
    per-mention resolver (demo_resolver.py scores each mention against
    the dictionary in isolation) cannot express: an ambiguous mention
    (several candidate entities in one document) is resolved toward the
    candidate that CO-OCCURS most with the document's unambiguous
    entities across the corpus (Cucerzan 2007 / Milne-Witten-style
    relatedness, with raw co-occurrence counts as the relatedness
    measure — integer, engine-exact).

    * context(doc)  = entities of the doc's UNambiguous mentions;
    * cooc(e1, e2)  = number of docs whose context contains both
      (counted on normalized e1 < e2 pairs — contexts are small, the
      per-doc pair expansion is bounded by context size squared);
    * coherence(doc, mention, e) = sum over c in context(doc), c != e,
      of cooc(e, c);
    * winner per (doc, mention): max coherence, ties to the smaller
      entity_id — all-zero coherence degrades to the deterministic
      lexicographic fallback.

    Input: a candidate table (doc, mention, entity) — e.g. the fuzzy
    ALL_MATCHES output; duplicates (the same mention at several token
    positions) are collapsed first.  Output: one row per AMBIGUOUS
    (doc, mention): (doc, mention, entity_id, coherence, n_candidates).

    Scale posture: everything is doc-keyed or entity-pair-keyed hash
    aggregation with map-side combine; the cooc table is entity-vocab
    sized and joins UN-hinted (AQE broadcasts when it fits); nothing
    mention-occurrence-shaped survives past the first distinct.
    """
    cand = candidates.select(
        F.col(doc_col).alias("doc"),
        F.col(mention_col).alias("men"),
        F.col(entity_col).alias("ent"),
    ).distinct()
    n_cand = cand.groupBy("doc", "men").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    cand = cand.join(n_cand, ["doc", "men"])
    context = (
        cand.where(F.col("n_candidates") == 1).select("doc", "ent").distinct()
    )
    pairs = (
        context.alias("x")
        .join(context.alias("y"), "doc")
        .where(F.col("x.ent") < F.col("y.ent"))
        .select(F.col("x.ent").alias("e1"), F.col("y.ent").alias("e2"))
    )
    cooc = pairs.groupBy("e1", "e2").agg(F.count(F.lit(1)).alias("cnt"))
    amb = cand.where(F.col("n_candidates") >= 2)
    votes = (
        amb.join(context.select("doc", F.col("ent").alias("ctx")), "doc")
        .where(F.col("ctx") != F.col("ent"))
        .select(
            "doc",
            "men",
            "ent",
            "n_candidates",
            F.least("ent", "ctx").alias("e1"),
            F.greatest("ent", "ctx").alias("e2"),
        )
        .join(cooc, ["e1", "e2"])
        .groupBy("doc", "men", "ent", "n_candidates")
        .agg(F.sum("cnt").alias("coherence"))
    )
    scored = amb.join(
        votes.select("doc", "men", "ent", "coherence"), ["doc", "men", "ent"], "left"
    ).select(
        "doc",
        "men",
        "ent",
        "n_candidates",
        F.coalesce("coherence", F.lit(0)).cast("long").alias("coherence"),
    )
    w = Window.partitionBy("doc", "men").orderBy(
        F.col("coherence").desc(), F.col("ent")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            F.col("doc").alias(doc_col),
            F.col("men").alias(mention_col),
            F.col("ent").alias(entity_col),
            "coherence",
            F.col("n_candidates").cast("long").alias("n_candidates"),
        )
    )


def discover_entities(
    mentions: DataFrame,
    alias_table: DataFrame,
    min_count: int = 3,
    min_len: int = 4,
    id_prefix: str = "nsg:discovered/",
    doc_col: str = "doc_id",
    mention_col: str = "mention",
) -> DataFrame:
    """NIL detection / entity discovery — the KG-construction step after
    linking: mentions that match NO dictionary alias under the ladder's
    containment rule, seen often enough to matter, become CANDIDATE NEW
    ENTITIES with deterministically minted ids (md5 of the lowercased
    surface form — stable across runs/engines, so re-runs and incremental
    batches mint the SAME id; the IRI-minting discipline of the
    reference's freeze/versioned-id path applied to discovery).

    The reference has no analogue: unresolved mentions there simply fail
    resolution (demo_resolver returns None).  A 100 TB corpus run needs
    the complement — what entities does the corpus talk about that the
    ontology lacks?

    Scale posture: the non-match test runs on the DISTINCT mention
    vocabulary, not occurrences, as a LEFT ANTI join against the alias
    containment candidates (the same lossless trigram blocking as
    resolve_ladder_blocked would apply for huge dims; at dictionary
    sizes the broadcast NLJ is fine); occurrence/doc counts are one
    map-side-combined aggregate.  Output: (mention, n_occurrences,
    n_docs, entity_id), ordered by nothing (set semantics).
    """
    occ = mentions.select(
        F.col(doc_col).alias("doc"), F.col(mention_col).alias("men")
    ).where(F.length(F.col(mention_col)) >= int(min_len))
    vocab = occ.select("men").distinct()
    a = F.broadcast(alias_table.select("alias").distinct())
    unresolved = vocab.join(
        a, F.instr(F.lower(F.col("alias")), F.lower(F.col("men"))) > 0, "left_anti"
    )
    stats = (
        occ.join(unresolved, "men", "left_semi")
        .groupBy("men")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc").cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= int(min_count))
    )
    return stats.select(
        F.col("men").alias(mention_col),
        "n_occurrences",
        "n_docs",
        F.concat(
            F.lit(id_prefix), F.substring(F.md5(F.lower(F.col("men"))), 1, 16)
        ).alias("entity_id"),
    )


def discovery_stats(
    mentions: DataFrame,
    alias_table: DataFrame,
    min_len: int = 4,
    doc_col: str = "doc_id",
    mention_col: str = "mention",
) -> DataFrame:
    """The MAINTAINABLE state behind :func:`discover_entities`: per
    unresolved mention, (n_occurrences, n_docs) with NO frequency floor —
    the floor must be applied at READ time, because a mention below it in
    every batch can cross it in the union (thresholding the state would
    lose those forever).  ``n_docs`` is additive across batches only when
    batches partition the doc space (the ingest contract: a doc belongs
    to exactly one batch)."""
    occ = mentions.select(
        F.col(doc_col).alias("doc"), F.col(mention_col).alias("men")
    ).where(F.length(F.col(mention_col)) >= int(min_len))
    vocab = occ.select("men").distinct()
    a = F.broadcast(alias_table.select("alias").distinct())
    unresolved = vocab.join(
        a, F.instr(F.lower(F.col("alias")), F.lower(F.col("men"))) > 0, "left_anti"
    )
    return (
        occ.join(unresolved, "men", "left_semi")
        .groupBy("men")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.countDistinct("doc").cast("long").alias("n_docs"),
        )
        .select(F.col("men").alias(mention_col), "n_occurrences", "n_docs")
    )


def fold_discovery_stats(
    base_stats: DataFrame,
    delta_stats: DataFrame,
    mention_col: str = "mention",
) -> DataFrame:
    """O(delta) incremental entity discovery: fold a new batch's stats
    into the persisted state by per-mention count addition — the same
    contract as the incremental LSH / CDC / SCD2 family (fold == full
    recompute, pytest- and oracle-pinned).  Unioning two vocab-sized
    stats tables costs nothing corpus-shaped; the expensive part (the
    batch's own anti-join) touched only the delta."""
    return (
        base_stats.unionByName(delta_stats)
        .groupBy(mention_col)
        .agg(
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
            F.sum("n_docs").cast("long").alias("n_docs"),
        )
    )


def discovered_from_stats(
    stats: DataFrame,
    min_count: int = 3,
    id_prefix: str = "nsg:discovered/",
    mention_col: str = "mention",
) -> DataFrame:
    """Read-time view of the discovery state: apply the frequency floor
    and mint the stable ids (same minting as :func:`discover_entities`,
    so batch and incremental paths emit IDENTICAL rows)."""
    return stats.where(F.col("n_occurrences") >= int(min_count)).select(
        F.col(mention_col),
        "n_occurrences",
        "n_docs",
        F.concat(
            F.lit(id_prefix),
            F.substring(F.md5(F.lower(F.col(mention_col))), 1, 16),
        ).alias("entity_id"),
    )
