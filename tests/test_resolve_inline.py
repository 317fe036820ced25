"""resolve_ladder_inline: the one-scan substring-index ladder must be
result-identical to the reference nested-loop ladder, and the slim
occurrence extractor must agree with the struct extractor's candidate set.

Reference semantics under test: demo_resolver.py strategy ladder (exact
preferred, best-fuzzy fallback, score = first-present-property length minus
mention length, dictionary-order tiebreak).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nexus_forge_spark import dims
from nexus_forge_spark.operators import mentions as M
from nexus_forge_spark.operators import resolve as R
from nexus_forge_spark.sources import flat_to_interleaved, load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return flat_to_interleaved(load_table(spark, "documents", sf_dir))


@pytest.fixture(scope="module")
def alias_table(spark):
    return R.build_alias_table(
        dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS
    )


def test_occurrences_match_struct_extractor(docs):
    """(doc_id, mention) projection of extract_mentions == the slim
    extractor's stream (set equality; slim dedups within a span)."""
    full = (
        M.extract_mentions(docs).select("doc_id", "mention").distinct().collect()
    )
    slim = M.extract_mention_occurrences(docs).distinct().collect()
    assert sorted(map(tuple, full)) == sorted(map(tuple, slim))


def test_inline_ladder_equals_distinct_ladder(docs, alias_table):
    occ = M.extract_mention_occurrences(docs)
    inline = (
        R.resolve_ladder_inline(occ, alias_table, keys=["doc_id", "mention"])
        .select("doc_id", "mention", "entity_id", "score", "strategy")
        .distinct()
    )
    old = (
        R.resolve_ladder(M.extract_mentions(docs), alias_table)
        .select("doc_id", "mention", "entity_id", "score", "strategy")
        .distinct()
    )
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, old.collect()))


def test_substring_index_is_exactly_the_containment_relation(spark, alias_table):
    """key membership in alias_substring_index == instr(lower(alias),
    lower(key)) > 0, for every (key, alias) pair the index emits."""
    idx = R.alias_substring_index(alias_table)
    bad = idx.where(F.instr(F.lower("alias"), F.col("key")) == 0).count()
    assert bad == 0
    # and each alias row's own lowercase form is one of its keys (the
    # exact-match path always survives the equi-join)
    n_rows = alias_table.count()
    own = idx.where(F.col("key") == F.lower("alias")).count()
    assert own == n_rows


def test_inline_ladder_exact_preferred(spark, alias_table):
    """A mention equal to an alias must resolve EXACT_MATCH with score 0
    even when it is also a substring of a longer alias."""
    row = alias_table.orderBy(F.length("alias").desc()).first()
    # a mention equal to a short alias that is contained in nothing: use
    # the exact full alias string of any row
    occ = spark.createDataFrame(
        [("d1", row["alias"])], "doc_id string, mention string"
    )
    out = R.resolve_ladder_inline(occ, alias_table, keys=["doc_id", "mention"]).collect()
    assert len(out) == 1
    assert out[0]["strategy"] == "EXACT_MATCH"
    assert out[0]["score"] == 0.0


def test_inline_ladder_randomized_differential(spark):
    """Randomized alias tables + mention streams: the pre-reduced-index
    ladder must equal resolve_ladder (the reference-shape NLJ) on every
    (mention -> entity, score, strategy) outcome, including punctuation,
    case variants, multi-record shared aliases, and negative scores
    (score_len shorter than the mention)."""
    import random

    rnd = random.Random(7)
    alphabet = ["Sort", "Merge", "JOIN", "scan", "Hash-", "agg", "α", "x"]

    def rand_text(k):
        return "".join(rnd.choice(alphabet) for _ in range(k))

    rows = []
    for dict_idx in range(40):
        label = rand_text(rnd.randint(1, 3))
        # first-present property is sometimes SHORTER than fuzzy mentions
        # matched via other props -> negative scores
        props = [label, rand_text(rnd.randint(1, 4)) if rnd.random() < 0.7 else None]
        first = next(p for p in props if p is not None)
        for order, p in enumerate(props):
            if p is not None:
                rows.append((f"e{dict_idx}", dict_idx, len(first), order, p))
    alias_table = spark.createDataFrame(
        rows, "entity_id string, dict_idx long, score_len int, prop_order int, alias string"
    )

    mentions = []
    pool = [r[4] for r in rows]
    for i in range(120):
        base = rnd.choice(pool)
        pick = rnd.random()
        if pick < 0.4:
            m = base  # exact hit
        elif pick < 0.7:
            m = base.lower() if rnd.random() < 0.5 else base.upper()
        elif pick < 0.9:
            j = rnd.randint(0, max(0, len(base) - 2))
            m = base[j : j + rnd.randint(1, len(base) - j)]  # substring
        else:
            m = rand_text(2) + "zzz"  # likely no match
        mentions.append((f"d{i % 10}", m))
    occ = spark.createDataFrame(mentions, "doc_id string, mention string")

    from nexus_forge_spark.operators import resolve as R

    inline = (
        R.resolve_ladder_inline(occ, alias_table, keys=["doc_id", "mention"])
        .select("doc_id", "mention", "entity_id", "score", "strategy")
        .distinct()
    )
    ref = (
        R.resolve_ladder(occ.distinct(), alias_table, keys=["doc_id", "mention"])
        .select("doc_id", "mention", "entity_id", "score", "strategy")
        .distinct()
    )
    assert sorted(map(tuple, inline.collect())) == sorted(map(tuple, ref.collect()))
