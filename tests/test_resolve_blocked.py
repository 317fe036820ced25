"""Equivalence of the trigram-blocked resolver with the broadcast-NLJ ladder,
and punctuation-escaping parity (tests/core/test_resolving.py:20-48 pattern)."""

from __future__ import annotations

from pyspark.sql import functions as F

from nexus_forge_spark import dims
from nexus_forge_spark.operators import mentions as M
from nexus_forge_spark.operators import resolve as R
from nexus_forge_spark.sources import flat_to_interleaved, load_table


def _mentions(spark, sf_dir):
    return M.extract_mentions(flat_to_interleaved(load_table(spark, "documents", sf_dir)))


def _rows(df):
    return {tuple(r) for r in df.collect()}


def test_blocked_equals_broadcast(spark, sf_dir):
    alias = R.build_alias_table(dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS)
    m = _mentions(spark, sf_dir)
    base = _rows(R.resolve_ladder(m, alias))
    blocked = _rows(R.resolve_ladder_blocked(m, alias))
    assert blocked == base


def test_blocked_salted_equals_broadcast(spark, sf_dir):
    alias = R.build_alias_table(dims.ontology_terms_idx(spark), dims.ONTOLOGY_MATCH_PROPS)
    m = _mentions(spark, sf_dir)
    base = _rows(R.resolve_ladder(m, alias))
    salted = _rows(R.resolve_ladder_blocked(m, alias, salt_buckets=4))
    assert salted == base


def test_trigrams(spark):
    df = spark.createDataFrame([("abcd",), ("ab",), ("AbC",)], "s string")
    out = {r.s: r.g for r in df.select("s", R.trigrams(F.col("s")).alias("g")).collect()}
    assert out["abcd"] == ["abc", "bcd"]
    assert out["ab"] == ["ab"]  # short mention fallback
    assert out["AbC"] == ["abc"]  # lowercased


def test_escape_punctuation_golden():
    # golden cases in the style of tests/core/test_resolving.py:20-48
    assert R.escape_punctuation("270_L5/6 NP CT CTX") == "270_L5\\/6 NP CT CTX"
    assert R.escape_punctuation("a(b)c") == "a\\(b\\)c"
    assert R.escape_punctuation("x+y?") == "x\\+y\\?"
    assert R.escape_punctuation("plain") == "plain"


def test_ci_regex_predicate(spark):
    # EXACT_CI via anchored case-insensitive regex with punctuation escaping
    df = spark.createDataFrame(
        [("270_l5/6 np ct ctx", "270_L5/6 NP CT CTX"), ("hash join", "HASH JOIN"),
         ("hash join", "hash joins")],
        "mention string, alias string",
    )
    pred = R.strategy_predicate(F.col("mention"), F.col("alias"), R.EXACT_CASE_INSENSITIVE_MATCH)
    out = df.select("alias", pred.alias("hit")).collect()
    assert [r.hit for r in out] == [True, True, False]


def test_coherence_disambiguation_beats_lexicographic_fallback(spark):
    from nexus_forge_spark.operators import resolve as R

    # docs 1,2 establish that E1 and E2 co-occur (both unambiguous);
    # doc 3's ambiguous mention "x" must pick E2 (coherent with its
    # unambiguous E1 context) over the lexicographically smaller E0
    cand = spark.createDataFrame(
        [
            (1, "a", "E1"), (1, "b", "E2"),
            (2, "a", "E1"), (2, "b", "E2"),
            (3, "a", "E1"),
            (3, "x", "E0"), (3, "x", "E2"),
            # doc 4: ambiguous with NO coherence signal -> lexicographic
            (4, "y", "E5"), (4, "y", "E7"),
        ],
        "doc_id long, mention string, entity_id string",
    )
    out = {
        (r.doc_id, r.mention): r
        for r in R.coherence_disambiguate(cand).collect()
    }
    # only ambiguous mentions appear
    assert set(out) == {(3, "x"), (4, "y")}
    r3 = out[(3, "x")]
    assert r3.entity_id == "E2" and r3.coherence == 2 and r3.n_candidates == 2
    r4 = out[(4, "y")]
    assert r4.entity_id == "E5" and r4.coherence == 0


def test_discover_entities_mints_stable_ids(spark):
    import hashlib

    from nexus_forge_spark.operators import resolve as R

    alias = spark.createDataFrame(
        [("E1", 0, 10, 0, "alpha beta")],
        "entity_id string, dict_idx long, score_len int, prop_order int, alias string",
    )
    rows = (
        [(d, "alpha") for d in range(3)]        # resolves (substring) -> out
        + [(d, "zzznew") for d in range(3)]     # unresolved, frequent -> in
        + [(0, "rare"), (1, "rare")]            # below min_count -> out
        + [(d, "abc") for d in range(5)]        # below min_len -> out
    )
    m = spark.createDataFrame(rows, "doc_id long, mention string")
    out = R.discover_entities(m, alias, min_count=3, min_len=4).collect()
    assert len(out) == 1
    r = out[0]
    assert r.mention == "zzznew" and r.n_occurrences == 3 and r.n_docs == 3
    expect = "nsg:discovered/" + hashlib.md5(b"zzznew").hexdigest()[:16]
    assert r.entity_id == expect
    # determinism across runs (stable minting is the contract)
    again = R.discover_entities(m, alias, min_count=3, min_len=4).collect()[0]
    assert again.entity_id == r.entity_id


def test_discovery_fold_equals_full_and_floor_at_read(spark):
    from nexus_forge_spark.operators import resolve as R

    alias = spark.createDataFrame(
        [("E1", 0, 10, 0, "alpha beta")],
        "entity_id string, dict_idx long, score_len int, prop_order int, alias string",
    )
    # "creep" appears ONCE per batch (below any per-batch floor) but 3x in
    # the union -> only the read-time floor discovers it
    batches = [
        [(0, "zzznew"), (0, "creep")],
        [(1, "zzznew"), (1, "creep")],
        [(2, "zzznew"), (2, "creep"), (2, "alpha")],
    ]
    schema = "doc_id long, mention string"
    full = spark.createDataFrame(sum(batches, []), schema)
    state = None
    for b in batches:
        s = R.discovery_stats(spark.createDataFrame(b, schema), alias)
        state = s if state is None else R.fold_discovery_stats(state, s)
    inc = sorted(
        tuple(r) for r in R.discovered_from_stats(state, min_count=3).collect()
    )
    direct = sorted(
        tuple(r) for r in R.discover_entities(full, alias, min_count=3).collect()
    )
    assert inc == direct
    assert {r[0] for r in inc} == {"zzznew", "creep"}


def test_hot_gram_salting_preserves_results_and_targets_hot_keys(spark):
    """Profile-guided salting (P50 measure->act): resolve output with
    hot_grams salting must equal the unsalted and the uniformly-salted
    outputs exactly — the salt only splits a hot key's partition."""
    from nexus_forge_spark.operators import resolve as R
    from nexus_forge_spark.operators.profile import key_skew_profile
    from nexus_forge_spark.operators.resolve import trigrams

    alias = spark.createDataFrame(
        [
            ("E1", 0, 9, 0, "hash join"),
            ("E2", 1, 10, 0, "merge join"),
            ("E3", 2, 10, 0, "table scan"),
        ],
        "entity_id string, dict_idx long, score_len int, prop_order int, alias string",
    )
    rows = [(i, "join") for i in range(50)]  # planted hot mention
    rows += [(100, "scan"), (101, "merge join"), (102, "nomatch")]
    m = spark.createDataFrame(rows, "doc_id long, mention string")

    prof = key_skew_profile(
        m.select(F.element_at(trigrams(F.col("mention")), 1).alias("g")), "g"
    )
    hot = [r["key"] for r in prof.where(F.col("share_ppm") >= 500000).collect()]
    assert "joi" in hot  # the planted gram is measured hot

    def res(**kw):
        return sorted(
            tuple(r)
            for r in R.resolve_ladder_blocked(
                m, alias, keys=["doc_id", "mention"], **kw
            ).collect()
        )

    unsalted = res()
    assert unsalted == res(salt_buckets=8, hot_grams=hot)
    assert unsalted == res(salt_buckets=8)  # uniform salting unchanged too
    assert any(r[2] == "E1" for r in unsalted)  # 'join' resolves
