"""Fuzzy transpositions=true expansion must not be dictionary-order
biased: the exact OSA check runs INSIDE the scan, so ``limit`` applies
to true OSA matches, not to a lexicographic slice of the wider
classic<=2k pre-filter pool (FuzzyQuery's automaton enumeration visits
every dictionary term — MultiTermQuery.java:55-93 — so a late-sorting
match like 'zaaa' is as reachable as an early one)."""

import itertools

import pytest


@pytest.fixture(scope="module")
def big_dict_index(spark, tmp_path_factory):
    """One doc whose dictionary holds >8192 decoy terms at classic
    distance 4 (= the transpositions pre-filter bound for max_edits=2)
    but OSA distance 4, plus two true OSA matches sorting LAST."""
    from lucene_spark.index.builder import IndexBuilder, IndexConfig
    from lucene_spark.index.reader import SearchIndex

    alpha = "bcdefghijklmnopqrstuvwxy"  # no 'a', no 'z'
    decoys = [
        "".join(p)
        for p in itertools.islice(itertools.product(alpha, repeat=4), 8500)
    ]
    content = " ".join(decoys + ["aaaa", "zaaa", "zzaa"])
    df = spark.createDataFrame(
        [("org/r", "src/f.py", "c0", "py", content)],
        "repo string, path string, commit string, lang string, content string",
    )
    d = str(tmp_path_factory.mktemp("fuzzybig"))
    IndexBuilder(spark, IndexConfig(docs_per_chunk=128, term_buckets=4)).build(df, d)
    return SearchIndex(spark, d)


class TestFuzzyTranspositionsExpansion:
    def test_late_sorting_osa_matches_survive(self, big_dict_index):
        got = big_dict_index.expand_terms("fuzzy", ("aaaa", 2, 0, True), limit=64)
        # every decoy is 4 substitutions away (no shared letters with
        # 'aaaa'), so the ONLY OSA<=2 terms are the three seeded ones
        assert got == ["aaaa", "zaaa", "zzaa"]

    def test_limit_counts_osa_matches_not_pool(self, big_dict_index):
        # limit=2 must return the first two TRUE matches in term order,
        # not run out of budget on the 8500-decoy pre-filter pool
        got = big_dict_index.expand_terms("fuzzy", ("aaaa", 2, 0, True), limit=2)
        assert got == ["aaaa", "zaaa"]

    def test_classic_pool_really_exceeds_old_cap(self, big_dict_index):
        # guard: the scenario genuinely covers >8192 classic<=4
        # candidates, the regime where a capped collect-then-filter
        # drops late-sorting matches
        pool = big_dict_index.expand_terms("fuzzy", ("aaaa", 4, 0), limit=10**6)
        assert len(pool) > 8192


class TestGramPruning:
    def test_gram_bound_soundness_property(self):
        # the distinct-bigram lemma behind fuzzy_candidates: one
        # classic edit touches <=2 gram positions, one OSA edit <=3,
        # so a true match can never fall below the shared threshold.
        # Alphabet 'ab' maximizes repeated-gram pathologies.
        import random

        from lucene_spark.search.textmatch import levenshtein, osa_distance

        rng = random.Random(7)
        for _ in range(4000):
            t = "".join(rng.choice("ab") for _ in range(rng.randint(2, 9)))
            c = "".join(rng.choice("ab") for _ in range(rng.randint(1, 9)))
            gt = {t[i : i + 2] for i in range(len(t) - 1)}
            gc = {c[i : i + 2] for i in range(len(c) - 1)}
            shared = len(gt & gc)
            for e in (1, 2):
                if levenshtein(t, c, e) <= e:
                    assert shared >= len(gt) - 2 * e, (t, c, e)
                if osa_distance(t, c, e) <= e:
                    assert shared >= len(gt) - 3 * e, (t, c, e)

    def test_pruned_expansion_equals_brute(self, big_dict_index):
        # 'abcd' k=1: threshold = 3 - 2 = 1 > 0 -> the pruning path IS
        # exercised; result must equal a from-definition scan of the
        # same dictionary
        from lucene_spark.search.textmatch import levenshtein

        assert big_dict_index.fuzzy_candidates("abcd", 1, False) is not None
        got = big_dict_index.expand_terms("fuzzy", ("abcd", 1, 0), limit=10**6)
        vocab = [
            r["term"]
            for r in big_dict_index.term_stats_df.select("term").distinct().collect()
        ]
        want = sorted(t for t in vocab if levenshtein("abcd", t, 1) <= 1)
        assert got == want and len(want) > 0

    def test_pruned_osa_expansion_equals_brute(self, big_dict_index):
        from lucene_spark.search.textmatch import osa_distance

        # 'bcdef': 4 distinct grams, OSA k=1 threshold = 4 - 3 = 1 > 0
        assert big_dict_index.fuzzy_candidates("bcdef", 1, True) is not None
        got = big_dict_index.expand_terms("fuzzy", ("bcdef", 1, 0, True), limit=10**6)
        vocab = [
            r["term"]
            for r in big_dict_index.term_stats_df.select("term").distinct().collect()
        ]
        want = sorted(t for t in vocab if osa_distance("bcdef", t, 1) <= 1)
        assert got == want and len(want) > 0


class TestReaderCacheWorkingSet:
    def test_term_stats_oversized_call_not_self_evicting(self, search_index):
        # a single call carrying more terms than the cache holds must
        # still return every present term — the call's answers are
        # snapshotted before its fetched entries are stored (regression:
        # the first-listed term used to be evicted before the read and
        # scored as absent)
        terms = ["return"] + [f"zzmissing{i}" for i in range(5000)]
        out = search_index.term_stats(terms)
        assert "return" in out and out["return"][0] > 0

    def test_chunk_layout_oversized_call_not_self_evicting(self, search_index):
        terms = ["return"] + [f"zzmissing{i}" for i in range(5000)]
        got = search_index.chunk_layout(terms)
        assert any(t == "return" for t, *_ in got)
