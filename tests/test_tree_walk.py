"""One child enumeration per tree (the Query.visit / QueryVisitor role):
``kernels.clauses`` / ``kernels.walk`` over compiled spec trees and
``ast.map_children`` over query ASTs. Spark-free properties: every
collection the engine derives from one ``walk`` equals a brute-force
recursion written here, field by field, and an identity
``map_children`` rebuilds an equal AST."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from lucene_spark.search import ast as A
from lucene_spark.search import kernels as K

TERMS = st.sampled_from(["a", "b", "c", "d", "e"])
TERM_TUPLES = st.lists(TERMS, min_size=1, max_size=3).map(tuple)
BOOSTS = st.sampled_from([0.0, 0.5, 1.0, 2.0])

SPEC_LEAVES = st.one_of(
    BOOSTS.map(K.AllSpec),
    st.just(K.NoneSpec()),
    st.builds(K.TermSpec, TERMS, st.just(1.0)),
    st.builds(K.DocSetSpec, st.lists(st.integers(0, 300), max_size=4, unique=True).map(lambda x: tuple(sorted(x)))),
    st.builds(K.PredSpec, st.tuples(st.sampled_from(["lang", "year"]), st.integers(0, 3))),
    st.builds(K.ValueSpec, st.just("feature_linear"), st.just((1.0,)), key=st.tuples(st.just("f"), st.integers(0, 3))),
    st.builds(K.ValueSpec, st.just("feature_linear"), st.just((1.0,)), docs=st.just((1, 5)), vals=st.just((1.0, 2.0))),
    st.builds(K.PhraseSpec, TERM_TUPLES, st.just(1.0)),
    st.builds(K.PayloadSpec, TERM_TUPLES, st.sampled_from(["term", "or", "phrase"]), st.just(1.0)),
)


def _groups(children):
    return st.lists(children, max_size=2).map(tuple)


SPECS = st.recursive(
    SPEC_LEAVES,
    lambda children: st.one_of(
        st.builds(K.BoolSpec, _groups(children), _groups(children), _groups(children), _groups(children)),
        st.builds(K.DisMaxSpec, st.lists(children, min_size=1, max_size=3).map(tuple), st.just(0.1)),
        st.builds(K.ConstWrapSpec, children, BOOSTS),
    ),
    max_leaves=12,
)


def brute_nodes(spec):
    """Pre-order nodes by explicit recursion over each compound's fields."""
    out = [spec]
    if isinstance(spec, K.BoolSpec):
        for group in (spec.musts, spec.shoulds, spec.filters, spec.nots):
            for s in group:
                out += brute_nodes(s)
    elif isinstance(spec, K.DisMaxSpec):
        for s in spec.subs:
            out += brute_nodes(s)
    elif isinstance(spec, K.ConstWrapSpec):
        out += brute_nodes(spec.sub)
    return out


def brute_terms(spec) -> set[str]:
    if isinstance(spec, K.TermSpec):
        return {spec.term}
    if isinstance(spec, (K.PhraseSpec, K.PayloadSpec)):
        return set(spec.terms)
    out: set[str] = set()
    if isinstance(spec, K.BoolSpec):
        for group in (spec.musts, spec.shoulds, spec.filters, spec.nots):
            for s in group:
                out |= brute_terms(s)
    elif isinstance(spec, K.DisMaxSpec):
        for s in spec.subs:
            out |= brute_terms(s)
    elif isinstance(spec, K.ConstWrapSpec):
        out = brute_terms(spec.sub)
    return out


def brute_any(spec, pred) -> bool:
    return any(pred(s) for s in brute_nodes(spec))


@given(SPECS)
@settings(max_examples=300, deadline=None)
def test_walk_matches_brute_force(spec):
    nodes = K.walk(spec)
    assert nodes == brute_nodes(spec)
    # each clause label names the field its child came from
    for node in nodes:
        labels = [lab for lab, _ in K.clauses(node)]
        if isinstance(node, K.BoolSpec):
            assert labels == (
                ["MUST"] * len(node.musts) + ["SHOULD"] * len(node.shoulds)
                + ["FILTER"] * len(node.filters) + ["MUST_NOT"] * len(node.nots)
            )
        elif isinstance(node, K.DisMaxSpec):
            assert labels == ["DISJUNCT"] * len(node.subs)
        elif isinstance(node, K.ConstWrapSpec):
            assert labels == ["FILTER"]
        else:
            assert labels == []


@given(SPECS)
@settings(max_examples=300, deadline=None)
def test_collections_match_brute_force(spec):
    nodes = K.walk(spec)
    assert K.spec_terms(spec) == brute_terms(spec)
    positions = brute_any(
        spec,
        lambda s: isinstance(s, K.PhraseSpec) or (isinstance(s, K.PayloadSpec) and s.kind == "phrase"),
    )
    payloads = brute_any(spec, lambda s: isinstance(s, K.PayloadSpec))
    assert K.read_streams(nodes) == (positions, False, payloads)
    # the all-docs flag enters every compound, DisMax included
    assert any(isinstance(n, K.AllSpec) for n in nodes) == brute_any(spec, lambda s: isinstance(s, K.AllSpec))
    every = brute_nodes(spec)
    assert [n for n in nodes if isinstance(n, K.PredSpec)] == [s for s in every if type(s) is K.PredSpec]
    assert [n for n in nodes if isinstance(n, K.DocSetSpec)] == [s for s in every if type(s) is K.DocSetSpec]
    lazy = [s for s in every if type(s) is K.ValueSpec and s.key is not None]
    eager = [s for s in every if type(s) is K.ValueSpec and s.key is None]
    assert [n for n in nodes if isinstance(n, K.ValueSpec) and n.key is not None] == lazy
    assert [n for n in nodes if isinstance(n, K.ValueSpec) and n.key is None] == eager


def test_all_docs_under_dismax_and_const_wrap():
    spec = K.DisMaxSpec((K.ConstWrapSpec(K.AllSpec(1.0), 2.0), K.TermSpec("a", 1.0)), 0.1)
    assert any(isinstance(n, K.AllSpec) for n in K.walk(spec))
    assert K.spec_terms(spec) == {"a"}


# ---- query ASTs ----------------------------------------------------------------

AST_LEAVES = st.one_of(
    st.builds(A.TermQuery, TERMS),
    st.builds(A.PhraseQuery, TERM_TUPLES, st.integers(0, 2)),
    st.just(A.MatchAllDocsQuery()),
)
OCCURS = st.sampled_from(list(A.Occur))

ASTS = st.recursive(
    AST_LEAVES,
    lambda children: st.one_of(
        st.builds(A.BooleanQuery, st.lists(st.tuples(OCCURS, children), max_size=3).map(tuple), st.integers(0, 2)),
        st.builds(A.BoostQuery, children, BOOSTS),
        st.builds(A.ConstantScoreQuery, children),
        st.builds(A.DisjunctionMaxQuery, st.lists(children, max_size=3).map(tuple), st.just(0.2)),
    ),
    max_leaves=10,
)


def brute_prune(q):
    """Drop every PhraseQuery; a compound left with no child is dropped."""
    if isinstance(q, A.PhraseQuery):
        return None
    if isinstance(q, A.BooleanQuery):
        kids = tuple((o, p) for o, p in ((o, brute_prune(s)) for o, s in q.clauses) if p is not None)
        if q.clauses and not kids:
            return None
        return A.BooleanQuery(kids, q.minimum_should_match)
    if isinstance(q, A.DisjunctionMaxQuery):
        subs = tuple(p for p in map(brute_prune, q.queries) if p is not None)
        if q.queries and not subs:
            return None
        return A.DisjunctionMaxQuery(subs, q.tie_breaker)
    if isinstance(q, (A.BoostQuery, A.ConstantScoreQuery)):
        p = brute_prune(q.query)
        if p is None:
            return None
        return A.BoostQuery(p, q.boost) if isinstance(q, A.BoostQuery) else A.ConstantScoreQuery(p)
    return q


@given(ASTS)
@settings(max_examples=300, deadline=None)
def test_map_children_identity(q):
    assert A.map_children(q, lambda x: x) == q

    def rebuild(x):
        return A.map_children(x, rebuild)

    assert rebuild(q) == q


@given(ASTS)
@settings(max_examples=300, deadline=None)
def test_map_children_drops_like_brute_force(q):
    def prune(x):
        return None if isinstance(x, A.PhraseQuery) else A.map_children(x, prune)

    assert prune(q) == brute_prune(q)
