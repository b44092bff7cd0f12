"""Mini-BCQL pattern compiler: parser, join semantics, layer routing.

Python oracle: brute-force regex matching over token lists — independent
of the Spark join plan.
"""

import re

import pytest
from pyspark.sql import functions as F

from word_sketch_lucene_spark.functions.tokenize import explode_tokens
from word_sketch_lucene_spark.plans.cql import (
    AttrTest,
    GapItem,
    TokenItem,
    compile_cql,
    find_pattern_hits,
    parse_cql,
    pattern_collocates,
    substitute_at_position,
)

DOCS = [
    (0, "the fast spark job can join the big table now"),
    (1, "spark join spark table join row"),
    (2, "a slow scan hits the small table"),
    (3, "spark spark spark"),
]


@pytest.fixture(scope="module")
def toks(spark):
    return explode_tokens(spark.createDataFrame(DOCS, ["doc_id", "text"]))


def _matches_py(pattern: str) -> set[tuple]:
    """Brute-force oracle: try every start position in every doc."""
    items = parse_cql(pattern)
    out = set()
    for doc_id, text in DOCS:
        ts = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

        def ok(item, tok):
            for t in item.tests:
                hit = re.fullmatch(f"(?:{t.value})", tok) is not None
                if t.negated:
                    hit = not hit
                if not hit:
                    return False
            return True

        def walk(idx, pos, assign):
            if idx == len(items):
                out.add((doc_id, assign[0], assign[-1]))
                return
            it = items[idx]
            if isinstance(it, GapItem):
                for g in range(it.min, it.max + 1):
                    walk(idx + 1, pos + g, assign)
            else:
                if pos < len(ts) and ok(it, ts[pos]):
                    walk(idx + 1, pos + 1, assign + [pos])

        for start in range(len(ts)):
            walk(0, start, [])
    return out


@pytest.mark.parametrize("pattern", [
    '[word="spark"] [word="join"]',                      # adjacency
    '[word="spark"] []{0,2} [word="table"]',             # bounded gap
    '[word="(join|table)"]',                             # alternation
    '[word="spark"] [word!="join"]',                     # negation
    '[word="sp.*"] [] [word="sp.*"]',                    # bare [] wildcard
    '"spark" "join"',                                    # quoted literals
    '[word="t.*" & word!="the"]',                        # conjunction
])
def test_matches_python_oracle(toks, pattern):
    got = {(r["doc_id"], r["start"], r["end"])
           for r in compile_cql(toks, pattern).collect()}
    assert got == _matches_py(pattern)
    assert got  # every parametrized pattern matches somewhere


def test_labels_capture_positions_and_terms(toks):
    rows = compile_cql(toks, '1:[word="spark"] 2:[word="join"]').collect()
    for r in rows:
        assert r["pos_1"] == r["start"] and r["pos_2"] == r["end"]
        assert r["term_1"] == "spark" and r["term_2"] == "join"


def test_distinct_spans_for_variable_gaps(toks):
    # doc 3 = "spark spark spark": [sp.*] []{0,1} [sp.*] must not emit
    # duplicate (start,end) rows for the same assignment
    df = compile_cql(toks, '[word="spark"] []{0,1} [word="spark"]')
    rows = [(r["doc_id"], r["start"], r["end"]) for r in df.collect()]
    assert len(rows) == len(set(rows))


def test_substitution_preserves_other_tests():
    items = parse_cql('1:[xpos="NN.*"] 2:[xpos="JJ.*"]')
    out = substitute_at_position(items, "theory", 1)
    assert out[0].tests[0] == AttrTest("word", "theory")
    assert out[0].tests[1].attr == "xpos"          # original test kept
    assert out[1].tests == items[1].tests          # other position untouched


def test_multilayer_attr_routing(spark):
    """lemma/xpos constraints route to their columns (CoNLL-U layers)."""
    rows = [(0, 0, "dogs", "dog", "NNS"), (0, 1, "bark", "bark", "VBP"),
            (0, 2, "loudly", "loudly", "RB")]
    t = spark.createDataFrame(rows, ["doc_id", "pos", "term", "lemma", "xpos"])
    got = compile_cql(t, '1:[lemma="dog" & xpos="NN.*"] 2:[xpos="VB.*"]') \
        .collect()
    assert len(got) == 1 and got[0]["term_1"] == "dogs"
    with pytest.raises(ValueError, match="deprel"):
        compile_cql(t, '[deprel="nsubj"]').collect()


def test_find_pattern_hits_feeds_concordance(toks):
    hits = find_pattern_hits(toks, '[word="spark"] []{0,2} [word="table"]')
    got = {(r["doc_id"], r["pos"]) for r in hits.collect()}
    starts = {(d, s) for d, s, _ in
              _matches_py('[word="spark"] []{0,2} [word="table"]')}
    assert got == starts


def test_pattern_collocates_counts_distinct_pairs(spark, toks):
    from word_sketch_lucene_spark.index.stats import term_stats

    out = pattern_collocates(
        toks, term_stats(toks), '1:[word="[a-z0-9]+"] []{0,2} 2:[word!="the"]',
        head="spark", limit=50, round_dp=4).collect()
    by_term = {r["colloc_term"]: r["pair_freq"] for r in out}
    # doc1: spark@0,2,4?  "spark join spark table join row" — pairs of
    # (spark, X) within +1..+3, distinct (doc, hp, cp)
    assert by_term["join"] >= 2
    assert "the" not in by_term


@pytest.mark.parametrize("bad", [
    # NB: '[word="a"]{1,2}' is VALID since round 4 (bounded token
    # quantifiers — test_relation_query.py covers them)
    "", "[]", "[]{1,2}", "[word=spark]", '[word="a"]{2,1}', '[word="a"',
    '[]{3,1} [word="a"] [word="b"]',
])
def test_parse_errors(bad):
    with pytest.raises(ValueError):
        parse_cql(bad)


def test_fixed_step_is_equi_join_no_nested_loop(toks):
    plan = compile_cql(toks, '[word="spark"] [word="join"]') \
        ._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan


# ------------------------------------------------- case sensitivity
def test_sensitivity_flag_dataframe(spark):
    """[word="(?-i)Spark"] matches case-exactly on the preserved layer;
    the unflagged test stays insensitive (reference indexes word/lemma
    as sensitive_insensitive variants)."""
    rows = [
        (1, 0, "spark", "spark", "Spark", "Spark"),
        (1, 1, "spark", "spark", "spark", "spark"),
        (1, 2, "sql", "sql", "SQL", "SQL"),
    ]
    lt = spark.createDataFrame(
        rows, "doc_id long, pos long, term string, lemma string, "
              "word_cs string, lemma_cs string")
    from word_sketch_lucene_spark.plans.cql import compile_cql

    insens = compile_cql(lt, '[word="spark"]').collect()
    assert {r["start"] for r in insens} == {0, 1}
    sens = compile_cql(lt, '[word="(?-i)Spark"]').collect()
    assert {r["start"] for r in sens} == {0}
    assert compile_cql(lt, '[word="(?-i)spark"]').count() == 1  # pos 1 only
    regex_sens = compile_cql(lt, '[word="(?-i)S.*"]').collect()
    assert {r["start"] for r in regex_sens} == {0, 2}
    lemma_sens = compile_cql(lt, '[lemma="(?-i)Spark"]').collect()
    assert {r["start"] for r in lemma_sens} == {0}


def test_sensitivity_flag_index_side(spark, tmp_path):
    """(?-i) patterns served index-side from case-preserved layer
    postings, span-identical to the DataFrame path."""
    from word_sketch_lucene_spark.index.build import (
        build_index,
        build_layer_postings,
    )
    from word_sketch_lucene_spark.plans.cql import compile_cql
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    docs = spark.createDataFrame(
        [(1, "Spark joins the Table"), (2, "spark joins a table")],
        "doc_id long, text string")
    root = tmp_path / "cs_idx"
    build_index(spark, docs, root, doc_salt=1, n_partitions=2)
    # layer table with case-preserved word (whitespace tokenization of
    # the raw text keeps case; term = lowered)
    lt = spark.createDataFrame(
        [(d, p, w.lower(), w.lower(), w)
         for d, t in [(1, "Spark joins the Table"), (2, "spark joins a table")]
         for p, w in enumerate(t.split())],
        "doc_id long, pos long, term string, lemma string, word_cs string")
    build_layer_postings(spark, lt, root, layers=("word_cs",),
                         doc_salt=1, n_partitions=2)
    s = IndexSearcher(spark, root)
    for pattern in ['[word="(?-i)Spark"]',
                    '[word="(?-i)Spark"] [word="joins"]',
                    '[word="spark"] []{0,2} [word="(?-i)Table"]']:
        idx = set(s.pattern_hits(pattern))
        dfp = {(r["doc_id"], r["start"], r["end"])
               for r in compile_cql(lt, pattern).collect()}
        assert idx == dfp, pattern
        assert idx, pattern
    # sensitive vs insensitive genuinely differ on this corpus
    assert len(s.pattern_hits('[word="spark"]')) == 2
    assert len(s.pattern_hits('[word="(?-i)Spark"]')) == 1


# --------------------------------------------- "_" no-annotation value
def test_underscore_annotation_convention_all_tiers(spark, tmp_path):
    """CoNLL-U's explicit "_" (no annotation): positive tests on an
    annotation layer never match it, negated tests always do — on the
    INDEX span chain, the forward-table fallback, AND the DataFrame
    compile (r4 ADVICE: the index dropped "_" from layer postings while
    the other tiers matched it)."""
    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.plans.cql import compile_cql
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.conllu import (
        layer_tokens,
        parse_conllu_docs,
    )

    # tokens 1-4: xpos NN, _, VB, _
    lines = "\n".join([
        "1\talpha\talpha\tNOUN\tNN\t_\t0\tdep",
        "2\tbeta\tbeta\tX\t_\t_\t1\tdep",
        "3\tgamma\tgamma\tVERB\tVB\t_\t1\tdep",
        "4\tdelta\tdelta\tX\t_\t_\t3\tdep",
    ])
    docs = spark.createDataFrame([("d1", lines)],
                                 "doc_id string, conllu string")
    parsed = parse_conllu_docs(docs)
    root = tmp_path / "u_idx"
    build_conllu_index(spark, parsed, root, doc_salt=1, n_partitions=2)
    s = IndexSearcher(spark, root)
    lt = layer_tokens(parsed)

    def df_hits(pat):
        return {(r["start"], r["end"])
                for r in compile_cql(lt, pat).collect()}

    # positive literal "_" matches nothing, every tier
    assert s.pattern_hits('[xpos="_"] []{0,3} [xpos="VB"]') == []
    assert df_hits('[xpos="_"] []{0,3} [xpos="VB"]') == set()
    # positive regex that would cover "_" still skips it
    assert {(st, e) for _, st, e in s.pattern_hits('[xpos="."] [xpos="."]')} \
        == df_hits('[xpos="."] [xpos="."]') == set()
    # negated test MATCHES the unannotated tokens on every tier
    # (single-slot purely-negative patterns are DataFrame-only on the
    # index path; anchor with a positive word test)
    got_idx = {(st, e) for _, st, e in
               s.pattern_hits('[word="alpha|gamma"] [xpos!="ZZ"]')}
    assert got_idx == df_hits('[word="alpha|gamma"] [xpos!="ZZ"]') \
        == {(0, 1), (2, 3)}
    # forced forward-table fallback agrees too
    assert set(s.pattern_hits_auto('[word="alpha|gamma"] [xpos!="ZZ"]',
                                   df_budget=0)) \
        == {(0, 0, 1), (0, 2, 3)}


def test_group_pattern_hits_matches_python_oracle(toks):
    from collections import Counter

    from word_sketch_lucene_spark.plans.cql import group_pattern_hits

    pat = '[word="spark"] []{0,1} [word="join|table"]'
    spans = _matches_py(pat)
    texts = []
    for doc_id, start, end in spans:
        ts = [t for t in re.split(r"[^a-z0-9]+", DOCS[doc_id][1].lower())
              if t]
        texts.append((doc_id, " ".join(ts[start:end + 1])))
    cnt = Counter(t for _, t in texts)
    docs_per = {t: len({d for d, tt in texts if tt == t}) for t in cnt}
    want = sorted(((t, n, docs_per[t]) for t, n in cnt.items()),
                  key=lambda r: (-r[1], r[0]))[:20]
    got = [(r["hit_text"], r["n_hits"], r["n_docs"])
           for r in group_pattern_hits(toks, pat, k=20).collect()]
    assert got == want


def test_group_pattern_hits_index_path_identical(spark, toks, index_small,
                                                 docs_small):
    from word_sketch_lucene_spark.plans.cql import group_pattern_hits
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    pat = '[word="sp.*"] []{0,2} [word="(join|table)"]'
    s = IndexSearcher(spark, index_small)
    df_rows = group_pattern_hits(
        explode_tokens(docs_small), pat, k=15).collect()
    idx_rows = s.group_pattern_hits(pat, k=15).collect()
    assert [tuple(r) for r in df_rows] == [tuple(r) for r in idx_rows]
    assert len(df_rows) > 0


# -------------------------------------------- inter-slot constraints
def test_strip_constraints_parse():
    from word_sketch_lucene_spark.plans.cql import (
        SlotConstraint,
        strip_constraints,
    )

    core, cons = strip_constraints(
        '1:[word="a"] 2:[word="b"] & 1.word = 2.word')
    assert core.strip() == '1:[word="a"] 2:[word="b"]'
    assert cons == (SlotConstraint("1", "word", "2", "word"),)
    # two constraints, BlackLab `::` and wsdef `&` forms, source order
    core, cons = strip_constraints(
        '1:[] 2:[] :: 1.lemma != 2.lemma & 1.xpos = 2.xpos')
    assert cons == (SlotConstraint("1", "lemma", "2", "lemma", True),
                    SlotConstraint("1", "xpos", "2", "xpos", False))
    # the in-bracket `&` conjunction is never touched
    core, cons = strip_constraints('[word="a" & lemma="b"]')
    assert core == '[word="a" & lemma="b"]' and cons == ()


def test_constraint_equality_dataframe(spark):
    docs = [(0, "big big cat"), (1, "big red big"), (2, "dog dog cat")]
    toks = explode_tokens(spark.createDataFrame(docs, ["doc_id", "text"]))
    eq = compile_cql(toks, '1:[word=".*"] 2:[word=".*"] & 1.word = 2.word')
    assert {(r["doc_id"], r["start"], r["end"]) for r in eq.collect()} \
        == {(0, 0, 1), (2, 0, 1)}
    # helper capture columns are dropped — shape matches the plain form
    assert sorted(eq.columns) == sorted(
        ["doc_id", "start", "end", "pos_1", "term_1", "pos_2", "term_2"])
    ne = compile_cql(toks,
                     '1:[word=".*"] 2:[word=".*"] & 1.word != 2.word')
    assert {(r["doc_id"], r["start"], r["end"]) for r in ne.collect()} \
        == {(0, 1, 2), (1, 0, 1), (1, 1, 2), (2, 1, 2)}
    # constraint across a gap
    gap = compile_cql(
        toks, '1:[word="big"] []{0,1} 2:[word="big"] & 1.word = 2.word')
    assert {(r["doc_id"], r["start"], r["end"]) for r in gap.collect()} \
        == {(0, 0, 1), (1, 0, 2)}


def test_constraint_multilayer_conllu(spark):
    """Sketch-Engine coordination rule shape: `& 1.xpos = 2.xpos`
    keeps only same-POS conjuncts (penn_3.1_en.txt's `1:"V.*" ...
    2:"V.*" & 1.tag = 2.tag`)."""
    from word_sketch_lucene_spark.sources.conllu import (
        layer_tokens,
        parse_conllu_docs,
    )

    lines = "\n".join([
        "1\truns\trun\tVERB\tVBZ\t_\t0\tdep",
        "2\tand\tand\tCCONJ\tCC\t_\t1\tdep",
        "3\tjumps\tjump\tVERB\tVBZ\t_\t1\tdep",
        "4\tand\tand\tCCONJ\tCC\t_\t1\tdep",
        "5\tran\trun\tVERB\tVBD\t_\t1\tdep",
    ])
    lt = layer_tokens(parse_conllu_docs(spark.createDataFrame(
        [("d1", lines)], "doc_id string, conllu string")))
    pat = '1:[xpos="VB.*"] [word="and"] 2:[xpos="VB.*"] & 1.xpos = 2.xpos'
    assert {(r["start"], r["end"])
            for r in compile_cql(lt, pat).collect()} == {(0, 2)}
    # same-lemma constraint reaches the run…ran pair across the gap
    pat2 = ('1:[xpos="VB.*"] []{0,3} 2:[xpos="VB.*"] '
            '& 1.lemma = 2.lemma')
    assert {(r["start"], r["end"])
            for r in compile_cql(lt, pat2).collect()} == {(0, 4)}


def test_constraint_unknown_label_raises(toks):
    with pytest.raises(ValueError, match="labels"):
        compile_cql(toks, '1:[word="a"] [word="b"] & 1.word = 9.word')


def test_constraint_index_route_identical(spark, toks, index_small,
                                          docs_small):
    from word_sketch_lucene_spark.query.engine import IndexSearcher

    pat = '1:[word=".*"] [] 2:[word=".*"] & 1.word = 2.word'
    s = IndexSearcher(spark, index_small)
    want = {(r["doc_id"], r["start"], r["end"]) for r in
            compile_cql(explode_tokens(docs_small), pat,
                        keep_terms=False).collect()}
    got = {(r["doc_id"], r["start"], r["end"])
           for r in s.pattern_spans_df(pat).collect()}
    assert got == want and len(want) > 0
    # the in-driver span chain cannot evaluate constraints — guarded
    with pytest.raises(NotImplementedError, match="pattern_spans_df"):
        s.pattern_hits(pat)
    # the auto router delegates to the distributed compile
    assert set(s.pattern_hits_auto(pat)) == want
    # a cross-attr `|` routes there too, under any Σcf budget
    alt = '[word="sp.*"|class="VERB"] [word=".*"]'
    want_alt = {(r["doc_id"], r["start"], r["end"]) for r in
                compile_cql(explode_tokens(docs_small), alt,
                            keep_terms=False).collect()}
    assert set(s.pattern_hits_auto(alt)) == want_alt and want_alt


def test_constraint_within_clause_order(spark):
    """BlackLab writes global constraints LAST (`… within <s/> ::
    a.w = b.w`); wsdef puts them before a trailing within — both
    orders parse and bound the match to one sentence."""
    from word_sketch_lucene_spark.sources.conllu import (
        layer_tokens,
        parse_conllu_docs,
    )

    # two sentences: xpos pairs only match same-tag within sentence 1
    lines1 = "\n".join([
        "1\ta\ta\tNOUN\tNN\t_\t0\tdep",
        "2\tb\tb\tNOUN\tNN\t_\t1\tdep",
    ])
    lines2 = "\n".join([
        "1\tc\tc\tVERB\tVB\t_\t0\tdep",
    ])
    lt = layer_tokens(parse_conllu_docs(spark.createDataFrame(
        [("d1", lines1 + "\n\n" + lines2)],
        "doc_id string, conllu string")))
    for pat in (
        '1:[xpos=".*"] 2:[xpos=".*"] & 1.xpos = 2.xpos within <s/>',
        '1:[xpos=".*"] 2:[xpos=".*"] within <s/> :: 1.xpos = 2.xpos',
    ):
        got = {(r["start"], r["end"])
               for r in compile_cql(lt, pat).collect()}
        assert got == {(0, 1)}, pat
