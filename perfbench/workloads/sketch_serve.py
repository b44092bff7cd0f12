"""sketch_serve: word sketch, BCQL and KWIC serving from a CoNLL-U index.

Set-up: the fixed corpus (``data/documents.parquet``, the first 800 rows of
the sf0.1 ``documents`` table) is tokenized, rule-annotated, rendered to
CoNLL-U and parsed back exactly as the contract module's CoNLL-U path does,
then ``build_conllu_index`` builds the multi-layer index. The seed picks
only the request sequence.

Timed: one client issuing fixed blocks of requests:
``index_word_sketch(head, EN_CATALOG, head_pos="NOUN")`` for one new head
and eight already-touched heads per block (heads in a seeded order of the
18 noun lemmas, so first touches and repeats both occur at a fixed rate);
``pattern_hits_auto`` over lemma-anchored gap patterns (in-driver span
chain), ``[xpos="NN.*"] []{0,1} [xpos="VB.*"]`` (in-driver) and
``[word=".*"] [word=".*"]`` (above the Σcf budget: the distributed plan);
and ``index_pattern_concordance(page_size=20)`` KWIC pages. The Σcf
budget is the corpus token count, which puts the two class-wide patterns
on either side of it at any corpus size.

Checks: every distinct sketch head against the
``plans.relations.word_sketch_patterns`` DataFrame twin; every distinct
pattern's spans against the distributed plan (budget 0); every KWIC page
against its pattern's spans.
"""

from __future__ import annotations

import random
import time

import harness
from workloads.common import DATA, closed_loop

SENT_LEN = 10
PAGE = 20
MIN_OPS = 52  # four blocks: 36 sketches, so the median sketch is steady
# the 18 lemmas of the corpus's 30-word vocabulary the rule annotator tags NN
NOUNS = ("table", "row", "column", "key", "value", "data", "line", "part",
         "customer", "order", "group", "window", "hash", "batch", "stream",
         "vector", "query", "spark")
VERBS = ("scan", "merge", "join", "sort", "filter", "agg")
ADJS = ("fast", "slow", "small", "big")
NN_VB = '[xpos="NN.*"] []{0,1} [xpos="VB.*"]'
ANY_ANY = '[word=".*"] [word=".*"]'
# one block of requests, in this order; the seed picks the heads and the
# lemma patterns. Each block touches one new head and repeats heads already
# touched, so every run has the same first-touch rate.
BLOCK = ("sketch_new", "sketch_repeat", "cql", "sketch_repeat",
         "sketch_repeat", "kwic", "sketch_repeat", "sketch_repeat",
         "cql_class", "sketch_repeat", "sketch_repeat", "kwic",
         "sketch_repeat")
N_LEMMA_PATTERNS = 4


def request_stream(seed: int, n_blocks: int = 60) -> list[tuple[str, str]]:
    """``(kind, head-or-pattern)`` requests, a pure function of the seed.
    Kinds are ``sketch``, ``cql`` and ``kwic``; the class-wide CQL slot
    alternates between the in-driver and the distributed route."""
    rng = random.Random(seed)
    heads = list(NOUNS)
    rng.shuffle(heads)
    lemma_pats: list[str] = []
    while len(lemma_pats) < N_LEMMA_PATTERNS:
        if len(lemma_pats) % 2:
            p = f'[lemma="{rng.choice(ADJS)}"] [lemma="{rng.choice(NOUNS)}"]'
        else:
            p = (f'[lemma="{rng.choice(NOUNS)}"] []{{0,2}} '
                 f'[lemma="{rng.choice(VERBS)}"]')
        if p not in lemma_pats:
            lemma_pats.append(p)
    out: list[tuple[str, str]] = []
    for b in range(n_blocks):
        for slot in BLOCK:
            if slot == "sketch_new":
                out.append(("sketch", heads[b % len(heads)]))
            elif slot == "sketch_repeat":
                out.append(("sketch", rng.choice(heads[:b + 1])))
            elif slot == "cql_class":
                out.append(("cql", ANY_ANY if b % 2 else NN_VB))
            else:
                out.append((slot, rng.choice(lemma_pats)))
    return out


def sketch_verdict(got: list, want: list, head_cf: int) -> str:
    """``ok`` when the sketch equals its twin; ``known`` when every
    difference is the known rounding defect: a ``rel_freq`` whose exact
    value ``pair_freq / head_cf`` lies on a 4-dp tie, which Python's
    ``round`` (index route) and Spark's ``round`` (DataFrame twin) break
    in opposite directions; ``bad`` otherwise."""
    got, want = sorted(got), sorted(want)
    if got == want:
        return "ok"
    if len(got) != len(want):
        return "bad"
    for g, w in zip(got, want):
        if g == w:
            continue
        exact = g[2] / head_cf * 1e4
        tie = abs(exact - int(exact) - 0.5) < 1e-9
        if not (g[:4] == w[:4] and tie and abs(g[4] - w[4]) < 1.5e-4):
            return "bad"
    return "known"


def parse_corpus(ctx, docs):
    """The contract module's CoNLL-U path, one public call per layer."""
    from word_sketch_lucene_spark.functions.tokenize import explode_tokens
    from word_sketch_lucene_spark.operators.dependency import rule_annotate
    from word_sketch_lucene_spark.sources.conllu import (
        parse_conllu_docs,
        to_conllu_text,
    )

    with ctx.span("functions.tokenize.explode_tokens"):
        toks = explode_tokens(docs)
    with ctx.span("operators.dependency.rule_annotate"):
        ann = rule_annotate(toks, sent_len=SENT_LEN)
    with ctx.span("sources.conllu.parse"):
        parsed = parse_conllu_docs(to_conllu_text(ann)) \
            .localCheckpoint(eager=True)
    return parsed


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from word_sketch_lucene_spark.index.build import build_conllu_index
    from word_sketch_lucene_spark.plans.cql import parse_cql
    from word_sketch_lucene_spark.plans.relations import (
        EN_CATALOG,
        GrammarCatalog,
        pattern_pos_group,
        word_sketch_patterns,
    )
    from word_sketch_lucene_spark.query.concordance import (
        index_pattern_concordance,
    )
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.query.sketch import (
        index_word_sketch,
        relation_collocates,
    )
    from word_sketch_lucene_spark.sources.conllu import layer_tokens

    spark = ctx.spark
    stream = request_stream(ctx.seed)
    catalog = GrammarCatalog.load(EN_CATALOG)
    noun_rels = [r for r in catalog.relations
                 if r.pattern and r.type == "SURFACE"
                 and pattern_pos_group(r) == "NOUN"]

    # ---- set-up: parse, build (once: see README, "Set-up") ---------------
    t0 = time.perf_counter()
    docs = spark.read.parquet(str(DATA / "documents.parquet"))
    parsed = parse_corpus(ctx, docs)
    root = ctx.work / "cidx"
    with ctx.span("index.build.build_conllu_index"):
        stats = build_conllu_index(spark, parsed, root)
    searcher = IndexSearcher(spark, root)
    budget = int(stats["total_tokens"])
    ctx.e2e["setup_s"] = ctx.session_s + time.perf_counter() - t0

    # ---- timed ----------------------------------------------------------
    out: dict[int, object] = {}
    seen_heads: set[str] = set()
    sketch_info: list[tuple[bool, float]] = []  # (first touch, slowest rel)

    def sketch_traced(head):
        rows, slowest = [], 0.0
        for rel in noun_rels:
            a = time.perf_counter()
            with ctx.span("query.sketch.relation_collocates", rel=rel.id):
                got = relation_collocates(searcher, head, rel, limit=10,
                                          round_dp=4)
            slowest = max(slowest, time.perf_counter() - a)
            rows.extend((rel.id, *r) for r in got)
        sketch_info.append((head not in seen_heads, slowest))
        return rows

    def do(i, req):
        kind, arg = req
        with ctx.span(f"request.{kind}"):
            if kind == "sketch":
                if ctx.trace:
                    out[i] = sketch_traced(arg)
                else:
                    out[i] = index_word_sketch(
                        searcher, arg, catalog, head_pos="NOUN",
                        limit_per_relation=10, round_dp=4)
                seen_heads.add(arg)
            elif kind == "cql":
                if ctx.trace:
                    with ctx.span("plans.cql.parse_cql"):
                        parse_cql(arg)
                    with ctx.span("query.engine.pattern_cost"):
                        searcher.pattern_cost(arg)
                with ctx.span("query.engine.pattern_hits_auto"):
                    out[i] = searcher.pattern_hits_auto(arg, df_budget=budget)
            else:
                with ctx.span("query.concordance.kwic"):
                    out[i] = index_pattern_concordance(
                        searcher, arg, page_size=PAGE,
                        df_budget=budget).toPandas()

    lat, wall = closed_loop(ctx, stream, do, MIN_OPS, len(BLOCK))
    # op_p50_ms is the median sketch: the median of the whole mix falls
    # where warm sketches meet cached or first-touch CQL, and moved by a
    # third from seed to seed; the CQL and KWIC requests count in ops_per_s
    ctx.e2e["op_p50_ms"] = harness.percentile(
        [t for t, (kind, _) in zip(lat, stream) if kind == "sketch"],
        50) * 1000
    ctx.e2e["ops_per_s"] = len(lat) / wall

    # ---- checks ---------------------------------------------------------
    done = sorted(out)
    heads = sorted({stream[i][1] for i in done if stream[i][0] == "sketch"})
    lt = layer_tokens(parsed, sent_len=SENT_LEN)
    lemma_stats = lt.groupBy(F.col("lemma").alias("term")).agg(
        F.count("*").alias("cf"))
    twin = None
    for h in heads:
        df = word_sketch_patterns(lt, lemma_stats, h, catalog,
                                  head_pos="NOUN", limit_per_relation=10,
                                  round_dp=4).withColumn("head", F.lit(h))
        twin = df if twin is None else twin.unionByName(df)
    want: dict[str, list] = {h: [] for h in heads}
    with ctx.span("plans.relations.word_sketch_patterns"):
        rows = twin.collect() if twin is not None else []
    for r in rows:
        want[r["head"]].append((r["relation"], r["colloc_term"],
                                    r["pair_freq"], r["logdice"],
                                    r["rel_freq"]))
    head_cf = {r["term"]: int(r["cf"]) for r in lemma_stats.filter(
        F.col("term").isin(heads)).collect()}
    for i in done:
        kind, arg = stream[i]
        if kind != "sketch":
            continue
        verdict = sketch_verdict(out[i], want[arg], head_cf[arg])
        if verdict == "known":
            ctx.known_failure(
                f"sketch {arg!r}: rel_freq on an exact 4-dp tie rounds "
                "half-even on the index route, half-up in the twin")
        else:
            ctx.checks.record(verdict == "ok",
                              f"sketch {arg!r} differs from its twin")

    patterns = sorted({stream[i][1] for i in done if stream[i][0] != "sketch"})
    spans: dict[str, set] = {p: set() for p in patterns}
    with ctx.span("query.engine.pattern_spans_df"):
        plan = None
        for j, p in enumerate(patterns):
            df = searcher.pattern_spans_df(p, df_budget=0).withColumn(
                "pattern", F.lit(j))
            plan = df if plan is None else plan.unionByName(df)
        pdf = plan.toPandas()
    for j, d, a, b in zip(pdf["pattern"], pdf["doc_id"], pdf["start"],
                          pdf["end"]):
        spans[patterns[j]].add((int(d), int(a), int(b)))
    for i in done:
        kind, arg = stream[i]
        if kind == "cql":
            ctx.checks.record(
                sorted(out[i]) == sorted(spans[arg]) and len(out[i]) > 0,
                f"pattern {arg!r}: {len(out[i])} spans, distributed plan "
                f"{len(spans[arg])}")
        elif kind == "kwic":
            page = out[i]
            hit_starts = {(d, s) for d, s, _ in spans[arg]}
            ok = (len(page) == min(PAGE, len(spans[arg])) and all(
                (int(d), int(s)) in hit_starts
                for d, s in zip(page["doc_id"], page["pos"])))
            ctx.checks.record(ok, f"KWIC page of {arg!r}: {len(page)} rows")

    # ---- per-layer ------------------------------------------------------
    by_kind = {k: [t for t, (kind, _) in zip(lat, stream) if kind == k]
               for k in ("sketch", "cql", "kwic")}
    L = ctx.layer
    for k, v in by_kind.items():
        L[f"{k}_p50_ms"] = harness.median(v) * 1000
    if not ctx.trace:
        return
    T = ctx.tracer
    for name in ("plans.cql.parse_cql", "query.engine.pattern_cost",
                 "query.engine.pattern_hits_auto", "query.sketch.relation_collocates"):
        L[f"{name}_s"] = T.total(name)
    L["query.engine.pattern_spans_df_s"] = T.total(
        "query.engine.pattern_spans_df")
    L["plans.relations.word_sketch_patterns_s"] = T.total(
        "plans.relations.word_sketch_patterns")
    L["query.engine.pattern_cost_jobs"] = ctx.jobs("query.engine.pattern_cost")
    L["query.engine.pattern_hits_auto_jobs"] = ctx.jobs(
        "query.engine.pattern_hits_auto")
    L["query.concordance.kwic_s"] = T.total("query.concordance.kwic")
    L["query.concordance.kwic_jobs"] = ctx.jobs("query.concordance.kwic")
    L["query.sketch.sketch_jobs"] = ctx.jobs("request.sketch")
    L["query.sketch.slowest_relation_s"] = harness.median(
        [s for _, s in sketch_info])
    L["query.sketch.first_touch_share"] = (
        sum(f for f, _ in sketch_info) / len(sketch_info))
