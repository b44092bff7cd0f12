"""bm25_serve: BM25 top-k serving, then the index write path.

Set-up (repeated ``REPEATS`` times, median reported): ``build_index`` over
``generate_pages(seed)`` into a fresh root, open an ``IndexSearcher``, read
the 2000-term working set (highest df) and the ``rare<id>`` terms from its
``term_stats``, and prefetch the working set, so the timed loop starts with
every working-set block row resident and the 256-entry decoded cache cold.

Timed: one client issuing a seeded mix of ``search(k=10, mode="auto")``
requests (single terms; head+mid pairs; never-seen rare+head pairs; head-
head-tail triples; zero-hit terms; ``search_regex``; ``lang = 'en'``
filtered). The rare terms keep block fetches (a Spark scan) happening at
a steady rate; the working set keeps the decoded cache churning.

After the loop (``driver_rss_mb`` is read before any of this): the texts
are collected and a seeded sample of the executed requests is checked
against ``BM25Oracle`` over them; then ``add_documents`` of a
delta (``build_index`` + ``merge_indexes``), the merged index's top-k
against the oracle over base + delta, and one ``lang = 'en'`` filtered
search on the merged index (a known defect: ``merge_indexes`` drops
``doc_meta``, so it raises ``NotImplementedError``).
"""

from __future__ import annotations

import random
import re
import shutil
import time

import harness
from workloads.common import closed_loop, dir_bytes, stage_seconds

N_DOCS = 2000
N_DELTA = 400
REPEATS = 2
K = 10
N_HEAD, N_MID, POOL = 20, 400, 2000
MIN_OPS = 400  # p95 needs 200 (10 beyond it); 400 steadies the median
N_CHECKED = 30
N_MERGED_CHECKED = 10
LANG_FILTER = "lang = 'en'"
# one block of requests: (kind, count), shuffled per block
BLOCK = (("single", 6), ("pair", 6), ("rare", 1), ("triple", 3), ("zero", 1),
         ("regex", 1), ("filtered", 2))
BLOCK_SIZE = sum(n for _, n in BLOCK)


def request_stream(seed: int, pool: list[str], rare: list[str],
                   n_blocks: int = 200) -> list[tuple]:
    """Blocks of ``BLOCK`` requests ``(kind, terms-or-pattern)`` in a
    seeded order; a pure function of the seed and the working set
    (``pool`` by descending df; ``rare`` the df-1 terms, each used at
    most once so each one is a first touch, as is every zero-hit term)."""
    rng = random.Random(seed)
    head, mid, tail = pool[:N_HEAD], pool[N_HEAD:N_MID], pool[N_MID:]
    rare = list(rare)
    rng.shuffle(rare)
    out: list[tuple] = []
    for b in range(n_blocks):
        kinds = [k for k, n in BLOCK for _ in range(n)]
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "single":
                req = [rng.choice(pool)]
            elif kind in ("pair", "filtered"):
                req = [rng.choice(head), rng.choice(mid)]
            elif kind == "rare":
                req = [rare.pop() if rare else rng.choice(tail),
                       rng.choice(head)]
            elif kind == "triple":
                req = [rng.choice(head), rng.choice(head), rng.choice(tail)]
            elif kind == "zero":
                req = [f"zz{len(out)}"]
            else:
                req = f"t{1 + b % 9}[0-9]{{2}}"
            out.append((kind, req))
    return out


def _rounded(hits) -> list[tuple[int, float]]:
    rows = [(int(d), round(float(s), 4)) for d, s in hits]
    return sorted(rows, key=lambda r: (-r[1], r[0]))


def _filtered_topk(oracle, terms: list[str], allowed: set[int]):
    """``BM25Oracle.topk`` restricted to ``allowed`` docs, corpus-level
    statistics unchanged (what ``doc_filter`` means)."""
    cand = {d for t in terms for d in oracle.postings.get(t, {})} & allowed
    scored = [(d, oracle.score_doc(terms, d)) for d in cand]
    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:K]


def _oracle_expand(oracle, pattern: str, max_terms: int = 256) -> list[str]:
    rx = re.compile(f"(?:{pattern})")
    terms = [t for t in oracle.postings if rx.fullmatch(t)]
    terms.sort(key=lambda t: (-oracle.df(t), t))
    return terms[:max_terms]


def _check(ctx, oracle, en_docs, kind, req, hits, label) -> None:
    terms = (_oracle_expand(oracle, req) if kind == "regex"
             else list(dict.fromkeys(req)))
    want = (_filtered_topk(oracle, terms, en_docs) if kind == "filtered"
            else oracle.topk(terms, K))
    ctx.checks.record(_rounded(hits) == _rounded(want),
                      f"{label} {kind} {req!r}: got {_rounded(hits)[:3]} "
                      f"want {_rounded(want)[:3]}")


def run(ctx) -> None:
    from pyspark.sql import functions as F

    from word_sketch_lucene_spark.index.build import build_index
    from word_sketch_lucene_spark.index.merge import (
        add_documents,
        merge_indexes,
    )
    from word_sketch_lucene_spark.query.bm25 import BM25Oracle
    from word_sketch_lucene_spark.query.engine import IndexSearcher
    from word_sketch_lucene_spark.sources.pages import generate_pages

    spark = ctx.spark

    # ---- set-up, repeated: build, open, read the working set, warm ------
    setup_walls, build_walls, stages = [], [], []
    root = None
    for i in range(REPEATS):
        if root is not None:
            shutil.rmtree(root, ignore_errors=True)
        root = ctx.work / f"base{i}"
        t0 = time.perf_counter()
        started_at = time.time()
        with ctx.span("sources.pages.generate_pages", repeat=i):
            pages = generate_pages(spark, N_DOCS, seed=ctx.seed)
        with ctx.span("index.build.build_index", repeat=i) as sp:
            build_index(spark, pages, root)
        build_walls.append(time.perf_counter() - t0)
        stages.append(stage_seconds(root, started_at))
        searcher = IndexSearcher(spark, root)
        with ctx.span("query.engine.term_stats", repeat=i):
            pool, rare = working_set(searcher)
        with ctx.span("query.engine.prefetch", warmup=True):
            searcher.prefetch(pool)
        setup_walls.append(time.perf_counter() - t0)
    build_span = sp
    ctx.e2e["setup_s"] = ctx.session_s + harness.median(setup_walls)
    stream = request_stream(ctx.seed, pool, rare)

    # ---- timed: closed-loop search stream -------------------------------
    results: dict[int, list] = {}
    seen: set[str] = set(pool)
    first_touch = []
    infos = []

    def do_plain(i, req):
        kind, q = req
        if kind == "regex":
            hits, info = searcher.search_regex(q, k=K)
        else:
            hits, info = searcher.search(
                q, k=K, doc_filter=LANG_FILTER if kind == "filtered" else None)
        results[i] = hits
        infos.append(info)

    def do_traced(i, req):
        kind, q = req
        with ctx.span("query.engine.search", kind=kind):
            if kind == "regex":
                with ctx.span("query.engine.expand_terms"):
                    terms = searcher.expand_terms(q)
            else:
                terms = q
            first_touch.append(any(t not in seen for t in terms))
            seen.update(terms)
            with ctx.span("query.engine.prefetch"):
                searcher.prefetch(terms)
            with ctx.span("query.engine.term_dfs"):
                searcher.term_dfs(terms)
            flt = LANG_FILTER if kind == "filtered" else None
            if flt is not None:
                with ctx.span("query.engine.filtered_doc_ids"):
                    searcher.filtered_doc_ids(flt)
            with ctx.span("query.engine.score"):
                if terms:
                    hits, info = searcher.search(terms, k=K, doc_filter=flt)
                else:
                    hits, info = [], {"decoded_blocks": 0, "total_blocks": 0}
        results[i] = hits
        infos.append(info)

    lat, wall = closed_loop(ctx, stream, do_traced if ctx.trace else do_plain,
                            MIN_OPS, BLOCK_SIZE)
    ctx.e2e["op_p50_ms"] = harness.percentile(lat, 50) * 1000
    ctx.e2e["ops_per_s"] = len(lat) / wall

    # ---- checks (outside the timed region) ------------------------------
    pdf = pages.select("doc_id", "text", "lang").toPandas()
    texts = dict(zip(pdf["doc_id"].astype(int), pdf["text"]))
    en_docs = {int(d) for d, lang in zip(pdf["doc_id"], pdf["lang"])
               if lang == "en"}
    text_bytes = sum(len(t.encode()) for t in texts.values())
    oracle = BM25Oracle.from_texts(texts)
    rng = random.Random(ctx.seed + 1)
    done = sorted(results)
    for i in sorted(rng.sample(done, min(N_CHECKED, len(done)))):
        kind, q = stream[i]
        _check(ctx, oracle, en_docs, kind, q, results[i], f"request {i}")

    # ---- write path: add_documents of a delta ---------------------------
    delta = (generate_pages(spark, N_DOCS + N_DELTA, seed=ctx.seed)
             .filter(F.col("doc_id") >= N_DOCS))
    dpdf = delta.select("doc_id", "text", "lang").toPandas()
    delta_texts = dict(zip(dpdf["doc_id"].astype(int), dpdf["text"]))
    merged_en = en_docs | {int(d) for d, lang in zip(dpdf["doc_id"],
                                                     dpdf["lang"])
                           if lang == "en"}
    delta_bytes = sum(len(t.encode()) for t in delta_texts.values())
    staging = ctx.work / "staging"
    t0 = time.perf_counter()
    if ctx.trace:
        with ctx.span("index.build.build_index", delta=True):
            build_index(spark, delta, staging / "delta")
        dsp_s = time.perf_counter() - t0
        with ctx.span("index.merge.merge_indexes"):
            merge_indexes(spark, [root, staging / "delta"],
                          staging / "merged")
        merged = staging / "merged"
    else:
        merged = add_documents(spark, root, delta, staging)
    add_s = time.perf_counter() - t0

    merged_oracle = BM25Oracle.from_texts({**texts, **delta_texts})
    ms = IndexSearcher(spark, merged)
    plain_reqs = [r for r in stream if r[0] in ("single", "pair", "triple")]
    for kind, q in plain_reqs[:N_MERGED_CHECKED]:
        hits, _ = ms.search(q, k=K)
        _check(ctx, merged_oracle, None, kind, q, hits, "merged")
    try:
        hits, _ = ms.search(plain_reqs[0][1], k=K, doc_filter=LANG_FILTER)
    except NotImplementedError as e:
        ctx.known_failure(f"filtered search on the merged index: {e}")
    else:
        _check(ctx, merged_oracle, merged_en, "filtered", plain_reqs[0][1],
               hits, "merged")

    # ---- per-layer ------------------------------------------------------
    L = ctx.layer
    L["search_p50_ms"] = ctx.e2e["op_p50_ms"]
    L["search_p95_ms"] = harness.percentile(lat, 95) * 1000
    L["search_qps"] = ctx.e2e["ops_per_s"]
    L["build_docs_per_s"] = N_DOCS / harness.median(build_walls)
    L["add_docs_per_s"] = N_DELTA / add_s
    L["index_bytes_per_text_byte"] = dir_bytes(merged) / (
        text_bytes + delta_bytes)
    for st in stages[-1]:
        L[f"index.build.{st}_s"] = harness.median(
            [s[st] for s in stages if st in s])
        L[f"index.bytes.{st}_per_text_byte"] = (
            dir_bytes(root / st) / text_bytes)
    if not ctx.trace:
        return
    decoded = sum(i.get("decoded_blocks", 0) for i in infos)
    total = sum(i.get("total_blocks", 0) for i in infos)
    L["query.wand.decoded_blocks"] = decoded
    L["query.wand.block_decode_ratio"] = decoded / total if total else 0.0
    timed = [s for s in ctx.tracer.spans if s.request is not None]
    fetch = [s for s in timed if s.name == "query.engine.prefetch"]
    L["query.engine.prefetch_s"] = sum(s.duration for s in fetch)
    L["query.engine.prefetch_jobs"] = sum(s.attrs["jobs"] for s in fetch)
    L["query.engine.block_fetch_hit_ratio"] = (
        sum(s.attrs["jobs"] == 0 for s in fetch) / len(fetch))
    L["query.engine.first_touch_share"] = sum(first_touch) / len(first_touch)
    for name in ("term_dfs", "score", "filtered_doc_ids", "expand_terms"):
        L[f"query.engine.{name}_s"] = sum(
            s.duration for s in timed if s.name == f"query.engine.{name}")
    L["query.engine.distinct_terms"] = len(
        {t for i in results for t in (stream[i][1]
                                      if stream[i][0] != "regex" else [])})
    L["index.build.jobs"] = build_span["jobs"]
    from sparkstats import JobRange

    rest = ctx.watch.stage_metrics(JobRange(
        build_span["job_first"], build_span["job_first"] + build_span["jobs"]))
    L["index.build.shuffle_write_bytes"] = rest.get("shuffle_write_bytes", 0)
    L["index.build.segments_task_skew"] = rest.get("task_skew", 0.0)
    L["index.merge.delta_build_s"] = dsp_s
    L["index.merge.merge_s"] = ctx.tracer.total("index.merge.merge_indexes")
    L["index.merge.bytes_written_per_delta_text_byte"] = (
        dir_bytes(merged) / delta_bytes)
    L["index.segments.codec_postings_per_s"] = codec_rate(oracle)


def working_set(searcher) -> tuple[list[str], list[str]]:
    """The ``POOL`` terms of highest df (ties by term) and the
    ``rare<id>`` terms, from the index's ``term_stats``; Spark sorts, so
    the driver holds only the lists."""
    from pyspark.sql import functions as F

    ts = searcher.term_stats
    is_rare = F.col("term").startswith("rare")
    pool = [r["term"] for r in ts.filter(~is_rare)
            .orderBy(F.desc("df"), "term").limit(POOL).select("term")
            .collect()]
    rare = sorted(r["term"] for r in ts.filter(is_rare).select("term")
                  .collect())
    return pool, rare


def codec_rate(oracle) -> float:
    """Postings per second through the ``make_segment_writer()`` kernel,
    in-process on pre-sorted token batches (no Spark)."""
    import numpy as np
    import pandas as pd

    from word_sketch_lucene_spark.index.segments import make_segment_writer

    dl = oracle.dl
    rows = [(t, d, p, dl[d]) for t, docs in oracle.positions.items()
            for d, ps in docs.items() for p in ps]
    df = pd.DataFrame(rows, columns=["term", "doc_id", "pos", "dl"])
    df = df.sort_values(["term", "doc_id", "pos"], kind="stable")
    df = df.astype({"doc_id": np.int64, "pos": np.int64, "dl": np.int32})
    batches = [df.iloc[i:i + 65536] for i in range(0, len(df), 65536)]
    t = time.perf_counter()
    postings = sum(int(b["n"].sum()) for b in make_segment_writer()(
        iter(batches)))
    return postings / (time.perf_counter() - t)
