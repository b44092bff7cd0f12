"""Deduplication operators for web-scale training-data pipelines.

Four families, all shuffle-architected for 10^12-doc scale:

- **exact**: content-hash groupBy — one shuffle on the digest, the
  canonical keeper chosen by deterministic min(doc_id).
- **n-gram Jaccard**: shingle table → self-join on shingle (inverted-
  index join: pairs sharing ≥1 shingle, the blocking step) → shared
  counts → exact Jaccard filter. No O(n²) cross join anywhere.
- **MinHash + LSH**: per-doc signatures (vectorized numpy inside a
  pandas UDF; deterministic affine permutations of a splitmix64 base
  hash), banded into buckets, bucket equi-join → candidates, verified
  with exact Jaccard. The shuffle key is (band, bucket-hash): hot
  buckets (boilerplate) are bounded by band width.
- **SimHash**: 64-bit weighted-feature hash; near-dups = signatures
  within Hamming distance d, found via the pigeonhole block trick
  (split into d+1 blocks; equal-block equi-join → candidates) — again
  no pairwise scan.

Embedding-cosine near-dup lives in ``similarity.py`` (same ANN
machinery).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..caching import persist_tracked
from ..functions.tokenize import tokens_expr
from ..sources.pages import _splitmix64


# ------------------------------------------------------------- exact
def exact_duplicates(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id",
                     max_ids_per_group: int = 1000) -> DataFrame:
    """Groups of byte-identical texts: ``(digest, n_dups, keeper,
    dup_ids)``; only groups with ≥2 members.

    ``dup_ids`` is CAPPED before collection: a mega-hot digest (e.g.
    the empty page, occurring 10⁸ times at web scale) would otherwise
    collect an unbounded array into one row. The cap is applied by a
    digest-partitioned ``row_number`` (sort-based, spills — never holds
    the group in memory) and ``collect_list`` skips the nulled-out
    tail, so per-group state is bounded by ``max_ids_per_group``.
    ``n_dups``/``keeper`` stay exact.
    """
    from pyspark.sql import Window

    hashed = docs.select(F.md5(F.col(text_col)).alias("digest"),
                         F.col(id_col).alias("doc_id"))
    w = Window.partitionBy("digest").orderBy("doc_id")
    return (
        hashed.withColumn("rn", F.row_number().over(w))
        .groupBy("digest")
        .agg(F.count("*").alias("n_dups"),
             F.min("doc_id").alias("keeper"),
             F.sort_array(F.collect_list(
                 F.when(F.col("rn") <= max_ids_per_group,
                        F.col("doc_id")))).alias("dup_ids"))
        .filter(F.col("n_dups") >= 2)
    )


def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct text (deterministic min-id keeper)."""
    keepers = (
        docs.select(F.md5(F.col(text_col)).alias("digest"),
                    F.col(id_col).alias("doc_id"))
        .groupBy("digest").agg(F.min("doc_id").alias(id_col))
    )
    return docs.join(keepers.select(id_col), id_col, "left_semi")


# ------------------------------------------------- n-gram Jaccard
def md5le64_expr(col: Column) -> Column:
    """Signed-64 reinterpretation of the FIRST 8 BYTES of md5(col),
    little-endian — bit-identical to ``_shingle_hashes_py``'s
    ``int.from_bytes(md5(s).digest()[:8], "little")`` AND to DuckDB's
    ``md5_number_upper`` (verified), so shingle keys built with it are
    fully oracle-able. Pure JVM string ops: reverse the first 8 hex
    byte-pairs, parse each 32-bit half, recombine with a wrapping
    shift (two's complement = numpy's uint64 view)."""
    hexs = F.md5(col)
    def _pair(i: int) -> Column:
        return F.substring(hexs, i, 2)
    hi = F.conv(F.concat(_pair(15), _pair(13), _pair(11), _pair(9)),
                16, 10).cast("long")
    lo = F.conv(F.concat(_pair(7), _pair(5), _pair(3), _pair(1)),
                16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def word_shingles(docs: DataFrame, n: int = 3, text_col: str = "text",
                  id_col: str = "doc_id",
                  hashed: bool | str = False) -> DataFrame:
    """Distinct word n-grams per doc: ``(doc_id, shingle)``.

    ``hashed=True`` (or ``"xxhash64"``) emits the 64-bit ``xxhash64``
    of the space-joined n-gram string — the scale path every dedup
    operator uses internally: 8-byte join/shuffle keys, set identity
    preserved up to 64-bit collisions (birthday-negligible below ~10⁹
    distinct shingles; Jaccard needs only equality, never the text).
    ``hashed="md5le"`` hashes the same string with
    :func:`md5le64_expr` instead — pricier per byte but reproducible
    in ANSI SQL, the oracle-checkable contract tier.

    The n-gram strings are built with a ``zip_with`` FOLD over shifted
    array views, not ``transform(sequence, slice)``: a ``slice`` whose
    start is the lambda variable defeats codegen and evaluates
    INTERPRETED per element (~5-9× the wall on this stage, measured);
    ``zip_with``'s element-wise ``concat`` stays cheap, and both hash
    projections run post-explode inside whole-stage codegen.
    """
    toks = tokens_expr(text_col)
    # z after k folds holds the (k+1)-gram STARTING at each index;
    # zip_with null-pads the shorter (shifted) side and concat
    # propagates the null, so positions past size-k die — the final
    # slice keeps exactly the size-n+1 complete windows. size<n docs
    # short-circuit to [] (F.sequence(0, -1) would DESCEND).
    z = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1,
                          F.greatest(F.size(toks) - k, F.lit(0)))
        z = F.zip_with(z, shifted,
                       lambda a, b: F.concat(a, F.lit(" "), b))
    grams = F.when(
        F.size(toks) >= n,
        F.slice(z, 1, F.size(toks) - n + 1) if n > 1 else z,
    ).otherwise(F.array().cast("array<string>"))
    # dedupe INSIDE the row (array_distinct, JVM-side) so no
    # corpus-wide distinct() shuffle is needed after the explode
    out = docs.select(F.col(id_col).alias("doc_id"),
                      F.explode(F.array_distinct(grams)).alias("shingle"))
    if hashed == "md5le":
        return out.select(
            "doc_id", md5le64_expr(F.col("shingle")).alias("shingle"))
    elif hashed:
        return out.select(
            "doc_id", F.xxhash64("shingle").alias("shingle"))
    return out


def _capped_shingles(docs: DataFrame, n: int, text_col: str, id_col: str,
                     max_shingle_df: int | None,
                     hashed: bool | str = False,
                     hot_broadcast: bool = True) -> DataFrame:
    """Shingle table with the hot-shingle document-frequency cap.

    A boilerplate shingle shared by 10⁶ docs creates ~10¹² candidate
    pairs in any shingle-keyed self-join; shingles with df > cap carry
    ~no Jaccard information, so dropping them is the standard blocking
    approximation (Jaccard is then defined over informative shingles —
    sizes are computed AFTER the cap so the metric stays consistent).

    The raw shingle table (the expensive n-gram string generation) is
    persisted BEFORE the df aggregate: it feeds both the aggregate and
    the cap filter, and without materialization each consumer
    regenerates every n-gram of the corpus. Caller releases via
    ``caching.release_all()`` after the final action.

    ``hot_broadcast=True`` (default) applies the cap as a broadcast
    ANTI-join against the HOT-shingle list — the hot set (df > cap) is
    the small side by construction (≤ shingle_rows/cap distinct
    values, overwhelmingly boilerplate n-grams), so the shingle table
    is never shuffled on its key AND keeps its per-doc row locality
    (which lets the signature kernel skip its own shuffle). At an
    extreme where the hot list itself outgrows broadcast (≳10⁸ hot
    shingles), pass ``False`` to restore the shuffle-join cap.
    """
    if hashed == "md5le" and max_shingle_df is not None and hot_broadcast:
        # the md5→reverse-hex→conv chain is ~10× the cost of xxhash64;
        # cap FIRST on the raw strings (grouping by the string also
        # matches the SQL oracle exactly — no hash-collision caveat in
        # the cap set), then hash only the survivors (typically a small
        # fraction: hot boilerplate shingles dominate row counts)
        raw = persist_tracked(
            word_shingles(docs, n, text_col, id_col, hashed=False))
        hot = (raw.groupBy("shingle").agg(F.count("*").alias("sdf"))
               .filter(F.col("sdf") > max_shingle_df).select("shingle"))
        kept = raw.join(F.broadcast(hot), "shingle", "left_anti")
        return kept.select(
            "doc_id", md5le64_expr(F.col("shingle")).alias("shingle"))
    sh = word_shingles(docs, n, text_col, id_col, hashed=hashed)
    if max_shingle_df is None:
        return sh
    sh = persist_tracked(sh)
    sdf = sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
    if hot_broadcast:
        hot = sdf.filter(F.col("sdf") > max_shingle_df).select("shingle")
        return sh.join(F.broadcast(hot), "shingle", "left_anti") \
            .select("doc_id", "shingle")
    return (sh.join(sdf.filter(F.col("sdf") <= max_shingle_df), "shingle")
            .select("doc_id", "shingle"))


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id",
                        round_dp: int | None = None,
                        max_shingle_df: int | None = None) -> DataFrame:
    """Exact Jaccard near-dup pairs via the inverted-shingle join.

    ``(doc_a, doc_b, shared, size_a, size_b, jaccard)`` with
    ``doc_a < doc_b``; the shingle self-join IS the blocking step —
    pairs sharing no shingle are never materialized. ``max_shingle_df``
    drops shingles hotter than the cap before the self-join (the
    quadratic-per-posting-list guard; at web scale set it to O(100)).
    """
    # materialize the capped table once: it feeds three consumers
    # (sizes, both self-join sides) — in a production pipeline this is
    # the table you checkpoint to storage before the pair phase. The
    # caller releases both tracked caches after the final action.
    sh = persist_tracked(
        _capped_shingles(docs, n, text_col, id_col, max_shingle_df,
                         hashed=True))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("size"))
    a = sh.select(F.col("doc_id").alias("doc_a"), "shingle")
    b = sh.select(F.col("doc_id").alias("doc_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("size").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("size").alias("size_b")), "doc_b")
        .withColumn("jaccard",
                    F.col("shared")
                    / (F.col("size_a") + F.col("size_b") - F.col("shared")))
        .filter(F.col("jaccard") >= threshold)
    )
    if round_dp is not None:
        out = out.withColumn("jaccard", F.round("jaccard", round_dp))
    return out.select("doc_a", "doc_b", "shared", "size_a", "size_b", "jaccard")


# ----------------------------------------------------- MinHash + LSH
def _shingle_hashes_py(text: str, n: int) -> np.ndarray:
    import re
    from hashlib import md5

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    if len(toks) < n:
        return np.empty(0, dtype=np.uint64)
    grams = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    # deterministic 64-bit hash of each shingle (python hash is salted —
    # use splitmix over a stable byte-fold instead)
    vals = np.fromiter(
        (int.from_bytes(md5(g.encode()).digest()[:8], "little")
         for g in grams),
        dtype=np.uint64, count=len(grams))
    return vals


def _per_doc_signature_df(shingle_hashes: DataFrame, emit, schema: str,
                          n_partitions: int | None = None,
                          doc_local: bool = False) -> DataFrame:
    """Shared run-detection signature pipeline: one doc-keyed shuffle +
    a carry-correct ``mapInPandas`` kernel (the segment writer's batch
    shape — no per-doc pandas group overhead, which matters at 10⁹ docs
    as much as locally). ``emit(docs_sorted, hashes) -> pd.DataFrame``
    computes signatures for every complete doc run in the batch.

    ``doc_local=True`` skips the shuffle entirely: valid ONLY when the
    input already has each doc's rows contiguous within one partition
    — true straight off the per-doc shingle explode (one input row's
    shingles land in one partition, in order) and preserved by the
    broadcast-anti-join df cap. The kernel's run detection needs
    contiguity, not global sort, so the whole signature stage then
    runs shuffle-free."""
    from collections.abc import Iterator

    def _flush(carry_doc: int, carry: list[np.ndarray]) -> pd.DataFrame:
        hs = np.concatenate(carry)
        return emit(np.full(hs.size, carry_doc, dtype=np.int64), hs)

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        carry_doc = None
        carry: list[np.ndarray] = []
        for pdf in batches:
            if not len(pdf):
                continue
            docs = pdf["doc_id"].to_numpy(dtype=np.int64)
            hs = pdf["h"].to_numpy(dtype=np.int64).astype(np.uint64)
            if carry_doc is not None:
                if docs[0] == carry_doc:
                    # prefix run continues the carried doc
                    nz = np.flatnonzero(docs != carry_doc)
                    end = int(nz[0]) if nz.size else docs.size
                    carry.append(hs[:end])
                    if end == docs.size:
                        continue  # whole batch is one doc; keep carrying
                    docs, hs = docs[end:], hs[end:]
                yield _flush(carry_doc, carry)
                carry_doc, carry = None, []
            # hold the trailing run (it may continue into the next batch)
            nz = np.flatnonzero(docs != docs[-1])
            last_start = int(nz[-1] + 1) if nz.size else 0
            carry_doc = int(docs[-1])
            carry = [hs[last_start:]]
            if last_start:
                yield emit(docs[:last_start], hs[:last_start])
        if carry_doc is not None:
            yield _flush(carry_doc, carry)

    if doc_local:
        return shingle_hashes.mapInPandas(kernel, schema)
    nparts = (n_partitions
              or shingle_hashes.sparkSession.sparkContext.defaultParallelism)
    return (shingle_hashes
            .repartition(nparts, "doc_id")
            .sortWithinPartitions("doc_id")
            .mapInPandas(kernel, schema))


def _run_starts(docs: np.ndarray) -> np.ndarray:
    change = np.flatnonzero(docs[1:] != docs[:-1]) + 1
    return np.concatenate([[0], change]).astype(np.int64)


def minhash_signatures(shingle_hashes: DataFrame, num_hashes: int = 64,
                       seed: int = 7,
                       n_partitions: int | None = None,
                       doc_local: bool = False) -> DataFrame:
    """``(doc_id, h:long)`` distinct shingle hashes → ``(doc_id,
    sig:array<long>, size:long)`` MinHash signatures.

    The affine permutation minimum for EVERY doc in an Arrow batch is
    one ``minimum.reduceat`` over the (num_hashes × batch) transform.
    The signature derives from the SAME shingle table the verify phase
    joins, so the estimated and verified Jaccard agree by construction.
    ``size`` (the doc's shingle-set cardinality) rides along for free —
    the kernel already sees every run length, so the Jaccard verify
    phase needs no separate sizes aggregate over the shingle table.
    """
    idx = np.arange(num_hashes, dtype=np.uint64)
    a = (_splitmix64((np.uint64(seed) << np.uint64(32)) ^ idx) | np.uint64(1))
    bcoef = _splitmix64((np.uint64(seed + 1) << np.uint64(32)) ^ idx)
    MERS = np.uint64((1 << 61) - 1)

    def emit(docs: np.ndarray, hs: np.ndarray) -> pd.DataFrame:
        starts = _run_starts(docs)
        m = (a[:, None] * hs[None, :] + bcoef[:, None]) % MERS
        mins = np.minimum.reduceat(m, starts, axis=1).astype(np.int64)
        sizes = np.diff(np.append(starts, docs.size))
        return pd.DataFrame({
            "doc_id": docs[starts],
            "sig": [mins[:, j].tolist() for j in range(starts.size)],
            "size": sizes,
        })

    return _per_doc_signature_df(shingle_hashes, emit,
                                 "doc_id long, sig array<long>, size long",
                                 n_partitions, doc_local=doc_local)


def simhash_signatures(shingle_hashes: DataFrame,
                       n_partitions: int | None = None) -> DataFrame:
    """``(doc_id, h:long)`` distinct shingle hashes → ``(doc_id,
    sig:long)`` 64-bit SimHash — same shared-shingle-table pipeline as
    :func:`minhash_signatures` (bit-vote ``add.reduceat`` per batch)."""
    powers = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    def emit(docs: np.ndarray, hs: np.ndarray) -> pd.DataFrame:
        starts = _run_starts(docs)
        bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int64)
        votes = np.add.reduceat(2 * bits - 1, starts, axis=0)
        sigs = ((votes > 0).astype(np.uint64) * powers[None, :]).sum(axis=1)
        return pd.DataFrame({
            "doc_id": docs[starts],
            "sig": sigs.astype(np.int64),
        })

    return _per_doc_signature_df(shingle_hashes, emit,
                                 "doc_id long, sig long", n_partitions)


def _lsh_candidates_from_shingles(sh: DataFrame, num_hashes: int,
                                  bands: int, seed: int) -> DataFrame:
    """Shingle table → banded LSH candidate pairs (shared kernel of the
    two public entry points). Shingles hash JVM-side (``xxhash64``);
    docs with zero (post-cap) shingles simply produce no signature —
    they cannot be near-dups under the capped metric."""
    # the shingle column may already BE the 64-bit hash (scale path)
    key = (F.col("shingle") if dict(sh.dtypes)["shingle"] == "bigint"
           else F.xxhash64("shingle"))
    sigs = minhash_signatures(
        sh.select("doc_id", key.alias("h")), num_hashes, seed)
    return _banded_candidates(sigs, num_hashes, bands)


def _banded_candidates(sigs: DataFrame, num_hashes: int,
                       bands: int) -> DataFrame:
    """MinHash signatures → banded bucket-join candidate pairs
    ``(doc_a, doc_b, n_bands_matched)``: equal band-slices hash into
    the same (band, bucket) shuffle key — hot buckets are bounded by
    band width, the web-scale property of LSH."""
    assert num_hashes % bands == 0
    rows_per_band = num_hashes // bands
    # band ids explode FIRST so the bucket key is a flat post-explode
    # projection (whole-stage codegen) — a slice inside a transform()
    # lambda evaluates interpreted per element. Bucket = xxhash64 of
    # the band's signature slice: equal slices ⇔ equal bucket, the only
    # property the join (and the SQL oracle, which recomputes matched
    # bands from the slices themselves) relies on.
    banded = (
        sigs.select("doc_id", "sig",
                    F.explode(F.sequence(F.lit(0), F.lit(bands - 1)))
                    .alias("band"))
        .select("doc_id", "band",
                F.xxhash64(F.expr(
                    f"slice(sig, band * {rows_per_band} + 1, "
                    f"{rows_per_band})")).alias("bucket")))
    x = banded.select(F.col("doc_id").alias("doc_a"), "band", "bucket")
    y = banded.select(F.col("doc_id").alias("doc_b"), "band", "bucket")
    return (
        x.join(y, ["band", "bucket"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_bands_matched"))
    )


def minhash_lsh_candidates(
    docs: DataFrame,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    seed: int = 7,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: equal band-slices of the MinHash signature.

    ``(doc_a, doc_b, n_bands_matched)`` with ``doc_a < doc_b``. The
    bucket join shuffles on (band_id, slice-hash) — web-scale friendly.
    ``max_shingle_df`` drops hot shingles BEFORE signatures, so they
    estimate the same capped Jaccard :func:`minhash_near_dups`
    verifies.
    """
    sh = _capped_shingles(docs, shingle_n, text_col, id_col, max_shingle_df,
                          hashed=True)
    return _lsh_candidates_from_shingles(sh, num_hashes, bands, seed)


def minhash_near_dups(docs: DataFrame, threshold: float = 0.8,
                      num_hashes: int = 64, bands: int = 16,
                      shingle_n: int = 3, text_col: str = "text",
                      id_col: str = "doc_id", seed: int = 7,
                      max_shingle_df: int | None = None,
                      shingle_hash: bool | str = True,
                      round_dp: int | None = None) -> DataFrame:
    """Candidates → exact-Jaccard verification ≥ threshold.

    The verify phase touches ONLY LSH candidate pairs: each candidate
    pair is joined to its two shingle sets (doc_a's shingles replicated
    per pair, matched against doc_b's on the shingle key), so the work
    is O(Σ |shingles(doc_a)| over candidates) — never the corpus-wide
    all-shared-shingle self-join that LSH exists to avoid.

    ONE shingle table (persisted, df-capped when ``max_shingle_df`` is
    set) feeds signatures and verification; per-doc set SIZES ride out
    of the signature kernel itself (it sees every run length), so the
    shingle table has exactly two consumers — no separate sizes pass.

    ``shingle_hash="md5le"`` selects the ANSI-SQL-reproducible shingle
    key (:func:`md5le64_expr`) — same output pair set up to 64-bit hash
    collisions, used by the oracle-checked contract query; the default
    ``xxhash64`` is the cheaper scale path.
    """
    sh = persist_tracked(
        _capped_shingles(docs, shingle_n, text_col, id_col, max_shingle_df,
                         hashed=shingle_hash))
    # signatures + sizes in ONE kernel pass, SHUFFLE-FREE: the capped
    # table keeps the explode's per-doc row locality (broadcast anti-
    # join cap), so the kernel runs straight over it. Persisted because
    # both the banded candidate join and the sizes lookups read it.
    # With shingle_hash=False the shingle column is the raw STRING —
    # the numpy permutation kernel needs a 64-bit key, so hash it here
    # (verify still joins on the string; signatures estimate the same
    # Jaccard because xxhash64 is injective up to hash collisions).
    key = (F.col("shingle") if dict(sh.dtypes)["shingle"] == "bigint"
           else F.xxhash64("shingle"))
    sigs = persist_tracked(minhash_signatures(
        sh.select("doc_id", key.alias("h")), num_hashes, seed,
        doc_local=True))
    cand = _banded_candidates(sigs, num_hashes, bands)
    sizes = sigs.select("doc_id", "size")
    # verify touches only candidate pairs; n_bands_matched rides the
    # joins so no re-join with cand is needed. The candidate side is
    # tiny next to the shingle table → AQE broadcasts it, the shingle
    # table is never shuffled here either.
    shared = (
        cand
        .join(sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
              ["doc_b", "shingle"])
        .groupBy("doc_a", "doc_b", "n_bands_matched")
        .agg(F.count("*").alias("shared"))
    )
    out = (
        shared
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("size").alias("size_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("size").alias("size_b")), "doc_b")
        .withColumn("jaccard",
                    F.col("shared")
                    / (F.col("size_a") + F.col("size_b") - F.col("shared")))
        .filter(F.col("jaccard") >= threshold)
    )
    if round_dp is not None:
        out = out.withColumn("jaccard", F.round("jaccard", round_dp))
    return out.select("doc_a", "doc_b", "jaccard", "n_bands_matched")


# ------------------------------------------------------------ SimHash
def make_simhash_udf(shingle_n: int = 2, seed: int = 11):
    """Arrow-vectorized 64-bit SimHash over word shingles."""
    powers = (np.uint64(1) << np.arange(64, dtype=np.uint64))

    @F.pandas_udf(T.LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        out = []
        for t in texts:
            hs = _shingle_hashes_py(t or "", shingle_n)
            if hs.size == 0:
                out.append(0)
                continue
            bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                    & np.uint64(1)).astype(np.int64)
            v = (2 * bits - 1).sum(axis=0)
            # sum of distinct powers ≡ OR of the positive-vote bits
            sig = powers[v > 0].sum(dtype=np.uint64)
            out.append(np.int64(sig.astype(np.int64)))
        return pd.Series(out, dtype="int64")

    return simhash


def simhash_near_dups(docs: DataFrame, max_hamming: int = 3,
                      shingle_n: int = 2, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Near-dup pairs within Hamming distance d via the pigeonhole
    block join: split 64 bits into d+1 blocks — any pair within d must
    agree on ≥1 whole block, so equal-block equi-joins generate all
    candidates without a pairwise scan. ``(doc_a, doc_b, hamming)``.

    Signatures use the self-contained text UDF: simhash needs ONE pass
    per doc and no cross-doc state, so the no-shuffle embarrassingly-
    parallel path beats a shingle-table shuffle (measured 2× locally;
    at web scale the absence of a shuffle is worth more). Pipelines
    that already materialize a shingle table can use
    :func:`simhash_signatures` instead.
    """
    nblocks = max_hamming + 1
    width = 64 // nblocks
    sh = make_simhash_udf(shingle_n)
    # persist: the block self-join reads the signature table on BOTH
    # sides — without materialization each side re-runs the per-doc
    # hashing UDF over the whole corpus
    sigs = persist_tracked(
        docs.select(F.col(id_col).alias("doc_id"),
                    sh(F.col(text_col)).alias("sig")))
    block_structs = [
        F.struct(
            F.lit(i).alias("block"),
            F.shiftrightunsigned(F.col("sig"), i * width)
            .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
        for i in range(nblocks)
    ]
    blocks = sigs.select(
        "doc_id", "sig", F.explode(F.array(*block_structs)).alias("bk"),
    ).select("doc_id", "sig", "bk.block", "bk.key")
    x = blocks.select(F.col("doc_id").alias("doc_a"),
                      F.col("sig").alias("sig_a"), "block", "key")
    y = blocks.select(F.col("doc_id").alias("doc_b"),
                      F.col("sig").alias("sig_b"), "block", "key")
    cand = (
        x.join(y, ["block", "key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sig_a", "sig_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(
            F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )
