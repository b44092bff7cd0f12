"""batch_contracts: 12 ``__spark_entry__.queries()`` contracts, oracle-checked.

Not in ``BENCHMARK.json`` (see ``README.md``: a run costs about 45 s of
cold-JVM work, more than the gate's time budget leaves for a third
workload); run it by hand for the ``operators`` and DataFrame sketch fan-out
layers:

    python3 perfbench/run.py --workload batch_contracts --seed 1 --seconds 8 --trace 1

Inputs: an sf dir under the run's work dir holding the first 200 rows of
``data/documents.parquet`` and all of ``data/embeddings.parquet`` (1000
vectors), both slices of the sf0.1 contract tables; the seed permutes the
contract order. Timed: one pass, each contract split into
building its DataFrame (which includes any eager actions) and collecting
it. Checks: each result against its ``oracle_sql()`` twin on DuckDB,
compared with ``scripts/check_contract.py``'s ``normalize``. The oracle results depend
only on the corpus bytes and the SQL, so they are cached under
``.perfbench_work/oracle/`` between runs.
"""

from __future__ import annotations

import hashlib
import random
import time

import harness
import spec
from workloads.common import DATA

N_DOCS = 200


def _sf_dir(out):
    """The contract tables the queries read, under ``out``."""
    import shutil

    import pyarrow.parquet as pq

    out.mkdir(parents=True)
    docs = pq.read_table(DATA / "documents.parquet").slice(0, N_DOCS)
    pq.write_table(docs, out / "documents.parquet")
    shutil.copyfile(DATA / "embeddings.parquet", out / "embeddings.parquet")
    return out


def _oracle(ctx, sf, sql: str):
    """DuckDB result of ``sql`` over the sf tables, cached by content."""
    import duckdb
    import pandas as pd

    h = hashlib.sha256(sql.encode())
    for t in ("documents", "embeddings"):
        h.update((sf / f"{t}.parquet").read_bytes())
    cache = ctx.work.parent / "oracle" / f"{h.hexdigest()[:32]}.pkl"
    if cache.exists():
        return pd.read_pickle(cache)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf / (t + '.parquet')}')")
    df = con.execute(sql).df()
    con.close()
    cache.parent.mkdir(parents=True, exist_ok=True)
    df.to_pickle(cache)
    return df


def run(ctx) -> None:
    import pandas as pd

    import __spark_entry__ as entry
    from scripts.check_contract import normalize

    t0 = time.perf_counter()
    sf = _sf_dir(ctx.work / "sf")
    ctx.e2e["setup_s"] = ctx.session_s + time.perf_counter() - t0

    order = list(spec.CONTRACTS)
    random.Random(ctx.seed).shuffle(order)
    queries, oracles = entry.queries(), entry.oracle_sql()
    got, lat, construct = {}, {}, {}
    t_pass = time.perf_counter()
    for name in order:
        a = time.perf_counter()
        with ctx.span(f"batch.{name}"):
            with ctx.span(f"batch.{name}.construct"):
                df = queries[name](ctx.spark, str(sf))
            construct[name] = time.perf_counter() - a
            got[name] = df.toPandas()
        lat[name] = time.perf_counter() - a
    batch_s = time.perf_counter() - t_pass
    ctx.e2e["driver_rss_mb"] = harness.peak_rss_mb()  # before the oracles
    ctx.e2e["op_p50_ms"] = harness.median(list(lat.values())) * 1000
    ctx.e2e["ops_per_s"] = len(order) / batch_s

    for name in order:
        want = _oracle(ctx, sf, oracles[name])
        ok = (len(got[name]) == len(want)
              and sorted(got[name].columns) == sorted(want.columns))
        if ok:
            try:
                pd.testing.assert_frame_equal(
                    normalize(got[name]), normalize(want),
                    check_dtype=False, check_exact=True)
            except AssertionError:
                ok = False
        ctx.checks.record(ok, f"contract {name} differs from its oracle")

    L = ctx.layer
    L["batch_s"] = batch_s
    for name in order:
        L[f"batch.{name}_s"] = lat[name]
        L[f"batch.{name}_construct_s"] = construct[name]
        if ctx.trace:
            L[f"batch.{name}_jobs"] = ctx.jobs(f"batch.{name}")
