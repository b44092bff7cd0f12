"""Write the benchmark's fixed inputs: the leading rows of the repository's
sf0.1 contract tables (see TESTDATA.md).

    python3 perfbench/data/make_slice.py <sf0.1 dir>

``documents.parquet`` keeps the first ``N_DOCS`` rows of the table's
``documents.parquet`` and ``embeddings.parquet`` the first ``N_VECS`` rows
of its ``embeddings.parquet``, schemas unchanged. The slices are committed
so a run reads only files of its own checkout.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
N_DOCS = 800
N_VECS = 1000


def main(sf_dir: str) -> None:
    for name, n in (("documents", N_DOCS), ("embeddings", N_VECS)):
        table = pq.read_table(Path(sf_dir) / f"{name}.parquet").slice(0, n)
        pq.write_table(table, HERE / f"{name}.parquet")
        print(f"{name}.parquet: {table.num_rows} rows")


if __name__ == "__main__":
    main(sys.argv[1])
