"""Pieces the workloads share: the fixed inputs, the timed closed loop and
index sizes."""

from __future__ import annotations

import json
import time
from pathlib import Path

import harness

DATA = Path(__file__).resolve().parents[1] / "data"
MANIFEST = "_manifest.json"
BUILD_STAGES = ("tokens", "segments", "term_stats", "doc_lens", "docstore",
                "doc_meta")


def closed_loop(ctx, requests: list, do, min_ops: int, block: int
                ) -> tuple[list, float]:
    """One client: issue ``requests`` in order, each after the previous
    returns, until ``ctx.seconds`` have passed and at least ``min_ops``
    completed, stopping only at the end of a ``block`` of requests so
    every run has the same request mix. A request that raises counts as
    a failed check. ``driver_rss_mb`` is read when the loop ends, before
    the checks build their oracles. Returns (per-request seconds, loop
    wall)."""
    lat: list[float] = []
    t0 = time.perf_counter()
    for i, req in enumerate(requests):
        ctx.tracer.request = i
        a = time.perf_counter()
        try:
            do(i, req)
        except Exception as e:  # noqa: BLE001 - counted, loop goes on
            ctx.checks.record(False, f"request {i} {req!r} raised {e!r}")
        lat.append(time.perf_counter() - a)
        if (len(lat) % block == 0 and len(lat) >= min_ops
                and time.perf_counter() - t0 >= ctx.seconds):
            break
    wall = time.perf_counter() - t0
    ctx.e2e["driver_rss_mb"] = harness.peak_rss_mb()
    ctx.tracer.request = None
    if len(lat) < min_ops:
        raise RuntimeError(f"request stream of {len(requests)} ran out "
                           f"before {min_ops} operations")
    return lat, wall


def dir_bytes(p: Path) -> int:
    return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())


def stage_seconds(root: Path, started_at: float) -> dict[str, float]:
    """Stage walls from the manifests' ``committed_at``: tokens from the
    call's start, every later stage from the tokens commit."""
    commits = {}
    for st in BUILD_STAGES:
        m = root / st / MANIFEST
        if m.exists():
            commits[st] = json.loads(m.read_text())["committed_at"]
    out = {"tokens": commits["tokens"] - started_at}
    for st in BUILD_STAGES[1:]:
        if st in commits:
            out[st] = commits[st] - commits["tokens"]
    return out
