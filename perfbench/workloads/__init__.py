"""One module per workload; each exposes ``run(ctx)`` (see ``run.py``)."""
