"""End-to-end benchmark of the docket pipeline: ingest -> rag backfill ->
quality -> HTTP serving, driven through the product's public surface.

Run one workload with ``python3 perfbench/run.py --workload serve_mixed
--seed 1 --seconds 8 --trace 0``; see ``perfbench/README.md``.
"""
