"""End-to-end and per-layer benchmark of ``plans.pipeline.run_pipeline``.

Run ``python3 perfbench/run.py --workload ingest --seed 1 --seconds 12
--trace 0`` from the repository root; see ``perfbench/README.md``.
"""
