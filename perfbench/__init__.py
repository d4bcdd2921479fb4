"""End-to-end and per-layer benchmark of the neural_cherche_spark engine.

Run ``python3 perfbench/run.py --help``; see ``perfbench/README.md``.
"""
