"""hgdb benchmark: seeded workloads driven through the engine's public API.

Run from the repository root::

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 12 --trace 0

See ``run.py`` for the command line and the printed result, ``workloads.py``
for what each workload does, ``capture.py`` for the per-layer capture used by
the traced run and ``selfcheck.py`` for the benchmark's own fast check.
"""
