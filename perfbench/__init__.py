"""Seeded end-to-end benchmark of the ``queries()`` surface.

Run one workload with::

    python3 perfbench/run.py --workload panel_reference --seed 1 --seconds 10 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. Every run also
writes a full record under ``perfbench/out/records/``.
"""
