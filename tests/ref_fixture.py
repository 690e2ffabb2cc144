"""Regenerates the reference's seeded test panel so our operators can be
checked against the committed golden CSVs at ``/root/reference/out_*.csv``.

Shapes and RNG call order follow the public description in FIXTURES.md F2
(reference generator: ``time_series_study/test_time_series_study.py:12-49``):
``default_rng(42)``; per-group draws in order base_levels, trends,
seasonal_amp, then per group (noise_1, noise_2, ar_eps, phi).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

N_GROUPS = 5
N_DATES = 60


def reference_panel(seed: int = 42) -> pd.DataFrame:
    """Long-format panel: (date, name, feature_1, feature_2, feature_3)."""
    rng = np.random.default_rng(seed)
    dates = pd.date_range("2024-01-01", periods=N_DATES, freq="D")
    names = [f"G{i + 1}" for i in range(N_GROUPS)]

    base_levels = rng.normal(0.0, 1.0, size=N_GROUPS)
    trends = rng.normal(0.01, 0.01, size=N_GROUPS)
    seasonal_amp = rng.uniform(0.5, 1.5, size=N_GROUPS)

    t = np.arange(N_DATES)
    per_group: dict[str, np.ndarray] = {}
    for gi, name in enumerate(names):
        f1 = base_levels[gi] + trends[gi] * t + rng.normal(0, 0.3, size=N_DATES)
        f2 = seasonal_amp[gi] * np.sin(2 * np.pi * t / 12.0) + rng.normal(0, 0.2, size=N_DATES)
        eps = rng.normal(0, 0.25, size=N_DATES)
        phi = 0.6 + 0.2 * rng.random()
        f3 = np.empty(N_DATES)
        f3[0] = eps[0]
        for i in range(1, N_DATES):
            f3[i] = phi * f3[i - 1] + eps[i]
        per_group[name] = np.column_stack([f1, f2, f3])

    rows = []
    for d_i, d in enumerate(dates):
        for name in names:
            f1, f2, f3 = per_group[name][d_i]
            rows.append((d.to_pydatetime(), name, float(f1), float(f2), float(f3)))
    return pd.DataFrame(
        rows, columns=["date", "name", "feature_1", "feature_2", "feature_3"]
    )


def _read_golden(name: str) -> pd.DataFrame:
    return pd.read_csv(f"/root/reference/{name}")


def golden(name: str) -> pd.DataFrame:
    """The reference repo's committed output CSV ``name``; skips the
    calling test when the reference checkout is not present. The DuckDB
    oracle tests cover the same statistics without it."""
    try:
        return _read_golden(name)
    except FileNotFoundError as exc:
        pytest.skip(f"reference golden {exc.filename} not present")
