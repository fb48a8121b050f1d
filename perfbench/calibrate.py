"""Host calibration probe: fixed work that touches no package code.

Recorded beside every run and never gated, so a slow host window shows
up as a slower probe rather than as an unexplained regression.
"""

from __future__ import annotations

import time

import numpy as np

from perfbench.stats import median

REPEATS = 3


def probe(spark) -> dict:
    jvm, kernel = [], []
    a = np.random.default_rng(0).random((400, 400))
    for _ in range(REPEATS):
        t = time.perf_counter()
        spark.range(0, 2_000_000, 1, 4).selectExpr("sum(id % 7) AS s").collect()
        jvm.append((time.perf_counter() - t) * 1e3)
        t = time.perf_counter()
        for _ in range(5):
            a = np.tanh(a @ a / 400.0)
        kernel.append((time.perf_counter() - t) * 1e3)
    return {"calib_jvm_ms": median(jvm), "calib_numpy_ms": median(kernel)}
