#!/usr/bin/env python
"""Run every contract key under a DRIVER-LIKE SparkSession: nothing
from the repo's tuned ``get_spark`` — Arrow disabled (the default),
default shuffle partitions, default session timezone.

Why this exists: the only driver-gate ERRs this project has had were
session-config mismatches invisible to the repo's own suite —
approx_stats/media_pipeline r2 (output canonicalizer), ann_ivf/
embedding_dedup_ivf r3 (numpy values through the non-Arrow
createDataFrame verifier). The repo's session enables Arrow and pins
UTC, so those classes only surface under a session the repo did NOT
build. Run this before every round close.

Usage: python tools/driver_session_smoke.py [sf_dir]
Exit 1 on any key raising; prints the failing keys.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver_session_smoke")
        .getOrCreate()
    )
    import __spark_entry__ as entrymod

    todo = entrymod.queries()

    errs: list[tuple[str, str]] = []
    assert entrymod.entry(spark).count() >= 0
    for k, fn in todo.items():
        try:
            fn(spark, sf_dir).count()
        except Exception as e:  # noqa: BLE001 — report every key
            # empty-message exceptions (bare AssertionError()) must
            # not crash the reporter itself
            msg = (str(e).splitlines() or [repr(e)])[0][:160]
            errs.append((k, msg))
    for k, err in errs:
        print(f"FAIL {k}: {err}")
    print(f"driver-session smoke: {len(todo) - len(errs)}/{len(todo)} OK")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
