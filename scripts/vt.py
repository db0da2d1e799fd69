#!/usr/bin/env python
"""Verify and time one or more registry keys.

Usage: python scripts/vt.py key [key ...]
  env VT_SF=0.01,0.001  oracle-check scale factors (default 0.01,0.001)
  env VT_TIME=1         also time at sf0.1 (cold + 5 passes, noop sink)

Each key is checked against its DuckDB oracle with
testing.compare_query, the comparator the tests and the benchmark use.
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from cdc_debezium_spark import registry  # noqa: E402
from cdc_debezium_spark.session import get_spark  # noqa: E402
from cdc_debezium_spark.testing import compare_query  # noqa: E402


def main() -> None:
    keys = sys.argv[1:]
    sfs = os.environ.get("VT_SF", "0.01,0.001").split(",")
    spark = get_spark(app_name="vt")
    registry.load_all()

    rc = 0
    for sf in sfs:
        sf_dir = f"/root/testdata/sf{sf}"
        for key in keys:
            try:
                compare_query(spark, key, sf_dir)
                res = "ok"
            except Exception as exc:  # noqa: BLE001
                res = f"{type(exc).__name__}: {exc}"
            tag = "PASS" if res == "ok" else "FAIL"
            if res != "ok":
                rc = 1
            print(f"[{tag}] sf{sf} {key}: {res}", flush=True)
    if os.environ.get("VT_TIME", "0") != "0":
        sf_dir = os.environ.get("VT_TIME_SF_DIR", "/root/testdata/sf0.1")
        for key in keys:
            df = registry.QUERIES[key](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            xs = []
            for _ in range(5):
                t0 = time.perf_counter()
                registry.QUERIES[key](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                xs.append(time.perf_counter() - t0)
            xs.sort()
            print(
                f"[TIME] sf0.1 {key}: med {xs[len(xs) // 2]:.3f} "
                f"min {xs[0]:.3f} max {xs[-1]:.3f}",
                flush=True,
            )
    spark.stop()
    sys.exit(rc)


if __name__ == "__main__":
    main()
