#!/usr/bin/env python
"""Full-registry oracle mirror: run EVERY registered key's Spark query
AND its DuckDB oracle side-by-side at a fixture dir (default sf0.01 —
the driver's own correctness scale) via testing.compare_query, the
comparator the pytest gate uses.

Output: one JSON line {"sf_dir", "passed": N, "failed": {key: why},
"secs": {key: wall}} plus a FAIL line per failure on stderr.

Usage: python scripts/oracle_mirror.py [sf_dir] [key_prefix]
"""

from __future__ import annotations

import json
import os
import sys

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from cdc_debezium_spark import registry  # noqa: E402
from cdc_debezium_spark.session import get_spark  # noqa: E402
from cdc_debezium_spark.testing import compare_query  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    prefix = sys.argv[2] if len(sys.argv) > 2 else ""
    spark = get_spark(app_name="oracle-mirror")
    registry.load_all()

    # Oracle-contract scale guard (r9 review): lanes with scale-aware
    # parameters (rp_lsh bits="auto", trained-ANN k=n//128) resolve to
    # their static-oracle floors only while the embeddings table stays
    # <= 2048 rows. On a bigger fixture the SPARK side auto-scales and
    # the static SQL does not — a correct lane would be reported as a
    # value-hash FAIL. Refuse loudly instead of mis-reporting.
    try:
        n_emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").count()
    except Exception:
        n_emb = 0
    if n_emb > 2048:
        raise SystemExit(
            f"oracle_mirror: {sf_dir} has {n_emb} embeddings; the static "
            "oracles for the auto-scaled ANN lanes are only valid at "
            "<= 2048 (sf <= 0.1). Use the sweep for larger fixtures."
        )

    import time as _time

    passed, failed, secs = 0, {}, {}
    for key in sorted(registry.QUERIES):
        if not key.startswith(prefix):
            continue
        t0 = _time.perf_counter()
        try:
            compare_query(spark, key, sf_dir)
            passed += 1
        except Exception as ex:  # noqa: BLE001
            failed[key] = f"{type(ex).__name__}: {str(ex)[:160]}"
            print(f"FAIL {key}: {failed[key]}", file=sys.stderr, flush=True)
        finally:
            # wall per key (spark query + duckdb oracle + compare) —
            # the r15 optimization round's prioritization signal
            secs[key] = round(_time.perf_counter() - t0, 3)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "passed": passed,
                "failed": failed,
                "secs": secs,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
