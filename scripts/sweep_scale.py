#!/usr/bin/env python
"""Full-registry scale sweep: run EVERY registered key at a given
fixture dir (default the sf1 decade fixture), one timed pass per key,
with a per-key wall cap enforced via Spark job-group cancellation.
Catches lanes that blow up at scale OUTSIDE the bench headline.

Output: one JSON line {"sf_dir", "timings": {key: sec}, "errors":
{key: msg}, "timeouts": [key...]}. The cache is cleared after every
key, so each graph lane's timing includes its own survivor-pair
pipeline: these numbers are not comparable with the marginal
(warm-cache) graph timings in SCALE_SF1_r15.json.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from cdc_debezium_spark import registry  # noqa: E402
from cdc_debezium_spark.session import get_spark  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(_REPO, "scale", "sf1")
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 10**9
    cap = float(os.environ.get("SWEEP_CAP_SEC", "90"))
    spark = get_spark(app_name="scale-sweep")
    registry.load_all()

    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    timings: dict[str, float] = {}
    errors: dict[str, str] = {}
    timeouts: list[str] = []
    sc = spark.sparkContext

    for key in sorted(registry.QUERIES)[lo:hi]:
        fn = registry.QUERIES[key]

        def attempt():
            done = {"ok": False, "err": None}

            def run():
                try:
                    sc.setJobGroup(key, key, interruptOnCancel=True)
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                    done["ok"] = True
                except Exception as ex:  # noqa: BLE001
                    done["err"] = f"{type(ex).__name__}: {str(ex)[:200]}"

            t0 = time.perf_counter()
            th = threading.Thread(target=run, daemon=True)
            th.start()
            th.join(cap)
            return done, th, round(time.perf_counter() - t0, 3)

        done, th, dt = attempt()
        if th.is_alive():
            sc.cancelJobGroup(key)
            th.join(30)
            timeouts.append(key)
            print(f"# {key}: TIMEOUT >{cap}s", file=sys.stderr)
        elif done["err"]:
            errors[key] = done["err"]
            print(f"# {key}: ERROR {done['err']}", file=sys.stderr)
        else:
            timings[key] = dt
            print(f"# {key}: {dt:.3f}s", file=sys.stderr)
        spark.catalog.clearCache()

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "timings": timings,
                "errors": errors,
                "timeouts": timeouts,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
