"""Time registered queries in isolation: 1 untimed warmup + min of 3
noop-sink passes each, every pass from an empty block cache (bench.py
methodology), on a fresh session.

Usage: python tools/time_query.py [sf_dir] <query> [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args.pop(0) if args and args[0].startswith("/") else "/root/testdata/sf0.1"

    from fraud_detection_etl_project_spark.plans import REGISTRY
    from fraud_detection_etl_project_spark.session import get_spark

    spark = get_spark(
        app_name="time-query",
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    def isolate():
        spark.catalog.clearCache()
        spark.sparkContext._jvm.System.gc()

    spark.range(1000).count()
    for name in args:
        fn = REGISTRY[name].fn
        spark.sparkContext.setJobDescription(name)
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()  # warmup
        samples = []
        for _ in range(3):
            isolate()
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(round(time.perf_counter() - t0, 3))
        print(f"{name}: min={min(samples)} samples={samples}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
