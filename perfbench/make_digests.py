"""Rewrite digests.json from the engine in this checkout.

    python3 perfbench/make_digests.py

Collects every catalog_queries entry once over the star fixture and stores
its result digest. Run it only when a catalog entry's result is meant to
change; the benchmark compares against the committed file.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

import run as bench


def main() -> int:
    sys.path.insert(0, bench.ROOT)
    from catalog_queries import DIGESTS, ENTRIES, result_digest
    from customer_activity_lakehouse_spark.plans import QUERIES

    base = os.path.join(bench.ROOT, ".perfbench")
    star, _ = bench._ensure_star(os.path.join(base, "cache"))
    work = os.path.join(base, f"digests-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    r = bench.Run(0, work)
    spark = bench._session(r, work)
    try:
        out = {}
        for name in ENTRIES:
            df = QUERIES[name].fn(spark, star)
            out[name] = result_digest(df.collect(), df.columns)
    finally:
        bench._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
