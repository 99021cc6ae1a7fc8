"""Quiet A/B of the minhash boilerplate band-cap (VERDICT r4 Wrong #2):
the r4 driver artifact showed the capped 10x row SLOWER than uncapped
(7.40 s vs 3.32 s) at loadavg ~20, inverting the quiet-box result in
BASELINE.md. This measures both paths interleaved (min-of-reps) on the
generated hot-prefix corpus and prints one JSON line, so the artifact
question — noise or a real window-count cost — has a recorded answer.

Usage: python scripts/bench_band_cap.py [n_docs=50000] [reps=3]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from util_gis_spark import datasets as D  # noqa: E402
from util_gis_spark.operators.dedup import minhash_near_dup_pairs  # noqa: E402
from util_gis_spark.session import default_parallelism, get_spark  # noqa: E402


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    reps = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    cpus = default_parallelism()
    spark = get_spark("band-cap", master=f"local[{cpus}]", shuffle_partitions=cpus)
    docs = D.documents_range(spark, n_docs, cpus * 2)

    # warm up Python workers + Arrow untimed
    minhash_near_dup_pairs(D.documents_range(spark, 2000, 4)).count()

    best: dict[str, float] = {}
    pairs: dict[str, int] = {}
    loads = [round(os.getloadavg()[0], 2)]
    for _ in range(reps):  # interleaved so co-tenant noise hits both
        for name, cap in (("uncapped", None), ("capped32", 32)):
            t0 = time.perf_counter()
            pairs[name] = minhash_near_dup_pairs(docs, max_band_bucket=cap).count()
            el = time.perf_counter() - t0
            best[name] = min(best.get(name, 1e9), el)
        loads.append(round(os.getloadavg()[0], 2))
    print(
        json.dumps(
            {
                "n_docs": n_docs,
                "reps": reps,
                "loadavg": loads,
                "uncapped_sec": round(best["uncapped"], 3),
                "capped32_sec": round(best["capped32"], 3),
                "pairs": pairs,
            }
        )
    )


if __name__ == "__main__":
    main()
