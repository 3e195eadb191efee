"""Interleaved A/B of the ngram-Jaccard shingle engines.

Measures ngram_jaccard_pairs(threshold=0.3, max_shingle_df=100) —
the exact driver-query configuration — per engine on the documents
table of a given sf dir, interleaved rounds so box drift hits both
arms equally.  Usage:

    python BENCH/ngram_engine_ab.py [SF_DIR] [ROUNDS] [ENGINES...]

Defaults: /tmp/doctor_spark_sf1, 3 rounds, hybrid vs expr (the two
engines ``ngram_jaccard_pairs`` accepts).
"""

from __future__ import annotations

import sys
import time

from doctor_spark.session import get_spark


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/doctor_spark_sf1"
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    engines = sys.argv[3:] or ["hybrid", "expr"]

    from doctor_spark.operators.dedup import ngram_jaccard_pairs

    spark = get_spark("ngram-engine-ab")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    docs.cache().count()  # pin input; measure compute, not the scan

    walls: dict[str, list[float]] = {e: [] for e in engines}
    counts: dict[str, int] = {}
    for r in range(rounds):
        for e in engines:
            t0 = time.monotonic()
            n = ngram_jaccard_pairs(
                docs, threshold=0.3, max_shingle_df=100, engine=e
            ).count()
            wall = time.monotonic() - t0
            walls[e].append(wall)
            counts.setdefault(e, n)
            assert counts[e] == n, (e, counts[e], n)
            print(f"round {r} {e:7s} {wall:7.2f}s  pairs={n}", flush=True)

    vals = set(counts.values())
    print(f"\npair counts: {counts}  identical={len(vals) == 1}")
    for e in engines:
        ws = walls[e]
        print(f"{e:7s} min={min(ws):.2f}s  walls={[round(w, 2) for w in ws]}")


if __name__ == "__main__":
    main()
