"""Benchmark harness — prints ONE JSON line.

Runs the headline operators at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``:

- ``extract``      — the flagship pipeline (classify → skew repartition →
  Arrow-UDF extraction) over the deterministic pages corpus sized by sf
  (sf0.1 → 8,000 docs), reading a materialized parquet corpus so timing
  isolates extraction, not generation
- dedup / similarity / text-analysis / relational queries from
  ``__spark_entry__`` over the driver tables

Output: {"metric": "...", "value": <total sec>, "unit": "sec",
         "queries": {...per-query sec...}, "sf": <sf>, "docs_per_sec": ...}

Scaling evidence (BASELINE.json: N vs 4N executors → local[8] vs local[32]):
    SPARK_GRAFT_CPUS=8 python bench.py
    SPARK_GRAFT_CPUS=32 python bench.py
See BENCH/BASELINE.md for recorded results.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time
from pathlib import Path

DOCS_PER_SF = 80_000  # sf0.1 -> 8k docs, sf0.01 -> 800
MIN_DOCS = 400


# the fixed round-1..4 query set: with "extract" and "extract_shuffled"
# it makes up "value", so "value" stays comparable across rounds/machines;
# every query timed after these is reported per-query only
HEADLINE_QUERIES = (
    "dedup_exact",
    "dedup_minhash_pairs",
    "dedup_minhash_pairs_w128",
    "dedup_filtered_corpus",
    "clean_corpus",
    "dedup_simhash",
    "dedup_ngram_jaccard",
    "embedding_neardup",
    "line_dedup",
    "pii_scrub",
    "decontaminate",
    "corpus_sample",
    "text_quality",
    "gopher_quality",
    "repetition_gopher",
    "lang_id",
    "fingerprint",
    "ann_cosine_topk",
    "lsh_ann_topk",
    "lsh_ann_corpus_topk",
    "events_daily",
    "events_user_topk",
    "lineitem_pricing",
    "order_revenue_topk",
)


# timed once, not min-of-3: the map-only codec stages (converters,
# perceptual image/audio/video dedup), 48-bit SimHash, DSIR's two
# corpus-wide gram passes, the sentence-graph summary and the uncapped
# postings accounting each run tens of seconds at sf0.1, where the JIT
# noise min-of-3 removes is a rounding error; one run bounds the bench wall
SINGLE_REP = frozenset({
    "audio_dup_clusters",
    "audio_transcode",
    "dedup_simhash_near_w48",
    "dsir_select",
    "embed_text_overlay",
    "fetch_images_to_pdf",
    "image_dup_clusters",
    "images_to_pdf",
    "pdf_strip_roundtrip",
    "pdf_thumbnails",
    "postings_compression",
    "textrank_summary",
    "video_dup_clusters",
})

# never timed: the extraction and fixture gates ("extract" times the
# extractor) and the queries the bench has never reported
UNTIMED = frozenset({
    "boilerplate_blocks",
    "dedup_components",
    "dedup_simhash_near",
    "dedup_stats",
    "doc_metrics_by_lang",
    "events_sessionize",
    "extract_format_metrics",
    "extract_mismatches",
    "extract_ocr_stats",
    "extract_recap_mismatch",
    "ivf_ann_topk",
    "markdown_goldens",
    "media_features_mismatch",
    "media_kind_stats",
    "pdf_metadata",
    "reference_fixtures",
    "repetition_stats",
    "token_stats",
    "winnow_fingerprints",
})


def timed_queries(registry: list[str]) -> list[tuple[str, int]]:
    """(name, reps) for every timed query: the headline set first, then
    the rest of the registry in registry order."""
    rest = [n for n in registry if n not in HEADLINE_QUERIES and n not in UNTIMED]
    return [(n, 3) for n in HEADLINE_QUERIES] + [
        (n, 1 if n in SINGLE_REP else 3) for n in rest
    ]


def _sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else 0.1


def _materialize_corpus(spark, n_docs: int, cpus: int) -> str:
    from doctor_spark.corpus import CORPUS_VERSION

    path = Path(f"/tmp/doctor_spark_corpus/v{CORPUS_VERSION}_n{n_docs}")
    if not (path / "_SUCCESS").exists():
        from doctor_spark.corpus import pages_dataframe

        pages_dataframe(spark, n_docs, partitions=cpus * 2).write.mode(
            "overwrite"
        ).parquet(str(path))
    return str(path)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = _sf_from_dir(sf_dir)
    n_docs = max(MIN_DOCS, int(DOCS_PER_SF * sf))

    sys.path.insert(0, str(Path(__file__).resolve().parent))
    import __spark_entry__ as entry
    from doctor_spark.operators.classify import (
        skew_repartition,
        with_classification,
    )
    from doctor_spark.operators.extract import extract_operator
    from doctor_spark.session import get_spark
    from pyspark.sql import functions as F

    spark = get_spark("doctor_spark-bench", cores=cpus, extra_conf={
        # CPU-bound Python extraction wants many small byte-balanced input
        # splits and fat Arrow batches (see BENCH/BASELINE.md)
        "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    })
    corpus_path = _materialize_corpus(spark, n_docs, cpus)

    # warmup: JIT/codegen + table file-listing, so per-query timings measure
    # the operators rather than first-query JVM warmup
    for t in ("documents", "embeddings", "events", "lineitem", "orders"):
        spark.read.parquet(f"{sf_dir}/{t}.parquet").count()
    spark.range(1_000_000).agg(F.sum("id")).collect()

    timings: dict[str, float] = {}

    def timed(name, fn, reps=3):
        """Warmup + min-of-``reps``.  A single post-warmup run is not
        steady state in a 33-query session: background C2/codegen
        compilation and GC from EARLIER queries land on random victims
        (measured round 5: two back-to-back benches, 80.6 s vs 81.6 s
        totals, DISJOINT slow-query sets — lineitem_pricing 19.0 s then
        <2 s, text_quality <2 s then 10.0 s — while 6-rep isolated
        probes of the same queries sat at round-4 walls).  The min over
        several reps reports the steady-state operator cost the way
        isolated probes measure it; reps=3 because shuffle-heavy queries
        additionally vary 2-5x run-to-run on this box (clean-session
        lsh_ann_corpus_topk: 4.2/3.9/7.1/20.9/6.3 s) and min-of-3 lands
        on the stable floor with high probability."""
        fn()  # warmup run: codegen/JIT compile of this query shape
        best = None
        for _ in range(reps):
            t0 = time.monotonic()
            fn()  # steady-state operator cost
            w = time.monotonic() - t0
            best = w if best is None or w < best else best
        timings[name] = round(best, 3)

    # flagship: full extraction, forced end-to-end by an aggregate over the
    # extracted content (nothing can be pruned away).  Map-only plan: the
    # byte-balanced parquet splits already spread cost (pipeline "auto"
    # behavior); see classify.skew_repartition for the pathological-input
    # shuffle path, exercised by extract_shuffled below.
    def run_extract():
        pages = spark.read.parquet(corpus_path)
        extracted = extract_operator(pages, ocr_available=True)
        extracted.agg(
            F.count("*"), F.sum(F.length("content")),
            F.sum(F.col("extracted_by_ocr").cast("int")),
        ).collect()

    timed("extract", run_extract)

    def run_extract_shuffled():
        pages = spark.read.parquet(corpus_path)
        staged = skew_repartition(with_classification(pages), cpus * 3)
        extracted = extract_operator(staged, ocr_available=True)
        extracted.agg(F.count("*"), F.sum(F.length("content"))).collect()

    timed("extract_shuffled", run_extract_shuffled)

    # real-world documents: the reference's own fixture PDFs/DOCs (court
    # filings with proportional fonts, ObjStm, scanned pages) replicated
    # through the same operator — the wild-input throughput number
    ref_assets = Path("/root/reference/doctor/test_assets")
    if ref_assets.is_dir():
        import itertools

        payloads = []
        for p in itertools.chain(
            ref_assets.glob("*.pdf"),
            ref_assets.glob("recap_documents/*.pdf"),
            ref_assets.glob("*.doc*"),
        ):
            payloads.append((f"https://real.test/{p.name}", p.read_bytes()))
        # 160 replicas: measured in round 4, at 40 replicas the wall was
        # ~60% scheduler/Arrow overhead + straggler tail (a 1.63x kernel
        # speedup moved the metric 3%); at 160 the run is compute-bound
        # and kernel changes show through (within-session A/B: 329 → 402
        # docs/s for the same change that was invisible at 40)
        replicas = [
            (f"{url}?copy={i}", data)
            for url, data in payloads
            for i in range(160)
        ]
        real_df = (
            spark.createDataFrame(replicas, "url string, html binary")
            .withColumn("warc_ts", F.lit("2024-01-01 00:00:00").cast("timestamp"))
            .withColumn("lang", F.lit("en"))
            .repartition(cpus * 2)
            .cache()
        )
        n_real = real_df.count()  # materialize before timing

        def run_real():
            extracted = extract_operator(real_df, ocr_available=False)
            extracted.agg(F.count("*"), F.sum(F.length("content"))).collect()

        timed("extract_real_docs", run_real)
        real_docs_per_sec = round(n_real / timings["extract_real_docs"], 1)
        real_df.unpersist()
    else:
        real_docs_per_sec = None

    qs = entry.queries()
    for name, reps in timed_queries(list(qs)):
        timed(name, lambda n=name: qs[n](spark, sf_dir).collect(), reps=reps)

    # extract_real_docs only runs where the reference checkout exists; it
    # is reported per-query and as real_docs_per_sec, never in the total
    total = round(
        sum(timings[k] for k in ("extract", "extract_shuffled", *HEADLINE_QUERIES)),
        3,
    )
    print(
        json.dumps(
            {
                "metric": "doctor_spark headline ops wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "n_docs": n_docs,
                "cpus": cpus,
                "docs_per_sec": round(n_docs / timings["extract"], 1),
                "real_docs_per_sec": real_docs_per_sec,
                # measurement caveats (BENCH/BASELINE.md §2d): local[32]
                # on a 32-CPU box oversubscribes (driver JVM + 32 Python
                # workers), and this box's walls drift ±40% under
                # sustained/competing load — compare runs within one
                # session or on a cold box, never raw across rounds
                "caveats": "local[N=cpus] oversubscription + thermal "
                           "drift; see BENCH/BASELINE.md §2d",
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
