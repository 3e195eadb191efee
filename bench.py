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
    for name in HEADLINE_QUERIES:
        timed(name, lambda n=name: qs[n](spark, sf_dir).collect())
    for name in (
        # round-5 additions: reported per-query, EXCLUDED from the total
        # so "value" stays comparable with earlier rounds; single timed
        # rep — each is a 25-35 s map-only codec stage where the JIT
        # noise above is a rounding error
        "dedup_simhash_near_w48",
        "images_to_pdf",
        "pdf_strip_roundtrip",
        "embed_text_overlay",
        "pdf_thumbnails",
        "audio_transcode",
        "fetch_images_to_pdf",
        # round-5 sixth wave: DSIR (two corpus-wide gram passes, ~25 s
        # at sf0.1 — single rep like the codec stages)
        "dsir_select",
    ):
        timed(name, lambda n=name: qs[n](spark, sf_dir).collect(), reps=1)
    for name in (
        # round-5 second wave (also excluded from the comparable total,
        # normal min-of-3 timing — these are sub-second map/shuffle ops)
        "dedup_exact_substring",
        "paragraph_dedup",
        "url_canonicalize",
        "domain_topk",
        "quality_classifier",
        "bloom_dedup",
        "stratified_sample",
        "pack_sequences",
        "snapshot_diff",
        "corpus_health",
        # third wave: CCNet LM gate, temperature mixing
        "ccnet_perplexity",
        "mix_weights",
        "mix_resample",
        "tfidf_top_terms",
        "ngram_novelty",
        "token_deciles",
        # fourth wave: CMS heavy hitters, SemDeDup, BPE trainer
        "heavy_hitters",
        "semdedup",
        "bpe_merges",
        "bpe_token_counts",
        "link_pagerank",
        "nb_confusion",
        # fifth wave: jusText main-content gate
        "boilerplate_corpus",
        "boilerplate_corpus_lang",
        "char_entropy",
        "kmeans_clusters",
        "link_host_rank",
        # seventh wave: zero-shuffle intra-doc paragraph dedup
        "para_dedup_intra",
        # eighth wave: RFC 9309 crawl-politeness gate + UT1 blocklist
        "robots_gate",
        "domain_blocklist",
        "url_admission",
        # ninth wave: head-metadata + link-text + web-table stages
        "page_metadata",
        "anchor_text_topk",
        "table_cells",
        "sitemap_entries",
        "feed_entries",
        "frontier_admission",
        "date_normalize",
        "code_blocks",
        "image_caption_table",
        "redirect_resolve",
        "sentence_stats",
        "wet_export",
        "fetch_schedule",
        # eleventh wave: CDX/WAT artifacts, degree stats, soft-404 gate
        "cdx_index",
        "wat_export",
        "host_degree_stats",
        "soft404_gate",
        # twelfth wave: span-lineage main-content pass + C4 recipe +
        # robots-meta admission gate
        "content_spans",
        "c4_clean",
        "c4_span_dedup",
        "robots_meta",
        # thirteenth wave: integer-exact HyperLogLog crawl-coverage +
        # schema.org JSON-LD extraction
        "hll_host_distinct",
        "structured_data",
        "unicode_clean",
        "hreflang_pairs",
        "host_template_lines",
        "canonical_clusters",
        "pagination_chains",
        # fourteenth wave: bitext alignment, URL templates, heading
        # outlines
        "bitext_align",
        "url_templates",
        "heading_outline",
        # fifteenth wave: STRAND URL pairing, host quality gate,
        # readability
        "bitext_url_pairs",
        "host_quality",
        "readability",
        # sixteenth wave: PMI collocations, boundary-aware chunking
        "collocations",
        "chunk_spans",
        # seventeenth wave: inverted postings, quote spans
        "inverted_postings",
        "quote_spans",
        # eighteenth wave: mirror-site detection, KWIC concordance
        "mirror_pairs",
        "kwic",
        # nineteenth wave: legal citations, vocabulary growth
        "citations",
        "vocab_growth",
        # twentieth wave: WARC revisit records
        "revisit_records",
        # twenty-first wave: RAKE keywords, character coverage
        "rake_keywords",
        "char_coverage",
        # twenty-second wave: crawler traps, IDN homographs
        "crawler_traps",
        "idn_homographs",
        # twenty-third wave: BM25 ranked retrieval
        "bm25_topk",
        # twenty-fourth wave: HITS hubs/authorities
        "hits_scores",
        # twenty-fifth wave: TrustRank
        "trustrank",
        # twenty-sixth wave: Porter stem conflation
        "stem_conflation",
        # twenty-seventh wave: host-disjoint split audit
        "host_split",
        # twenty-eighth wave: rank-frequency statistics
        "zipf_fit",
        "freq_of_freqs",
        # twenty-ninth wave: content-defined chunking dedup
        "cdc_dedup",
        # thirtieth wave: DOM layout template clustering
        "layout_clusters",
        # thirty-first wave: minhash->levenshtein verify rung
        "verified_neardup",
        # thirty-second wave: temporal leakage audit
        "temporal_leakage",
        # thirty-third wave: passage extraction over BM25
        "best_passages",
        # thirty-fourth wave: directed Broder containment + TextRank
        "containment_pairs",
        "textrank_keywords",
        # thirty-fifth wave: CCNet paragraph-lang profile + PRF expansion
        "para_lang",
        "prf_expansion",
        # thirty-seventh wave: multi-source BFS crawl depth
        "crawl_depth",
        # thirty-eighth wave: MinHash-estimated containment
        "containment_est",
    ):
        timed(name, lambda n=name: qs[n](spark, sf_dir).collect())
    for name in (
        # eighth wave, single rep: perceptual image/audio dedup — codec
        # encode+decode+hash map stages at sf0.1, like the codec slots
        "image_dup_clusters",
        "audio_dup_clusters",
        "video_dup_clusters",
        # thirty-sixth wave, single rep: the sentence-graph summary and
        # the uncapped postings accounting both run tens of seconds on
        # the 31-term synthetic vocabulary (window parallelism == vocab
        # size here, not at web scale) — one honest run each keeps the
        # bench wall bounded
        "textrank_summary",
        "postings_compression",
    ):
        timed(name, lambda n=name: qs[n](spark, sf_dir).collect(), reps=1)

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
