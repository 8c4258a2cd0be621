"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 (plus
the training-data-pipeline extensions) to a DataFrame builder;
``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for everything
SQL-expressible.  Exactness discipline: EVERY output column is an
integer, string, bool, or timestamp — ratios are basis points
(floor(10000*a/b)), money sums are BIGINT cents (floor(100*exact
decimal sum)).  DECIMAL/DOUBLE output columns are banned: engines
agree on the typed values but bindings disagree on surfacing them
(pandas coerces DECIMAL->float64), so integer domains are the only
hash-stable contract.

Ordering contract: the driver checks the FIRST 50 entries of
``queries()`` — the dict is laid out so every oracle-backed query sits
inside that window (see the ordering comment on ``queries()``);
rows-only entries follow.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# executor Python workers import sequali_spark by path: make the repo
# importable regardless of the harness's cwd, and export it BEFORE any
# SparkContext starts so local-mode workers inherit it
_REPO = os.path.dirname(os.path.abspath(__file__))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)
# compare PATH ENTRIES, not substrings: a superstring entry like
# /root/repo-old must not suppress the export
if _REPO not in os.environ.get("PYTHONPATH", "").split(os.pathsep):
    os.environ["PYTHONPATH"] = _REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequali_spark.sources.tables import load


def _pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically lift the driver's documents table into the
    canonical pages shape (url, warc_ts, html, text, lang) so the
    flagship quality pipeline can run on driver-provided data."""
    docs = load(spark, sf_dir, "documents")
    return docs.select(
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".example.org/doc-"), F.col("doc_id")
        ).alias("url"),
        F.expr("timestampadd(SECOND, doc_id * 61, timestamp'2025-06-01 00:00:00')").alias(
            "warc_ts"
        ),
        F.encode(
            F.concat(F.lit("<html><body>"), F.col("text"), F.lit("</body></html>")), "utf-8"
        ).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full quality pipeline (langid + perplexity + rule
    battery + PII/toxicity scrub) over pages lifted from sf0.001."""
    from sequali_spark.pipeline import quality_pipeline

    pages = _pages_from_documents(spark, "/root/testdata/sf0.001")
    m = quality_pipeline(spark, pages, repartition=False)
    return m.select(
        "url",
        "n_chars",
        "n_words",
        "lang_pred",
        "lang_conf",
        "perplexity",
        "pii_hits",
        "tox_hits",
        "keep",
        "drop_reasons",
    )


def _pages_quality_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sequali_spark.pipeline import quality_pipeline

    from sequali_spark.session import spread

    pages = _pages_from_documents(spark, sf_dir)
    # conditional small-input spread (scan bytes != compute cost; no-op
    # when the scan already decomposes), width sized to ~128 KB of
    # source bytes per task (r9): a fixed cap starved large inputs and
    # an uncapped spread made tiny inputs handshake-bound
    pages = spread(pages, bytes_per_task=128 * 1024)
    # prune INSIDE the Arrow stage: Catalyst can't push a projection
    # through mapInPandas, so declare the 5 sunk columns explicitly —
    # shipping the full 30-column metric struct (incl. scrubbed_text)
    # across the Arrow boundary was the single largest bench cost in r1
    out_cols = ["url", "lang_pred", "keep", "pii_hits", "tox_hits"]
    m = quality_pipeline(spark, pages, repartition=False, output_columns=out_cols)
    return m.select(*out_cols).orderBy("url")


def _doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID over the documents table (rows-only check: the model
    is a Python artifact, not SQL).

    Why no oracle is possible (investigated r3): an exact oracle would
    require predictions to be SQL-derivable.  The only candidate —
    pred == documents.lang so the oracle checks ground-truth marginals —
    fails empirically: the driver corpus's ``lang`` column is largely
    DECORRELATED from its text (measured agreement 0.43 at sf0.01, 0.40
    at sf0.1 — near the 0.2 base rate of 5 langs, vs >0.97 on the
    planted-language fixture where text actually carries the language).
    The SQL-checkable sibling for the token-statistics family is
    ``doc_token_zipf_mass``."""
    from sequali_spark.functions.langid import get_model
    import pandas as pd

    from sequali_spark.session import spread

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    # conditional small-input CPU spread (no-op when the scan already
    # decomposes — never coalesces a big corpus), width sized to
    # ~128 KB of source bytes per task (r9, see session.spread)
    docs = spread(docs, bytes_per_task=128 * 1024)

    def _batches(it):
        model = get_model()
        for pdf in it:
            pred, conf = model.predict(list(pdf["text"].fillna("")))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "lang_pred": pred,
                    "conf_bps": (conf * 10000).astype("int64"),
                }
            )

    return docs.mapInPandas(
        _batches, schema="doc_id long, lang_pred string, conf_bps long"
    ).orderBy("doc_id")


def _doc_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-only by nature: the LM's hashed count tables are a Python
    artifact and the score path is log/exp floating point — neither is
    reproducible bit-for-bit in ANSI SQL.  ``doc_token_zipf_mass`` is
    the integer-exact, oracle-checked surrogate for the same
    token-commonness signal."""
    from sequali_spark.functions.perplexity import get_model
    import pandas as pd

    from sequali_spark.session import spread

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, bytes_per_task=128 * 1024)

    def _batches(it):
        model = get_model()
        for pdf in it:
            ppl = model.perplexities(list(pdf["text"].fillna("")))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "ppl_centi": (ppl * 100).astype("int64"),
                }
            )

    return docs.mapInPandas(_batches, schema="doc_id long, ppl_centi long").orderBy("doc_id")




def _pages_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 time-window report on the canonical pages shape (host ≙
    channel), oracle-checked: the synthesis itself is deterministic SQL."""
    pages = _pages_from_documents(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        pages.select(F.date_trunc("hour", "warc_ts").alias("hour"), host.alias("host"), F.length("text").alias("n"))
        .groupBy("hour")
        .agg(
            F.count("*").alias("docs"),
            F.countDistinct("host").alias("distinct_hosts"),
            F.sum("n").alias("chars"),
        )
        .orderBy("hour")
    )


def _pages_host_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 per-host rollup on the canonical pages shape, oracle-checked."""
    pages = _pages_from_documents(spark, sf_dir)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return (
        pages.select(host.alias("host"), F.length("text").alias("n"))
        .groupBy("host")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n").alias("total_chars"),
            F.min("n").alias("min_chars"),
            F.max("n").alias("max_chars"),
        )
        .orderBy("host")
    )




def _doc_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc zlib compression ratio in basis points (repetitiveness
    signal; rows-only — the kernel is Python-side)."""
    import pandas as pd

    from sequali_spark.session import spread

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    docs = spread(docs, bytes_per_task=128 * 1024)

    def _batches(it):
        from sequali_spark.functions.kernels import compression_ratios

        for pdf in it:
            if not len(pdf):
                continue
            ratios = compression_ratios([(t or "").encode("utf-8") for t in pdf["text"]])
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "compression_bps": (ratios * 10000).astype("int64"),
                }
            )

    return docs.mapInPandas(_batches, schema="doc_id long, compression_bps long").orderBy("doc_id")


def _media_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sequali_spark.sources.multimodal import media_kind_stats

    return media_kind_stats(spark, sf_dir)


def _media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sequali_spark.sources.multimodal import media_frame_sample_query

    return media_frame_sample_query(spark, sf_dir)


def _media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sequali_spark.sources.multimodal import media_features_query

    return media_features_query(spark, sf_dir)


def _doc_corpus_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13 Summary finalize: one-row corpus rollup, oracle-checked."""
    d = load(spark, sf_dir, "documents")
    return d.agg(
        F.count("*").alias("docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        F.countDistinct("source").alias("distinct_sources"),
        F.countDistinct("lang").alias("distinct_langs"),
    )


def _pages_labels_missing_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5 missing-field repair, driver-materialized: the pipeline must
    soft-degrade when optional columns (html, lang) are absent — the
    null-fill path of run_metric_stage (rows-only: the repair itself is
    the behavior under test)."""
    from sequali_spark.pipeline import quality_pipeline

    from sequali_spark.session import spread

    pages = _pages_from_documents(spark, sf_dir).drop("html", "lang")
    pages = spread(pages, bytes_per_task=128 * 1024)
    out_cols = ["url", "lang_pred", "keep", "html_utf8"]
    m = quality_pipeline(spark, pages, repartition=False, output_columns=out_cols)
    return m.select(*out_cols).orderBy("url")


def _pages_distinct_urls_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct-url count per host via SALTED two-stage
    aggregation — the skew-safe COUNT(DISTINCT) pattern for Zipf keys
    driver-checked against the plain one-stage oracle (url -> salt is
    deterministic, the per-salt sets are disjoint, so the partial-sum is
    exact by construction)."""
    from sequali_spark.operators.aggregates import per_host_distinct_urls_salted

    pages = _pages_from_documents(spark, sf_dir)
    return (
        per_host_distinct_urls_salted(pages)
        .select("host", F.col("distinct_urls").cast("long").alias("distinct_urls"))
        .orderBy("host")
    )


def _emb_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ADC top-k with exact re-rank (rows-only:
    codebooks are a trained Python artifact).  The 32x-compressed-codes
    scan path for corpus-scale embeddings; recall pinned on the
    planted-cluster fixture (tests/test_dedup_recall.py) — the driver's
    isotropic embeddings defeat every sublinear index by construction,
    so this checks plumbing and determinism, not recall."""
    from sequali_spark.operators.similarity import pq_topk_for

    e = load(spark, sf_dir, "embeddings")
    return pq_topk_for(e, n_queries=10, k=5, rerank_factor=10)


def _emb_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composition (coarse-quantizer pruning + compressed ADC
    scan + exact re-rank) — rows-only.  r5: RESIDUAL coding (codes
    quantize x - centroid, coarse term restored at scan time) over the
    fused one-pass (vec_id, centroid, codes) index frame; pinned by a
    numpy whole-pipeline oracle plus the raw-path full-probe ≡ plain-PQ
    structural identity (tests/test_dedup_recall.py)."""
    from sequali_spark.operators.similarity import ivfpq_topk_for

    e = load(spark, sf_dir, "embeddings")
    return ivfpq_topk_for(e, n_queries=10, k=5, n_centroids=16, n_probe=8, rerank_factor=10)


def _boilerplate_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from sequali_spark.operators.aggregates import boilerplate_id_query

    return boilerplate_id_query(spark, sf_dir)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """ORDERING CONTRACT: the driver judges exactly the FIRST 50 entries
    (CORRECTNESS_r01-r03 judged the PRE-rotation prefix; the prefix
    below is first judged in round 4), so the dict is laid out in three
    blocks:

    1. entries 1-50: every oracle-backed query we want judged — all
       rows+schema+hash checkable.  61 oracles compete for 50 slots.
       Rotated for round 4 (VERDICT r3 task 1): the five r3 flagship
       additions that had never seen a driver row
       (doc_token_zipf_mass, doc_decontaminate, rel_region_revenue,
       rel_part_type_share, events_hourly_anomaly) plus the new
       doc_ppl_surprisal_histogram moved INTO the window; six
       thrice-green redundant siblings moved out (doc_word_stats,
       doc_lang_histogram, doc_stopword_fraction, doc_stratified_sample,
       events_type_totals, rel_order_priority — each operator stays
       pinned by the local typed-Arrow mirror,
       tests/test_entry_parity.py).
    2. the 11 overflow oracle-backed entries: binning/percentile
       variants of judged queries (doc_length_cumdist,
       doc_log_length_histogram, doc_alpha_ratio_histogram,
       doc_bottom_decile, doc_probe_position_curve) and the six
       rotated-out siblings above.
    3. rows-only entries (no SQL oracle by nature: sketch-based dedup,
       ANN, Python model scorers, multimodal stub).

    tests/test_query_order.py pins the 50-prefix so future additions
    can't silently evict judged queries.
    """
    from sequali_spark.operators import dedup, events, relational, similarity, textqc

    return {
        # ================= block 1: the driver-judged 50 =================
        # --- text QC over documents (QCMetrics/A1-A5, P13-P14 lineage) ---
        "doc_char_ratios": textqc.char_ratios,
        # r6 single-slot rotation (VERDICT r5 task 6): the winnow-path
        # decontamination twin was the only oracle with no driver row;
        # it takes doc_length_histogram's slot (green r1-r5; its
        # operator family keeps three oracle-backed siblings, one
        # in-window: doc_length_percentiles) — the other 49 slots are
        # byte-identical to the r4/r5 window.  Oracle = the broadcast
        # contains() SQL, so the driver's hash gate cross-checks the
        # dual-path equivalence on real data.
        "doc_decontaminate_winnow": textqc.benchmark_decontaminate_winnow,
        "doc_per_source_quality": textqc.per_source_quality,
        "doc_substring_scan": textqc.substring_scan,
        "doc_quality_score": textqc.quality_score,
        "doc_overrep_shingles": textqc.overrep_shingles_sql,
        "doc_position_char_profile": textqc.position_char_profile,
        "doc_per_source_deviation": textqc.per_source_deviation,
        "doc_top_per_source": textqc.top_doc_per_source,
        "doc_deterministic_sample": textqc.deterministic_sample,
        # r8 single-slot rotation (VERDICT r7 task 3): A16's log
        # re-binning gets its first driver row; doc_length_percentiles
        # (green r1-r7) rotates to overflow — A14 keeps doc_n50_report
        # in-window and the operator stays mirror-swept.  The other 49
        # slots are byte-identical to the r7 window.
        "doc_log_length_histogram": textqc.log_length_histogram,
        "doc_token_count_bpeish": textqc.token_count_bpeish,
        "doc_type_token_ratio": textqc.type_token_ratio,
        "doc_n50_report": textqc.n50_report,
        "doc_winnow_sql": textqc.winnow_fingerprint_stats,
        "doc_source_mixture_weights": textqc.source_mixture_weights,
        "doc_boilerplate_id": _boilerplate_id,
        "doc_corpus_summary": _doc_corpus_summary,
        "doc_token_zipf_mass": textqc.token_zipf_mass,
        "doc_ppl_surprisal_histogram": textqc.ppl_surprisal_histogram,
        "doc_decontaminate": textqc.benchmark_decontaminate,
        # --- dedup family (DedupEstimator/A10, A18 lineage) ---
        "dedup_exact_groups": dedup.exact_dup_groups,
        "dedup_fingerprint_histogram": dedup.fingerprint_histogram,
        # --- event-time analytics (NanoStats/A17, A20 lineage) ---
        "events_hourly_report": events.hourly_report,
        "events_daily_cumulative": events.daily_cumulative,
        "events_sessionize": events.sessionize,
        "events_top_users": events.top_users_by_value,
        # r7 single-slot rotation (VERDICT r6 task 5): A4's alpha-ratio
        # histogram — a §2.3 row judged only from prior rounds — takes
        # events_type_daily_pivot's slot (green r4-r6; A17 keeps
        # events_hourly_report in-window and events_type_totals in the
        # mirror-swept overflow).  The other 49 slots are byte-identical
        # to the r6 window.
        "doc_alpha_ratio_histogram": textqc.alpha_ratio_histogram,
        "events_asof_join": events.asof_last_click_before_error,
        "events_props_json": events.props_json_stats,
        "events_gap_stats": events.inter_event_gap_stats,
        "events_funnel": events.funnel_conversion,
        "events_retention": events.retention_cohorts,
        "events_value_percentiles": events.value_percentiles_exact,
        "events_hourly_anomaly": events.hourly_anomaly,
        # --- relational substrate (joins/aggregates/top-k) ---
        "rel_pricing_summary": relational.pricing_summary,
        "rel_top_unshipped": relational.top_unshipped_orders,
        "rel_customers_no_orders": relational.customers_without_orders,
        "rel_pricing_rollup": relational.pricing_rollup,
        "rel_value_band_join": relational.value_band_join,
        "rel_region_revenue": relational.region_revenue,
        "rel_part_type_share": relational.part_type_revenue_share,
        # --- canonical pages shape + multimodal metadata ---
        "pages_time_window": _pages_time_window,
        "pages_host_report": _pages_host_report,
        "pages_distinct_urls_salted": _pages_distinct_urls_salted,
        "media_kind_stats": _media_kind_stats,
        "media_frame_sample": _media_frame_sample,
        # --- similarity search over embeddings ---
        "emb_norms": similarity.embedding_norms,
        "emb_brute_force_topk": similarity.brute_force_topk,
        "emb_knn_label_vote": similarity.knn_label_vote,
        # ============ block 2: overflow oracle-backed siblings ============
        "doc_length_cumdist": textqc.length_cumdist,
        # r8: rotated out for doc_log_length_histogram (see block 1)
        "doc_length_percentiles": textqc.length_percentiles_exact,
        # r7: rotated out for doc_alpha_ratio_histogram (see block 1)
        "events_type_daily_pivot": events.event_type_hourly_pivot,
        "doc_bottom_decile": textqc.bottom_decile_by_source,
        "doc_probe_position_curve": textqc.probe_position_curve,
        "doc_word_stats": textqc.word_stats_sql,
        "doc_lang_histogram": textqc.lang_histogram_docs,
        "doc_stopword_fraction": textqc.stopword_fraction,
        "doc_stratified_sample": textqc.stratified_sample,
        "events_type_totals": events.event_type_totals,
        "rel_order_priority": relational.order_priority_counts,
        # r6: rotated out for doc_decontaminate_winnow (see block 1)
        "doc_length_histogram": textqc.length_histogram,
        # r8 addition: CCNet/MassiveText paragraph-level dedup +
        # reconstruction (mirror-swept this round; window candidate r9)
        "doc_paragraph_dedup": dedup.paragraph_dedup_docs,
        # r8 additions: Gopher/MassiveText quality-filter structure rules
        # (mirror-swept; window-rotation candidates for r9)
        "doc_gopher_line_stats": textqc.gopher_line_stats,
        "doc_dup_line_chars": textqc.dup_line_chars,
        "doc_top_bigram_mass": textqc.top_bigram_mass,
        "doc_dup_ngram_mass": textqc.dup_ngram_mass,
        # ================= block 3: rows-only by nature =================
        "dedup_minhash_pairs": dedup.minhash_near_dup_pairs,
        "dedup_simhash_pairs": dedup.simhash_near_dup_pairs,
        "dedup_ngram_jaccard": dedup.ngram_jaccard_pairs,
        "dedup_keepers": dedup.dedup_keepers,
        "dedup_winnow_pairs": dedup.winnow_overlap_pairs,
        "emb_lsh_topk": similarity.lsh_bucketed_topk,
        "emb_ivf_topk": similarity.ivf_topk,
        "emb_pq_topk": _emb_pq_topk,
        "emb_ivfpq_topk": _emb_ivfpq_topk,
        "emb_near_dup_pairs": similarity.embedding_near_dup_pairs,
        "pages_quality_labels": _pages_quality_labels,
        "pages_labels_missing_columns": _pages_labels_missing_columns,
        "doc_langid": _doc_langid,
        "doc_perplexity": _doc_perplexity,
        "doc_compression_ratio": _doc_compression_ratio,
        "media_features": _media_features,
    }


def oracle_sql() -> dict[str, str]:
    return {
        "doc_char_ratios": """
            SELECT doc_id,
                   length(text) AS n_chars,
                   CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / length(text)) AS BIGINT) AS alpha_bps,
                   CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) / length(text)) AS BIGINT) AS digit_bps,
                   CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[ ]', '', 'g'))) / length(text)) AS BIGINT) AS space_bps
            FROM documents WHERE length(text) > 0 ORDER BY doc_id
        """,
        "doc_word_stats": """
            WITH t AS (
              SELECT doc_id, length(text) AS n,
                     length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS spaces
              FROM documents WHERE length(text) > 0
            )
            SELECT doc_id, spaces + 1 AS n_words,
                   CAST(floor(10000.0 * (n - spaces) / (spaces + 1)) AS BIGINT) AS mean_word_len_bps
            FROM t ORDER BY doc_id
        """,
        "doc_length_histogram": """
            SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS length_bucket,
                   count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "doc_length_cumdist": """
            WITH h AS (
              SELECT CAST(floor(n_chars / 50) * 50 AS BIGINT) AS length_bucket,
                     count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
              FROM documents GROUP BY 1
            )
            SELECT length_bucket, docs,
                   CAST(sum(docs) OVER (ORDER BY length_bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs,
                   CAST(sum(chars) OVER (ORDER BY length_bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_chars
            FROM h ORDER BY length_bucket
        """,
        "doc_per_source_quality": """
            SELECT source, count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   CAST(floor(10000.0 * sum(n_chars) / count(*)) AS BIGINT) AS mean_chars_bps,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars
            FROM documents GROUP BY source ORDER BY source
        """,
        "doc_lang_histogram": """
            SELECT lang, count(*) AS docs FROM documents
            GROUP BY lang ORDER BY docs DESC, lang
        """,
        "doc_substring_scan": """
            SELECT doc_id, strpos(text, 'data') AS first_pos,
                   CAST((length(text) - length(replace(text, 'data', ''))) / 4 AS BIGINT) AS occurrences
            FROM documents WHERE strpos(text, 'data') > 0 ORDER BY doc_id
        """,
        "doc_stopword_fraction": """
            WITH toks AS (
              SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
            )
            SELECT doc_id, count(*) AS n_tokens,
                   CAST(sum(CASE WHEN tok IN ('the','a','of','and','to') THEN 1 ELSE 0 END) AS BIGINT) AS n_stop,
                   CAST(floor(10000.0 * sum(CASE WHEN tok IN ('the','a','of','and','to') THEN 1 ELSE 0 END) / count(*)) AS BIGINT) AS stop_bps
            FROM toks GROUP BY doc_id ORDER BY doc_id
        """,
        "doc_quality_score": """
            WITH t AS (
              SELECT doc_id, length(text) AS n,
                     length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS spaces,
                     length(text) - length(regexp_replace(text, '[a-z]', '', 'g')) AS alpha
              FROM documents WHERE text IS NOT NULL
            )
            SELECT doc_id,
                   (CASE WHEN n >= 50 THEN 1 ELSE 0 END
                    + CASE WHEN n <= 100000 THEN 1 ELSE 0 END
                    + CASE WHEN spaces + 1 >= 10 THEN 1 ELSE 0 END
                    + CASE WHEN CAST(floor(10000.0 * alpha / greatest(n, 1)) AS BIGINT) >= 5000 THEN 1 ELSE 0 END) AS gates_passed,
                   (CASE WHEN n >= 50 THEN 1 ELSE 0 END
                    + CASE WHEN n <= 100000 THEN 1 ELSE 0 END
                    + CASE WHEN spaces + 1 >= 10 THEN 1 ELSE 0 END
                    + CASE WHEN CAST(floor(10000.0 * alpha / greatest(n, 1)) AS BIGINT) >= 5000 THEN 1 ELSE 0 END) = 4 AS keep
            FROM t ORDER BY doc_id
        """,
        "doc_overrep_shingles": """
            SELECT s.shingle, count(*) AS cnt FROM (
              SELECT DISTINCT d.doc_id, substr(d.text, g.i, 8) AS shingle
              FROM documents d,
                   LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 7, 0), 8)) AS i) g
              WHERE length(substr(d.text, g.i, 8)) = 8
            ) s
            GROUP BY s.shingle HAVING count(*) >= 3
            ORDER BY cnt DESC, s.shingle LIMIT 50
        """,
        "doc_position_char_profile": """
            SELECT CAST(floor((g.i - 1) / 10) AS BIGINT) AS pos_bucket,
                   count(*) AS chars,
                   CAST(sum(CASE WHEN substr(d.text, g.i, 1) BETWEEN 'a' AND 'z' THEN 1 ELSE 0 END) AS BIGINT) AS alpha,
                   CAST(sum(CASE WHEN substr(d.text, g.i, 1) = ' ' THEN 1 ELSE 0 END) AS BIGINT) AS spaces,
                   CAST(sum(CASE WHEN substr(d.text, g.i, 1) BETWEEN '0' AND '9' THEN 1 ELSE 0 END) AS BIGINT) AS digits
            FROM documents d,
                 LATERAL (SELECT unnest(generate_series(1, least(length(d.text), 100))) AS i) g
            WHERE length(d.text) > 0
            GROUP BY 1 ORDER BY 1
        """,
        "doc_log_length_histogram": """
            SELECT CAST(floor(ln(greatest(n_chars, 1)) / ln(2)) AS BIGINT) AS log2_bucket,
                   count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "doc_per_source_deviation": """
            WITH per AS (
              SELECT source, count(*) AS docs, sum(n_chars) AS total_chars
              FROM documents GROUP BY source
            ), g AS (
              SELECT *, CAST(floor(10000.0 * total_chars / docs) AS BIGINT) AS mean_chars_bps,
                     CAST(floor(10000.0 * sum(total_chars) OVER () / sum(docs) OVER ()) AS BIGINT) AS global_mean_bps
              FROM per
            )
            SELECT source, docs, mean_chars_bps, global_mean_bps,
                   mean_chars_bps - global_mean_bps AS deviation_bps,
                   mean_chars_bps * 2 < global_mean_bps AS flagged
            FROM g ORDER BY source
        """,
        "doc_top_per_source": """
            WITH r AS (
              SELECT source, doc_id, n_chars,
                     row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rn
              FROM documents
            )
            SELECT source, doc_id AS top_doc_id, n_chars AS top_chars
            FROM r WHERE rn = 1 ORDER BY source
        """,
        "doc_deterministic_sample": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE substr(md5(text), 1, 1) IN ('0', '1') ORDER BY doc_id
        """,
        "doc_length_percentiles": """
            WITH h AS (
              SELECT n_chars, count(*) AS docs FROM documents GROUP BY n_chars
            ), c AS (
              SELECT n_chars,
                     sum(docs) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
              FROM h
            ), m AS (
              SELECT n_chars, cum, max(cum) OVER () AS total FROM c
            )
            SELECT min(CASE WHEN cum >= ceil(total * 25 / 100) THEN n_chars END) AS p25,
                   min(CASE WHEN cum >= ceil(total * 50 / 100) THEN n_chars END) AS p50,
                   min(CASE WHEN cum >= ceil(total * 75 / 100) THEN n_chars END) AS p75,
                   min(CASE WHEN cum >= ceil(total * 90 / 100) THEN n_chars END) AS p90,
                   min(CASE WHEN cum >= ceil(total * 99 / 100) THEN n_chars END) AS p99
            FROM m
        """,
        "doc_alpha_ratio_histogram": """
            SELECT CAST(floor(CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / length(text)) AS BIGINT) / 200) AS BIGINT) AS alpha_pct2_bucket,
                   count(*) AS docs
            FROM documents WHERE length(text) > 0
            GROUP BY 1 ORDER BY 1
        """,
        "pages_time_window": """
            WITH pages AS (
              SELECT 'https://' || source || '.example.org' AS host,
                     TIMESTAMP '2025-06-01 00:00:00' + to_seconds(doc_id * 61) AS warc_ts,
                     length(text) AS n
              FROM documents
            )
            SELECT CAST(date_trunc('hour', warc_ts) AS TIMESTAMP) AS hour,
                   count(*) AS docs, count(DISTINCT host) AS distinct_hosts,
                   CAST(sum(n) AS BIGINT) AS chars
            FROM pages GROUP BY 1 ORDER BY 1
        """,
        "pages_host_report": """
            SELECT source || '.example.org' AS host, count(*) AS docs,
                   CAST(sum(length(text)) AS BIGINT) AS total_chars,
                   min(length(text)) AS min_chars, max(length(text)) AS max_chars
            FROM documents GROUP BY 1 ORDER BY 1
        """,
        "doc_probe_position_curve": """
            WITH hits AS (
              SELECT 'data' AS probe, strpos(text, 'data') AS pos FROM documents WHERE strpos(text, 'data') > 0
              UNION ALL
              SELECT 'query', strpos(text, 'query') FROM documents WHERE strpos(text, 'query') > 0
              UNION ALL
              SELECT 'table', strpos(text, 'table') FROM documents WHERE strpos(text, 'table') > 0
            ), h AS (
              SELECT probe, CAST(floor((pos - 1) / 20) * 20 AS BIGINT) AS pos_bucket, count(*) AS docs
              FROM hits GROUP BY 1, 2
            )
            SELECT probe, pos_bucket, docs,
                   CAST(sum(docs) OVER (PARTITION BY probe ORDER BY pos_bucket ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_docs
            FROM h ORDER BY probe, pos_bucket
        """,
        "doc_bottom_decile": """
            WITH r AS (
              SELECT source, n_chars,
                     percent_rank() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS pr
              FROM documents
            )
            SELECT source, count(*) AS bottom_docs,
                   CAST(floor(10000.0 * sum(n_chars) / count(*)) AS BIGINT) AS bottom_mean_bps
            FROM r WHERE pr <= 0.1 GROUP BY source ORDER BY source
        """,
        "doc_token_count_bpeish": """
            SELECT source, count(*) AS docs,
                   CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS BIGINT) AS bpeish_tokens,
                   CAST(sum(length(text) - length(regexp_replace(text, '[ ]', '', 'g')) + 1) AS BIGINT) AS ws_tokens
            FROM documents WHERE length(text) > 0
            GROUP BY source ORDER BY source
        """,
        "doc_corpus_summary": """
            SELECT count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
                   min(n_chars) AS min_chars, max(n_chars) AS max_chars,
                   count(DISTINCT source) AS distinct_sources,
                   count(DISTINCT lang) AS distinct_langs
            FROM documents
        """,
        "doc_n50_report": """
            WITH h AS (
              SELECT n_chars, CAST(sum(n_chars) AS BIGINT) AS chars
              FROM documents GROUP BY n_chars
            ), c AS (
              SELECT n_chars,
                     CAST(sum(chars) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
              FROM h
            ), m AS (
              SELECT n_chars, cum, max(cum) OVER () AS total FROM c
            )
            SELECT min(CASE WHEN cum * 2 >= total THEN n_chars END) AS n50_chars,
                   min(CASE WHEN cum * 10 >= total THEN n_chars END) AS n90_chars
            FROM m
        """,
        "doc_stratified_sample": """
            WITH r AS (
              SELECT source, doc_id,
                     row_number() OVER (PARTITION BY source ORDER BY md5(text), doc_id) AS rn
              FROM documents
            )
            SELECT source, doc_id, CAST(rn AS BIGINT) AS pick_rank
            FROM r WHERE rn <= 3 ORDER BY source, pick_rank
        """,
        "doc_source_mixture_weights": """
            WITH scored AS (
              SELECT source,
                     (CASE WHEN length(text) >= 50 THEN 1 ELSE 0 END
                      + CASE WHEN length(text) <= 100000 THEN 1 ELSE 0 END
                      + CASE WHEN length(text) - length(regexp_replace(text, '[ ]', '', 'g')) + 1 >= 10 THEN 1 ELSE 0 END
                      + CASE WHEN CAST(floor(10000.0 * (length(text) - length(regexp_replace(text, '[a-z]', '', 'g'))) / greatest(length(text), 1)) AS BIGINT) >= 5000 THEN 1 ELSE 0 END) AS score
              FROM documents WHERE text IS NOT NULL
            ), per AS (
              SELECT source, count(*) AS docs, CAST(sum(score) AS BIGINT) AS gates_sum
              FROM scored GROUP BY source
            )
            SELECT source, docs, gates_sum,
                   CAST(floor(10000.0 * gates_sum / greatest(sum(gates_sum) OVER (), 1)) AS BIGINT) AS weight_bps
            FROM per ORDER BY source
        """,
        "doc_winnow_sql": """
            WITH grams AS (
              SELECT d.doc_id, g.i AS pos,
                     substr(md5(substr(d.text, g.i, 8)), 1, 8) AS gram_hash
              FROM documents d,
                   LATERAL (SELECT unnest(generate_series(1, length(d.text) - 7)) AS i) g
              WHERE d.doc_id < 100 AND length(d.text) >= 8
            ), fps AS (
              SELECT doc_id, pos,
                     min(gram_hash) OVER (PARTITION BY doc_id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
                     count(*) OVER (PARTITION BY doc_id) AS n_grams
              FROM grams
            )
            SELECT doc_id, count(DISTINCT fp) AS n_fingerprints,
                   min(fp) AS min_fp, max(fp) AS max_fp
            FROM fps WHERE pos <= n_grams - 3
            GROUP BY doc_id ORDER BY doc_id
        """,
        "doc_boilerplate_id": """
            WITH overrep AS (
              SELECT s.shingle, count(*) AS cnt FROM (
                SELECT DISTINCT d.doc_id, substr(d.text, g.i, 8) AS shingle
                FROM documents d,
                     LATERAL (SELECT unnest(generate_series(1, greatest(length(d.text) - 7, 0), 8)) AS i) g
                WHERE length(substr(d.text, g.i, 8)) = 8
              ) s
              GROUP BY s.shingle HAVING count(*) >= 3
              ORDER BY cnt DESC, s.shingle LIMIT 50
            ), boiler(name, content) AS (
              VALUES ('customer-notice', 'dear customer your account statement is ready'),
                     ('sql-reference', 'select filter window column from stream'),
                     ('cookie-banner', 'we use cookies to improve your experience')
            ), tiers AS (
              SELECT o.shingle, b.name, t.tier
              FROM overrep o
              JOIN (VALUES (0, 8), (1, 6), (2, 4)) t(tier, k) ON TRUE
              JOIN boiler b ON contains(b.content, substr(o.shingle, 1, t.k))
            ), best AS (
              SELECT shingle, name, tier,
                     row_number() OVER (PARTITION BY shingle ORDER BY tier, name) AS rn
              FROM tiers
            ), scored AS (
              SELECT s.shingle, s.name, s.tier,
                     CAST(floor(10000.0 * sum(CASE WHEN contains(bo.content, substr(s.shingle, g.i, 4)) THEN 1 ELSE 0 END)
                                / greatest(length(s.shingle) - 3, 1)) AS BIGINT) AS match_score_bps
              FROM (SELECT * FROM best WHERE rn = 1) s
              JOIN boiler bo ON bo.name = s.name,
                   LATERAL (SELECT unnest(generate_series(1, greatest(length(s.shingle) - 3, 1))) AS i) g
              GROUP BY s.shingle, s.name, s.tier
            )
            SELECT o.shingle, o.cnt, b.name AS best_match,
                   CAST(b.tier AS BIGINT) AS match_tier, b.match_score_bps
            FROM overrep o LEFT JOIN scored b
              ON o.shingle = b.shingle
            ORDER BY o.cnt DESC, o.shingle
        """,
        "media_kind_stats": """
            WITH media AS (
              SELECT CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
                     text, (n_chars % 5000) + 500 AS duration_ms
              FROM documents
            )
            SELECT kind, count(*) AS n_media,
                   CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
                   count(DISTINCT md5(text)) AS distinct_payloads,
                   CAST(max(duration_ms) AS INTEGER) AS max_duration_ms
            FROM media GROUP BY kind ORDER BY kind
        """,
        "media_frame_sample": """
            WITH media AS (
              SELECT 'media-' || CAST(doc_id AS VARCHAR) AS media_id,
                     doc_id % 3 AS k, (n_chars % 5000) + 500 AS duration_ms
              FROM documents
            )
            SELECT media_id, CAST(g.i AS BIGINT) AS frame_idx,
                   CAST(g.i * 1000 AS BIGINT) AS frame_ts_ms
            FROM media,
                 LATERAL (SELECT unnest(generate_series(0, CAST(greatest(ceil(duration_ms / 1000.0), 1) AS BIGINT) - 1)) AS i) g
            WHERE k = 2
            ORDER BY media_id, frame_idx
        """,
        "doc_paragraph_dedup": """
            WITH words AS (
                SELECT doc_id,
                       unnest(string_split(text, ' ')) AS w,
                       unnest(range(len(string_split(text, ' ')))) AS i
                FROM documents
            ), paras AS (
                SELECT doc_id, CAST(i // 20 AS INT) AS pid,
                       string_agg(w, ' ' ORDER BY i) AS para
                FROM words GROUP BY doc_id, i // 20
            ), firsts AS (
                -- integer first-occurrence key: pid < 2^20 holds for any
                -- document under ~20M words at 20 words/paragraph (the
                -- Spark side uses min(struct) with no bound at all)
                SELECT para, min(doc_id * 1048576 + pid) AS fk
                FROM paras GROUP BY para
            ), survivors AS (
                SELECT CAST(fk // 1048576 AS BIGINT) AS doc_id,
                       CAST(fk % 1048576 AS INT) AS pid, para
                FROM firsts
            ), recon AS (
                SELECT doc_id, CAST(count(*) AS INT) AS n_kept,
                       string_agg(para, ' ' ORDER BY pid) AS text_dedup
                FROM survivors GROUP BY doc_id
            ), stats AS (
                SELECT doc_id,
                       CAST((len(string_split(text, ' ')) + 19) // 20 AS INT) AS n_paras
                FROM documents
            )
            SELECT s.doc_id, s.n_paras,
                   COALESCE(r.n_kept, 0) AS n_kept,
                   COALESCE(r.text_dedup, '') AS text_dedup
            FROM stats s LEFT JOIN recon r USING (doc_id)
            ORDER BY doc_id
        """,
        "doc_gopher_line_stats": """
            WITH t AS (
              SELECT doc_id,
                     string_split(text, chr(10)) AS lines,
                     string_split(text, ' ') AS words,
                     length(text) - length(replace(text, '...', '')) AS dot_chars,
                     length(text) - length(regexp_replace(text, '[#]', '', 'g')) AS hashes
              FROM documents WHERE length(text) > 0
            )
            SELECT doc_id,
                   CAST(len(lines) AS BIGINT) AS n_lines,
                   CAST(floor(10000.0 * len(list_filter(lines, l -> starts_with(l, '- ') OR starts_with(l, '* ') OR starts_with(l, '•'))) / len(lines)) AS BIGINT) AS bullet_line_bps,
                   CAST(floor(10000.0 * len(list_filter(lines, l -> ends_with(l, '...') OR ends_with(l, '…'))) / len(lines)) AS BIGINT) AS ellipsis_line_bps,
                   CAST(floor(10000.0 * len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) / len(words)) AS BIGINT) AS alpha_word_bps,
                   CAST(floor(10000.0 * (hashes + dot_chars // 3) / len(words)) AS BIGINT) AS symbol_word_bps
            FROM t ORDER BY doc_id
        """,
        "doc_dup_line_chars": """
            WITH l AS (
              SELECT doc_id, unnest(string_split(text, chr(10))) AS line
              FROM documents WHERE length(text) > 0
            ), g AS (
              SELECT doc_id, line, count(*) AS c, length(line) AS len
              FROM l WHERE length(line) > 0 GROUP BY doc_id, line
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_lines,
                   CAST(count(*) AS BIGINT) AS n_distinct_lines,
                   CAST(sum(len * c) AS BIGINT) AS line_chars,
                   CAST(floor(10000.0 * (sum(len * c) - sum(len)) / sum(len * c)) AS BIGINT) AS dup_char_bps
            FROM g GROUP BY doc_id ORDER BY doc_id
        """,
        "doc_top_bigram_mass": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS words, length(text) AS n
              FROM documents
              WHERE length(text) > 0 AND len(string_split(text, ' ')) >= 2
            ), g AS (
              SELECT doc_id, n, array_to_string(words[i:i+1], ' ') AS gram
              FROM t, LATERAL (SELECT unnest(generate_series(1, len(words) - 1)) AS i) s
            ), c AS (
              SELECT doc_id, n, gram, count(*) AS c FROM g GROUP BY doc_id, n, gram
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_grams,
                   CAST(max(c * length(gram)) AS BIGINT) AS top_bigram_chars,
                   CAST(floor(10000.0 * max(c * length(gram)) / n) AS BIGINT) AS top_bigram_bps
            FROM c GROUP BY doc_id, n ORDER BY doc_id
        """,
        "doc_dup_ngram_mass": """
            WITH t AS (
              SELECT doc_id, string_split(text, ' ') AS words
              FROM documents
              WHERE length(text) > 0 AND len(string_split(text, ' ')) >= 5
            ), g AS (
              SELECT doc_id, array_to_string(words[i:i+4], ' ') AS gram
              FROM t, LATERAL (SELECT unnest(generate_series(1, len(words) - 4)) AS i) s
            ), c AS (
              SELECT doc_id, gram, count(*) AS c FROM g GROUP BY doc_id, gram
            )
            SELECT doc_id,
                   CAST(sum(c) AS BIGINT) AS n_grams,
                   CAST(sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END) AS BIGINT) AS dup_gram_chars,
                   CAST(floor(10000.0 * sum(CASE WHEN c > 1 THEN c * length(gram) ELSE 0 END)
                              / sum(c * length(gram))) AS BIGINT) AS dup_gram_bps
            FROM c GROUP BY doc_id ORDER BY doc_id
        """,
        "dedup_exact_groups": """
            SELECT md5(text) AS digest, count(*) AS n_docs, min(doc_id) AS keeper
            FROM documents GROUP BY 1 HAVING count(*) >= 2 ORDER BY digest
        """,
        "dedup_fingerprint_histogram": """
            WITH fp AS (
              SELECT md5(substr(text, 1, 16)
                         || substr(text, greatest(length(text) - 15, 1), 16)
                         || CAST(CAST(floor(length(text) / 64) AS BIGINT) AS VARCHAR)) AS fingerprint
              FROM documents
            ), counts AS (
              SELECT fingerprint, count(*) AS dup_count FROM fp GROUP BY 1
            )
            SELECT dup_count, count(*) AS n_fingerprints FROM counts
            GROUP BY dup_count ORDER BY dup_count
        """,
        "events_hourly_report": """
            SELECT date_trunc('hour', ts) AS hour, count(*) AS events,
                   count(DISTINCT user_id) AS distinct_users,
                   CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) * 100) AS BIGINT) AS value_sum_cents
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "events_type_totals": """
            SELECT event_type, count(*) AS events,
                   count(DISTINCT user_id) AS distinct_users,
                   CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) * 100) AS BIGINT) AS value_sum_cents
            FROM events GROUP BY event_type ORDER BY event_type
        """,
        "events_daily_cumulative": """
            WITH d AS (
              SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, count(*) AS events
              FROM events GROUP BY 1, 2
            )
            SELECT event_type, day, events,
                   CAST(sum(events) OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_events
            FROM d ORDER BY event_type, day
        """,
        "events_sessionize": """
            WITH ordered AS (
              SELECT user_id, ts, event_id,
                     lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
              FROM events
            ), flagged AS (
              SELECT user_id, ts, event_id,
                     CASE WHEN prev_ts IS NULL
                               OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS s
              FROM ordered
            ), sess AS (
              SELECT user_id,
                     sum(s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
              FROM flagged
            ), per_session AS (
              SELECT user_id, session_id, count(*) AS session_events
              FROM sess GROUP BY 1, 2
            )
            SELECT user_id, count(*) AS n_sessions,
                   max(session_events) AS max_session_events,
                   CAST(sum(session_events) AS BIGINT) AS total_events
            FROM per_session GROUP BY user_id ORDER BY user_id
        """,
        "events_top_users": """
            SELECT user_id,
                   CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) * 100) AS BIGINT) AS value_sum_cents,
                   count(*) AS events
            FROM events GROUP BY user_id ORDER BY value_sum_cents DESC, user_id LIMIT 25
        """,
        "events_type_daily_pivot": """
            SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
                   CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
                   CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error,
                   CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
                   CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
                   CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
                   CAST(sum(CASE WHEN event_type IS NULL OR event_type NOT IN ('click','error','purchase','signup','view') THEN 1 ELSE 0 END) AS BIGINT) AS n_other
            FROM events GROUP BY 1 ORDER BY 1
        """,
        "events_asof_join": """
            SELECT e.event_id, e.user_id, e.ts, c.ts AS click_ts
            FROM (SELECT * FROM events WHERE event_type = 'error') e
            ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
              ON e.user_id = c.user_id AND e.ts >= c.ts
            ORDER BY e.event_id
        """,
        "events_props_json": """
            SELECT event_type, count(*) AS events,
                   CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
                   min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
                   max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max
            FROM events
            WHERE json_extract_string(props, '$.k') IS NOT NULL
            GROUP BY event_type ORDER BY event_type
        """,
        "doc_token_zipf_mass": """
            WITH toks AS (
              SELECT source, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE length(text) > 0
            ), per_src AS (
              SELECT source, tok, count(*) AS src_cnt FROM toks GROUP BY 1, 2
            ), gcounts AS (
              SELECT tok, CAST(sum(src_cnt) AS BIGINT) AS g_cnt
              FROM per_src GROUP BY tok
            ), per AS (
              SELECT p.source, CAST(sum(p.src_cnt) AS BIGINT) AS tokens,
                     sum(CAST(p.src_cnt AS DECIMAL(19,0)) * CAST(g.g_cnt AS DECIMAL(19,0))) AS mass_dec
              FROM per_src p JOIN gcounts g USING (tok) GROUP BY p.source
            ), tot AS (
              SELECT *, CAST(sum(tokens) OVER () AS BIGINT) AS _total FROM per
            )
            SELECT source, tokens,
                   CASE WHEN mass_dec <= 9223372036854775807
                        THEN CAST(mass_dec AS BIGINT) END AS zipf_mass,
                   CASE WHEN CAST(tokens AS DECIMAL(19,0)) * CAST(_total AS DECIMAL(19,0)) <= 9223372036854775807
                         AND mass_dec <= 9223372036854
                        THEN CAST((1000000 * CAST(mass_dec AS BIGINT)) // (tokens * _total) AS BIGINT)
                   END AS mean_tok_freq_ppm
            FROM tot ORDER BY source
        """,
        "doc_ppl_surprisal_histogram": """
            WITH toks AS (
              SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok
              FROM documents WHERE length(text) > 0
            ), per_doc AS (
              SELECT doc_id, source, tok, count(*) AS cnt FROM toks GROUP BY 1, 2, 3
            ), gcounts AS (
              SELECT tok, CAST(sum(cnt) AS BIGINT) AS g_cnt FROM per_doc GROUP BY tok
            ), tot AS (
              SELECT CAST(sum(g_cnt) AS BIGINT) AS total FROM gcounts
            ), bits AS (
              SELECT tok, CAST(length(format('{:b}', total // g_cnt)) - 1 AS BIGINT) AS tok_bits
              FROM gcounts, tot
            ), per AS (
              SELECT p.doc_id, p.source,
                     CAST(sum(p.cnt * b.tok_bits) AS BIGINT) AS s,
                     CAST(sum(p.cnt) AS BIGINT) AS n
              FROM per_doc p JOIN bits b USING (tok) GROUP BY 1, 2
            )
            SELECT source, CAST(s // n AS BIGINT) AS surprisal_bits, count(*) AS docs
            FROM per GROUP BY 1, 2 ORDER BY source, surprisal_bits
        """,
        "doc_decontaminate": """
            WITH probes AS (
              SELECT doc_id AS probe_doc, substr(text, 1, 16) AS probe
              FROM documents WHERE n_chars >= 200 ORDER BY doc_id LIMIT 20
            )
            SELECT p.probe_doc, p.probe, count(*) AS contaminated_docs,
                   min(d.doc_id) AS first_doc
            FROM probes p JOIN documents d
              ON d.doc_id <> p.probe_doc AND contains(d.text, p.probe)
            GROUP BY 1, 2 ORDER BY 1
        """,
        # the winnow-path twin runs a fingerprint equi-join + exact
        # verify on the Spark side; the oracle is the plain contains()
        # semantics it must be exactly equivalent to (probe length 24
        # >= the w+k-1 = 23 winnowing guarantee threshold)
        "doc_decontaminate_winnow": """
            WITH probes AS (
              SELECT doc_id AS probe_doc, substr(text, 1, 24) AS probe
              FROM documents WHERE n_chars >= 200 ORDER BY doc_id LIMIT 20
            )
            SELECT p.probe_doc, p.probe, count(*) AS contaminated_docs,
                   min(d.doc_id) AS first_doc
            FROM probes p JOIN documents d
              ON d.doc_id <> p.probe_doc AND contains(d.text, p.probe)
            GROUP BY 1, 2 ORDER BY 1
        """,
        "doc_type_token_ratio": """
            WITH toks AS (
              SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
            )
            SELECT source, count(*) AS tokens, count(DISTINCT tok) AS distinct_tokens,
                   CAST(floor(10000.0 * count(DISTINCT tok) / count(*)) AS BIGINT) AS ttr_bps
            FROM toks GROUP BY source ORDER BY source
        """,
        "events_hourly_anomaly": """
            WITH h AS (
              SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS events
              FROM events GROUP BY 1, 2
            ), w AS (
              SELECT event_type, hour, events,
                     CAST(count(*) OVER fr AS BIGINT) AS trailing_slots,
                     CAST(coalesce(sum(events) OVER fr, 0) AS BIGINT) AS trailing_events,
                     CAST(coalesce(sum(events * events) OVER fr, 0) AS BIGINT) AS sq
              FROM h
              WINDOW fr AS (PARTITION BY event_type ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)
            )
            SELECT event_type, hour, events, trailing_slots, trailing_events,
                   CASE WHEN trailing_slots >= 12 THEN
                     CAST(CAST(trailing_slots AS DECIMAL(19,0)) * events - trailing_events AS DECIMAL(19,0))
                       * CAST(CAST(trailing_slots AS DECIMAL(19,0)) * events - trailing_events AS DECIMAL(19,0))
                     > CAST(9 AS DECIMAL(1,0))
                       * CAST(CAST(trailing_slots AS DECIMAL(19,0)) * sq
                              - CAST(trailing_events AS DECIMAL(19,0)) * trailing_events AS DECIMAL(37,0))
                   END AS is_spike
            FROM w ORDER BY event_type, hour
        """,
        "events_gap_stats": """
            WITH g AS (
              SELECT user_id,
                     date_diff('second', lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s
              FROM events
            )
            SELECT user_id, count(*) AS gaps,
                   CAST(floor(avg(gap_s)) AS BIGINT) AS mean_gap_s,
                   max(gap_s) AS max_gap_s
            FROM g WHERE gap_s IS NOT NULL
            GROUP BY user_id ORDER BY user_id
        """,
        "events_funnel": """
            WITH signups AS (
              SELECT user_id, min(ts) AS first_signup
              FROM events WHERE event_type = 'signup' GROUP BY user_id
            ), conv AS (
              SELECT s.user_id, s.first_signup, min(p.ts) AS first_purchase
              FROM signups s
              LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'purchase') p
                ON p.user_id = s.user_id AND p.ts >= s.first_signup
              GROUP BY s.user_id, s.first_signup
            )
            SELECT user_id, first_signup, first_purchase,
                   first_purchase IS NOT NULL AS converted,
                   CAST(date_diff('second', first_signup, first_purchase) AS BIGINT) AS secs_to_convert
            FROM conv ORDER BY user_id
        """,
        "events_retention": """
            WITH activity AS (
              SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events
            ), first_day AS (
              SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
            ), joined AS (
              SELECT a.user_id, CAST(f.cohort_day AS TIMESTAMP) AS cohort_day,
                     CAST(date_diff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset
              FROM activity a JOIN first_day f ON a.user_id = f.user_id
            )
            SELECT cohort_day, day_offset, count(DISTINCT user_id) AS active_users
            FROM joined WHERE day_offset <= 7
            GROUP BY cohort_day, day_offset ORDER BY cohort_day, day_offset
        """,
        "events_value_percentiles": """
            WITH h AS (
              SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents, count(*) AS n
              FROM events GROUP BY 1, 2
            ), c AS (
              SELECT event_type, cents,
                     sum(n) OVER (PARTITION BY event_type ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                     sum(n) OVER (PARTITION BY event_type) AS total
              FROM h
            )
            SELECT event_type,
                   min(CASE WHEN cum >= ceil(total * 50 / 100) THEN cents END) AS p50_cents,
                   min(CASE WHEN cum >= ceil(total * 95 / 100) THEN cents END) AS p95_cents,
                   min(CASE WHEN cum >= ceil(total * 99 / 100) THEN cents END) AS p99_cents
            FROM c GROUP BY event_type ORDER BY event_type
        """,
        "pages_distinct_urls_salted": """
            WITH pages AS (
              SELECT source || '.example.org' AS host,
                     'https://' || source || '.example.org/doc-' || CAST(doc_id AS VARCHAR) AS url
              FROM documents
            )
            SELECT host, count(DISTINCT url) AS distinct_urls
            FROM pages GROUP BY host ORDER BY host
        """,
        "emb_norms": """
            SELECT vec_id, label,
                   CAST(floor(10000 * sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)))) AS BIGINT) AS norm_bps
            FROM embeddings ORDER BY vec_id
        """,
        "emb_brute_force_topk": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10
            ), pairs AS (
              SELECT q.query_id, e.vec_id AS neighbor_id,
                     list_sum(list_transform(list_zip(q.q_emb, e.embedding), p -> CAST(p[1] AS DOUBLE) * p[2])) AS sim
              FROM embeddings e, q WHERE e.vec_id <> q.query_id
            ), ranked AS (
              SELECT query_id, neighbor_id, sim,
                     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              FROM pairs
            )
            SELECT query_id, neighbor_id, rank,
                   CAST(floor(10000 * sim) AS BIGINT) AS sim_bps
            FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
        """,
        "emb_knn_label_vote": """
            WITH q AS (
              SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 20
            ), pairs AS (
              SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neighbor_label,
                     list_sum(list_transform(list_zip(q.q_emb, e.embedding), p -> CAST(p[1] AS DOUBLE) * p[2])) AS sim
              FROM embeddings e, q WHERE e.vec_id <> q.query_id
            ), ranked AS (
              SELECT query_id, neighbor_id, neighbor_label,
                     row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
              FROM pairs
            ), votes AS (
              SELECT query_id, neighbor_label, count(*) AS votes
              FROM ranked WHERE rank <= 5 GROUP BY 1, 2
            ), best AS (
              SELECT query_id, neighbor_label AS predicted_label, votes,
                     row_number() OVER (PARTITION BY query_id ORDER BY votes DESC, neighbor_label) AS rn
              FROM votes
            )
            SELECT query_id, predicted_label, votes FROM best WHERE rn = 1 ORDER BY query_id
        """,
        "rel_pricing_rollup": """
            SELECT l_returnflag, l_linestatus, count(*) AS orders,
                   CAST(floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(30,6)) * 100) AS BIGINT) AS sum_qty_cents
            FROM lineitem
            GROUP BY ROLLUP (l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
        "rel_value_band_join": """
            WITH bands(band, lo, hi) AS (
              VALUES ('low', 0.0, 10.0), ('mid', 10.0, 100.0), ('high', 100.0, 1e9)
            )
            SELECT band, count(*) AS events,
                   CAST(floor(CAST(sum(CAST(value AS DECIMAL(18,6))) AS DECIMAL(30,6)) * 100) AS BIGINT) AS value_sum_cents
            FROM events JOIN bands ON value >= lo AND value < hi
            GROUP BY band ORDER BY band
        """,
        "rel_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   CAST(floor(CAST(sum(CAST(l_quantity AS DECIMAL(18,6))) AS DECIMAL(30,6)) * 100) AS BIGINT) AS sum_qty_cents,
                   CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DECIMAL(30,6)) * 100) AS BIGINT) AS sum_base_price_cents,
                   CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(30,12)) * 100) AS BIGINT) AS sum_disc_price_cents,
                   count(*) AS count_order
            FROM lineitem WHERE l_shipdate <= DATE '1998-09-02'
            GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
        """,
        "rel_top_unshipped": """
            SELECT l_orderkey, o_orderdate,
                   CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(30,12)) * 100) AS BIGINT) AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < DATE '1995-03-15' AND l_shipdate > DATE '1995-03-15'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue_cents DESC, l_orderkey LIMIT 10
        """,
        "rel_region_revenue": """
            SELECT n_name,
                   CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(30,12)) * 100) AS BIGINT) AS revenue_cents
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= DATE '1994-01-01' AND o_orderdate < DATE '1995-01-01'
            GROUP BY n_name ORDER BY revenue_cents DESC, n_name
        """,
        "rel_part_type_share": """
            WITH per AS (
              SELECT p_type, count(*) AS line_items,
                     CAST(floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)) * (CAST(1 AS DECIMAL(18,6)) - CAST(l_discount AS DECIMAL(18,6)))) AS DECIMAL(30,12)) * 100) AS BIGINT) AS revenue_cents
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= DATE '1995-09-01' AND l_shipdate < DATE '1995-10-01'
              GROUP BY p_type
            )
            SELECT p_type, line_items, revenue_cents,
                   CASE WHEN revenue_cents <= 922337203685477
                         AND sum(CAST(revenue_cents AS DECIMAL(19,0))) OVER () <= 9223372036854775807
                        THEN CAST((10000 * revenue_cents)
                                  // CAST(sum(CAST(revenue_cents AS DECIMAL(19,0))) OVER () AS BIGINT) AS BIGINT)
                   END AS revenue_share_bps
            FROM per ORDER BY p_type
        """,
        "rel_order_priority": """
            SELECT o_orderpriority, count(*) AS order_count
            FROM orders WHERE EXISTS (
              SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey
            )
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "rel_customers_no_orders": """
            SELECT c_mktsegment, count(*) AS n_customers
            FROM customer WHERE NOT EXISTS (
              SELECT 1 FROM orders WHERE o_custkey = c_custkey
            )
            GROUP BY c_mktsegment ORDER BY c_mktsegment
        """,
    }
