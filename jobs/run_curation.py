#!/usr/bin/env python
"""spark-submit entry point for end-to-end corpus CURATION over a
documents table: compose the quality gates, exact+near dedup keepers,
and test-set decontamination into one curated output — the workflow a
training-data pipeline actually runs (filter -> dedup -> decontaminate
-> write), built entirely from the engine's existing operators.

    spark-submit --py-files dist/sequali_spark.zip jobs/run_curation.py \\
      --input  <dir with documents.parquet>  \\
      --output <curated parquet dir> [--stats stats.json] \\
      [--dedup-threshold 0.8] [--min-gates 4]

Drop precedence (each doc gets ONE drop_reason, checked in this order):
  quality        fewer than --min-gates heuristic gates passed
  duplicate      non-keeper of an exact/near dup cluster; the keeper is
                 re-elected among members that survive the OTHER passes
                 (see curate) so a cluster whose min-id member fails the
                 gates still keeps a clean representative
  contaminated   contains a benchmark probe; the job picks the
                 broadcast theta-join or, once the --probes table
                 exceeds the broadcast guard, the winnowed equi-join
                 (see _decon_hits) — both give the same decisions

Stats JSON reconciles exactly: kept + dropped_* == input docs.

Resume story: the expensive stage (the per-doc decision table — gates,
dedup sketch+components, decontamination) is CHECKPOINTED to
<output>_decisions by runtime.checkpoint.stage, alongside a one-row
manifest of the producing invocation (input path + parameters); a
re-invocation after a crash reuses the checkpoint ONLY when the
manifest matches (a changed --min-gates/--input recomputes instead of
silently curating with stale decisions), and only re-runs the cheap
output join (--force always recomputes).  The gate
battery is per-doc and could also run under runtime.lineage day-units,
but keeper selection and decontamination are corpus-GLOBAL joins — they
cannot be computed per-unit without changing semantics, so the honest
resume granularity is the stage, not the partition.
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _decon_hits(docs: DataFrame, probes: DataFrame | None) -> DataFrame:
    """Route decontamination by probe-table size: the broadcast
    contains() theta-join for benchmark-scale probe sets (KB-MB), the
    winnowed-fingerprint equi-join once the table exceeds
    MAX_BROADCAST_PROBES (past which the broadcast path raises) — ONE
    bounded limit+count job decides.

    Both routes produce IDENTICAL hits for guarantee-length probes
    (>= w+k-1 = 23 chars; equivalence pinned by
    tests/test_textqc_decon.py), which is why the resume manifest does
    not fingerprint the route: the decision table is route-independent."""
    from sequali_spark.operators import textqc

    if probes is None:
        return textqc.decontamination_hits(docs)
    cap = textqc.MAX_BROADCAST_PROBES
    if probes.limit(cap + 1).count() > cap:
        return textqc.decontamination_hits_winnow(docs, probes)
    return textqc.decontamination_hits(docs, probes=probes)


def curate(
    spark: SparkSession,
    sf_dir: str,
    dedup_threshold: float = 0.8,
    min_gates: int = 4,
    probes: DataFrame | None = None,
    docs: DataFrame | None = None,
) -> DataFrame:
    """documents + per-doc drop decision: (doc_id, source, n_chars,
    keep, drop_reason).  All three passes (gate battery, dedup sketch,
    decontamination) read the SAME docs frame — pass a persisted one to
    share a single materialized scan — and join back on doc_id only
    (never re-shuffling text).  ``probes`` is the benchmark table
    (probe_doc, probe) for decontamination; default = the corpus-derived
    demo set.

    Keeper election is SURVIVOR-AWARE: the cluster representative is
    the min doc_id among members that would survive the other gates
    (quality-passing and uncontaminated first, then quality-passing,
    then any member).  Electing blindly by min doc_id would delete an
    entire near-dup cluster whenever its min-id member happens to fail
    the quality gates — that member drops as 'quality' while every
    other member drops as 'duplicate', so no representative survives
    even when other members are clean (the 'filter -> dedup' workflow
    implies a surviving representative when one exists)."""
    from sequali_spark.operators import dedup, textqc
    from sequali_spark.sources.tables import load

    if docs is None:
        docs = load(spark, sf_dir, "documents")

    gates = textqc.quality_score(spark, sf_dir, docs=docs).select(
        "doc_id", "gates_passed"
    )
    contaminated = (
        _decon_hits(docs, probes)
        .select("doc_id")
        .distinct()
        .withColumn("_is_contaminated", F.lit(True))
    )
    clusters = dedup.dedup_keepers(
        spark, sf_dir, threshold=dedup_threshold, docs=docs
    ).select("doc_id", "component")
    # re-elect the keeper among members that survive the other passes:
    # 0 = gate-passing and uncontaminated, 1 = gate-passing, 2 = any
    members = clusters.join(gates, "doc_id", "left").join(
        contaminated, "doc_id", "left"
    )
    passes = F.coalesce("gates_passed", F.lit(0)) >= min_gates
    clean = ~F.coalesce("_is_contaminated", F.lit(False))
    prio = F.when(passes & clean, 0).when(passes, 1).otherwise(2)
    # per-cluster election via map-side-combining groupBy + join back,
    # NOT min-over-window partitioned by component (r8 excision, same
    # as keepers_from_labeled_sigs): star-capping bounds candidate
    # PAIRS per bucket, not component membership — a mega-duplicated
    # boilerplate page is one component with its full copy count, and
    # an unbounded window would buffer that membership on one task.
    # The groupBy ships one (component, keeper) row per cluster; the
    # join back streams ``clusters`` (cheap joins over the pinned
    # signature / checkpointed CC frames) and is AQE-skew-splittable.
    keeper_by_comp = members.groupBy("component").agg(
        F.min(F.struct(prio.alias("p"), F.col("doc_id").alias("d")))["d"].alias(
            "_keeper"
        )
    )
    dup_losers = (
        clusters.join(keeper_by_comp, "component")
        .filter(F.col("doc_id") != F.col("_keeper"))
        .select("doc_id", F.lit(True).alias("_is_dup"))
    )

    labeled = (
        docs.select("doc_id", "source", "n_chars")
        .join(gates, "doc_id", "left")
        .join(dup_losers, "doc_id", "left")
        .join(contaminated, "doc_id", "left")
    )
    drop_reason = (
        F.when(F.coalesce("gates_passed", F.lit(0)) < min_gates, "quality")
        .when(F.col("_is_dup"), "duplicate")
        .when(F.col("_is_contaminated"), "contaminated")
    )
    return labeled.select(
        "doc_id",
        "source",
        "n_chars",
        drop_reason.alias("drop_reason"),
        drop_reason.isNull().alias("keep"),
    )


def _probes_fingerprint(probes: DataFrame | None) -> str:
    """Content fingerprint of the external probes table (see
    runtime.checkpoint.content_fingerprint for the sum-not-xor /
    decimal-not-int64 rationale).  The manifest must fingerprint the
    probes by CONTENT, not path: rewriting the probes parquet in place
    between runs would otherwise pass the path-equality check and
    silently reuse decontamination decisions computed from the old
    probe set."""
    if probes is None:
        return ""
    from sequali_spark.runtime.checkpoint import content_fingerprint

    return content_fingerprint(probes, "probe_doc", "probe")


def _manifest(args, probes: DataFrame | None, docs: DataFrame) -> list[tuple]:
    """One-row fingerprint of everything that determines the decision
    table; a checkpoint is only reusable if it matches the invocation.
    The input documents are fingerprinted by their backing FILE LISTING
    (path, length, mtime — runtime.checkpoint.file_fingerprint): an
    in-place rewrite of <input>/documents.parquet between runs must
    invalidate the decision table, or stale doc_ids would silently join
    against the new corpus, and parquet part-files are immutable so any
    legitimate rewrite changes the listing (same trust model as the
    sketch-pin fingerprint, ADVICE r4 rationale preserved).  r8: this
    replaced the content scan — a full id+text pass that ran serially
    before any parallel stage (5.8-7.3 s at 500k rows regardless of
    cores, pure Amdahl tail in the scaling ladder); file_fingerprint
    falls back to the content scan for non-file-backed frames."""
    from sequali_spark.runtime.checkpoint import file_fingerprint

    return [
        (
            args.input,
            float(args.dedup_threshold),
            int(args.min_gates),
            args.probes or "",
            _probes_fingerprint(probes),
            file_fingerprint(docs, "doc_id", "text"),
        )
    ]


MANIFEST_SCHEMA = (
    "input string, dedup_threshold double, min_gates int, probes string, "
    "probes_fp string, docs_fp string"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--stats", default=None)
    ap.add_argument("--dedup-threshold", type=float, default=0.8)
    ap.add_argument("--min-gates", type=int, default=4)
    ap.add_argument(
        "--probes", default=None,
        help="parquet of (probe_doc, probe) benchmark strings; default derives a demo set from the corpus",
    )
    ap.add_argument(
        "--force", action="store_true",
        help="recompute the decision table even if a checkpointed one exists",
    )
    ap.add_argument(
        "--paragraph-dedup", action="store_true",
        help="after the keep/drop decisions, rewrite the KEPT corpus with "
        "corpus-wide paragraph-level dedup (CCNet/MassiveText pass, "
        "operators.dedup.paragraph_dedup): each distinct 20-word paragraph "
        "survives only at its first occurrence; documents whose every "
        "paragraph was seen earlier are dropped from the curated output "
        "(counted separately in stats — the decision table and its "
        "checkpoint are NOT affected by this flag)",
    )
    args = ap.parse_args()

    from sequali_spark.runtime import checkpoint
    from sequali_spark.session import fit_width, get_spark
    from sequali_spark.sources.tables import load, read

    t_main0 = time.time()
    spark = get_spark(app_name="sequali_curation")
    walls: dict[str, float] = {"session_init": round(time.time() - t_main0, 2)}
    t_last = time.time()

    def _mark(phase: str) -> None:
        # per-phase wall breakdown, recorded in the stats JSON — the
        # evidence base for the scaling-ladder tail analysis (r8): each
        # mark closes the phase since the previous one
        nonlocal t_last
        now = time.time()
        walls[phase] = round(now - t_last, 2)
        t_last = now

    probes = None
    if args.probes:
        # project + type-pin the external benchmark table: extra columns
        # would make the theta-join's doc_id/text references ambiguous,
        # and a string probe_doc would null out the id comparison
        probes = read(spark, args.probes).select(
            F.col("probe_doc").cast("long").alias("probe_doc"),
            F.col("probe").cast("string").alias("probe"),
        )
    # ONE materialized scan shared by the gate battery, the dedup
    # sketch pass, the decontamination join, and the final output join.
    # The manifest fingerprint MUST read the file listing BEFORE
    # persist(): registering the cache substitutes an InMemoryRelation
    # into every matching plan, after which inputFiles() is empty and
    # file_fingerprint would fall back to the full content scan the r8
    # change exists to avoid (measured: the fallback silently re-added
    # the 6-7 s serial pre-stage pass).
    docs = load(spark, args.input, "documents")
    fit_width(docs)

    manifest_rows = _manifest(args, probes, docs)
    docs = docs.persist()
    _mark("fingerprint_scan")  # file-listing stat, no data scan

    def build() -> DataFrame:
        decisions_df = curate(
            spark,
            args.input,
            dedup_threshold=args.dedup_threshold,
            min_gates=args.min_gates,
            probes=probes,
            docs=docs,
        )
        # the eager portion of curate(): sketch-pin materialization,
        # LSH candidate stage, CC rounds, keeper pins
        _mark("curate_eager_tail")
        return decisions_df

    # a checkpoint is reusable ONLY if it was produced by the same
    # input + parameters: silently reusing decisions computed with a
    # different --min-gates/--input would curate with stale semantics
    decisions, resumed = checkpoint.stage(
        spark,
        args.output.rstrip("/") + "_decisions",
        manifest_rows,
        MANIFEST_SCHEMA,
        build,
        force=args.force,
    )
    if not resumed:
        _mark("decisions_write")
    decisions = decisions.persist()

    curated = docs.join(
        decisions.filter("keep").select("doc_id"), "doc_id"
    )
    para_stats = None
    if args.paragraph_dedup:
        # Sub-document pass over the SURVIVING corpus only (running it
        # before the gates would let dropped duplicates claim first
        # occurrence of paragraphs that then vanish with their doc).
        # Downstream of the decision checkpoint by design: decisions
        # stay reusable across flag settings, and the rewrite is a
        # deterministic function of (decisions, corpus).
        from sequali_spark.operators.dedup import paragraph_dedup

        rewritten = paragraph_dedup(curated, words_per_para=20).persist()
        agg = rewritten.agg(
            F.sum("n_paras").alias("paras"),
            F.sum("n_kept").alias("kept_paras"),
            F.sum((F.col("n_kept") == 0).cast("long")).alias("emptied_docs"),
        ).collect()[0]
        para_stats = {
            "paragraphs": agg["paras"],
            "paragraphs_kept": agg["kept_paras"],
            "docs_emptied": agg["emptied_docs"],
        }
        # emptied docs leave the corpus; survivors carry the rewritten
        # text with n_chars recomputed from it — same columns, same
        # order as the unflagged output
        out_cols = [
            F.length("_text_dedup").alias("n_chars") if c == "n_chars"
            else F.col("_text_dedup").alias("text") if c == "text"
            else F.col(c)
            for c in curated.columns
        ]
        curated = curated.drop("text").join(
            rewritten.filter(F.col("n_kept") > 0).select(
                "doc_id", F.col("text_dedup").alias("_text_dedup")
            ),
            "doc_id",
        ).select(*out_cols)
    curated.write.mode("overwrite").parquet(args.output)
    if para_stats is not None:
        rewritten.unpersist()
    _mark("curated_write")

    stats_rows = decisions.groupBy("drop_reason").agg(F.count("*").alias("docs")).collect()
    stats = {
        "input_docs": sum(r["docs"] for r in stats_rows),
        "kept": next((r["docs"] for r in stats_rows if r["drop_reason"] is None), 0),
        "dropped": {
            r["drop_reason"]: r["docs"] for r in stats_rows if r["drop_reason"] is not None
        },
        "resumed_from_checkpoint": resumed,
    }
    if para_stats is not None:
        stats["paragraph_dedup"] = para_stats
    _mark("stats_collect")
    stats["phase_walls_sec"] = walls
    decisions.unpersist()
    docs.unpersist()
    if args.stats:
        with open(args.stats, "w") as f:
            json.dump(stats, f, indent=0, sort_keys=True)
    print(json.dumps(stats, sort_keys=True))


if __name__ == "__main__":
    main()
