"""Pin the bench artifact contract (VERDICT r7 task 4).

The driver records bench.py's final stdout line as BENCH_r{N}.json's
``parsed`` field, capturing only the tail of stdout (~2000 chars).
BENCH_r06.json went ``parsed: null`` SILENTLY because the per-sample
noise forensics outgrew that capture; r7 fixed it by convention
(compact final line + BENCH/last_run.json for forensics).  This test
makes the convention executable: the compact dict, built exactly the
way run_headline builds it (bench.build_compact_result) on a synthetic
result of the real headline's shape, must serialize well under the
capture limit and round-trip through json.loads.
"""

from __future__ import annotations

import json

from bench import build_compact_result

# the real 13-query headline surface (names matter: they dominate the
# serialized size) with worst-plausible value widths
HEADLINE_QUERIES = [
    "doc_char_ratios",
    "doc_quality_score",
    "doc_overrep_shingles",
    "dedup_fingerprint_histogram",
    "dedup_minhash_pairs",
    "events_hourly_report",
    "events_sessionize",
    "emb_brute_force_topk",
    "emb_lsh_topk",
    "rel_pricing_summary",
    "rel_top_unshipped",
    "pages_quality_labels",
    "pipeline_64k_pages",
]


def test_compact_line_fits_capture_and_round_trips():
    per_query = {name: 123.456 for name in HEADLINE_QUERIES}
    compact = build_compact_result(
        per_query,
        sf=0.1,
        pipeline_rows=64_000,
        pipe_sec=1.234,
        cpus=32,
        load_gated=True,
    )
    line = json.dumps(compact)
    # well under the driver's ~2000-char tail capture, with headroom
    # for a few added queries
    assert len(line) < 1500, f"compact line grew to {len(line)} chars"
    assert json.loads(line) == compact
    # the driver greps for these fields
    assert compact["metric"] == "headline_queries_total_sec"
    assert compact["unit"] == "sec"
    assert compact["value"] == round(sum(per_query.values()), 3)
    assert set(compact["queries"]) == set(HEADLINE_QUERIES)


def test_compact_line_has_no_forensics_keys():
    """The failure class: per-sample forensics creeping back into the
    stdout line instead of BENCH/last_run.json."""
    compact = build_compact_result(
        {n: 1.0 for n in HEADLINE_QUERIES}, 0.1, 64_000, 1.0, 32, False
    )
    forbidden = {
        "query_samples",
        "sample_pre_busy_frac",
        "sample_steal_frac",
        "load_gate",
    }
    assert not forbidden & set(compact)


def test_scan_split_default_pins_arrow_sized_splits(monkeypatch):
    """The 16 MB maxPartitionBytes default is a measured perf guard
    (2M docs / local[8]: bare minhash Arrow stage 341 s at 128 MB
    splits vs 245 s at 16 MB — see session.py rationale); pin it and
    its override so a config refactor can't silently regress it."""
    from sequali_spark.session import (
        DEFAULT_MAX_PARTITION_BYTES,
        max_partition_bytes,
    )

    monkeypatch.delenv("SPARK_GRAFT_MAX_PARTITION_BYTES", raising=False)
    assert DEFAULT_MAX_PARTITION_BYTES == 16 * 1024 * 1024
    assert max_partition_bytes() == str(16 * 1024 * 1024)
    monkeypatch.setenv("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728")
    assert max_partition_bytes() == "134217728"


def test_shuffle_width_follows_the_master_unless_set(monkeypatch):
    """Shuffle width precedence, resolved without a JVM: an explicit
    argument beats SPARK_GRAFT_SHUFFLE, which beats the core count of a
    local[N] master, which beats host_cores() (the default master and
    local[*]); a cluster master gets no width (its --conf decides)."""
    import os

    from sequali_spark import session

    assert session.host_cores() == len(os.sched_getaffinity(0))
    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.setattr(session, "host_cores", lambda: 6)
    assert not hasattr(session, "DEFAULT_SHUFFLE_PARTITIONS")

    assert session.default_master() == "local[6]"
    assert session.shuffle_width(session.default_master()) == 6
    assert session.shuffle_width("local[*]") == 6
    assert session.shuffle_width("local[3]") == 3
    assert session.shuffle_width("local[2,4]") == 2  # local[N, maxFailures]
    assert session.shuffle_width("local") == 1
    for cluster in ("yarn", "spark://head:7077", "k8s://https://api:6443", "local-cluster[2,1,1024]"):
        assert session.shuffle_width(cluster) is None
    assert session.default_cpus() == 6
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "5")
    assert session.default_cpus() == 5
    assert session.default_master() == "local[5]"
    assert session.shuffle_width(session.default_master()) == 5
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "yarn")
    assert session.default_master() == "yarn"

    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "12")
    assert session.shuffle_width("local[3]") == 12
    assert session.shuffle_width("yarn") == 12
    assert session.shuffle_width("local[3]", shuffle_partitions=7) == 7
    assert session.shuffle_width("yarn", shuffle_partitions=7) == 7


def test_wide_input_raises_only_a_core_count_width(monkeypatch):
    """A local master's core-count width rises to AT_SCALE_WIDTH once
    the input reaches WIDE_INPUT_BYTES; a hand-set width, a cluster
    master and a width already past the floor stay as they are."""
    from sequali_spark import session

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    big, small = session.WIDE_INPUT_BYTES, session.WIDE_INPUT_BYTES - 1
    assert session.AT_SCALE_WIDTH == 32
    assert session.width_for_input("local[4]", 4, small) == 4
    assert session.width_for_input("local[4]", 4, big) == 32
    assert session.width_for_input("local", 1, big) == 32
    assert session.width_for_input("local[64]", 64, big) == 64
    assert session.width_for_input("local[4]", 6, big) == 6  # shuffle_partitions=6
    assert session.width_for_input("yarn", 200, big) == 200
    monkeypatch.setenv("SPARK_GRAFT_SHUFFLE", "4")
    assert session.width_for_input("local[4]", 4, big) == 4


def test_fit_width_sets_the_live_session(spark, monkeypatch):
    """fit_width sizes the input with the optimizer's estimate and sets
    the session's width; a small input leaves it alone."""
    from sequali_spark import session

    monkeypatch.delenv("SPARK_GRAFT_SHUFFLE", raising=False)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    cores = str(session.shuffle_width(spark.sparkContext.master))
    df = spark.range(1000)
    try:
        spark.conf.set("spark.sql.shuffle.partitions", cores)
        session.fit_width(df)
        assert spark.conf.get("spark.sql.shuffle.partitions") == cores
        monkeypatch.setattr(session, "WIDE_INPUT_BYTES", 1)
        session.fit_width(df)
        assert spark.conf.get("spark.sql.shuffle.partitions") == "32"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_live_session_wires_scan_split_default(spark):
    assert (
        spark.conf.get("spark.sql.files.maxPartitionBytes") == "16777216"
    )
