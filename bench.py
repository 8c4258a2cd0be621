#!/usr/bin/env python
"""Benchmark harness.

Default: run the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name:
sec}, "sf", plus pipeline docs/sec extras}.

--scaling: run the same pipeline-throughput job at local[N] and
local[4N], sized to the host (scaling_ladder), in fresh subprocesses on
identical input and print ONE JSON line with both legs' throughput and
the N -> 4N scaling efficiency (the in-sandbox evidence for the north
rule's N -> 4N executor criterion).  The heap is the caller's
SPARK_GRAFT_DRIVER_MEM; the 32-vCPU curation and paragraph ladder
records in BENCH/ATSCALE.md set it to 16g on every leg.

--throughput-only: internal child mode for --scaling.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

LOAD_GATE = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "4.0"))
LOAD_GATE_BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_LOAD_GATE_BUDGET", "600"))


def _cpu_busy_frac(window: float = 0.2) -> float:
    """Fraction of host CPU busy over a short window, from /proc/stat.

    Used BETWEEN timed samples (when our own JVM is idle) as an
    external-noise probe: unlike loadavg, it has no memory of our own
    just-finished burst, so it distinguishes 'the hypervisor neighbor is
    busy right now' from 'we ourselves were busy a minute ago'."""

    def snap():
        with open("/proc/stat") as f:
            parts = f.readline().split()[1:]
        vals = [int(x) for x in parts]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        return idle, sum(vals)

    i0, t0 = snap()
    time.sleep(window)
    i1, t1 = snap()
    dt = t1 - t0
    return round(1.0 - (i1 - i0) / dt, 3) if dt else 0.0


def _steal_snap() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from /proc/stat — the hypervisor
    CPU-steal counter.  On this Firecracker guest steal is the noise
    channel that loadavg and busy-frac CANNOT see (measured r6: 14%
    steady steal under a full 32-core spin on an otherwise idle guest,
    with bursts that stretched individual samples 2-20x)."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals)


def _steal_frac(snap0: tuple[int, int]) -> float:
    s1, t1 = _steal_snap()
    dt = t1 - snap0[1]
    return round((s1 - snap0[0]) / dt, 3) if dt > 0 else 0.0


def wait_for_quiet(threshold: float = LOAD_GATE, budget: float = LOAD_GATE_BUDGET_SEC) -> dict:
    """Block (bounded) until the host 1-minute loadavg is below
    `threshold`.  Called BEFORE the Spark session starts, while our own
    contribution to loadavg is zero — mid-run the 1m loadavg mostly
    measures our own just-finished stages, so gating there would be
    self-defeating.  Returns a trace of every attempt for the artifact
    (VERDICT r5 Next-round #1: the harness must avoid noise, not just
    explain it)."""
    t0 = time.time()
    attempts = []
    while True:
        load = os.getloadavg()[0]
        attempts.append({"t_sec": round(time.time() - t0, 1), "load_1m": round(load, 2)})
        if load < threshold:
            return {"gated": True, "threshold": threshold, "attempts": attempts}
        if time.time() - t0 > budget:
            return {"gated": False, "threshold": threshold, "attempts": attempts}
        time.sleep(10.0)


HEADLINE = [
    "pages_quality_labels",
    "doc_char_ratios",
    "doc_overrep_shingles",
    "doc_quality_score",
    "dedup_fingerprint_histogram",
    "dedup_minhash_pairs",
    "events_hourly_report",
    "events_sessionize",
    "emb_brute_force_topk",
    "emb_lsh_topk",
    "rel_pricing_summary",
    "rel_top_unshipped",
]

PIPELINE_BENCH_ROWS = 64_000


def _spark(cpus: int):
    from sequali_spark.session import get_spark

    return get_spark(
        app_name=f"bench_local{cpus}",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 8),
        extra_conf={
            # The metric stage is CPU-bound in Python, not scan-bound:
            # partitions must be sized by compute, not by scan bytes.
            # Default 128MB maxPartitionBytes would coalesce the corpus
            # into ~6 input splits and cap parallelism at 6 workers.
            "spark.sql.files.maxPartitionBytes": str(4 * 1024 * 1024),
            "spark.sql.files.openCostInBytes": str(1 * 1024 * 1024),
        },
    )


def _pages_bench_df(spark, n_rows: int):
    """Deterministic pages table generated distributed: one seeded chunk
    per partition (url numbering offset per chunk -> no collisions)."""
    # FIXED chunk grid (independent of parallelism!) so every config
    # processes the identical corpus — the scaling comparison is
    # same-input by construction.  64 chunks also over-decompose the job
    # (2 tasks/core at 32) for scheduler-level load balancing.
    parts = 64
    per = n_rows // parts
    meta = [(i, per + (n_rows - per * parts if i == parts - 1 else 0)) for i in range(parts)]
    meta_df = spark.createDataFrame(
        spark.sparkContext.parallelize(meta, parts), schema="pid long, rows long"
    )

    def _gen(it):
        from sequali_spark.fixtures import generate_pages

        for pdf in it:
            for _, row in pdf.iterrows():
                chunk = generate_pages(
                    int(row["rows"]), seed=42 + int(row["pid"]), base_index=int(row["pid"]) * per
                )
                yield chunk[["url", "warc_ts", "html", "text", "lang"]]

    return meta_df.mapInPandas(
        _gen, schema="url string, warc_ts timestamp, html binary, text string, lang string"
    )


LABEL_COLUMNS = [
    "url", "keep", "drop_reasons", "lang_pred", "perplexity",
    "fingerprint", "pii_hits", "tox_hits", "sampled", "scrubbed_text",
]


def ensure_pages_parquet(n_rows: int, path: str | None = None) -> str:
    """Generate the deterministic bench corpus to parquet once; every
    parallelism config then reads the identical files (same-input
    scaling evidence by construction).  The active session, if any, is
    the caller's: it writes the corpus and is left as it was.  Without
    one, a session is started for the write and stopped after it."""
    path = path or f"/tmp/sequali_bench_pages_{n_rows}"
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from pyspark.sql import SparkSession

    from sequali_spark.session import default_cpus

    active = SparkSession.getActiveSession()
    spark = active or _spark(default_cpus())
    try:
        _pages_bench_df(spark, n_rows).write.mode("overwrite").parquet(path)
    finally:
        if active is None:
            spark.stop()
    return path


def pipeline_throughput(cpus: int, n_rows: int) -> dict:
    """docs/sec of the realistic end-to-end label job: parquet scan ->
    single Arrow metric stage (output pruned to the label sink schema)
    -> parquet label sink.  Warmup pass first (python workers + models),
    then the timed pass."""
    from sequali_spark.pipeline import quality_pipeline
    from sequali_spark.sources.tables import read

    src = ensure_pages_parquet(n_rows)
    spark = _spark(cpus)
    pages = read(spark, src)
    n = pages.count()
    sink = f"/tmp/sequali_bench_labels_{cpus}"

    def job():
        out = quality_pipeline(
            spark, pages, repartition=False, output_columns=LABEL_COLUMNS
        )
        out.write.mode("overwrite").parquet(sink)

    job()  # warmup
    samples = []
    for _ in range(5):  # the sandbox host is noisy (hypervisor-level
        t0 = time.time()  # interference adds time, never removes it) —
        job()  # best-of-5 estimates true capability
        samples.append(time.time() - t0)
    elapsed = min(samples)
    kept = read(spark, sink).filter("keep").count()
    spark.stop()
    return {
        "cpus": cpus,
        "rows": n,
        "kept": int(kept),
        "seconds": round(elapsed, 3),
        "samples": [round(s, 3) for s in samples],
        "docs_per_sec": round(n / elapsed, 1),
    }


def run_headline(sf_dir: str, cpus: int) -> dict:
    import __spark_entry__ as entry_mod

    # Load gate BEFORE the session exists (our own loadavg share is 0
    # here).  If the budget expires while the host is still loaded, the
    # run proceeds but the artifact says so.
    gate = wait_for_quiet()

    spark = _spark(cpus)
    queries = entry_mod.queries()

    # SESSION warmup, paid once before any query is timed: parquet
    # footer caches, the Python worker pool and model loads are session
    # costs, not query costs — a long-running cluster session amortizes
    # them across thousands of queries.  One small pipeline batch spread
    # over every core starts all workers.
    from sequali_spark.pipeline import quality_pipeline

    warm = _pages_bench_df(spark, 2000).repartition(spark.sparkContext.defaultParallelism)
    quality_pipeline(spark, warm, repartition=False).write.format("noop").mode(
        "overwrite"
    ).save()

    # per query: one UNTIMED warmup execution (first run of a plan shape
    # pays JVM whole-stage codegen, ~4s for the widest plans), then
    # best-of-2 timed samples (hypervisor noise only ever ADDS wall
    # time, so min is the closest estimate of true capability — same
    # discipline as the throughput legs).  Codegen is a once-per-session
    # cost only while the session's generated classes fit the codegen
    # cache (session.CODEGEN_CACHE_ENTRIES): one query's classes always
    # fit, so this per-query loop cannot show an undersized cache, which
    # recompiles on every pass over many queries
    # (tests/test_codegen_cache.py).
    per_query: dict[str, float] = {}
    query_samples: dict[str, list[float]] = {}
    sample_busy: dict[str, list[float]] = {}
    sample_steal: dict[str, list[float]] = {}
    for name in HEADLINE:
        # TWO untimed warmups: the first compiles whole-stage codegen,
        # the second lets HotSpot C2 finish replacing interpreter frames
        # (observed r6: sample sequences kept descending through run 3-4
        # with zero steal — pure JIT settling, a session cost)
        for _ in range(2):
            queries[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        busy = []
        steals = []
        # steal-aware best-of-K: this guest is a throttled microVM
        # (measured r6: 14% steady steal under full 32-core spin, with
        # bursts that stretched one untouched query sample 2-20x), and
        # steal is INVISIBLE to loadavg — so each sample records the
        # /proc/stat steal fraction across its own timed window, and the
        # loop takes extra samples (up to 6) until the BEST sample ran
        # with <5% steal AND the last sample stopped improving the min
        # (a still-descending min means the JVM hasn't settled yet).
        # min-of-samples stays the reported value.
        while True:
            # instantaneous external-load probe: the JVM is idle between
            # samples, so host busy-frac here ≈ hypervisor-neighbor noise
            busy.append(_cpu_busy_frac())
            s0 = _steal_snap()
            t0 = time.time()
            df = queries[name](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
            steals.append(_steal_frac(s0))
            settled = samples[-1] > min(samples)
            if len(samples) >= 3 and (
                (steals[samples.index(min(samples))] < 0.05 and settled)
                or len(samples) >= 6
            ):
                break
        per_query[name] = round(min(samples), 3)
        query_samples[name] = [round(s, 3) for s in samples]
        sample_busy[name] = busy
        sample_steal[name] = steals

    # pipeline throughput on the same session's core count
    from sequali_spark.pipeline import quality_pipeline

    pages = _pages_bench_df(spark, PIPELINE_BENCH_ROWS).persist()
    n = pages.count()
    out = quality_pipeline(spark, pages, repartition=False)
    from pyspark.sql import functions as F

    kept_agg = out.agg(F.sum(F.col("keep").cast("long")))
    kept_agg.first()  # warmup
    kept_agg.first()  # second warmup (C2 settling, see headline loop)
    pipe_samples = []
    pipe_busy = []
    pipe_steal = []
    # the pipeline leg saturates all 32 cores by design, and this
    # microVM steals ~14% from a fully-loaded guest no matter how quiet
    # the neighborhood (measured r6) — so the steal threshold here
    # accepts the floor rather than burning 6 samples hunting a <5%
    # window that cannot exist under full load
    while True:
        pipe_busy.append(_cpu_busy_frac())
        s0 = _steal_snap()
        t0 = time.time()
        kept_agg.first()
        pipe_samples.append(time.time() - t0)
        pipe_steal.append(_steal_frac(s0))
        settled = pipe_samples[-1] > min(pipe_samples)
        if len(pipe_samples) >= 3 and (
            (pipe_steal[pipe_samples.index(min(pipe_samples))] < 0.18 and settled)
            or len(pipe_samples) >= 6
        ):
            break
    pipe_sec = min(pipe_samples)
    per_query["pipeline_64k_pages"] = round(pipe_sec, 3)
    query_samples["pipeline_64k_pages"] = [round(s, 3) for s in pipe_samples]
    sample_busy["pipeline_64k_pages"] = pipe_busy
    sample_steal["pipeline_64k_pages"] = pipe_steal
    pages.unpersist()
    spark.stop()

    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else None
    compact = build_compact_result(
        per_query, sf, n, pipe_sec, cpus, gate["gated"]
    )
    forensics = {
        **compact,
        # noise forensics (VERDICT r4 What's-wrong #2): all samples per
        # query (value is best-of) + host load, so a noisy artifact is
        # distinguishable from a real regression.  This box idles at
        # double-digit load (shared hypervisor); spread samples + high
        # load => discount the total.
        "query_samples": query_samples,
        # per-sample pre-run host busy fraction (external-noise probe —
        # see _cpu_busy_frac; loadavg mid-run measures OUR OWN burst)
        "sample_pre_busy_frac": sample_busy,
        # per-sample hypervisor steal fraction DURING the timed window
        # (/proc/stat steal delta / total delta) — the one noise channel
        # loadavg and busy-frac cannot see on this microVM; the sampling
        # loop resamples until the best sample ran with <5% steal
        "sample_steal_frac": sample_steal,
        # start-of-run load gate trace (wait_for_quiet)
        "load_gate": gate,
        "load_avg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
    }
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "last_run.json"), "w") as f:
        json.dump(forensics, f, indent=1)
    return compact


def build_compact_result(
    per_query: dict, sf, pipeline_rows: int, pipe_sec: float, cpus: int,
    load_gated: bool,
) -> dict:
    """COMPACT headline result — this dict is the bench's final stdout
    line and must stay well under the driver's ~2000-char tail capture
    (BENCH_r06.json had parsed:null because the per-sample forensics
    outgrew it — VERDICT r6 #1).  The full noise forensics (every
    sample, pre-run busy fraction, per-sample steal, the load-gate
    attempt trace) go to BENCH/last_run.json instead.  Factored out so
    tests/test_bench_contract.py can pin the serialized size and
    round-trip on a synthetic result — the r6 failure mode was silent
    (VERDICT r7 task 4)."""
    return {
        "metric": "headline_queries_total_sec",
        "value": round(sum(per_query.values()), 3),
        "unit": "sec",
        "queries": per_query,
        "sf": sf,
        "pipeline_docs_per_sec": round(pipeline_rows / pipe_sec, 1),
        "pipeline_rows": pipeline_rows,
        "cpus": cpus,
        "load_gated": load_gated,
        "load_avg_1m": round(os.getloadavg()[0], 2),
    }


def child_json(cmd: list[str], env: dict) -> dict:
    """Run ``cmd`` from the repo root with ``env`` and return the JSON
    object its stdout ends with (a ladder leg's child prints one);
    raise with the tail of its stderr if it fails."""
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO, env=env)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"child {cmd[1:]} failed rc={proc.returncode}:\n" + proc.stderr[-3000:]
        )
    return json.loads(lines[-1])


def _throughput_leg(rows: int, cpus: int, env: dict) -> dict:
    """One scaling_ladder leg: pipeline_throughput in a fresh child."""
    got = child_json(
        [sys.executable, __file__, "--throughput-only", "--cpus", str(cpus), "--rows", str(rows)],
        env,
    )
    return {**got, "parity": got["kept"]}


LADDER_ROUNDS = 2


def scaling_ladder(leg) -> dict:
    """The north rule's N -> 4N criterion on one host: run ``leg`` at
    local[N] and local[4N] and report the scaling efficiency.

    The ladder is (max(1, c // 4), c) for c = session.default_cpus(),
    so the big leg uses every core the process may use and no leg
    oversubscribes the host.  ``leg(cpus, env)`` runs the job once in
    a fresh subprocess with ``env`` and returns a dict holding
    ``docs_per_sec`` and ``parity``, an invariant of the job's output
    that must be equal on every run of every leg.

    Runs are interleaved round-robin for LADDER_ROUNDS rounds: host
    noise correlates over minutes, so a noisy period degrades every leg
    alike instead of sinking whichever one it coincided with.  Each leg
    keeps its best run, since noise only ever adds wall time.  Every
    run gets a fresh SPARK_LOCAL_DIRS, removed afterwards, and
    SPARK_GRAFT_SHUFFLE=32, the width the at-scale records were taken
    at, so the legs differ in cores only (a width equal to the cores
    quadrupled the small leg's partitions at 2M rows and ran it out of
    an 8 GB heap).  The heap is the caller's SPARK_GRAFT_DRIVER_MEM
    (get_spark's default when unset)."""
    from sequali_spark.session import default_cpus

    cores = default_cpus()
    if cores < 2:
        raise RuntimeError(f"a scaling ladder needs at least 2 cores, got {cores}")
    ladder = (max(1, cores // 4), cores)
    best: dict[int, dict] = {}
    parity = None
    for _ in range(LADDER_ROUNDS):
        for cpus in ladder:
            local_dirs = tempfile.mkdtemp(prefix=f"sequali_ladder_local{cpus}_")
            env = dict(
                os.environ,
                PYTHONPATH=REPO,
                SPARK_GRAFT_CPUS=str(cpus),
                SPARK_GRAFT_SHUFFLE="32",
                SPARK_LOCAL_DIRS=local_dirs,
            )
            try:
                got = leg(cpus, env)
            finally:
                shutil.rmtree(local_dirs, ignore_errors=True)
            if parity is None:
                parity = got["parity"]
            elif got["parity"] != parity:
                raise RuntimeError(
                    f"local[{cpus}] changed the output: {parity} -> {got['parity']}"
                )
            if cpus not in best or got["docs_per_sec"] > best[cpus]["docs_per_sec"]:
                best[cpus] = got
    lo, hi = ladder
    eff = best[hi]["docs_per_sec"] / ((hi / lo) * best[lo]["docs_per_sec"])
    return {
        "ladder": {str(c): best[c] for c in ladder},
        "parity": parity,
        "scaling_efficiency": round(eff, 3),
        "from_to": f"local[{lo}] -> local[{hi}]",
        "target": 0.8,
        "pass": eff >= 0.8,
    }


def main() -> None:
    from sequali_spark.session import default_cpus

    ap = argparse.ArgumentParser()
    ap.add_argument("--scaling", action="store_true")
    ap.add_argument("--throughput-only", action="store_true")
    ap.add_argument("--cpus", type=int, default=default_cpus())
    ap.add_argument("--rows", type=int, default=PIPELINE_BENCH_ROWS)
    ap.add_argument(
        "--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    args = ap.parse_args()

    if args.throughput_only:
        print(json.dumps(pipeline_throughput(args.cpus, args.rows)))
    elif args.scaling:
        leg = functools.partial(_throughput_leg, args.rows)
        print(json.dumps({"rows": args.rows, **scaling_ladder(leg)}))
    else:
        print(json.dumps(run_headline(args.sf_dir, args.cpus)))


if __name__ == "__main__":
    main()
