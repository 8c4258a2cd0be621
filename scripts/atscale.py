#!/usr/bin/env python
"""At-scale empirical datapoints — the companions to SCALE.md's knob math.

Runs over the deterministic bench corpus (bench.ensure_pages_parquet,
the same 64-chunk fixed-grid corpus the scaling ladder uses):

- **dedup**: minhash_near_dup_pairs (exact-collapse-first LSH) +
  connected_components end-to-end at --rows documents; records wall
  time per phase, pairs emitted, rounds-to-convergence, and shuffle
  write bytes (total + peak stage, via the Spark status REST API).
- **curation**: jobs/run_curation.py as a real spark-submit-style
  subprocess, killed mid-run after the decision-table checkpoint lands,
  then re-invoked — records both walls and verifies the resume actually
  reused the checkpoint (resumed_from_checkpoint=true + reconciled
  stats).
- **curation-scaling**, **paragraph**: the curation job and paragraph
  dedup on bench.scaling_ladder (local[N] -> local[4N], sized to the
  host), outputs compared across every leg.  The heap is the caller's
  SPARK_GRAFT_DRIVER_MEM: provision memory out of the measurement so
  cores are the only scaled resource.  The 32-vCPU records set 16g on
  every leg (BENCH/ATSCALE.md r7: a shared 8 GB heap starved the
  8-core leg, and 1.5 GB per core starved the 2-core leg, whose
  signature cache is corpus-sized).

Results are appended to BENCH/ATSCALE.md.

Usage: python scripts/atscale.py [--rows 2000000]
    [--mode dedup|curation|curation-scaling|paragraph|ann|ann-disk|ring-recall|all]
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import signal
import subprocess
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import child_json, ensure_pages_parquet, scaling_ladder  # noqa: E402
from sequali_spark.sources.tables import read  # noqa: E402


def _shuffle_bytes(spark) -> tuple[int, int]:
    """(total, peak-stage) shuffle WRITE bytes of this app so far, via
    the status REST API (the UI must be enabled in the session)."""
    app_id = spark.sparkContext.applicationId
    ui = spark.sparkContext.uiWebUrl
    stages = json.load(
        urllib.request.urlopen(f"{ui}/api/v1/applications/{app_id}/stages")
    )
    writes = [s.get("shuffleWriteBytes", 0) for s in stages]
    return sum(writes), max(writes, default=0)


def _docs_from_pages(spark, src: str):
    """Lift the bench pages corpus into the documents shape the dedup
    operators take: doc_id = xxhash64(url, text) — the corpus contains
    deliberately RECRAWLED urls (the degenerate class duplicates a url
    with fresh text), so hashing the url alone would alias distinct
    docs onto one id and multiply the decision joins; 64-bit collision
    odds at 2M rows ~1e-7."""
    from pyspark.sql import functions as F

    pages = read(spark, src)
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    return pages.select(
        F.abs(F.xxhash64("url", "text")).alias("doc_id"),
        "text",
        host.alias("source"),
        F.length("text").alias("n_chars"),
    )


def _docs_dir(rows: int) -> str:
    """The documents table over the --rows bench corpus, written once
    to ``<dir>/documents.parquet``; returns ``<dir>``."""
    docs_dir = f"/tmp/sequali_atscale_docs_{rows}"
    docs = os.path.join(docs_dir, "documents.parquet")
    if not os.path.exists(os.path.join(docs, "_SUCCESS")):
        from sequali_spark.session import get_spark

        spark = get_spark(app_name="atscale_prep")
        src = ensure_pages_parquet(rows)
        _docs_from_pages(spark, src).write.mode("overwrite").parquet(docs)
        spark.stop()
    return docs_dir


def _job_outputs(out: str) -> list[str]:
    """What a curation job writing ``out`` leaves beside it: the output,
    the decision checkpoint, and the stage manifest file with its
    ``.<name>.tmp`` temp name and the local FileSystem's .crc
    sidecars."""
    man = out + "_decisions_manifest"
    d, b = os.path.split(man)
    return [out, out + "_decisions", man, os.path.join(d, f".{b}.tmp"),
            os.path.join(d, f".{b}.crc"), os.path.join(d, f"..{b}.tmp.crc")]


def run_dedup(rows: int) -> dict:
    from sequali_spark.operators import dedup
    from sequali_spark.session import fit_width, get_spark

    src = ensure_pages_parquet(rows)
    spark = get_spark(
        app_name="atscale_dedup",
        extra_conf={
            "spark.ui.enabled": "true",  # status REST API for shuffle bytes
            "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
        },
    )
    fit_width(read(spark, src))  # the width the jobs would pick
    docs = _docs_from_pages(spark, src).select("doc_id", "text")
    n_docs = docs.count()

    t0 = time.time()
    # ring topology: the clustering surface (feeds connected
    # components) — linear candidate volume; the pair-complete "pairs"
    # topology measured 484M candidates / >70 GB spill on this corpus
    pairs = dedup.minhash_pairs_for(
        docs, threshold=0.8, collapse_exact=True, edge_mode="ring"
    ).persist()
    n_pairs = pairs.count()
    t_pairs = time.time() - t0

    cc_stats: dict = {}
    t1 = time.time()
    comp = dedup.connected_components(pairs, stats=cc_stats).persist()
    n_members = comp.count()
    n_clusters = comp.select("component").distinct().count()
    t_cc = time.time() - t1

    shuffle_total, shuffle_peak = _shuffle_bytes(spark)
    pairs.unpersist()
    comp.unpersist()
    spark.stop()
    return {
        "rows": n_docs,
        "near_dup_pairs": n_pairs,
        "pairs_wall_sec": round(t_pairs, 1),
        "cc_wall_sec": round(t_cc, 1),
        "cc_rounds": cc_stats.get("rounds"),
        "cc_converged": cc_stats.get("converged"),
        "cluster_members": n_members,
        "clusters": n_clusters,
        "shuffle_write_bytes_total": shuffle_total,
        "shuffle_write_bytes_peak_stage": shuffle_peak,
    }


def run_curation(rows: int) -> dict:
    docs_dir = _docs_dir(rows)
    out = f"/tmp/sequali_atscale_curated_{rows}"
    dec_sentinel = out + "_decisions/_SUCCESS"
    # the manifest is one file, renamed into place once written
    # (runtime/checkpoint.py), so its existence marks the commit
    man_sentinel = out + "_decisions_manifest"
    run1_log = out + "_run1.log"
    for p in _job_outputs(out) + [run1_log]:
        subprocess.run(["rm", "-rf", p], check=False)
    stats1, stats2 = "/tmp/atscale_cur1.json", "/tmp/atscale_cur2.json"
    env = dict(os.environ, PYTHONPATH=REPO)

    # SIGKILL skips Spark's shutdown hooks, so run 1 leaks its local
    # shuffle/block dirs — ~31 GB at 5M rows, enough to starve run 2 of
    # disk (observed r6).  Primary containment (ADVICE r6): run 1 gets
    # a DEDICATED SPARK_LOCAL_DIRS, so the bulk of the leak (shuffle +
    # blockmgr) lands in a directory that is exclusively ours and is
    # deleted by NAME after the kill — no scanning, no risk to any
    # concurrent job's temp dirs, no TOCTOU.  The snapshot-diff sweep
    # below only mops up the small java.io.tmpdir /tmp/spark-* driver
    # dirs that don't follow SPARK_LOCAL_DIRS.
    run1_local_dirs = f"/tmp/sequali_atscale_local_{rows}"
    subprocess.run(["rm", "-rf", run1_local_dirs], check=False)

    def _spark_tmp_dirs() -> set:
        import glob
        return set(glob.glob("/tmp/blockmgr-*") + glob.glob("/tmp/spark-*"))

    def _dir_in_use(path: str) -> bool:
        """True if any live process plausibly owns `path`: an open fd
        under it, a memory-mapped file under it, or a cwd inside it.
        Spark shuffle files are written-and-closed, so an fd scan alone
        can miss a live job between writes (ADVICE r6) — maps catches
        mmapped shuffle/index blocks and cwd catches driver dirs.  The
        sweep that consults this only ever deletes SMALL java-tmpdir
        leftovers now (see run1_local_dirs above), so a residual miss
        costs a re-fetch, not a job."""
        real = os.path.realpath(path)
        prefix = real + os.sep
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            base = f"/proc/{pid}"
            try:
                cwd = os.path.realpath(f"{base}/cwd")
                if cwd == real or cwd.startswith(prefix):
                    return True
                for fd in os.listdir(f"{base}/fd"):
                    try:
                        if os.readlink(f"{base}/fd/{fd}").startswith(prefix):
                            return True
                    except OSError:
                        continue
                with open(f"{base}/maps") as mf:
                    for line in mf:
                        sp = line.rstrip("\n").split(None, 5)
                        if len(sp) == 6 and sp[5].startswith(prefix):
                            return True
            except OSError:
                continue  # process exited or not ours to inspect
        return False

    pre_kill_tmp = _spark_tmp_dirs()

    # run 1: kill after the decision-table checkpoint lands (the
    # expensive stage) but before the output join finishes — the
    # mid-run-crash scenario the stage resume exists for
    t0 = time.time()
    with open(run1_log, "w") as log:
        proc = subprocess.Popen(
            [
                sys.executable, "jobs/run_curation.py",
                "--input", docs_dir, "--output", out, "--stats", stats1,
            ],
            cwd=REPO, env=dict(env, SPARK_LOCAL_DIRS=run1_local_dirs),
            stdout=log, stderr=subprocess.STDOUT,
        )
        killed = False
        while proc.poll() is None:
            if os.path.exists(dec_sentinel) and os.path.isfile(man_sentinel):
                proc.send_signal(signal.SIGKILL)
                killed = True
                break
            time.sleep(0.2)
        proc.wait()
    t_run1 = time.time() - t0
    # the killed JVM's bulk leak lives in its dedicated local-dirs root:
    # delete by name, unconditionally — it is exclusively run 1's
    subprocess.run(["rm", "-rf", run1_local_dirs], check=False)
    for leaked in _spark_tmp_dirs() - pre_kill_tmp:
        # residual sweep for the small java-tmpdir driver dirs.  The
        # snapshot only protects sessions that existed BEFORE run 1
        # launched; a Spark job started DURING run 1 would also appear
        # in the difference (code-review r6).  Guard: skip any dir a
        # live process plausibly owns (fd + maps + cwd scan — ADVICE
        # r6); the killed JVM is dead, so its leaked dirs have no
        # holders.
        if _dir_in_use(leaked):
            continue
        subprocess.run(["rm", "-rf", leaked], check=False)

    # a run 1 that died on its own never exercised the kill-and-resume
    # case, and its run 2 would recompute the whole job
    if not killed and proc.returncode != 0:
        with open(run1_log) as log:
            tail = log.read()[-3000:]
        raise RuntimeError(
            f"run 1 exited {proc.returncode} before the kill ({run1_log}):\n{tail}"
        )

    # run 2: must resume from the checkpoint and finish the cheap tail
    t1 = time.time()
    proc2 = subprocess.run(
        [
            sys.executable, "jobs/run_curation.py",
            "--input", docs_dir, "--output", out, "--stats", stats2,
        ],
        cwd=REPO, env=env, capture_output=True, text=True,
    )
    t_run2 = time.time() - t1
    if proc2.returncode != 0:
        raise RuntimeError(proc2.stderr[-3000:])
    stats = json.load(open(stats2))
    reconciled = stats["kept"] + sum(stats["dropped"].values()) == stats["input_docs"]
    return {
        "rows": stats["input_docs"],
        "killed_mid_run": killed,
        "run1_exit_code": proc.returncode,
        "run1_wall_sec_until_kill": round(t_run1, 1),
        "run2_wall_sec_resumed": round(t_run2, 1),
        "resumed_from_checkpoint": stats["resumed_from_checkpoint"],
        "stats_reconciled": reconciled,
        "kept": stats["kept"],
        "dropped": stats["dropped"],
    }


def _curation_leg(rows: int, docs_dir: str, cpus: int, env: dict) -> dict:
    """One scaling_ladder leg of the curation job: a fresh --force run
    (a resumed leg would measure the cheap tail only)."""
    out = f"/tmp/sequali_atscale_curscale_{rows}_{cpus}"
    for p in _job_outputs(out):
        subprocess.run(["rm", "-rf", p], check=False)
    t0 = time.time()
    st = child_json(
        [sys.executable, "jobs/run_curation.py", "--input", docs_dir, "--output", out, "--force"],
        env,
    )
    dt = time.time() - t0
    return {
        "seconds": round(dt, 1),
        "docs_per_sec": round(rows / dt, 1),
        "kept": st["kept"],
        "parity": [st["kept"], st["dropped"]],
    }


def run_curation_scaling(rows: int) -> dict:
    """Scaling-efficiency evidence for the CURATION job (VERDICT r6
    #7): the bench ladder covers the embarrassingly-parallel label
    pipeline; this runs the full filter -> dedup -> decontaminate ->
    write job, whose dedup stages are SHUFFLE-bound, on the identical
    prepared corpus at every leg, and its decisions (kept/dropped) must
    match across legs."""
    leg = functools.partial(_curation_leg, rows, _docs_dir(rows))
    return {"rows": rows, **scaling_ladder(leg)}


def _clustered_embeddings(spark, n_rows: int, dim: int = 64, n_clusters: int = 1000):
    """Deterministic clustered unit vectors, generated distributed: a
    fixed 1000-center codebook (seeded, regenerated identically in
    every partition — 1000x64 floats, trivial) plus per-partition
    seeded noise; ANN recall is only meaningful on clustered data
    (isotropic random defeats every sublinear index)."""
    import numpy as np
    import pandas as pd

    parts = 64
    per = n_rows // parts
    meta = [(i, per + (n_rows - per * parts if i == parts - 1 else 0)) for i in range(parts)]
    meta_df = spark.createDataFrame(
        spark.sparkContext.parallelize(meta, parts), schema="pid long, rows long"
    )

    def _gen(it):
        centers = np.random.RandomState(7).randn(n_clusters, dim)
        centers /= np.linalg.norm(centers, axis=1, keepdims=True)
        for pdf in it:
            for _, row in pdf.iterrows():
                pid, n = int(row["pid"]), int(row["rows"])
                rng = np.random.RandomState(100 + pid)
                labels = rng.randint(0, n_clusters, size=n)
                v = centers[labels] + 0.25 * rng.randn(n, dim)
                v /= np.linalg.norm(v, axis=1, keepdims=True)
                yield pd.DataFrame(
                    {
                        "vec_id": np.arange(n, dtype=np.int64) + pid * per,
                        "label": labels.astype(np.int64),
                        "embedding": [r.astype(np.float32).tolist() for r in v],
                    }
                )

    return meta_df.mapInPandas(
        _gen, schema="vec_id long, label long, embedding array<float>"
    )


def run_ann(rows: int) -> dict:
    from pyspark.sql import functions as F

    from sequali_spark.operators import similarity
    from sequali_spark.session import get_spark

    n_queries, k, n_centroids, n_probe = 100, 10, 256, 8
    spark = get_spark(app_name="atscale_ann")
    path = f"/tmp/sequali_atscale_emb_{rows}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _clustered_embeddings(spark, rows).write.mode("overwrite").parquet(path)
    e = read(spark, path)

    t0 = time.time()
    centroids = similarity.kmeans_centroids(e, n_centroids=n_centroids, n_iter=2)
    t_build = time.time() - t0

    t1 = time.time()
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk_for(
            e, n_queries=n_queries, k=k, n_probe=n_probe, centroids=centroids
        ).collect()
    }
    t_ivf = time.time() - t1

    t2 = time.time()
    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.brute_force_topk_for(e, n_queries=n_queries, k=k).collect()
    }
    t_brute = time.time() - t2

    # PQ-ADC: train + encode (the 32x-compressed corpus artifact), then
    # the codes-only ADC scan + exact re-rank
    t3 = time.time()
    books = similarity.pq_train(e)
    codes = similarity.pq_encode(e, books).persist()
    codes.count()
    t_pq_build = time.time() - t3
    t4 = time.time()
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.pq_topk_for(
            e, n_queries=n_queries, k=k, rerank_factor=10,
            codebooks=books, codes=codes,
        ).collect()
    }
    t_pq = time.time() - t4
    codes.unpersist()

    # residual IVF-PQ (the composed index, r5): coarse pruning + codes
    # that quantize (x - centroid), coarse term restored at scan time.
    # Swept over M (subquantizers) because this corpus is
    # NOISE-DOMINATED (the centroid explains ~1/5 of each vector's
    # energy, so residuals are nearly as large as raw vectors and the
    # true top-10's similarity gaps are tiny): M=8 (8 B/vec, 32x)
    # cannot rank 31k probed candidates into a 1000-shortlist here;
    # M=16 (16 B/vec, still 16x) is the recall/memory point that can.
    ivfpq = {}
    for m in (8, 16):
        t5 = time.time()
        res_books = similarity.pq_train_residual(e, centroids, m=m)
        fused = similarity.ivfpq_encode(e, centroids, res_books).persist()
        fused.count()
        t_ivfpq_build = time.time() - t5
        ivfpq_recall, ivfpq_sec = {}, {}
        for rf in (10, 50, 100):
            shortlist = rf * k
            t6 = time.time()
            got = {
                (r["query_id"], r["neighbor_id"])
                for r in similarity.ivfpq_topk_for(
                    e, n_queries=n_queries, k=k, n_centroids=n_centroids,
                    n_probe=n_probe, rerank_factor=rf, centroids=centroids,
                    codebooks=res_books, codes=fused,
                ).collect()
            }
            ivfpq_sec[shortlist] = round(time.time() - t6, 1)
            ivfpq_recall[shortlist] = round(
                len(got & truth) / max(len(truth), 1), 4
            )
        fused.unpersist()
        ivfpq[f"m{m}"] = {
            "bytes_per_vec": m,
            "build_encode_wall_sec": round(t_ivfpq_build, 1),
            "query_wall_sec_by_shortlist": ivfpq_sec,
            "recall_at_k_by_shortlist": ivfpq_recall,
        }

    spark.stop()
    return {
        "rows": rows,
        "n_queries": n_queries,
        "k": k,
        "n_centroids": n_centroids,
        "n_probe": n_probe,
        "scan_fraction": round(n_probe / n_centroids, 4),
        "build_wall_sec": round(t_build, 1),
        "ivf_query_wall_sec": round(t_ivf, 1),
        "brute_force_wall_sec": round(t_brute, 1),
        "recall_at_k": round(len(ivf & truth) / max(len(truth), 1), 4),
        "pq_build_encode_wall_sec": round(t_pq_build, 1),
        "pq_query_wall_sec": round(t_pq, 1),
        "pq_recall_at_k": round(len(pq & truth) / max(len(truth), 1), 4),
        "ivfpq_residual": ivfpq,
    }


def run_ann_disk(rows: int) -> dict:
    """The on-disk inverted-list leg: write the fused residual index
    partitioned by centroid, then measure a probe-pruned query THROUGH
    the written index — scan bytes read vs total index size is the
    partition-pruning evidence at scale (the plan-level PartitionFilters
    assertion lives in tests/test_dedup_recall.py)."""

    from pyspark.sql import functions as F

    from sequali_spark.operators import similarity
    from sequali_spark.session import get_spark

    n_queries, k, n_centroids, n_probe = 100, 10, 256, 8
    spark = get_spark(
        app_name="atscale_ann_disk", extra_conf={"spark.ui.enabled": "true"}
    )
    path = f"/tmp/sequali_atscale_emb_{rows}"
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _clustered_embeddings(spark, rows).write.mode("overwrite").parquet(path)
    e = read(spark, path)

    t0 = time.time()
    centroids = similarity.kmeans_centroids(e, n_centroids=n_centroids, n_iter=2)
    books = similarity.pq_train_residual(e, centroids, m=16)
    fused = similarity.ivfpq_encode(e, centroids, books)
    idx_path = f"/tmp/sequali_atscale_ivfpq_idx_{rows}"
    similarity.write_ivfpq_index(fused, idx_path)
    t_build = time.time() - t0
    idx_bytes = sum(  # codes and the metadata file, one directory
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(idx_path)
        for f in fs
    )

    def _input_bytes_delta(fn):
        # uiWebUrl, NOT a hardcoded :4040 — another JVM holding the
        # port bumps this app to 4041 (same discipline as _shuffle_bytes)
        app = spark.sparkContext.applicationId
        url = f"{spark.sparkContext.uiWebUrl}/api/v1/applications/{app}/stages"
        before = sum(
            s.get("inputBytes", 0) for s in json.load(urllib.request.urlopen(url))
        )
        out = fn()
        after = sum(
            s.get("inputBytes", 0) for s in json.load(urllib.request.urlopen(url))
        )
        return out, after - before

    back = similarity.read_ivfpq_index(spark, idx_path)
    # pruning evidence, isolated from the re-rank's embedding scans: a
    # probed-cells-only scan of the index vs a full scan, bytes read
    # from the stage metrics
    probe_cells = list(range(n_probe))  # any n_probe distinct cells
    # Pruning evidence is FILE-LEVEL, not the stage inputBytes counter:
    # with the one-file-per-cell v2 layout the Hadoop read-statistics
    # counter under-reports (427 KB reported for a full scan whose
    # codes column alone is 16 MB), and a parquet count() is satisfied
    # from footers alone.  Partition pruning's contract is exactly
    # "the scan lists only the probed centroid= directories" (plan
    # PartitionFilters assertion: tests/test_dedup_recall.py), so the
    # bytes a probed query can read IS the size of those directories.
    def _dir_bytes(cells=None):
        total = 0
        for dp, _, fs in os.walk(idx_path):
            cell = os.path.basename(dp)
            if cells is not None and not any(
                cell == f"centroid={c}" for c in cells
            ):
                continue
            total += sum(os.path.getsize(os.path.join(dp, f)) for f in fs)
        return total

    pruned_bytes = _dir_bytes(probe_cells)
    full_bytes = _dir_bytes()
    # cross-check the counter-based delta is <= the file-level bound
    _, pruned_read = _input_bytes_delta(
        lambda: back.filter(F.col("centroid").isin(probe_cells))
        .agg(F.sum(F.length("codes")))
        .first()
    )
    if pruned_read > pruned_bytes + 1_000_000:
        raise RuntimeError(
            f"counter-based pruned read {pruned_read} exceeds file-level "
            f"bound {pruned_bytes}"
        )
    t1 = time.time()
    rows_out, _ = _input_bytes_delta(
        lambda: similarity.ivfpq_topk_for(
            e, n_queries=n_queries, k=k, n_centroids=n_centroids,
            n_probe=n_probe, rerank_factor=50, centroids=centroids,
            codebooks=books, codes=back,
        ).count()
    )
    t_query = time.time() - t1
    spark.stop()
    return {
        "rows": rows,
        "index_bytes_on_disk": idx_bytes,
        "build_write_wall_sec": round(t_build, 1),
        "index_scan_bytes_probed_8_of_256": pruned_bytes,
        "index_scan_bytes_full": full_bytes,
        "scan_prune_ratio": round(pruned_bytes / max(full_bytes, 1), 4),
        "query_through_disk_index_wall_sec": round(t_query, 1),
        "result_rows": rows_out,
        "n_probe_fraction": round(n_probe / n_centroids, 4),
    }


def run_ring_recall(rows: int) -> dict:
    """Planted HUB-AND-SPOKE cluster recall: ring vs pairs topology
    (VERDICT r5 What's-missing #3).

    The ring docstring's connectivity claim assumes clique-like
    clusters; this leg measures the adversarial NON-clique shape it
    warns about: clusters of 1 hub + 9 spokes where each spoke's
    true 5-char-shingle Jaccard to the hub is ~0.78 (over the 0.7
    verify threshold; each replaced 8-char word corrupts ~13 shingle
    positions, which is what calibrates the replacement count)
    but spoke-to-spoke is ~0.63 (under it) — so every accepted edge
    must touch the hub, and a spoke is recovered iff some band bucket
    places it ADJACENT to the hub in ring order (k successors give k
    draws per shared bucket).  Construction: 120-word docs; a spoke
    keeps a seeded random ~92% of its hub's words and replaces the
    rest with spoke-unique words; minhash estimation noise (sigma ~0.06
    at 64 permutations) leaks a few spoke-spoke edges past the verify
    in EVERY mode, so the pairs row is the ceiling the ring rows are
    read against.  Background docs are all-unique word sets.
    Everything derives deterministically from doc_id, so generation is
    distributed and partition-invariant."""
    from pyspark.sql import functions as F

    from sequali_spark.operators import dedup
    from sequali_spark.session import get_spark

    cluster_size, n_words, n_repl = 10, 120, 10
    n_clusters = rows // (cluster_size * 10)  # 10% of docs in clusters
    spark = get_spark(app_name="atscale_ring_recall")

    def _gen(it):
        import numpy as np
        import pandas as pd

        alpha = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", np.uint8)

        def rand_words(rng, n):
            # 8 random letters per word: no shared substrings between
            # docs beyond chance (f-string schemes like "b{id}_{j}"
            # leak shingle overlap through shared digit prefixes and
            # chain unrelated docs together at the verify threshold)
            m = alpha[rng.randint(0, 26, (n, 8))]
            return [bytes(row).decode() for row in m]

        for pdf in it:
            ids = pdf["id"].to_numpy()
            texts = []
            for did in ids:
                did = int(did)
                if did < n_clusters * cluster_size:
                    cluster, slot = divmod(did, cluster_size)
                    words = rand_words(np.random.RandomState(1_000_000 + cluster), n_words)
                    if slot:  # spokes replace a seeded 15% of hub words
                        rng = np.random.RandomState(97 + did)
                        repl = rand_words(rng, n_repl)
                        for w, j in zip(repl, rng.choice(n_words, n_repl, replace=False)):
                            words[j] = w
                else:
                    words = rand_words(np.random.RandomState(2_000_000 + did), n_words)
                texts.append(" ".join(words))
            yield pd.DataFrame({"doc_id": ids, "text": texts})

    docs = (
        spark.range(rows)
        .repartition(64)
        .mapInPandas(_gen, schema="doc_id long, text string")
    )
    # the keepers' exact-rep election (dedup.keepers_from_labeled_sigs)
    sigs = dedup.exact_rep_labeled_sigs(docs).filter("doc_id = rep")
    sigs = sigs.persist()
    sigs.count()

    hubs = {c: c * cluster_size for c in range(n_clusters)}
    spoke_total = n_clusters * (cluster_size - 1)
    out = {"rows": rows, "n_clusters": n_clusters, "spokes": spoke_total, "modes": {}}
    for mode_name, kwargs in (
        ("pairs", {"edge_mode": "pairs"}),
        ("ring_k1", {"edge_mode": "ring", "ring_successors": 1}),
        ("ring_k2", {"edge_mode": "ring", "ring_successors": 2}),
        ("ring_k4", {"edge_mode": "ring", "ring_successors": 4}),
    ):
        t0 = time.time()
        pairs = dedup.minhash_pairs_from_sigs(sigs, threshold=0.7, **kwargs)
        n_edges = pairs.count()
        cc_stats: dict = {}
        labels = dedup.connected_components(pairs, stats=cc_stats)
        lab = {r["doc_id"]: r["component"] for r in labels.collect()}
        wall = time.time() - t0
        recovered = 0
        for c in range(n_clusters):
            hub_lab = lab.get(hubs[c])
            for s in range(1, cluster_size):
                did = c * cluster_size + s
                if hub_lab is not None and lab.get(did) == hub_lab:
                    recovered += 1
        out["modes"][mode_name] = {
            "verified_edges": n_edges,
            "cc_rounds": cc_stats.get("rounds"),
            "spoke_recall": round(recovered / spoke_total, 4),
            "wall_sec": round(wall, 1),
        }
    sigs.unpersist()
    spark.stop()
    return out


def _paragraph_leg(docs_dir: str) -> dict:
    """One paragraph-dedup leg in a fresh interpreter (subprocess
    target): run the operator end-to-end, reduce the result to
    order-independent invariants (counts + a bit_xor row digest, so
    legs at different parallelism can be compared exactly without
    materializing the rewritten corpus twice), and record walls +
    shuffle bytes."""
    from pyspark.sql import functions as F

    from sequali_spark.operators.dedup import paragraph_dedup
    from sequali_spark.session import get_spark

    spark = get_spark(
        app_name="atscale_paragraph",
        extra_conf={"spark.ui.enabled": "true"},
    )
    docs = read(spark, os.path.join(docs_dir, "documents.parquet"))
    t0 = time.time()
    out = paragraph_dedup(docs, words_per_para=20)
    agg = out.agg(
        F.count("*").alias("docs"),
        F.sum("n_paras").alias("paras"),
        F.sum("n_kept").alias("kept"),
        F.sum((F.col("n_kept") < F.col("n_paras")).cast("long")).alias("modified"),
        F.sum((F.col("n_kept") == 0).cast("long")).alias("emptied"),
        F.bit_xor(
            F.xxhash64(F.col("doc_id").cast("string"), "text_dedup")
        ).alias("xor_digest"),
    ).collect()[0]
    wall = time.time() - t0
    shuffle_total, shuffle_peak = _shuffle_bytes(spark)
    spark.stop()
    return {
        "op_wall_sec": round(wall, 1),
        "docs_per_sec": round(agg["docs"] / wall, 1),
        "modified_docs": agg["modified"],
        "emptied_docs": agg["emptied"],
        "shuffle_write_bytes_total": shuffle_total,
        "shuffle_write_bytes_peak_stage": shuffle_peak,
        "parity": [
            agg["docs"], agg["paras"], agg["kept"],
            agg["modified"], agg["emptied"], agg["xor_digest"],
        ],
    }


def _paragraph_ladder_leg(docs_dir: str, cpus: int, env: dict) -> dict:
    """One scaling_ladder leg: _paragraph_leg in a fresh interpreter."""
    return child_json(
        [
            sys.executable,
            "-c",
            "import json, sys; sys.path.insert(0, %r); "
            "from scripts.atscale import _paragraph_leg; "
            "print(json.dumps(_paragraph_leg(%r)))" % (REPO, docs_dir),
        ],
        env,
    )


def run_paragraph(rows: int) -> dict:
    """Paragraph-level dedup + reconstruction at --rows documents on
    the scaling ladder; the legs' result invariants (counts + xor row
    digest) must match exactly."""
    leg = functools.partial(_paragraph_ladder_leg, _docs_dir(rows))
    return {"rows": rows, **scaling_ladder(leg)}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=2_000_000)
    ap.add_argument(
        "--mode",
        choices=["dedup", "curation", "curation-scaling", "paragraph", "ann",
                 "ann-disk", "ring-recall", "all"],
        default="all",
    )
    args = ap.parse_args()

    results: dict[str, dict] = {}
    if args.mode in ("dedup", "all"):
        results["dedup"] = run_dedup(args.rows)
        print(json.dumps({"dedup": results["dedup"]}))
    if args.mode in ("curation", "all"):
        results["curation"] = run_curation(args.rows)
        print(json.dumps({"curation": results["curation"]}))
    if args.mode == "curation-scaling":  # long ladder; not part of "all"
        results["curation_scaling"] = run_curation_scaling(args.rows)
        print(json.dumps({"curation_scaling": results["curation_scaling"]}))
    if args.mode == "paragraph":  # ladder; not part of "all"
        results["paragraph_dedup"] = run_paragraph(args.rows)
        print(json.dumps({"paragraph_dedup": results["paragraph_dedup"]}))
    if args.mode == "ann":  # separate corpus; not part of "all"
        results["ann"] = run_ann(args.rows)
        print(json.dumps({"ann": results["ann"]}))
    if args.mode == "ann-disk":
        results["ann_disk"] = run_ann_disk(args.rows)
        print(json.dumps({"ann_disk": results["ann_disk"]}))
    if args.mode == "ring-recall":
        results["ring_recall"] = run_ring_recall(args.rows)
        print(json.dumps({"ring_recall": results["ring_recall"]}))

    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    with open(os.path.join(REPO, "BENCH", "ATSCALE.md"), "a") as f:
        f.write(f"\n## atscale run — rows={args.rows}\n\n```json\n")
        f.write(json.dumps(results, indent=2))
        f.write("\n```\n")


if __name__ == "__main__":
    main()
