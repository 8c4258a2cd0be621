"""End-to-end spark-submit job CLI: package zip + batch run + report."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_package_zip():
    subprocess.run(["sh", "scripts/package.sh"], cwd=REPO, check=True, capture_output=True)
    assert os.path.exists(os.path.join(REPO, "dist", "sequali_spark.zip"))
    import zipfile

    with zipfile.ZipFile(os.path.join(REPO, "dist", "sequali_spark.zip")) as z:
        names = z.namelist()
    assert "sequali_spark/pipeline.py" in names
    assert "sequali_spark/resources/patterns.tsv" in names  # models ship in-zip


# Run twice by test_package_zip_runs_outside_the_repo: as a script with
# only the zip importable, and in-process from the checkout.  It builds
# a batch of inputs the generator never produces and digests the
# compute_metrics frame (repr of a float is exact, so the digest is
# bit-level).
_ZIP_PROBE = """
import hashlib, json, sys

import pandas as pd


def batch():
    texts = ["a\\x00b c\\x00", "\\u212a elvin ok", "", None,
             "my ssn is 123-45-6789 ok", "what a frakking mess"]
    n = len(texts)
    return pd.DataFrame({
        "url": [f"https://x.test/{i}" for i in range(n)],
        "warc_ts": pd.to_datetime(["2024-01-01"] * n),
        "html": [None] * n,
        "text": texts,
        "lang": ["en"] * n,
    })


def digest(frame):
    h = hashlib.blake2b()
    for col in frame.columns:
        h.update(col.encode() + repr(frame[col].tolist()).encode())
    return h.hexdigest()


if __name__ == "__main__":
    import sequali_spark
    from sequali_spark.functions.metrics import compute_metrics

    print(json.dumps({
        "file": sequali_spark.__file__,
        "digest": digest(compute_metrics(batch())),
        "fixtures_imported": "sequali_spark.fixtures" in sys.modules,
    }))
"""


def test_package_zip_runs_outside_the_repo(tmp_path):
    """The documented deployment: the zip alone on PYTHONPATH, run from
    outside the checkout.  The models and scrub patterns load from
    inside the zip (nothing is retrained from fixtures) and the metric
    frame is bit-identical to the in-process one."""
    import runpy

    subprocess.run(["sh", "scripts/package.sh"], cwd=REPO, check=True, capture_output=True)
    zip_path = os.path.join(REPO, "dist", "sequali_spark.zip")
    probe = tmp_path / "probe.py"
    probe.write_text(_ZIP_PROBE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = zip_path
    proc = subprocess.run(
        [sys.executable, str(probe)],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["file"].startswith(zip_path + os.sep), got["file"]
    assert not got["fixtures_imported"]

    from sequali_spark.functions.metrics import compute_metrics

    ns = runpy.run_path(str(probe), run_name="probe")
    assert got["digest"] == ns["digest"](compute_metrics(ns["batch"]()))


def test_batch_job_cli(spark, pages_tiny, tmp_path):
    src = str(tmp_path / "pages")
    from tests.test_pipeline import pages_df

    pages_df(spark, pages_tiny).write.parquet(src)
    out = str(tmp_path / "labels")
    report = str(tmp_path / "report.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_pipeline.py",
            "--input", src, "--output", out, "--mode", "batch", "--report", report,
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rep = json.load(open(report))
    assert rep["counters"]["docs_seen"] == len(pages_tiny)
    assert 0 < rep["counters"]["docs_kept"] < len(pages_tiny)
    assert rep["rule_hits"].get("toxicity", 0) > 0
    labels = spark.read.parquet(out)
    assert labels.count() == len(pages_tiny)

    # --mode report over the saved labels re-renders the batch report:
    # same blocks, integers exact; per_host means are float sums whose
    # order follows the partitioning, so they match to 1e-9 relative
    rerendered = str(tmp_path / "rerendered.json")
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_pipeline.py",
            "--input", out, "--output", str(tmp_path / "unused"),
            "--mode", "report", "--report", rerendered,
        ],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rep2 = json.load(open(rerendered))
    assert set(rep2) == set(rep) == {
        "counters", "rule_hits", "lang_hist", "duplication", "overrepresented",
        "length_stats", "per_host",
    }
    per_host, per_host2 = rep.pop("per_host"), rep2.pop("per_host")
    assert rep2 == rep
    assert [h["host"] for h in per_host2] == [h["host"] for h in per_host]
    for a, b in zip(per_host, per_host2):
        for k, v in a.items():
            if isinstance(v, float):
                assert b[k] == pytest.approx(v, rel=1e-9, abs=1e-12), (a["host"], k)
            else:
                assert b[k] == v, (a["host"], k)


def test_resumable_job_cli(spark, pages_tiny, tmp_path):
    """spark-submit surface for --mode resumable: first run bounded by
    nothing, second invocation reports zero new units."""
    src = str(tmp_path / "pages")
    from tests.test_pipeline import pages_df

    pages_df(spark, pages_tiny).write.parquet(src)
    out = str(tmp_path / "labels")
    lin = str(tmp_path / "lineage")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    cmd = [
        sys.executable, "jobs/run_pipeline.py",
        "--input", src, "--output", out, "--lineage", lin, "--mode", "resumable",
    ]
    p1 = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=420)
    assert p1.returncode == 0, p1.stderr[-2000:]
    done1 = json.loads([l for l in p1.stdout.splitlines() if l.startswith("{")][0])
    assert len(done1["processed_units"]) > 0

    p2 = subprocess.run(cmd, cwd=REPO, env=env, capture_output=True, text=True, timeout=420)
    assert p2.returncode == 0, p2.stderr[-2000:]
    done2 = json.loads([l for l in p2.stdout.splitlines() if l.startswith("{")][0])
    assert done2["processed_units"] == []  # resume finds nothing left
    assert spark.read.parquet(out).count() == len(pages_tiny)


def test_curation_job_cli(spark, sf_dir, tmp_path):
    """End-to-end curation over the driver's documents table: quality
    gates + dedup keepers + decontamination composed into one curated
    output whose stats reconcile exactly (kept + dropped == input)."""
    out = str(tmp_path / "curated")
    stats_path = str(tmp_path / "stats.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_curation.py",
            "--input", sf_dir, "--output", out, "--stats", stats_path,
        ],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.load(open(stats_path))
    n_in = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    assert stats["input_docs"] == n_in
    assert stats["kept"] + sum(stats["dropped"].values()) == n_in
    # every drop bucket the corpus actually triggers is attributed
    assert stats["kept"] > 0 and stats["dropped"].get("quality", 0) > 0
    curated = spark.read.parquet(out)
    assert curated.count() == stats["kept"]
    # curated docs are unique and carry the full document schema
    assert curated.select("doc_id").distinct().count() == stats["kept"]
    assert "text" in curated.columns
    assert stats["resumed_from_checkpoint"] is False

    # crash-resume: a re-invocation reuses the checkpointed decision
    # table (the expensive stage) and reproduces identical stats
    stats2_path = str(tmp_path / "stats2.json")
    proc2 = subprocess.run(
        [
            sys.executable, "jobs/run_curation.py",
            "--input", sf_dir, "--output", out, "--stats", stats2_path,
        ],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc2.returncode == 0, proc2.stderr[-2000:]
    stats2 = json.load(open(stats2_path))
    assert stats2["resumed_from_checkpoint"] is True
    # compare the SEMANTIC stats; the wall-clock observability field
    # (phase_walls_sec) differs by construction
    skip = {"resumed_from_checkpoint", "phase_walls_sec"}
    assert {k: v for k, v in stats2.items() if k not in skip} == {
        k: v for k, v in stats.items() if k not in skip
    }

    # changed parameters invalidate the checkpoint: a --min-gates 3 run
    # must RECOMPUTE (manifest mismatch), not silently reuse
    stats3_path = str(tmp_path / "stats3.json")
    proc3 = subprocess.run(
        [
            sys.executable, "jobs/run_curation.py",
            "--input", sf_dir, "--output", out, "--stats", stats3_path,
            "--min-gates", "3",
        ],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc3.returncode == 0, proc3.stderr[-2000:]
    stats3 = json.load(open(stats3_path))
    assert stats3["resumed_from_checkpoint"] is False
    # looser gates keep at least as many docs
    assert stats3["kept"] >= stats["kept"]


def test_curation_cli_paragraph_dedup(spark, sf_dir, tmp_path):
    """--paragraph-dedup rewrites the KEPT corpus with the corpus-wide
    paragraph pass: the curated output must equal paragraph_dedup
    applied directly to the kept docs (minus emptied ones), keep the
    unflagged schema and column order with n_chars recomputed, leave
    the decision stats untouched, and report the paragraph stats."""
    out = str(tmp_path / "curated_pd")
    base_out = str(tmp_path / "curated_plain")
    stats_path = str(tmp_path / "stats_pd.json")
    base_stats_path = str(tmp_path / "stats_plain.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    for flags, o, s in [
        ([], base_out, base_stats_path),
        (["--paragraph-dedup"], out, stats_path),
    ]:
        proc = subprocess.run(
            [
                sys.executable, "jobs/run_curation.py",
                "--input", sf_dir, "--output", o, "--stats", s, "--force",
            ] + flags,
            cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.load(open(stats_path))
    base = json.load(open(base_stats_path))
    # decisions identical: the flag is downstream of the decision table
    assert (stats["kept"], stats["dropped"]) == (base["kept"], base["dropped"])
    ps = stats["paragraph_dedup"]
    assert ps["paragraphs"] >= ps["paragraphs_kept"] > 0
    assert "paragraph_dedup" not in base

    plain = spark.read.parquet(base_out)
    curated = spark.read.parquet(out)
    assert curated.columns == plain.columns  # schema + order fidelity
    assert curated.count() == stats["kept"] - ps["docs_emptied"]

    # cross-check against the operator applied directly to the kept set
    from pyspark.sql import functions as F

    from sequali_spark.operators.dedup import paragraph_dedup

    expected = paragraph_dedup(plain, words_per_para=20).filter(
        F.col("n_kept") > 0
    )
    assert expected.count() == curated.count()
    joined = curated.join(
        expected.select("doc_id", "text_dedup"), "doc_id"
    )
    assert joined.count() == curated.count()
    assert joined.filter("text != text_dedup").count() == 0
    assert curated.filter("n_chars != length(text)").count() == 0


def test_curation_cli_external_probes(spark, tmp_path):
    """--probes parquet flows through projection/type-pinning into the
    contamination join: a marker probe drops exactly the docs carrying
    it, even when the probes table has extra/mis-typed columns."""
    import pandas as pd

    marker = "qzj benchmark probe qzj"
    good = "plenty of plain english words about storage engines " * 6
    rows = [
        (0, good + " one", "s1"),
        (1, "another long unrelated document on compilers and parsing " * 6 + marker, "s1"),
        (2, "a third long document about networks and routing tables " * 6, "s2"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "docs"
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))
    # probes table with a STRING probe_doc and extra columns: the CLI
    # must project + cast before the join
    probes_path = str(tmp_path / "probes")
    spark.createDataFrame(
        [("7", marker, "extra", 1)],
        schema="probe_doc string, probe string, doc_id string, text int",
    ).write.parquet(probes_path)

    out = str(tmp_path / "curated")
    stats_path = str(tmp_path / "stats.json")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)
    proc = subprocess.run(
        [
            sys.executable, "jobs/run_curation.py",
            "--input", str(d), "--output", out, "--stats", stats_path,
            "--probes", probes_path,
        ],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    stats = json.load(open(stats_path))
    assert stats["dropped"].get("contaminated") == 1
    kept_ids = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert 1 not in kept_ids and {0, 2} <= kept_ids


def test_dedup_job_cli_checkpoints_signatures(spark, tmp_path):
    """jobs/run_dedup.py: the signature stage (the only pass over text)
    is checkpointed and reused across invocations — including a
    --threshold change (sketches are threshold-independent) — while an
    in-place rewrite of the input invalidates it (content fingerprint,
    not path equality)."""
    import pandas as pd

    import random

    rng = random.Random(3)

    def prose(vocab):
        words = [f"{w}{vocab}" for w in ("alpha", "beta", "gamma", "delta", "web")]
        return " ".join(rng.choice(words) for _ in range(120))

    # 6 mutually-dissimilar docs (per-doc vocab => no shared shingles)
    rows = [(i, prose(f"v{i}"), "s1") for i in range(6)]
    base = prose("dup")
    rows += [(10, base, "s2"), (11, base, "s2")]  # exact dup pair
    near = prose("near")
    rows += [(20, near, "s2"), (21, near + " x", "s2")]  # near-dup pair
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "docs"
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))
    out = str(tmp_path / "dedup")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)

    def run(stats_name, *extra):
        stats_path = str(tmp_path / stats_name)
        proc = subprocess.run(
            [
                sys.executable, "jobs/run_dedup.py",
                "--input", str(d), "--output", out, "--stats", stats_path,
                *extra,
            ],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.load(open(stats_path))

    s1 = run("s1.json")
    assert s1["resumed_signatures"] is False
    assert s1["input_docs"] == 10 and s1["exact_reps"] == 9  # 10/11 collapse
    assert s1["keepers"] == s1["clusters"]
    assert s1["clustered_docs"] >= 4  # the exact pair + the near pair
    keepers = {
        r["doc_id"]: r for r in spark.read.parquet(out).collect()
    }
    assert keepers[10]["keep_doc"] and not keepers[11]["keep_doc"]
    assert keepers[20]["keep_doc"] and not keepers[21]["keep_doc"]

    # re-run: signatures reused, identical decisions
    s2 = run("s2.json")
    assert s2["resumed_signatures"] is True
    assert {k: v for k, v in s2.items() if k != "resumed_signatures"} == {
        k: v for k, v in s1.items() if k != "resumed_signatures"
    }

    # a checkpoint whose manifest lacks the bit-plane count (written
    # before pack_planes joined it, by a sketcher that may not have
    # emitted the ``packed`` column) fails the match: re-sketch
    from jobs.run_dedup import SIGS_MANIFEST_SCHEMA
    from sequali_spark.runtime import checkpoint

    man = out + "_sigs_manifest"
    with open(man) as f:
        current = json.load(f)
    assert current["schema"] == SIGS_MANIFEST_SCHEMA
    legacy_rows = [tuple(r[:3] + r[4:]) for r in current["rows"]]  # drop pack_planes
    legacy_schema = "input string, n_minhash int, lsh_bands int, n_docs long, content_fp string"
    checkpoint.write_stage_manifest(spark, man, legacy_rows, legacy_schema)
    # the legacy manifest is readable, so the re-sketch below comes from
    # the missing column, not from an unreadable file
    assert checkpoint.stage_is_reusable(spark, out + "_sigs", man, legacy_rows, legacy_schema)
    s_legacy = run("s_legacy.json")
    assert s_legacy["resumed_signatures"] is False
    assert {k: v for k, v in s_legacy.items() if k != "resumed_signatures"} == {
        k: v for k, v in s1.items() if k != "resumed_signatures"
    }

    # threshold change: sketches still reused, edges recomputed
    s3 = run("s3.json", "--threshold", "0.5")
    assert s3["resumed_signatures"] is True and s3["threshold"] == 0.5

    # in-place TEXT-only rewrite (same ids): signatures are a function
    # of the text, so the content fingerprint must force a re-sketch
    pdf2 = pdf.copy()
    pdf2.loc[pdf2["doc_id"] == 21, "text"] = "completely different replacement text " * 4
    spark.createDataFrame(pdf2).write.mode("overwrite").parquet(
        str(d / "documents.parquet")
    )
    s4 = run("s4.json")
    assert s4["resumed_signatures"] is False


def test_stage_checkpoint_helpers(spark, tmp_path):
    """runtime/checkpoint.py contract: reuse requires the data's
    _SUCCESS + a manifest FILE whose schema and (order-insensitive)
    rows equal this invocation's; invalidation deletes the manifest so
    every crash window fails toward recompute."""
    from sequali_spark.runtime.checkpoint import (
        content_fingerprint,
        invalidate_stage_manifest,
        stage_is_reusable,
        write_stage_manifest,
    )

    data = str(tmp_path / "stage")
    man = str(tmp_path / "stage_manifest")
    schema = "k string, v int"
    rows = [("b", 2), ("a", 1)]  # two rows: exercises order-insensitivity
    write_stage_manifest(spark, man, rows, schema)
    assert os.path.isfile(man)
    assert not os.path.exists(str(tmp_path / ".stage_manifest.tmp"))
    assert json.load(open(man)) == {"schema": schema, "rows": [["a", 1], ["b", 2]]}
    assert not stage_is_reusable(spark, data, man, rows, schema)  # no data
    spark.range(3).write.parquet(data)
    assert stage_is_reusable(spark, data, man, rows, schema)
    # same rows, different order: still reusable
    assert stage_is_reusable(spark, data, man, [("a", 1), ("b", 2)], schema)
    # changed parameter or schema: not reusable
    assert not stage_is_reusable(spark, data, man, [("a", 1), ("b", 3)], schema)
    assert not stage_is_reusable(spark, data, man, rows, "k string, v long")
    # invalidation (the delete-manifest-first crash guard)
    invalidate_stage_manifest(spark, man)
    assert not stage_is_reusable(spark, data, man, rows, schema)
    invalidate_stage_manifest(spark, man)  # idempotent on absent path

    # content_fingerprint: order-independent, duplicate-sensitive
    a = spark.createDataFrame([(1, "x"), (2, "y")], "id long, t string")
    b = spark.createDataFrame([(2, "y"), (1, "x")], "id long, t string")
    dup = spark.createDataFrame([(1, "x"), (1, "x")], "id long, t string")
    assert content_fingerprint(a, "id", "t") == content_fingerprint(b, "id", "t")
    assert content_fingerprint(a, "id", "t") != content_fingerprint(dup, "id", "t")


def test_stage_rebuilds_after_failed_build(spark, tmp_path, monkeypatch):
    """checkpoint.stage: a committed stage is reused; a build that
    raises on a later recompute leaves no matching manifest, so the
    next call rebuilds instead of reusing the old data.  The reuse
    check and the manifest commit are looked up as module globals, so
    a tracer that replaces them (perfbench --trace 1) sees the calls."""
    from sequali_spark.runtime import checkpoint

    path = str(tmp_path / "stage")
    schema = "k string, v int"
    rows = [("a", 1)]
    builds = []

    def build():
        builds.append(1)
        return spark.range(3)

    def crash():
        raise RuntimeError("killed mid-build")

    calls = []
    for name in ("stage_is_reusable", "write_stage_manifest"):
        real = getattr(checkpoint, name)
        monkeypatch.setattr(
            checkpoint, name,
            lambda *a, _n=name, _f=real, **k: calls.append(_n) or _f(*a, **k),
        )

    df, reused = checkpoint.stage(spark, path, rows, schema, build)
    assert not reused and df.count() == 3 and len(builds) == 1
    assert calls == ["stage_is_reusable", "write_stage_manifest"]
    _, reused = checkpoint.stage(spark, path, rows, schema, crash)
    assert reused  # matching manifest: build is never called

    with pytest.raises(RuntimeError, match="killed mid-build"):
        checkpoint.stage(spark, path, rows, schema, crash, force=True)
    assert not checkpoint.stage_is_reusable(spark, path, path + "_manifest", rows, schema)
    df, reused = checkpoint.stage(spark, path, rows, schema, build)
    assert not reused and df.count() == 3 and len(builds) == 2


@pytest.mark.parametrize("damage", ["truncated", "truncated_no_crc", "parquet_dir"])
def test_stage_rebuilds_over_unreadable_manifest(spark, tmp_path, damage):
    """A manifest that cannot be read as this invocation's — a
    truncated file (with its local .crc left stale, or without one) or
    the one-row parquet directory older versions wrote — is not a
    match: stage() rebuilds and commits a readable manifest over it."""
    from sequali_spark.runtime import checkpoint

    path = str(tmp_path / "stage")
    man = path + "_manifest"
    schema = "k string, v int"
    rows = [("a", 1)]
    checkpoint.stage(spark, path, rows, schema, lambda: spark.range(3))
    if damage == "parquet_dir":
        os.remove(man)
        spark.createDataFrame(rows, schema).write.parquet(man)
    else:
        with open(man, "r+") as f:
            f.truncate(os.path.getsize(man) // 2)
        if damage == "truncated_no_crc":
            os.remove(str(tmp_path / ".stage_manifest.crc"))
    assert not checkpoint.stage_is_reusable(spark, path, man, rows, schema)
    df, reused = checkpoint.stage(spark, path, rows, schema, lambda: spark.range(5))
    assert not reused and df.count() == 5
    assert os.path.isfile(man)
    assert checkpoint.stage_is_reusable(spark, path, man, rows, schema)


def test_curation_cli_width_invariance(spark, sf_dir, tmp_path):
    """The default shuffle width follows the core count, so the same
    job at SPARK_GRAFT_CPUS=1 and =4 (no SPARK_GRAFT_SHUFFLE) runs at
    widths 1 and 4: its decisions and curated rows must be equal."""
    results = []
    for cpus in ("1", "4"):
        out = str(tmp_path / f"curated_{cpus}")
        env = dict(os.environ, SPARK_GRAFT_CPUS=cpus, PYTHONPATH=REPO)
        env.pop("SPARK_GRAFT_SHUFFLE", None)
        env.pop("SPARK_GRAFT_MASTER", None)
        proc = subprocess.run(
            [
                sys.executable, "jobs/run_curation.py", "--input", sf_dir,
                "--output", out, "--paragraph-dedup", "--force",
            ],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        results.append(tuple(
            sorted(map(tuple, spark.read.parquet(p).collect()))
            for p in (out + "_decisions", out)
        ))
    assert results[0][0] and results[0][1]
    assert results[0] == results[1]


def test_probes_fingerprint_sees_duplicated_rows(spark):
    """The content fingerprint must distinguish tables whose differing
    rows appear an even number of times — an XOR of row hashes cancels
    duplicates (x^x=0) and would collide these two structurally."""
    from jobs.run_curation import _probes_fingerprint

    a = spark.createDataFrame(
        [(900, "A"), (901, "B"), (901, "B")], schema="probe_doc long, probe string"
    )
    b = spark.createDataFrame(
        [(900, "A"), (77, "Z"), (77, "Z")], schema="probe_doc long, probe string"
    )
    assert _probes_fingerprint(a) != _probes_fingerprint(b)
    assert _probes_fingerprint(None) == ""


def test_decontamination_probe_count_guard_is_loud(spark):
    """An external probes table past the broadcast cap must RAISE and
    point at the winnow path — never silently launch the O(docs x
    probes) theta-join (the no-silent-caps discipline)."""
    import pytest
    from pyspark.sql import functions as F

    from sequali_spark.operators.textqc import decontamination_hits

    docs = spark.createDataFrame(
        [(0, "some document text", "s1", 18)],
        schema="doc_id long, text string, source string, n_chars long",
    )
    probes = spark.range(10).select(
        F.col("id").alias("probe_doc"), F.concat(F.lit("p"), "id").alias("probe")
    )
    # under the cap: builds fine
    assert decontamination_hits(docs, probes=probes, max_broadcast_probes=10).count() == 0
    with pytest.raises(ValueError, match="winnow"):
        decontamination_hits(docs, probes=probes, max_broadcast_probes=9)


def test_curation_keeper_reelection_prefers_survivors(spark, tmp_path):
    """A near-dup cluster whose min-id member fails the quality gates
    (or is contaminated) must still keep a clean representative: the
    keeper is re-elected among members that survive the other passes,
    instead of electing blindly by min doc_id and losing the whole
    cluster (min-id drops as 'quality', the rest as 'duplicate')."""
    import pandas as pd

    from jobs.run_curation import curate

    # pair 1: B passes all gates; A = B truncated under the 50-char
    # length gate (5-gram Jaccard ~0.94, still a near-dup)
    b_text = "many small words fill this quick line of prose ok yes sir"
    a_text = b_text[:49]
    assert len(a_text) < 50 <= len(b_text)
    # pair 2: both pass gates, but the min-id member carries a probe
    marker = "vqk benchmark marker vqk"
    clean = "plain sentences about storage engines and query planners " * 7
    rows = [
        (0, a_text, "s1"),
        (1, b_text, "s1"),
        (10, clean + marker, "s2"),
        (11, clean + "tail words", "s2"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "reelect"
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))
    probes = spark.createDataFrame(
        [(999, marker)], schema="probe_doc long, probe string"
    )

    got = {r["doc_id"]: r for r in curate(spark, str(d), probes=probes).collect()}
    assert got[0]["drop_reason"] == "quality"
    assert got[1]["keep"], "gate-passing member must be re-elected keeper"
    assert got[10]["drop_reason"] == "contaminated"
    assert got[11]["keep"], "uncontaminated member must be re-elected keeper"


def test_curation_probes_rewrite_invalidates_checkpoint(spark, tmp_path):
    """The resume manifest fingerprints the probes table by CONTENT:
    rewriting the probes parquet in place between runs (same path) must
    force a recompute, not silently reuse decisions from the old probe
    set."""
    import pandas as pd

    marker_a = "qaz probe one qaz"
    marker_b = "wsx probe two wsx"
    rows = [
        (0, "long clean document about compilers and linkers " * 6 + marker_a, "s1"),
        (1, "long clean document about networks and routers " * 6 + marker_b, "s1"),
        (2, "long clean document about storage and caching layers " * 6, "s2"),
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "docs"
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))
    probes_path = str(tmp_path / "probes")
    out = str(tmp_path / "curated")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)

    def run(stats_name):
        stats_path = str(tmp_path / stats_name)
        proc = subprocess.run(
            [
                sys.executable, "jobs/run_curation.py",
                "--input", str(d), "--output", out, "--stats", stats_path,
                "--probes", probes_path,
            ],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.load(open(stats_path))

    spark.createDataFrame(
        [(900, marker_a)], schema="probe_doc long, probe string"
    ).write.parquet(probes_path)
    stats1 = run("stats1.json")
    assert stats1["dropped"].get("contaminated") == 1

    # rewrite the probes table IN PLACE (same path, different content)
    spark.createDataFrame(
        [(900, marker_a), (901, marker_b)], schema="probe_doc long, probe string"
    ).write.mode("overwrite").parquet(probes_path)
    stats2 = run("stats2.json")
    assert stats2["resumed_from_checkpoint"] is False
    assert stats2["dropped"].get("contaminated") == 2


def test_curation_docs_rewrite_invalidates_checkpoint(spark, tmp_path):
    """The resume manifest fingerprints the input DOCUMENTS by content
    (ADVICE r4, mirroring run_dedup.py): rewriting documents.parquet in
    place between runs (same path) must force a recompute — stale
    decision doc_ids would otherwise join against the new corpus."""
    import pandas as pd

    def write_docs(texts):
        pdf = pd.DataFrame(
            [(i, t, "s1") for i, t in enumerate(texts)],
            columns=["doc_id", "text", "source"],
        )
        pdf["n_chars"] = pdf["text"].str.len()
        spark.createDataFrame(pdf).write.mode("overwrite").parquet(
            str(d / "documents.parquet")
        )

    d = tmp_path / "docs"
    out = str(tmp_path / "curated")
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO)

    def run(stats_name):
        stats_path = str(tmp_path / stats_name)
        proc = subprocess.run(
            [
                sys.executable, "jobs/run_curation.py",
                "--input", str(d), "--output", out, "--stats", stats_path,
            ],
            cwd=REPO, env=env, capture_output=True, text=True, timeout=420,
        )
        assert proc.returncode == 0, proc.stderr[-2000:]
        return json.load(open(stats_path))

    base = [
        "long clean document about compilers and linkers " * 6,
        "long clean document about networks and routers " * 6,
        "long clean document about storage and caching layers " * 6,
    ]
    write_docs(base)
    stats1 = run("stats1.json")
    stats1b = run("stats1b.json")
    assert stats1b["resumed_from_checkpoint"] is True  # same content reuses
    # rewrite the docs IN PLACE (same path, one doc now an exact dup)
    write_docs(base + [base[0]])
    stats2 = run("stats2.json")
    assert stats2["resumed_from_checkpoint"] is False
    assert stats2["input_docs"] == stats1["input_docs"] + 1
    assert stats2["dropped"].get("duplicate") == 1


def test_curation_drop_precedence(spark, tmp_path):
    """A doc that is BOTH low-quality and a duplicate is attributed to
    'quality' (the documented precedence); exact dup clusters keep one
    member."""
    import pandas as pd

    from jobs.run_curation import curate

    good = (
        "the quick brown fox jumps over the lazy dog and keeps going "
        "with many more plain english words about data systems " * 3
    )
    marker = "zqx benchmark marker zqx"
    rows = [
        (0, good, "s1"), (1, good, "s1"),           # dup pair, good quality
        (2, "tiny", "s1"), (3, "tiny", "s2"),       # dup pair, bad quality
        # unique long text (NOT a near-dup of `good`) carrying the probe
        (4, "completely separate prose on weather patterns and ocean currents " * 5 + marker, "s2"),
        (5, "a different long enough clean document " * 8, "s2"),  # unique, good
    ]
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "source"])
    pdf["n_chars"] = pdf["text"].str.len()
    d = tmp_path / "cur"
    spark.createDataFrame(pdf).write.parquet(str(d / "documents.parquet"))
    probes = spark.createDataFrame(
        [(999, marker)], schema="probe_doc long, probe string"
    )

    got = {r["doc_id"]: r for r in curate(spark, str(d), probes=probes).collect()}
    assert got[0]["keep"] and got[0]["drop_reason"] is None
    assert got[1]["drop_reason"] == "duplicate"
    # bad-quality dups attribute to quality, not duplicate (precedence)
    assert got[2]["drop_reason"] == "quality"
    assert got[3]["drop_reason"] == "quality"
    assert got[4]["drop_reason"] == "contaminated"
    assert got[5]["keep"]


def test_report_mode_rerenders_without_recompute(spark, tmp_path):
    """K4: --mode report reads a SAVED labels table and re-renders the
    JSON report; blocks soft-degrade to the columns present."""
    from sequali_spark.fixtures import generate_pages
    from sequali_spark.pipeline import quality_pipeline
    from tests.test_pipeline import pages_df

    labels_dir = str(tmp_path / "labels")
    pages = pages_df(spark, generate_pages(200, seed=42))
    cols = ["url", "keep", "drop_reasons", "lang_pred", "fingerprint"]
    quality_pipeline(spark, pages, repartition=False, output_columns=cols).write.parquet(
        labels_dir
    )

    report_path = str(tmp_path / "report.json")
    proc = subprocess.run(
        [sys.executable, "jobs/run_pipeline.py", "--input", labels_dir,
         "--output", str(tmp_path / "unused"), "--mode", "report",
         "--report", report_path],
        capture_output=True, text=True, cwd=REPO,
        env=dict(os.environ, SPARK_GRAFT_CPUS="4", PYTHONPATH=REPO),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    rep = json.load(open(report_path))
    assert rep["counters"]["docs_seen"] == 200
    assert set(rep) == {"counters", "rule_hits", "lang_hist", "duplication"}
    assert sum(rep["lang_hist"].values()) == 200


def test_curation_auto_decon_switches_past_broadcast_guard(spark, monkeypatch):
    """The decontamination router picks the broadcast theta-join for
    small probe sets and the winnow equi-join once the table exceeds
    the broadcast guard — asserted by recording which operator the
    router invoked (guard shrunk via monkeypatch; both operators share
    the hits contract so the routing is the only difference)."""
    from jobs.run_curation import _decon_hits
    from sequali_spark.operators import textqc

    docs = spark.createDataFrame(
        [(0, "some long enough document text for winnowing to chew on")],
        schema="doc_id long, text string",
    )
    probes = spark.createDataFrame(
        [(i, f"probe string number {i} padded to guarantee length....") for i in range(4)],
        schema="probe_doc long, probe string",
    )
    calls = []
    real_bc, real_wn = textqc.decontamination_hits, textqc.decontamination_hits_winnow
    monkeypatch.setattr(
        textqc, "decontamination_hits",
        lambda *a, **k: calls.append("broadcast") or real_bc(*a, **k),
    )
    monkeypatch.setattr(
        textqc, "decontamination_hits_winnow",
        lambda *a, **k: calls.append("winnow") or real_wn(*a, **k),
    )
    monkeypatch.setattr(textqc, "MAX_BROADCAST_PROBES", 10)
    _decon_hits(docs, probes)
    assert calls == ["broadcast"]
    monkeypatch.setattr(textqc, "MAX_BROADCAST_PROBES", 3)
    _decon_hits(docs, probes)
    assert calls == ["broadcast", "winnow"]
