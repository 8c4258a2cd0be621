"""Plan-shape checks (scale habits in CI) + multimodal plumbing."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from sequali_spark.plans import checks
from sequali_spark.sources import multimodal, tables


# --- plan shape --------------------------------------------------------------

def test_filter_pushdown_to_parquet(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id", "n_chars")
    )
    df.collect()
    pushed = checks.pushed_filters(df)
    assert "lang" in pushed, pushed
    cols = checks.read_schema_columns(df)
    assert set(cols) <= {"doc_id", "n_chars", "lang"}
    assert "text" not in cols  # column pruning: the big column never read


def test_broadcast_join_for_small_dim(spark, sf_dir):
    from sequali_spark.operators.similarity import brute_force_topk

    df = brute_force_topk(spark, sf_dir)
    assert checks.has_broadcast_join(df)


def test_metric_stage_single_python_pass(spark, pages_tiny):
    from sequali_spark.pipeline import quality_pipeline
    from tests.test_pipeline import pages_df

    df = quality_pipeline(spark, pages_df(spark, pages_tiny))
    assert checks.count_python_stages(df) == 1


def test_aggregates_reuse_one_metric_stage(spark, pages_tiny):
    """All corpus aggregates off one persisted metric frame: each
    downstream agg plan contains ZERO additional python stages (they
    read the InMemoryRelation)."""
    from sequali_spark.operators import aggregates as agg
    from sequali_spark.pipeline import quality_pipeline
    from tests.test_pipeline import pages_df

    m = quality_pipeline(spark, pages_df(spark, pages_tiny)).persist()
    m.count()
    try:
        for q in (agg.lang_histogram(m), agg.duplication_histogram(m), agg.per_host_report(m)):
            assert checks.count_python_stages(q) == 0
            assert "InMemoryTableScan" in checks.physical_plan(q)
    finally:
        m.unpersist()


# --- table IO seam -----------------------------------------------------------

def test_table_io_falls_back_to_parquet(spark, sf_dir):
    io = tables.get_table_io(spark)
    assert io.fmt == "parquet"  # no Iceberg jars in the sandbox
    df = io.read(f"{sf_dir}/documents.parquet")
    assert df.count() > 0
    ddl = io.create_pages_table_sql("catalog.db.pages")
    assert "days(warc_ts)" in ddl and "bucket(64, url)" in ddl


def test_table_io_iceberg_branch_contract():
    """Execute the Iceberg branch of every TableIO method against a
    recording mock catalog — the sandbox has no Iceberg jar, so this is
    the honest in-sandbox maximum: the exact API calls and the exact
    MERGE statement the production path issues are pinned verbatim."""
    calls = []

    class _Loader:
        def load(self, ref):
            calls.append(("load", ref))
            return "LOADED"

    class _Read:
        def format(self, fmt):
            calls.append(("format", fmt))
            return _Loader()

    class _FakeSpark:
        read = _Read()

        def sql(self, q):
            calls.append(("sql", q))

    class _WriteTo:
        def overwritePartitions(self):
            calls.append(("overwritePartitions",))

    class _DupCheck:
        """Records the duplicate-source-key guard's plan steps and
        reports a clean (no-duplicate) source."""

        def count(self):
            calls.append(("dupcheck.count",))
            return self

        def filter(self, _cond):
            calls.append(("dupcheck.filter",))
            return self

        def limit(self, n):
            calls.append(("dupcheck.limit", n))
            return self

        def collect(self):
            calls.append(("dupcheck.collect",))
            return []

    class _FakeDF:
        def writeTo(self, ref):
            calls.append(("writeTo", ref))
            return _WriteTo()

        def createOrReplaceTempView(self, name):
            calls.append(("view", name))

        def groupBy(self, key):
            calls.append(("dupcheck.groupBy", key))
            return _DupCheck()

    io = tables.TableIO(_FakeSpark(), fmt="iceberg")
    assert io.read("cat.db.pages") == "LOADED"
    io.write_partitioned(_FakeDF(), "cat.db.labels", "day")
    io.merge_upsert(_FakeDF(), "cat.db.labels", "url")
    assert calls == [
        ("format", "iceberg"),
        ("load", "cat.db.pages"),
        ("writeTo", "cat.db.labels"),
        ("overwritePartitions",),
        ("dupcheck.groupBy", "url"),
        ("dupcheck.count",),
        ("dupcheck.filter",),
        ("dupcheck.limit", 1),
        ("dupcheck.collect",),
        ("view", "_sequali_upsert_src"),
        (
            "sql",
            "MERGE INTO cat.db.labels t USING _sequali_upsert_src s "
            "ON t.url = s.url "
            "WHEN MATCHED THEN UPDATE SET * "
            "WHEN NOT MATCHED THEN INSERT *",
        ),
    ]


def test_table_io_parquet_merge_upsert_semantics(spark, tmp_path):
    """The parquet emulation of merge_upsert must match MERGE semantics:
    matching keys replaced, new keys inserted, others untouched — and a
    re-run of the same upsert is idempotent."""
    io = tables.TableIO(spark, fmt="parquet")
    ref = str(tmp_path / "labels")
    base = spark.createDataFrame(
        [("u1", 1), ("u2", 1), ("u3", 1)], schema="url string, version int"
    )
    io.merge_upsert(base, ref, "url")
    upsert = spark.createDataFrame(
        [("u2", 2), ("u4", 2)], schema="url string, version int"
    )
    io.merge_upsert(upsert, ref, "url")
    got = {r["url"]: r["version"] for r in spark.read.parquet(ref).collect()}
    assert got == {"u1": 1, "u2": 2, "u3": 1, "u4": 2}
    io.merge_upsert(upsert, ref, "url")  # idempotent re-run (resume story)
    got2 = {r["url"]: r["version"] for r in spark.read.parquet(ref).collect()}
    assert got2 == got


def test_table_io_merge_upsert_rejects_duplicate_source_keys(spark, tmp_path):
    """Duplicate keys in the source delta must raise BEFORE any write
    (ADVICE r4): Iceberg MERGE fails on multiple source matches, while
    the parquet emulation would silently produce a multi-row key — the
    two paths must fail identically instead."""
    io = tables.TableIO(spark, fmt="parquet")
    ref = str(tmp_path / "labels_dup")
    io.merge_upsert(
        spark.createDataFrame([("u1", 1)], schema="url string, version int"),
        ref,
        "url",
    )
    dup = spark.createDataFrame(
        [("u2", 2), ("u2", 3)], schema="url string, version int"
    )
    with pytest.raises(ValueError, match="duplicate 'url' keys"):
        io.merge_upsert(dup, ref, "url")
    # target untouched by the failed upsert
    assert spark.read.parquet(ref).count() == 1


def test_partitioned_writes_leave_session_overwrite_mode_alone(spark, pages_tiny, tmp_path):
    """Dynamic partition overwrite is a per-write option.  If
    ``write_partitioned`` or ``run_resumable`` switched the SESSION to
    dynamic mode, a later full overwrite of a partitioned path — here
    an IVF-PQ index rebuilt with 4 cells over a 16-cell one — would keep
    the 12 stale cells the new frame lacks."""
    import numpy as np

    from sequali_spark.operators import similarity as sim
    from sequali_spark.runtime import lineage
    from tests.test_pipeline import pages_df

    key = "spark.sql.sources.partitionOverwriteMode"
    mode = spark.conf.get(key)
    rng = np.random.RandomState(7)
    vecs = rng.randn(500, sim.EMB_DIM)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    e = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vecs)],
        schema="vec_id long, embedding array<float>",
    )
    index = str(tmp_path / "ivfpq_index")

    def write_index(n_cells):
        cents = sim.kmeans_centroids(e, n_centroids=n_cells, n_iter=2)
        books = sim.pq_train_residual(e, cents, n_sample=500, n_iter=2)
        sim.write_ivfpq_index(sim.ivfpq_encode(e, cents, books), index)

    write_index(16)
    tables.TableIO(spark, "parquet").write_partitioned(
        spark.createDataFrame([(1, "a")], schema="k int, p string"), str(tmp_path / "t"), "p"
    )
    assert spark.conf.get(key) == mode
    write_index(4)
    back = sim.read_ivfpq_index(spark, index)
    assert back.count() == 500
    assert back.select("centroid").distinct().count() == 4

    lineage.run_resumable(
        spark, pages_df(spark, pages_tiny), str(tmp_path / "labels"),
        str(tmp_path / "lineage"), max_units=1,
    )
    assert spark.conf.get(key) == mode


# --- multimodal --------------------------------------------------------------

@pytest.fixture()
def media_df(spark):
    pdf = pd.DataFrame(
        {
            "media_id": [f"m{i}" for i in range(6)],
            "kind": ["image", "image", "video", "video", "audio", "image"],
            "payload": [b"\x89PNGfake1", b"\x89PNGfake2", b"RIFFxx", b"RIFFxx", b"ID3yy", b"\x89PNGfake1"],
            "meta": [
                {"width": 64, "height": 64, "duration_ms": 0, "mime": "image/png"},
                {"width": 32, "height": 32, "duration_ms": 0, "mime": "image/png"},
                {"width": 0, "height": 0, "duration_ms": 3500, "mime": "video/mp4"},
                {"width": 0, "height": 0, "duration_ms": 900, "mime": "video/mp4"},
                {"width": 0, "height": 0, "duration_ms": 2000, "mime": "audio/mp3"},
                {"width": 64, "height": 64, "duration_ms": 0, "mime": "image/png"},
            ],
        }
    )
    return spark.createDataFrame(pdf, schema=multimodal.MEDIA_SCHEMA)


def test_decode_features_deterministic(spark, media_df):
    out = multimodal.decode_features(media_df).orderBy("media_id").collect()
    assert len(out) == 6
    assert all(len(r["features"]) == multimodal.FEATURE_DIM for r in out)
    # fake magics (truncated PNG / bare RIFF) soft-degrade to opaque
    assert all(r["codec"] == "opaque" for r in out)
    # same payload -> same digest + features (m0 and m5)
    rows = {r["media_id"]: r for r in out}
    assert rows["m0"]["digest"] == rows["m5"]["digest"]
    assert rows["m0"]["features"] == rows["m5"]["features"]
    assert rows["m0"]["digest"] != rows["m1"]["digest"]


# --- real codecs (pure struct/numpy, from the public format specs) -----------

def test_bmp_roundtrip_exact():
    import numpy as np

    rng = np.random.RandomState(0)
    for h, w in ((13, 7), (1, 1), (8, 32)):  # odd widths exercise row padding
        img = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(multimodal.decode_bmp(multimodal.encode_bmp(img)), img)


def test_wav_roundtrip_exact():
    import numpy as np

    s = (np.sin(np.arange(1601) * 0.3) * 20000).astype(np.int16)  # odd len: word-align
    got, rate = multimodal.decode_wav(multimodal.encode_wav(s, rate=8000))
    assert rate == 8000
    assert np.array_equal(got, s)


def test_png_roundtrip_exact_all_filters():
    """Every scanline filter (none/sub/up/average/Paeth) and both pixel
    layouts (RGB/RGBA) must reconstruct bit-exactly — the unfilter
    branches are the whole decoder."""
    import numpy as np

    rng = np.random.RandomState(2)
    for ch in (3, 4):
        for h, w in ((9, 5), (1, 1), (6, 16)):
            img = rng.randint(0, 256, size=(h, w, ch), dtype=np.uint8)
            for ft in range(5):
                png = multimodal.encode_png(img, filter_type=ft)
                assert np.array_equal(multimodal.decode_png(png), img), (ch, h, w, ft)


def test_png_rejects_corruption_and_exotics():
    import struct

    import numpy as np
    import pytest

    img = np.zeros((4, 4, 3), dtype=np.uint8)
    png = bytearray(multimodal.encode_png(img))
    # flip the first IDAT data byte: CRC verify must catch it
    png[bytes(png).find(b"IDAT") + 4] ^= 0xFF
    with pytest.raises(ValueError):
        multimodal.decode_png(bytes(png))
    # 16-bit depth is out of scope: loud ValueError, not garbage pixels
    good = multimodal.encode_png(img)
    ihdr = bytearray(struct.pack(">IIBBBBB", 4, 4, 16, 2, 0, 0, 0))
    import zlib

    bad = (
        multimodal.PNG_MAGIC
        + struct.pack(">I", len(ihdr))
        + b"IHDR"
        + bytes(ihdr)
        + struct.pack(">I", zlib.crc32(b"IHDR" + bytes(ihdr)) & 0xFFFFFFFF)
        + good[8 + 12 + 13 :]
    )
    with pytest.raises(ValueError):
        multimodal.decode_png(bad)


def test_png_decode_size_cap_blocks_decompression_bombs():
    """A tiny PNG declaring huge dimensions (zeros IDAT inflates to GBs)
    must raise BEFORE inflating, and decode_payload must degrade it to
    opaque — never OOM the executor."""
    import struct
    import zlib

    import numpy as np
    import pytest

    w = h = 30000  # 2.7 GB decoded, ~few KB compressed
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    # deliberately tiny IDAT: the cap must fire before anyone inflates it
    idat = zlib.compress(b"\x00" * 1024)
    bomb = (
        multimodal.PNG_MAGIC
        + multimodal._png_chunk(b"IHDR", ihdr)
        + multimodal._png_chunk(b"IDAT", idat)
        + multimodal._png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="MAX_PNG_DECODED_BYTES"):
        multimodal.decode_png(bomb)
    assert multimodal.decode_payload(bomb)[0] == "opaque"
    # an inflate that overshoots the declared size is also rejected
    img = np.zeros((2, 2, 3), dtype=np.uint8)
    good = multimodal.encode_png(img)
    assert np.array_equal(multimodal.decode_png(good), img)


def test_decode_payload_sniffs_and_degrades():
    import numpy as np

    img = np.full((16, 32, 3), 128, dtype=np.uint8)
    codec, feats = multimodal.decode_payload(multimodal.encode_bmp(img))
    assert codec == "bmp"
    # constant-luminance image -> uniform block-mean grid at 128/255
    assert np.allclose(feats, 128 / 255.0)

    tone = (np.sin(2 * np.pi * 440 * np.arange(16000) / 16000) * 20000).astype(np.int16)
    codec, feats = multimodal.decode_payload(multimodal.encode_wav(tone))
    assert codec == "wav-pcm"
    # a pure tone concentrates energy in one band: max band dominates
    assert feats.max() == 1.0 and sorted(feats)[-2] < 0.9

    png_img = np.full((8, 8, 3), 64, dtype=np.uint8)
    codec, feats = multimodal.decode_payload(multimodal.encode_png(png_img, filter_type=1))
    assert codec == "png"
    assert np.allclose(feats, 64 / 255.0)

    assert multimodal.decode_payload(b"just text")[0] == "opaque"
    # corrupt header NEVER raises — soft-degrade (skipped_reason discipline)
    assert multimodal.decode_payload(b"BM\x00corrupt")[0] == "opaque"
    assert multimodal.decode_payload(b"RIFFxxxxWAVE")[0] == "opaque"
    assert multimodal.decode_payload(multimodal.PNG_MAGIC + b"\x00garbage")[0] == "opaque"


def test_decode_features_real_codecs_through_spark(spark):
    import numpy as np

    img = np.random.RandomState(1).randint(0, 256, size=(8, 8, 3), dtype=np.uint8)
    s = (np.sin(np.arange(800) * 0.2) * 15000).astype(np.int16)
    rows = [
        ("bmp1", "image", bytearray(multimodal.encode_bmp(img)), (8, 8, 0, "image/bmp")),
        ("wav1", "audio", bytearray(multimodal.encode_wav(s)), (0, 0, 50, "audio/wav")),
        ("png1", "image", bytearray(multimodal.encode_png(img, filter_type=4)), (8, 8, 0, "image/png")),
        ("txt1", "video", bytearray(b"opaque payload"), (0, 0, 2000, "application/octet-stream")),
    ]
    media = spark.createDataFrame(rows, schema=multimodal.MEDIA_SCHEMA)
    got = {r["media_id"]: r["codec"] for r in multimodal.decode_features(media).collect()}
    assert got == {"bmp1": "bmp", "wav1": "wav-pcm", "png1": "png", "txt1": "opaque"}


def test_frame_sample_plan(spark, media_df):
    frames = multimodal.frame_sample(media_df, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r["media_id"], []).append(r["frame_ts_ms"])
    assert sorted(by_id["m2"]) == [0, 1000, 2000, 3000]  # 3500ms -> 4 frames
    assert sorted(by_id["m3"]) == [0]  # 900ms -> 1 frame
    assert "m4" not in by_id  # audio not frame-sampled


def test_media_exact_dedup(spark, media_df):
    feats = multimodal.decode_features(media_df)
    dups = multimodal.media_dedup_candidates(feats).collect()
    assert len(dups) == 2  # (m0,m5) share PNG bytes, (m2,m3) share RIFF bytes
    keepers = sorted(r["keeper"] for r in dups)
    assert keepers == ["m0", "m2"]
    assert all(r["n_copies"] == 2 for r in dups)


def test_spread_for_python_is_conditional(spark):
    """spread must fix scan under-decomposition WITHOUT ever
    coalescing an already-decomposed input (the at-scale hazard: an
    unconditional repartition(8) would funnel a many-split corpus onto
    8 tasks)."""
    from sequali_spark.session import spread

    par = spark.sparkContext.defaultParallelism
    one = spark.range(100).coalesce(1)
    assert spread(one).rdd.getNumPartitions() == par
    assert spread(one, key="id").rdd.getNumPartitions() == par
    many = spark.range(1000).repartition(par * 2)
    assert spread(many).rdd.getNumPartitions() == par * 2
    # streaming frames pass through untouched (.rdd would raise)
    stream = spark.readStream.format("rate").load()
    assert spread(stream) is stream


def test_plan_size_estimate_api(spark, tmp_path):
    """spread's size-aware width and fit_width read the optimizer's
    size estimate through session.estimated_bytes, which calls a
    PRIVATE Spark API,
    ``_jdf.queryExecution().optimizedPlan().stats().sizeInBytes()``.
    Pin what it returns for a parquet scan (the sum of the data files'
    bytes), so a Spark upgrade that moves or changes it fails here
    instead of silently re-sizing every spread Python stage."""
    import os

    from sequali_spark.session import estimated_bytes, spread

    p = str(tmp_path / "t")
    spark.range(2000).selectExpr("id", "repeat('x', 200) as s").coalesce(
        1
    ).write.parquet(p)
    df = spark.read.parquet(p)
    est = estimated_bytes(df)
    on_disk = sum(
        os.path.getsize(os.path.join(p, f))
        for f in os.listdir(p)
        if f.endswith(".parquet")
    )
    assert est == on_disk > 0
    par = spark.sparkContext.defaultParallelism
    assert df.rdd.getNumPartitions() == 1
    for bytes_per_task in (est, est // 2, 1):
        want = min(par, max(1, est // bytes_per_task))
        got = spread(df, bytes_per_task=bytes_per_task).rdd.getNumPartitions()
        assert got == want, (bytes_per_task, got, want)


def test_multiprobe_lsh_broadcasts_probe_side(spark, sf_dir):
    """The probe set (queries x probe buckets) must be the broadcast
    side of the candidate join — the corpus side streams."""
    from sequali_spark.operators import similarity
    from sequali_spark.plans import checks

    df = similarity.lsh_bucketed_topk(spark, sf_dir, n_queries=5, k=5)
    assert checks.has_broadcast_join(df)


def test_anti_join_shape(spark, sf_dir):
    from sequali_spark.operators import relational
    from sequali_spark.plans import checks

    df = relational.customers_without_orders(spark, sf_dir)
    plan = checks.physical_plan(df)
    assert "LeftAnti" in plan


def test_flagship_mapinpandas_output_is_pruned(spark, sf_dir):
    """The 5-column output contract must appear on the MapInPandas node
    itself (Catalyst cannot prune through the Python black box, so this
    is the manual-pushdown regression guard)."""
    import __spark_entry__ as entry
    from sequali_spark.plans import checks

    df = entry.queries()["pages_quality_labels"](spark, sf_dir)
    plan = checks.physical_plan(df)
    seg = plan.split("MapInPandas", 1)[1].split("\n", 1)[0]
    for col in ("url", "lang_pred", "keep", "pii_hits", "tox_hits"):
        assert col in seg
    assert "scrubbed_text" not in seg and "shingles" not in seg


def test_no_query_has_cartesian_or_rowwise_python(spark, sf_dir):
    """Sweep EVERY driver query's physical plan: no CartesianProduct and
    no row-at-a-time Python eval anywhere in the surface (the two
    plan shapes that do not survive a 100x scale-up).
    BroadcastNestedLoopJoin is allowed only where a tiny broadcast side
    makes it the intended theta-join strategy."""
    import __spark_entry__ as entry
    from sequali_spark.plans import checks

    allowed_bnlj = {
        "rel_value_band_join",   # 3-row band table, intentional theta join
        "emb_brute_force_topk",  # query side broadcast, corpus streams
        "emb_knn_label_vote",    # built on brute_force_topk
        "doc_boilerplate_id",    # 3-row boilerplate DB, contains() theta join (J2)
        "doc_decontaminate",     # 20-row probe set broadcast, contains() theta join
        "doc_ppl_surprisal_histogram",  # 1-row scalar total, broadcast cross join
    }
    for name, fn in entry.queries().items():
        plan = checks.physical_plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, name
        assert "BatchEvalPython" not in plan, name  # row-wise Python UDF
        if name not in allowed_bnlj:
            assert "BroadcastNestedLoopJoin" not in plan, name
