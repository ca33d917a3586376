"""r15 lifecycle-fusion pins: on a LOCAL store the ANN index's KB
control-plane files (/meta, /centroids, /codebook) are written/read
DRIVER-SIDE via pyarrow (zero Spark jobs — guide §5), with the Spark
distributed IO kept as the non-local fallback. These tests pin that the
two write paths produce interchangeable files (same Spark-read schema,
same rows) and that the driver-side readers return exactly what Spark
reads back — the bit-parity precondition for every stored==ad-hoc
guarantee built on top. The store's data files (/centroids, /vectors,
/codes, /codebook) are read with the schema from their parquet footers
on a local store, so those reads launch no job; the tests below pin
that this schema is the one Spark's inference gives.
"""

from __future__ import annotations

from types import SimpleNamespace

import pyspark.sql.functions as F
import pytest

from scripts_toolkit_spark.ext import ann_index as ANN
from scripts_toolkit_spark.ext.similarity import local_rows_df, normalize_vectors


META_VALS = (2, True, True, 64, 4, 16, False, 4, 44, 64)


def test_meta_pyarrow_write_matches_spark_write(spark, tmp_path):
    pa_store = str(tmp_path / "pa_store")
    sp_store = str(tmp_path / "sp_store")
    ANN._write_meta(spark, pa_store, META_VALS)  # local path → pyarrow
    # the non-local fallback body, forced onto a local dir for comparison
    local_rows_df(spark, [META_VALS], ANN._META_SPARK_SCHEMA).write.mode(
        "overwrite"
    ).parquet(sp_store + "/meta")
    pa_df = spark.read.parquet(pa_store + "/meta")
    sp_df = spark.read.parquet(sp_store + "/meta")
    assert [(f.name, f.dataType.simpleString()) for f in pa_df.schema.fields] == [
        (f.name, f.dataType.simpleString()) for f in sp_df.schema.fields
    ]
    assert pa_df.collect() == sp_df.collect()
    # the driver-side reader sees the same dict for both layouts
    assert ANN._meta_dict(spark, pa_store) == ANN._meta_dict(spark, sp_store)


def test_centroids_and_codebook_roundtrip(spark, tmp_path):
    store = str(tmp_path / "store")
    cent_rows = [(0, [1.0, 2.5]), (1, [0.25, -3.0])]
    cb_rows = [(0, 0, [1.0]), (0, 1, [2.0]), (1, 0, [3.0]), (1, 1, [4.0])]
    ANN._pa_write_rows(
        ANN._local_fs_path(store + "/centroids"), cent_rows, ANN._centroids_pa_schema()
    )
    ANN._pa_write_rows(
        ANN._local_fs_path(store + "/codebook"), cb_rows, ANN._codebook_pa_schema()
    )
    cents = spark.read.parquet(store + "/centroids")
    assert cents.schema.simpleString() == (
        "struct<cell_id:int,centroid:array<double>>"
    )
    assert sorted((r["cell_id"], r["centroid"]) for r in cents.collect()) == cent_rows
    cb = spark.read.parquet(store + "/codebook")
    assert cb.schema.simpleString() == "struct<s:int,code:int,csub:array<double>>"
    assert ANN._codebook_rows_from_store(store) is not None
    cb_np, m, n_codes, sub_dim = ANN._collect_codebook_store(spark, store)
    assert (m, n_codes, sub_dim) == (2, 2, 1)
    # driver read == Spark collect, element for element
    assert ANN._collect_codebook(cb)[0].tolist() == cb_np.tolist()


def test_centroid_rows_from_store_matches_collect(spark, sf_dir, tmp_path):
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200)
    store = str(tmp_path / "store")
    ANN.build_ann_index(emb, store, n_cells=8)
    meta = ANN._meta_dict(spark, store)
    rows = ANN._centroid_rows_from_store(spark, store, meta)
    assert rows is not None
    via_spark = sorted(
        (int(r["cell_id"]), list(r["centroid"]))
        for r in spark.read.parquet(store + "/centroids").collect()
    )
    assert rows == via_spark
    # shape helper agrees with the realized model
    assert ANN._centroids_shape_from_files(store) == (len(rows), len(rows[0][1]))


def test_next_batch_id_from_layout(spark, sf_dir, tmp_path):
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    base = emb.where(F.col("vec_id") % 5 != 0).limit(200)
    late = emb.where(F.col("vec_id") % 5 == 0).limit(50)
    store = str(tmp_path / "store")
    ANN.build_ann_index(base, store, n_cells=8)
    assert ANN._next_batch_id(spark, store) == 0  # only batch_id=-1 exists
    ANN.append_to_index(spark, store, late)
    assert ANN._next_batch_id(spark, store) == 1


def test_non_local_paths_fall_back(spark):
    assert ANN._local_fs_path("hdfs://nn/store") is None
    assert ANN._local_fs_path("s3a://bucket/store") is None
    assert ANN._local_fs_path("file:///tmp/x") == "/tmp/x"
    assert ANN._local_fs_path("/tmp/x") == "/tmp/x"
    with pytest.raises(FileNotFoundError):
        ANN._pa_read_rows("/tmp/definitely_missing_spark_graft_store")

    # store reads: a non-local store keeps Spark's schema inference, and
    # no footer is looked for (the stub fails on any schema call)
    class _Reader:
        def __init__(self):
            self.calls = []

        def schema(self, _schema):
            raise AssertionError("explicit schema on a non-local store")

        def parquet(self, p):
            self.calls.append(p)
            return p

    stub = SimpleNamespace(read=_Reader())
    for store in ("hdfs://nn/store", "s3a://bucket/store"):
        assert ANN._read_store(stub, store, "/vectors") == store + "/vectors"
    assert stub.read.calls == ["hdfs://nn/store/vectors", "s3a://bucket/store/vectors"]


def test_footer_schema_unknown_falls_back(tmp_path):
    """Dirs without a data file, or with a footer that is neither Spark's
    nor a known driver-written file, give no schema: the read then goes
    through Spark's inference."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    assert ANN._footer_schema(str(tmp_path / "missing"), "/vectors") is None
    (tmp_path / "empty").mkdir()
    assert ANN._footer_schema(str(tmp_path / "empty"), "/vectors") is None
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(pa.table({"x": [1]}), str(foreign / "part-0.parquet"))
    assert ANN._footer_schema(str(foreign), "/vectors") is None
    assert ANN._footer_schema(str(foreign), "/centroids") == (
        "cell_id int, centroid array<double>"
    )


def _store_variants(spark, emb, root):
    """One store of each layout the verbs read: flat, spilled, seeded
    residual, two-level, and two-level residual (caller-provided model,
    so its /centroids is Spark-written). Each gets one appended batch,
    so /vectors and /codes hold two batch_id partitions."""
    normed = normalize_vectors(emb).localCheckpoint()
    cents, cb, _rows, _cb_rows = ANN._seeded_residual_model(
        spark, normed, 8, 8, 4, 16, "vec_id", "embedding"
    )
    cents, cb = cents.localCheckpoint(), cb.localCheckpoint()
    base = emb.where(F.col("vec_id") % 5 != 0)
    late = emb.where(F.col("vec_id") % 5 == 0)
    variants = {
        "flat": dict(n_cells=8),
        "spilled": dict(n_cells=8, n_home=2),
        "residual": dict(n_cells=8, residual=True, pq_n_codes=8),
        "two_level": dict(two_level=True),
        "two_level_residual": dict(
            centroids=cents, sub_codebook=cb, residual=True, two_level=True
        ),
    }
    paths = {}
    for name, kw in variants.items():
        paths[name] = str(root / name)
        ANN.build_ann_index(base, paths[name], **kw)
        ANN.append_to_index(spark, paths[name], late)
    return paths


STORE_FILES = ("/centroids", "/vectors", "/codes", "/codebook")


@pytest.fixture(scope="module")
def store_variants(spark, sf_dir, tmp_path_factory):
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200).localCheckpoint()
    return _store_variants(spark, emb, tmp_path_factory.mktemp("variants"))


def _present(path, sub):
    import os

    return os.path.isdir(path + sub)


def test_footer_schema_read_matches_inference(spark, store_variants):
    """The explicit-schema read returns exactly the schema Spark's own
    inference gives, partition column included, for every store file of
    every layout — and the same rows."""
    seen = set()
    for name, path in store_variants.items():
        for sub in STORE_FILES:
            if not _present(path, sub):
                continue
            assert ANN._footer_schema(ANN._local_fs_path(path + sub), sub) is not None
            ours = ANN._read_store(spark, path, sub)
            inferred = spark.read.parquet(path + sub)
            assert ours.schema == inferred.schema, (name, sub)
            if sub == "/vectors":
                assert sorted(ours.collect()) == sorted(inferred.collect()), name
            seen.add(sub)
    assert seen == set(STORE_FILES)  # every file kind was exercised


def test_local_store_reads_launch_no_job(spark, store_variants):
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def jobs_of(group, read):
        sc.setJobGroup(group, "ann store reads")
        try:
            for path in store_variants.values():
                for sub in STORE_FILES:
                    if _present(path, sub):
                        read(path, sub)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return tracker.getJobIdsForGroup(group)

    # control: schema inference does run jobs, and the tracker sees them
    assert jobs_of("ann-store-infer", lambda p, s: spark.read.parquet(p + s))
    assert jobs_of("ann-store-footer", lambda p, s: ANN._read_store(spark, p, s)) == []


def test_build_observes_corpus_stats(spark, sf_dir, tmp_path, monkeypatch):
    """The build's (n_rows, dim) come from an observe() on its checkpoint
    job, under both materialization modes, and equal `corpus_stats`."""
    from scripts_toolkit_spark.ext.similarity import corpus_stats
    from scripts_toolkit_spark.io.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings").limit(200).localCheckpoint()
    want = corpus_stats(normalize_vectors(emb))
    assert want == corpus_stats(emb)
    seen = []
    real = ANN.corpus_stats_from_row

    def recording(row, n_rows=None, dim=None):
        seen.append(real(row, n_rows, dim))
        return seen[-1]

    def no_stats_job(*_a, **_k):
        raise AssertionError("the build ran a separate corpus_stats job")

    monkeypatch.setattr(ANN, "corpus_stats_from_row", recording)
    monkeypatch.setattr(ANN, "corpus_stats", no_stats_job)
    ANN.build_ann_index(emb, str(tmp_path / "local"), n_cells=8)
    spark.conf.set("spark.graft.checkpointDir", str(tmp_path / "ckpt"))
    spark.conf.set("spark.graft.durableCheckpoint", "true")
    try:
        ANN.build_ann_index(emb, str(tmp_path / "durable"), n_cells=8)
    finally:
        spark.conf.unset("spark.graft.durableCheckpoint")
        spark.conf.unset("spark.graft.checkpointDir")
    assert seen == [want, want]
    # a caller-provided shape is not observed at all
    ANN.build_ann_index(emb, str(tmp_path / "given"), n_cells=8, n_rows=want[0], dim=want[1])
    assert len(seen) == 2
