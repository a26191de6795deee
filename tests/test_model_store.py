"""Durable trained-model store (r9 verdict item #3).

``_memo_model`` has two layers: the in-process memo (default — the
driver/bench path, byte-identical to r9) and, with
``SPARK_GRAFT_MODEL_STORE`` set, a content-fingerprinted parquet
store so a FRESH session serves from persisted codebooks/centroids
instead of retraining. These tests pin the contract:

- store-backed values are bit-identical to in-line training (the
  oracle-hash guarantee rests on this);
- a second call LOADS instead of rebuilding (build called once);
- corpus-content change at the same path invalidates the store
  (the qs22b fingerprint discipline — count+ids alone would reuse a
  stale model after regeneration);
- tuple-valued models (the IMI half-quantizer pair) round-trip;
- a rebuild whose write fails leaves no staging dir behind and the
  previous generation serving.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


@pytest.fixture()
def model_store(tmp_path):
    os.environ["SPARK_GRAFT_MODEL_STORE"] = str(tmp_path / "models")
    yield str(tmp_path / "models")
    os.environ.pop("SPARK_GRAFT_MODEL_STORE", None)


def _emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet")


def test_store_values_identical_to_inline_training(spark, model_store):
    from spotify_pipeline_gcp_spark.operators.similarity import (
        kmeans_centroids,
    )
    from spotify_pipeline_gcp_spark.queries.similarity import _memo_model

    emb = _emb(spark)
    inline = kmeans_centroids(emb, "vec_id", "embedding", k=4, n_iter=2)
    stored = _memo_model(
        spark,
        ("test-cent", SF, 4, 2),
        lambda: kmeans_centroids(emb, "vec_id", "embedding", k=4, n_iter=2),
        src=emb,
    )
    a = sorted(
        (r["cid"], tuple(r["c"])) for r in inline.collect()
    )
    b = sorted(
        (r["cid"], tuple(r["c"])) for r in stored.collect()
    )
    # bit-identical: parquet round-trips float64 exactly
    assert a == b


def test_second_call_loads_instead_of_building(spark, model_store):
    from spotify_pipeline_gcp_spark.operators.similarity import (
        kmeans_centroids,
    )
    from spotify_pipeline_gcp_spark.queries.similarity import _memo_model

    emb = _emb(spark)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return kmeans_centroids(emb, "vec_id", "embedding", k=4, n_iter=2)

    first = _memo_model(spark, ("test-cent2", SF, 4, 2), build, src=emb)
    second = _memo_model(spark, ("test-cent2", SF, 4, 2), build, src=emb)
    assert calls["n"] == 1
    assert sorted(map(str, first.collect())) == sorted(
        map(str, second.collect())
    )


def test_content_change_invalidates_store(spark, model_store, tmp_path):
    from spotify_pipeline_gcp_spark.operators.similarity import (
        kmeans_centroids,
    )
    from spotify_pipeline_gcp_spark.queries.similarity import _memo_model

    # same table PATH, regenerated content — the trap the fingerprint
    # exists for (count+id checksum are identical; vectors differ)
    data_dir = str(tmp_path / "corpus")
    base = _emb(spark).limit(64)
    base.write.mode("overwrite").parquet(data_dir)
    v1 = spark.read.parquet(data_dir)

    calls = {"n": 0}

    def build(df):
        def _b():
            calls["n"] += 1
            return kmeans_centroids(df, "vec_id", "embedding", k=2, n_iter=1)

        return _b

    key = ("test-cent3", data_dir, 2, 1)
    _memo_model(spark, key, build(v1), src=v1)
    assert calls["n"] == 1

    base.withColumn(
        "embedding",
        F.expr("transform(embedding, x -> float(x) * 2.0f)").cast(
            v1.schema["embedding"].dataType
        ),
    ).write.mode("overwrite").parquet(data_dir)
    v2 = spark.read.parquet(data_dir)
    _memo_model(spark, key, build(v2), src=v2)
    assert calls["n"] == 2, "content change must invalidate the store"


def test_failed_rebuild_keeps_previous_generation(spark, model_store, tmp_path):
    from spotify_pipeline_gcp_spark.operators.similarity import (
        kmeans_centroids,
    )
    from spotify_pipeline_gcp_spark.queries.similarity import _memo_model

    data_dir = str(tmp_path / "corpus")
    _emb(spark).limit(64).write.mode("overwrite").parquet(data_dir)
    v1 = spark.read.parquet(data_dir)
    key = ("test-cent-fail", data_dir, 2, 1)
    good = _memo_model(
        spark,
        key,
        lambda: kmeans_centroids(v1, "vec_id", "embedding", k=2, n_iter=1),
        src=v1,
    )
    want = sorted(map(str, good.collect()))

    # a different src fingerprint forces a rebuild whose part write
    # raises inside the staged write
    v2 = v1.where(F.col("vec_id") % 2 == 0)
    with pytest.raises(Exception, match="injected build failure"):
        _memo_model(
            spark,
            key,
            lambda: spark.range(1).select(
                F.raise_error(F.lit("injected build failure")).alias("cid")
            ),
            src=v2,
        )
    assert not [
        d for d in os.listdir(model_store) if ".tmp." in d
    ], os.listdir(model_store)

    def must_not_build():
        raise AssertionError("the first generation must still serve")

    kept = _memo_model(spark, key, must_not_build, src=v1)
    assert sorted(map(str, kept.collect())) == want


def test_tuple_model_roundtrip(spark, model_store):
    from spotify_pipeline_gcp_spark.operators.similarity import (
        _unit_vectors,
        kmeans_centroids_on_halves,
    )
    from spotify_pipeline_gcp_spark.queries.similarity import _memo_model

    emb = _emb(spark)
    pts = _unit_vectors(emb, "vec_id", "embedding")
    val = _memo_model(
        spark,
        ("test-imi", SF, 2, 1),
        lambda: kmeans_centroids_on_halves(pts, 32, k=2, n_iter=1),
        src=emb,
    )
    assert isinstance(val, tuple) and len(val) == 2
    again = _memo_model(
        spark,
        ("test-imi", SF, 2, 1),
        lambda: (_ for _ in ()).throw(AssertionError("must load, not build")),
        src=emb,
    )
    for a, b in zip(val, again):
        assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_qs18_store_equals_memo_path(spark, model_store):
    """End-to-end: the registered qs18 run with the store env set
    produces exactly the rows of the default memo path — the
    fresh-session serving split changes WHERE the codebooks come
    from, never their values."""
    from spotify_pipeline_gcp_spark.queries import load_all

    registry = load_all()
    fn = registry["qs18_pq_adc_topk"].fn
    with_store = sorted(map(str, fn(spark, SF).collect()))
    os.environ.pop("SPARK_GRAFT_MODEL_STORE", None)
    default = sorted(map(str, fn(spark, SF).collect()))
    assert with_store == default
