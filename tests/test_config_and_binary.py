"""EngineConfig env parsing + binaryFile-source multimodal flow."""

from __future__ import annotations

from pyspark.sql import functions as F

from ag_data_ingestion_github_to_snowflake_spark.config import EngineConfig
from ag_data_ingestion_github_to_snowflake_spark.operators import multimodal as M


def test_config_defaults_unauthenticated():
    cfg = EngineConfig.from_env({})
    assert cfg.max_requests_per_run == 60  # reference unauth default
    assert cfg.per_page == 100


def test_config_token_raises_budget_tier():
    cfg = EngineConfig.from_env({"GITHUB_TOKEN": "t0ken"})
    assert cfg.max_requests_per_run == 5000  # authed tier (README.md:114-119)


def test_config_explicit_overrides():
    cfg = EngineConfig.from_env(
        {
            "MAX_REQUESTS_PER_RUN": "123",
            "TEST_MODE": "1",
        }
    )
    assert cfg.max_requests_per_run == 123
    assert cfg.test_mode is True


def test_binaryfile_source_to_media_features(spark, tmp_path):
    """Real file bytes -> binaryFile scan -> pack_media -> fake decode:
    the full multimodal path from disk to features."""
    for i in range(4):
        (tmp_path / f"img_{i}.bin").write_bytes(bytes([i]) * (100 + i))
    df = spark.read.format("binaryFile").load(str(tmp_path / "*.bin"))
    df = df.select(
        F.regexp_extract(F.col("path"), r"img_(\d+)", 1).cast("long").alias("doc_id"),
        F.col("content").alias("payload"),
    )
    packed = M.pack_media(df, "payload", modality="image", mime="application/octet-stream")
    meta = {r.doc_id: r.n_bytes for r in packed.select("doc_id", "media.meta.n_bytes").collect()}
    assert meta == {0: 100, 1: 101, 2: 102, 3: 103}
    feats = M.decode_image_features(df, deterministic_fake=True).collect()
    assert len(feats) == 4 and all(r.width >= 64 for r in feats)
