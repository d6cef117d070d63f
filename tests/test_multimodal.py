"""Multimodal binary-column plumbing (sha256 stand-in decode)."""

from __future__ import annotations

from kg_curation_spark.multimodal import FEATURE_DIM, asset_table, extract_features


def _media(spark):
    docs = spark.createDataFrame(
        [(0, "alpha", "en", "s", 5), (1, "beta", "en", "s", 4), (2, "gamma", "en", "s", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    return asset_table(docs)


def test_binary_schema_and_features(spark):
    media = _media(spark)
    assert dict(media.dtypes)["payload"] == "binary"
    rows = {r["media_id"]: r for r in extract_features(media).collect()}
    assert rows["m0"]["kind"] == "image" and rows["m1"]["kind"] == "audio"
    assert rows["m0"]["n_bytes"] == len(b"alpha")
    assert all(len(r["feature"]) == FEATURE_DIM for r in rows.values())


def test_fake_decode_deterministic(spark):
    a = extract_features(_media(spark)).collect()
    b = extract_features(_media(spark)).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
