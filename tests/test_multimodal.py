"""Multimodal plumbing: schema and feature extraction batches."""

from kgforge.multimodal import extract_features, synth_media


def test_extract_features_shape_and_determinism(spark):
    media = synth_media(spark, n=30)
    a = extract_features(media, out_dim=16).toPandas().set_index("media_id")
    b = extract_features(media.repartition(5), out_dim=16).toPandas().set_index("media_id")
    assert len(a) == 30
    assert all(len(v) == 16 for v in a["feat"])
    for mid in a.index:
        assert list(a.loc[mid, "feat"]) == list(b.loc[mid, "feat"])
