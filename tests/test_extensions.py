"""Multimodal resize/audio stubs, standard rollups, Tsdb.explain."""

import re

SF = "/root/testdata/sf0.001"


def test_resize_images_real(spark):
    """resize_images decodes with the repo's codecs, NN-resamples by stride
    indexing, and re-encodes in the same container: decoding the output
    must equal nn_resize(decode(input)) exactly for the lossless formats,
    and keep shape + approximate content for JPEG."""
    import numpy as np

    from yupana_spark.datapipe.jpeg import encode_jpeg
    from yupana_spark.datapipe.multimodal import (decode_image, encode_gif,
                                                  encode_png, nn_resize,
                                                  resize_images,
                                                  synth_codec_media_table)

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    media = synth_codec_media_table(docs).filter("kind = 'image'")
    originals = {r["media_id"]: bytes(r["content"])
                 for r in media.collect()}
    assert originals, "fixture must contain images"
    resized = {r["media_id"]: (bytes(r["content"]), r["meta"])
               for r in resize_images(media, 7, 5).collect()}
    assert set(resized) == set(originals)
    for mid, blob in originals.items():
        out, meta = resized[mid]
        got = decode_image(out)
        want = nn_resize(decode_image(blob), 7, 5)
        assert got.shape == (5, 7, 3)
        assert np.array_equal(got, want)
        assert meta["mime"] == "image/bmp"
        assert meta["n_bytes"] == len(out)

    # PNG, GIF and JPEG containers re-encode in kind
    rng = np.random.RandomState(7)
    px = (rng.randint(0, 4, (12, 9, 3)) * 80).astype(np.uint8)  # <=256 colors
    blobs = [(1, "image", encode_png(px)), (2, "image", encode_gif(px)),
             (3, "image", encode_jpeg(px, quality=90))]
    df = spark.createDataFrame(blobs, "media_id long, kind string, "
                                      "content binary")
    out = {r["media_id"]: (bytes(r["content"]), r["meta"]["mime"])
           for r in resize_images(df, 6, 4).collect()}
    want = nn_resize(px, 6, 4)
    assert out[1][1] == "image/png"
    assert np.array_equal(decode_image(out[1][0]), want)
    assert out[2][1] == "image/gif"
    assert np.array_equal(decode_image(out[2][0]), want)
    assert out[3][1] == "image/jpeg"
    jp = decode_image(out[3][0])
    assert jp.shape == (4, 6, 3)  # lossy: shape exact, content approximate
    assert abs(float(jp.mean()) - float(want.mean())) < 32


def test_audio_features_real(spark):
    """audio_features parses the RIFF fmt/data chunks: every feature must
    match the parameters synth_codec_media_table encoded with (rate/chan
    arithmetic in media_id, frames in n_chars) — a byte-length-derived fake
    cannot satisfy this."""
    import numpy as np

    from yupana_spark.datapipe.multimodal import (audio_features,
                                                  synth_codec_media_table)

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
    nchars = {r["doc_id"]: r["n_chars"] for r in docs.collect()}
    media = synth_codec_media_table(docs).filter("kind = 'audio'")
    rows = audio_features(media).collect()
    assert rows
    for r in rows:
        mid = r["media_id"]
        rate = 8000 + (mid % 3) * 4000
        ch = 1 + mid % 2
        nf = 64 + nchars[mid] % 129
        assert r["sample_rate"] == rate
        assert r["n_channels"] == ch
        assert r["n_samples"] == nf
        assert r["duration_s"] == nf / rate
        i = np.arange(nf * ch, dtype=np.int64)
        s = ((mid * 31 + i * 17) % 65536 - 32768).astype(np.int16)
        assert r["max_abs"] == int(np.abs(s.astype(np.int32)).max())


def test_standard_rollups(spark, tmp_path):
    from yupana_spark import Tsdb, default_schema
    from yupana_spark.catalog import standard_rollups
    from yupana_spark.operators.rollup import run_rollup

    tsdb = Tsdb(spark, default_schema(), SF,
                warehouse_root=str(tmp_path / "wh"))
    outs = {}
    for r in standard_rollups():
        outs[r.name] = run_rollup(tsdb.warehouse, r)
    assert outs["orders_by_day"].count() > outs["orders_by_week"].count() \
        > outs["orders_by_month"].count() > 0
    mon = outs["orders_by_month"]
    assert {"time", "o_orderstatus", "total_sum", "orders_count"} <= set(mon.columns)
    # a rolled-up month total equals the direct aggregation
    direct = tsdb.sql(
        "SELECT trunc_month(time) m, o_orderstatus, count(o_orderkey) c "
        "FROM orders WHERE time >= TIMESTAMP '1995-01-01' "
        "AND time < TIMESTAMP '2002-01-01' GROUP BY m, o_orderstatus")
    assert direct.count() == mon.count()


def test_explain_surface(spark):
    """The time range reaches the scan: over a time-sliced fact table it
    is a partition filter on the slices' recorded time ranges."""
    from tests.conftest import SF_ORACLE
    from yupana_spark import Tsdb, default_schema

    tsdb = Tsdb(spark, default_schema(), SF_ORACLE)
    plan = tsdb.explain(
        "SELECT l_returnflag, sum(l_quantity) s FROM lineitem "
        "WHERE time >= TIMESTAMP '1995-01-01' AND time < TIMESTAMP '1996-01-01' "
        "GROUP BY l_returnflag")
    assert "HashAggregate" in plan
    assert re.search(r"PartitionFilters: \[.*__tmax.*__tmin", plan)
