"""Unit tests for multimodal binary-column plumbing: schema, Arrow batch
path, format sniffing, frame sampling, duration math. Decode itself is the
documented deterministic fake (no image/audio libs in this container)."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import (
    MEDIA_SCHEMA,
    audio_duration,
    decode_image_features,
    fake_image_decode,
    payload_stats,
    resize_images,
    sample_frames,
)


def _media(spark, rows):
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _meta(**kw):
    base = dict(width=None, height=None, sample_rate=None, n_frames=None, format=None)
    base.update(kw)
    return Row(**base)


def test_payload_stats_sniffs_magic(spark):
    df = _media(
        spark,
        [
            (1, "image", b"\xff\xd8\xff\xe0rest-of-jpeg", _meta()),
            (2, "image", b"\x89PNG\r\n", _meta()),
            (3, "audio", b"RIFFxxxxWAVE", _meta()),
            (4, "other", b"plain text bytes", _meta()),
        ],
    )
    got = {r["media_id"]: r for r in payload_stats(df).collect()}
    assert got[1]["sniffed_format"] == "jpeg"
    assert got[2]["sniffed_format"] == "png"
    assert got[3]["sniffed_format"] == "riff"
    assert got[4]["sniffed_format"] == "unknown"
    assert got[4]["n_bytes"] == 16
    assert len(got[1]["payload_md5"]) == 32


def test_fake_image_decode_deterministic_and_bounded():
    w, h, luma = fake_image_decode(b"some-image-bytes")
    assert (w, h, luma) == fake_image_decode(b"some-image-bytes")
    assert 1 <= w <= 1920 and 1 <= h <= 1080 and 0.0 <= luma < 256.0
    assert fake_image_decode(b"other") != (w, h, luma)


def test_decode_image_features_batch_path(spark):
    rows = [(i, "image", f"payload-{i}".encode(), _meta()) for i in range(10)]
    df = _media(spark, rows).repartition(3)  # exercise multi-partition batches
    got = {r["media_id"]: r for r in decode_image_features(df).collect()}
    assert len(got) == 10
    for i in range(10):
        w, h, luma = fake_image_decode(f"payload-{i}".encode())
        assert (got[i]["width"], got[i]["height"], got[i]["mean_luma"]) == (w, h, luma)


def test_decode_with_injected_decoder(spark):
    df = _media(spark, [(1, "image", b"x", _meta())])
    got = decode_image_features(df, decoder=lambda p: (7, 9, 1.5)).collect()[0]
    assert (got["width"], got["height"], got["mean_luma"]) == (7, 9, 1.5)


def test_pil_decode_real_images(spark):
    """Real-decoder integration: runs wherever PIL exists (skipped in this
    image-lib-less container) so the `_pil_decode` path is exercised in
    deployed environments, not dead code. Builds tiny PNGs in memory and
    checks dimensions + mean luma end-to-end through mapInPandas."""
    import pytest

    PIL = pytest.importorskip("PIL")
    from io import BytesIO

    from PIL import Image

    from sports_data_integration_and_forecasting_pipeline_spark.operators.multimodal import _pil_decode

    def png_bytes(w, h, value):
        buf = BytesIO()
        Image.new("L", (w, h), value).save(buf, format="PNG")
        return buf.getvalue()

    rows = [
        (1, "image", png_bytes(4, 3, 0), _meta()),
        (2, "image", png_bytes(8, 2, 255), _meta()),
        (3, "image", png_bytes(5, 5, 128), _meta()),
    ]
    # unit-level: decoder math
    w, h, luma = _pil_decode(png_bytes(4, 3, 200))
    assert (w, h, luma) == (4, 3, 200.0)
    # engine-level: default_image_decoder() resolves to _pil_decode here
    df = _media(spark, rows)
    got = {r["media_id"]: r for r in decode_image_features(df).collect()}
    assert (got[1]["width"], got[1]["height"], got[1]["mean_luma"]) == (4, 3, 0.0)
    assert (got[2]["width"], got[2]["height"], got[2]["mean_luma"]) == (8, 2, 255.0)
    assert (got[3]["width"], got[3]["height"], got[3]["mean_luma"]) == (5, 5, 128.0)


def test_resize_stub_passes_payload_through(spark):
    df = _media(spark, [(1, "image", b"imgbytes", _meta())])
    got = resize_images(df, 224, 224).collect()[0]
    assert bytes(got["payload"]) == b"imgbytes"
    assert (got["target_width"], got["target_height"]) == (224, 224)
    assert got["resized"] is False  # stub path, honestly reported


def test_sample_frames_every_n(spark):
    df = _media(
        spark,
        [
            (1, "video", b"v", _meta(n_frames=25)),
            (2, "video", b"v", _meta(n_frames=1)),
            (3, "video", b"v", _meta(n_frames=0)),  # empty -> no rows
        ],
    )
    got = sample_frames(df, every_n=10).collect()
    by_id = {}
    for r in got:
        by_id.setdefault(r["media_id"], []).append(r["frame_idx"])
    assert sorted(by_id[1]) == [0, 10, 20]
    assert by_id[2] == [0]
    assert 3 not in by_id


def test_audio_duration_math(spark):
    # 16000 bytes of 16-bit mono at 8 kHz -> 8000 samples -> 1.0 s
    df = _media(spark, [(1, "audio", b"\x00" * 16000, _meta(sample_rate=8000))])
    got = audio_duration(df).collect()[0]
    assert got["n_samples"] == 8000
    assert got["duration_sec"] == 1.0


def test_arrow_udf_entries_run_from_foreign_cwd():
    """r7: Python workers deserialize the package's Arrow UDFs by
    reference, so the package must be importable in the WORKER, not
    just the driver — a consumer driving the engine from another
    directory via sys.path.insert used to die mid-job with
    ModuleNotFoundError at the first mapInPandas stage. get_spark now
    exports the package parent on PYTHONPATH before the JVM launches;
    this drives a fresh interpreter from /tmp with no PYTHONPATH to
    prove it."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    repo = str(Path(__file__).resolve().parents[1])
    script = (
        f"import sys; sys.path.insert(0, {repo!r})\n"
        "from sports_data_integration_and_forecasting_pipeline_spark.session import get_spark\n"
        "from sports_data_integration_and_forecasting_pipeline_spark.plans import QUERIES\n"
        "spark = get_spark(master='local[2]', shuffle_partitions=2)\n"
        "QUERIES['multimodal_image_features'].fn(spark, '/root/testdata/sf0.001')"
        ".write.format('noop').mode('overwrite').save()\n"
        "print('WORKER_IMPORT_OK')\n"
    )
    out = subprocess.run(
        [sys.executable, "-c", script],
        cwd="/tmp",
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert "WORKER_IMPORT_OK" in out.stdout, out.stderr[-2000:]
