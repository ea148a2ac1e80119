"""Generate the DuckDB VALUES oracles for the `media_pixel_checksums`
and `media_audio_checksums` driver entries: decode every LOSSLESS image
row of the deterministic synthetic media corpus with the JVM's
javax.imageio and every WAV row with javax.sound.sampled (independent
decoders — NOT the repo's codecs) and print the SQL VALUES literals of
(media_id, height, width, channels, pixel_sum, sample_crc) /
(media_id, n_samples, sample_rate, sample_sum, sample_crc).

Provenance contract: the constants committed in the
`q_media_pixel_checksums` oracle (mlvectordb_spark/queries/media.py) come
from THIS script, so the driver gate cross-checks the repo's pure-numpy
PNG/BMP decoders against an independent implementation every round —
the pixel-hash oracle mode the r10 verdict asked for, realized inside
the existing SQL-oracle harness. Lossless formats only: BMP and PNG
decode bit-exactly by spec; JPEG output is legitimately
decoder-dependent (IDCT variants) and stays under the pytest
tolerance gates instead.

Run: python tools/gen_media_oracle.py   (re-run whenever the corpus
generator changes; paste the output over the committed VALUES)
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

import numpy as np  # noqa: E402

from mlvectordb_spark import multimodal as MM  # noqa: E402
from mlvectordb_spark.session import get_spark  # noqa: E402

CORPUS_N = 60  # must match q_media_pixel_checksums


def imageio_samples(spark, payload: bytes, tag: str) -> np.ndarray:
    """Full-precision sample array via the raw Raster (no BMP transfer,
    no color-space conversion) — (H, W, bands) int64."""
    jvm = spark._jvm
    d = tempfile.mkdtemp(prefix="media_oracle_")
    path = os.path.join(d, tag)
    with open(path, "wb") as f:
        f.write(payload)
    img = jvm.javax.imageio.ImageIO.read(jvm.java.io.File(path))
    assert img is not None, tag
    w, h = img.getWidth(), img.getHeight()
    raster = img.getRaster()
    nb = raster.getNumBands()
    arr = spark.sparkContext._gateway.new_array(jvm.int, w * h * nb)
    out = raster.getPixels(0, 0, w, h, arr)
    return np.array(list(out), dtype=np.int64).reshape(h, w, nb)


def javax_sound_samples(spark, payload: bytes, tag: str) -> tuple:
    """Independent WAV ground truth: javax.sound.sampled parses the RIFF
    container and hands back the PCM frames — returns (rate, int16
    sample array)."""
    jvm = spark._jvm
    d = tempfile.mkdtemp(prefix="media_oracle_")
    path = os.path.join(d, tag)
    with open(path, "wb") as f:
        f.write(payload)
    ais = jvm.javax.sound.sampled.AudioSystem.getAudioInputStream(
        jvm.java.io.File(path)
    )
    fmt = ais.getFormat()
    assert fmt.getSampleSizeInBits() == 16 and fmt.getChannels() == 1
    raw = bytes(ais.readAllBytes())
    dt = ">i2" if fmt.isBigEndian() else "<i2"
    return float(fmt.getSampleRate()), np.frombuffer(raw, dtype=dt)


_CORPUS_CACHE: dict[int, list] = {}


def _corpus_rows(spark) -> list:
    """Collect the synthetic corpus ONCE per process — pixel_tuples and
    audio_tuples both need it, and main()/the pin test call both
    (r12 review: the first refactor regenerated the corpus per call)."""
    if CORPUS_N not in _CORPUS_CACHE:
        _CORPUS_CACHE[CORPUS_N] = MM.synthetic_media_df(
            spark, n=CORPUS_N
        ).collect()
    return _CORPUS_CACHE[CORPUS_N]


def pixel_tuples(spark) -> list[tuple]:
    """javax.imageio ground-truth tuples (media_id, h, w, channels,
    pixel_sum, sample_crc) for the corpus's lossless image rows —
    checksum shared with q_media_pixel_checksums via
    multimodal.sample_crc32. Imported by tests/test_media_oracle_pin.py
    to pin the committed VALUES to the corpus."""
    rows = [
        r
        for r in _corpus_rows(spark)
        if r.modality == "image"
        and r.mime_type in ("image/bmp", "image/png")
    ]
    out = []
    for r in sorted(rows, key=lambda r: r.media_id):
        samples = imageio_samples(spark, bytes(r.payload), r.media_id)
        h, w, nb = samples.shape
        flat = samples.reshape(-1)
        out.append(
            (r.media_id, h, w, nb, int(flat.sum()), MM.sample_crc32(flat))
        )
    return out


def audio_tuples(spark) -> list[tuple]:
    """javax.sound.sampled ground-truth tuples (media_id, n_samples,
    rate, sample_sum, sample_crc) for the corpus's WAV rows."""
    audio = [r for r in _corpus_rows(spark) if r.modality == "audio"]
    out = []
    for r in sorted(audio, key=lambda r: r.media_id):
        rate, samples = javax_sound_samples(
            spark, bytes(r.payload), r.media_id + ".wav"
        )
        flat = samples.astype(np.int64)
        out.append(
            (
                r.media_id, len(flat), int(rate),
                int(flat.sum()), MM.sample_crc32(flat),
            )
        )
    return out


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    print("-- media_pixel_checksums VALUES")
    print(",\n".join(
        f"  ('{t[0]}', {t[1]}, {t[2]}, {t[3]}, {t[4]}, {t[5]})"
        for t in pixel_tuples(spark)
    ))
    print("-- media_audio_checksums VALUES")
    print(",\n".join(
        f"  ('{t[0]}', {t[1]}, {t[2]}, {t[3]}, {t[4]})"
        for t in audio_tuples(spark)
    ))


if __name__ == "__main__":
    main()
