"""Real WAV audio decoding (operators/multimodal.py::_wav_decode)."""

from __future__ import annotations

def _make_wav(freq_hz: float, sr: int = 8000, secs: float = 0.5, ch: int = 1) -> bytes:
    import io
    import math
    import struct
    import wave

    n = int(sr * secs)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(ch)
        w.setsampwidth(2)
        w.setframerate(sr)
        frames = bytearray()
        for i in range(n):
            v = int(20000 * math.sin(2 * math.pi * freq_hz * i / sr))
            frames += struct.pack("<h", v) * ch
        w.writeframes(bytes(frames))
    return buf.getvalue()


def test_wav_decoder_real_spectral_features(spark):
    """The stdlib WAV decoder is REAL: a pure tone concentrates energy in
    the right spectrum band, and different tones produce different
    features deterministically."""
    from biocurator_mapper_spark.operators.multimodal import extract_media_features

    lo, hi = _make_wav(200.0), _make_wav(3200.0)
    df = spark.createDataFrame(
        [(1, bytearray(lo)), (2, bytearray(hi)), (3, None)],
        "media_id long, media binary",
    )
    out = {
        r.media_id: r
        for r in extract_media_features(df, decoder="wav").collect()
    }
    assert all(out[i].feat_dim == 64 for i in (1, 2, 3))
    f_lo, f_hi = out[1].feature, out[2].feature
    # spectrum half = features 32..63; Nyquist 4000 Hz over 32 bands =
    # 125 Hz/band: 200 Hz -> band 1, 3200 Hz -> band 25
    assert max(range(32, 64), key=lambda i: f_lo[i]) == 32 + 1
    assert max(range(32, 64), key=lambda i: f_hi[i]) == 32 + 25
    assert f_lo != f_hi
    assert out[3].content_sha is None and all(x == 0.0 for x in out[3].feature)
    # stereo downmix decodes too and matches the mono tone's spectrum peak
    st = _make_wav(200.0, ch=2)
    df2 = spark.createDataFrame([(9, bytearray(st))], "media_id long, media binary")
    f_st = extract_media_features(df2, decoder="wav").collect()[0].feature
    assert max(range(32, 64), key=lambda i: f_st[i]) == 32 + 1
