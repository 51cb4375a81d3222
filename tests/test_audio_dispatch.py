"""codec/audio.py: magic-sniffing dispatch over WAV and FLAC."""

import numpy as np
import pytest

from go_triton_spark.codec.audio import parse_audio, sniff_audio_format
from go_triton_spark.codec.flac import build_flac
from go_triton_spark.codec.wav import build_wav

# the pure decoders, as on a host without the native libraries
pytestmark = pytest.mark.usefixtures("pure_decoders")

SIG = np.where(np.arange(96) % 8 < 4, 700, -700).astype(np.int64)


def test_sniff():
    assert sniff_audio_format(build_wav(SIG)) == "wav"
    assert sniff_audio_format(build_flac(SIG)) == "flac"
    with pytest.raises(ValueError):
        sniff_audio_format(b"OggS\x00\x02 not supported here")


def test_contract_matches_across_containers():
    """Same signal through both containers -> identical samples and
    normalized metadata (the dispatch contract features rely on)."""
    a = parse_audio(build_wav(SIG))
    b = parse_audio(build_flac(SIG))
    assert a["n_samples"] == b["n_samples"] == 96
    assert a["n_channels"] == b["n_channels"] == 1
    assert a["sample_rate"] == b["sample_rate"] == 8000
    assert np.array_equal(np.asarray(a["samples"], dtype=np.int64),
                          np.asarray(b["samples"], dtype=np.int64))


def test_truncation_rejected_both():
    for payload in (build_wav(SIG), build_flac(SIG)):
        with pytest.raises(ValueError):
            parse_audio(payload[:-13])
