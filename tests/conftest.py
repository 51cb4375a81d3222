import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# The engine's production default is native-decode ON (r12 optimization;
# codec/native.py). The test suite pins the PURE clean-room image/audio/
# CRC decoders as its default so every codec/operator test keeps
# exercising the spec-first decoders; the native parity/differential legs
# opt back in explicitly with monkeypatch.setenv / prefer_native=True.
# Compressed-shard ingest has one decoder per format and ignores the
# flag. setdefault so an operator can still run the whole suite
# native-first by exporting the flag.
os.environ.setdefault("TRITON_NATIVE_DECODE", "0")

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    from go_triton_spark.session import get_spark

    s = get_spark("go-triton-spark-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
