import contextlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Loaders of codec/native.py's system libraries and compiled shims. A
# host without them gets None from each, and every parser then takes
# its pure decoder.
NATIVE_LOADERS = ("_webp", "_tiff", "_jpeg_shim_lib", "_crc_shim_lib")


@contextlib.contextmanager
def without_native_libs():
    """Run the block as a host with no native decode library does:
    every native loader returns None, so each parser takes its pure
    decoder. Only this process is affected; Spark workers keep the
    native path."""
    from go_triton_spark.codec import native

    with pytest.MonkeyPatch.context() as mp:
        for name in NATIVE_LOADERS:
            mp.setattr(native, name, lambda: None)
        yield


@pytest.fixture
def pure_decoders():
    """For the pure decoders' unit tests: see without_native_libs."""
    with without_native_libs():
        yield


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
