"""The helpers that Python kernels close over ship to executors BY VALUE:
unpickled where ``kinbaku_spark`` cannot be imported, they still run.
A module-level function would pickle by reference and fail to load there.
Covers the cosine fold, the frame sampler and the JPEG codec with the
codecs that reach it (image_pixels and the MJPEG AVI pair), each run on
both sides and compared. Spark-free: Spark's own cloudpickle, a plain
subprocess, no session."""

from __future__ import annotations

import subprocess
import sys

from pyspark import cloudpickle

from kinbaku_spark.operators.codecs import make_media_codecs
from kinbaku_spark.operators.similarity import make_cosine_fold

_RUN = """
def run(cosine_fold, sample_frames, encode_jpeg, decode_jpeg, image_pixels, encode_avi_mjpeg, decode_avi):
    import numpy as np
    q = np.array([[1.0, 0.0], [3.0, 4.0]])
    img = (np.arange(16 * 24 * 3) * 7 % 251).astype(np.uint8).reshape(16, 24, 3)
    jpg = encode_jpeg(img, subsampling="420", restart_interval=2)
    avi = encode_avi_mjpeg([img, img[::-1]], 40000, subsampling="420", restart_interval=2)
    usec, w, h, frames = decode_avi(avi)
    return (
        cosine_fold(q, q).tolist(),
        sample_frames(40000, 3, 50),
        jpg,
        decode_jpeg(jpg).tolist(),
        image_pixels(jpg).tolist(),
        avi,
        (usec, w, h, [f.tolist() for f in frames]),
    )
"""

_EXECUTOR = """
import pickle, sys
sys.modules["kinbaku_spark"] = None  # any import of the package fails
kernels = pickle.loads(sys.stdin.buffer.read())
exec(RUN)
print(repr(run(*kernels)))
"""


def test_kernel_helpers_run_where_the_package_is_absent(tmp_path):
    codecs = make_media_codecs()
    kernels = (make_cosine_fold(), codecs["sample_frames"]) + tuple(
        codecs[name]
        for name in ("encode_jpeg", "decode_jpeg", "image_pixels", "encode_avi_mjpeg", "decode_avi")
    )
    out = subprocess.run(
        [sys.executable, "-c", f"RUN = {_RUN!r}" + _EXECUTOR],
        input=cloudpickle.dumps(kernels),
        capture_output=True,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr.decode()
    scope: dict = {}
    exec(_RUN, scope)
    want = scope["run"](*kernels)
    assert out.stdout.decode().strip() == repr(want)
    cosine, sampled, jpg, decoded, pixels, avi, (usec, w, h, frames) = want
    assert (cosine, sampled) == ([[1.0, 0.6], [0.6, 1.0]], [(0, 0), (50, 1)])
    assert jpg[:2] == b"\xff\xd8" and avi[:4] == b"RIFF"
    assert pixels == decoded and frames[0] == decoded
    assert (usec, w, h, len(frames)) == (40000, 24, 16, 2)
