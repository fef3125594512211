"""The helpers that Python kernels close over ship to executors BY VALUE:
unpickled where ``kinbaku_spark`` cannot be imported, they still run.
A module-level function would pickle by reference and fail to load there.
Spark-free: Spark's own cloudpickle, a plain subprocess, no session."""

from __future__ import annotations

import subprocess
import sys

import numpy as np
from pyspark import cloudpickle

from kinbaku_spark.operators.codecs import make_media_codecs
from kinbaku_spark.operators.similarity import make_cosine_fold

_EXECUTOR = """
import pickle, sys
sys.modules["kinbaku_spark"] = None  # any import of the package fails
cosine_fold, sample_frames = pickle.loads(sys.stdin.buffer.read())
import numpy as np
q = np.array([[1.0, 0.0], [3.0, 4.0]])
print(repr((cosine_fold(q, q).tolist(), sample_frames(40000, 3, 50))))
"""


def test_kernel_helpers_run_where_the_package_is_absent(tmp_path):
    cosine_fold = make_cosine_fold()
    sample_frames = make_media_codecs()["sample_frames"]
    out = subprocess.run(
        [sys.executable, "-c", _EXECUTOR],
        input=cloudpickle.dumps((cosine_fold, sample_frames)),
        capture_output=True,
        cwd=tmp_path,
    )
    assert out.returncode == 0, out.stderr.decode()
    q = np.array([[1.0, 0.0], [3.0, 4.0]])
    want = (cosine_fold(q, q).tolist(), sample_frames(40000, 3, 50))
    assert out.stdout.decode().strip() == repr(want)
    assert want == ([[1.0, 0.6], [0.6, 1.0]], [(0, 0), (50, 1)])
