"""Harvest acquisition path: phash against its loop form, pinned encoder
bytes, the once-per-host C kernel build and the Python daemon's zip stamp."""

import hashlib
import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import numpy as np
import pytest

from cinescrapers_spark.images.ops import _DCT32, phash64
from cinescrapers_spark.images.table import SIZES, generate_images_pdf, make_pixels

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _phash64_loop(arr: np.ndarray) -> int:
    """phash64 as first written: a per-row band loop and a per-bit OR."""
    gray = arr.astype(np.float64) @ np.array([0.299, 0.587, 0.114])
    h, w = gray.shape
    out = 32
    ys = (np.arange(out) * h // out).astype(int)
    ye = np.maximum(ys + max(1, h // out), ys + 1)
    xs = (np.arange(out) * w // out).astype(int)
    xe = np.maximum(xs + max(1, w // out), xs + 1)
    g32 = np.empty((out, out), dtype=np.float64)
    for r in range(out):
        band = gray[ys[r] : ye[r]]
        cs = np.cumsum(np.concatenate([[0.0], band.mean(axis=0)]))
        g32[r] = (cs[xe] - cs[xs]) / (xe - xs)
    coeffs = (_DCT32 @ g32 @ _DCT32.T)[:8, :8].flatten()[1:]
    med = np.median(coeffs)
    bits = np.concatenate([[0], (coeffs > med).astype(np.uint64)])
    val = np.uint64(0)
    for i, b in enumerate(bits):
        val |= np.uint64(b) << np.uint64(i)
    return int(val.astype(np.int64))


def test_phash64_matches_loop_reference():
    """Same arithmetic in the same order, so equality is exact: structured
    and noise images over every SIZES x SIZES shape, plus shapes under 32
    pixels and far from square."""
    import random

    rng = np.random.default_rng(0)
    shapes = [(h, w) for h in SIZES for w in SIZES]
    shapes += [(1, 1), (7, 300), (31, 33), (300, 7), (2, 64)]
    for seed in range(4):
        for h, w in shapes:
            noise = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
            assert phash64(noise) == _phash64_loop(noise), (h, w, seed)
            if min(h, w) >= 8:
                arr = make_pixels(random.Random(seed * 1000 + h * 7 + w), w, h)
                assert phash64(arr) == _phash64_loop(arr), (h, w, seed)


def test_encoder_bytes_pinned():
    """Every codec's output bytes, pinned: the sha256 over the
    length-prefixed ``bytes`` column of a fixed corpus that holds all five
    harvest codecs (baseline and progressive JPEG included)."""
    pdf = generate_images_pdf(
        n=60, seed=7, formats=("qimg", "ppm", "png", "jpeg", "jpeg_prog")
    )
    assert set(pdf["fmt"]) == {"qimg", "ppm", "png", "jpeg", "jpeg_prog"}
    h = hashlib.sha256()
    for b in pdf["bytes"]:
        h.update(len(b).to_bytes(8, "little"))
        h.update(b)
    assert h.hexdigest() == (
        "e1216021209b10299e6dcc9ac328bb57d27e35221ebdf7280b42e7610825e1b8"
    )


_COUNT_BUILDS = """
import subprocess
calls = []
real = subprocess.run
subprocess.run = lambda *a, **k: calls.append(a) or real(*a, **k)
from cinescrapers_spark.images._native import native_lib
print(native_lib() is not None, len(calls))
"""


def _native_in_fresh_process(tmpdir, n=1):
    env = {k: v for k, v in os.environ.items() if k != "CINESCRAPERS_NO_NATIVE"}
    env["TMPDIR"] = str(tmpdir)
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", _COUNT_BUILDS],
            cwd=REPO,
            env=env,
            stdout=subprocess.PIPE,
            text=True,
        )
        for _ in range(n)
    ]
    out = []
    for p in procs:
        stdout, _ = p.communicate(timeout=120)
        assert p.returncode == 0
        loaded, runs = stdout.split()
        out.append((loaded == "True", int(runs)))
    return out


def test_native_kernels_compile_once_per_host(tmp_path):
    """Three processes racing on an empty temp dir compile once between
    them; a later process loads that .so without running the compiler. The
    build leaves one dir under TMPDIR and no partial library in it."""
    import shutil

    if shutil.which("cc") is None and shutil.which("gcc") is None:
        pytest.skip("no C compiler in this environment")
    first = _native_in_fresh_process(tmp_path, n=3)
    assert all(loaded for loaded, _ in first)
    assert sum(runs for _, runs in first) == 1
    assert _native_in_fresh_process(tmp_path) == [(True, 0)]
    (build_dir,) = os.listdir(tmp_path)
    assert build_dir.startswith("cinescrapers-native-")
    assert sorted(os.listdir(tmp_path / build_dir)) == [
        "build.lock", "kernels.c", "kernels.so",
    ]


def test_pydaemon_rereads_zip_only_when_changed(tmp_path, monkeypatch):
    """With the daemon's check installed, importlib.invalidate_caches()
    re-reads an imported-from zip only after the archive changed."""
    from cinescrapers_spark import pydaemon

    archive = tmp_path / "stamped_pkg.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("stamped_pkg/__init__.py", "VALUE = 1\n")
        zf.writestr("stamped_pkg/sub/__init__.py", "")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_if_changed
    )
    reads = []
    real_read = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real_read(p)
    )
    try:
        import stamped_pkg.sub  # noqa: F401

        assert stamped_pkg.VALUE == 1
        importlib.invalidate_caches()  # first sighting of the archive: a read
        reads.clear()
        for _ in range(3):
            importlib.invalidate_caches()
        assert reads == []

        st = os.stat(archive)
        os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
        importlib.invalidate_caches()
        assert reads == [str(archive)]
        importlib.invalidate_caches()
        assert reads == [str(archive)]
    finally:
        for name in ("stamped_pkg.sub", "stamped_pkg"):
            sys.modules.pop(name, None)
        for path in [p for p in sys.path_importer_cache if p.startswith(str(archive))]:
            del sys.path_importer_cache[path]


def test_get_spark_sets_python_daemon_module(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "cinescrapers_spark.pydaemon"
