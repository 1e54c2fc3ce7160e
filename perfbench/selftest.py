"""Self-test of the benchmark at small size (a few minutes on 4 cores).

    python3 perfbench/selftest.py

1. Runs the crawl, harvest and analytics workloads on tiny inputs in one
   Spark session and requires every check to pass.
2. Corrupts one output per check family and requires the check to reject
   it: one key dropped from the crawl seen set, one harvested caption
   altered, one value of one query result perturbed.
3. Requires ``run.py`` to exit non-zero, without printing a result, from a
   directory holding only ``BENCHMARK.json`` and the benchmark.

Exits 0 when every test passes.
"""

from __future__ import annotations

import glob
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import pb_spark  # noqa: E402

sys.path.insert(1, pb_spark.REPO)

SEED = 11
SECONDS = 1.0


def rewrite(path: str, table) -> None:
    """Overwrite a parquet part file, dropping the checksum sidecar that
    Hadoop's local file system would otherwise reject the new bytes with."""
    import pyarrow.parquet as pq

    pq.write_table(table, path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def drop_seen_key(eng) -> None:
    """Rewrite the newest seen-set snapshot with one key removed."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from cinescrapers_spark.crawl.seen import decode_shard, encode_shard

    snap = eng.seen.table.snapshot_dir(eng.seen.table.latest()["snapshot_id"])
    for f in sorted(glob.glob(os.path.join(snap, "**", "*.parquet"), recursive=True)):
        t = pq.read_table(f)
        rows = t.to_pylist()
        for r in rows:
            keys, bloom = decode_shard(r["data"])
            if len(keys):
                r["data"] = encode_shard(keys[1:], bloom)
                r["n_keys"] -= 1
                rewrite(f, pa.Table.from_pylist(rows, schema=t.schema))
                return
    raise RuntimeError("seen set holds no keys")


def alter_caption(eng) -> None:
    """Rewrite the harvested row of one gallery poster with a new caption."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import pb_checks
    import pb_crawl

    target = next(iter(pb_checks.gallery_posters(pb_crawl.GALLERIES).values()))
    for e in eng.harvester.table.manifest():
        snap = eng.harvester.table.snapshot_dir(e["snapshot_id"])
        for f in sorted(glob.glob(os.path.join(snap, "**", "*.parquet"), recursive=True)):
            t = pq.read_table(f)
            rows = t.to_pylist()
            for r in rows:
                if r["image_id"] == target:
                    r["caption"] += " (altered)"
                    rewrite(f, pa.Table.from_pylist(rows, schema=t.schema))
                    return
    raise RuntimeError("gallery poster not harvested")


def lossy_rows_below_floor() -> int:
    """Gallery posters whose own lossy encoding, done here apart from the
    engine, decodes below the PSNR floor: the harvest runs' failed count."""
    import pb_checks
    import pb_crawl
    from cinescrapers_spark.crawl.harvest import synth_pixels
    from cinescrapers_spark.images.codecs import decode_image, encode_image, psnr

    n = 0
    for url in pb_checks.gallery_posters(pb_crawl.GALLERIES):
        arr, _, _, fmt = synth_pixels(url)
        if fmt in pb_checks.LOSSY:
            n += psnr(arr, decode_image(encode_image(arr, fmt), fmt)) < pb_checks.PSNR_FLOOR_DB
    return n


def perturb_row(results) -> None:
    df = results["q_pricing_summary"]
    df.loc[df.index[0], "sum_qty"] += 1.0


def no_engine_exit() -> str | None:
    """run.py in a directory with only BENCHMARK.json and perfbench/."""
    d = tempfile.mkdtemp(prefix="perfbench-bare-", dir=pb_spark.OUT)
    try:
        shutil.copy(os.path.join(pb_spark.REPO, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", "analytics", "--seed", "1",
             "--seconds", "1", "--trace", "0"],
            cwd=d, capture_output=True, text=True, timeout=180,
        )
        if p.returncode == 0 or p.stdout.strip():
            return f"exit {p.returncode}, stdout {p.stdout.strip()[:200]!r}"
        return None
    finally:
        shutil.rmtree(d, ignore_errors=True)


def main() -> int:
    import pb_analytics
    import pb_crawl

    os.makedirs(pb_spark.OUT, exist_ok=True)
    results: list[tuple[str, str | None]] = []
    results.append(("bare checkout exits non-zero", no_engine_exit()))

    rdir = pb_spark.run_dir("selftest", SEED, False)
    tracer = pb_spark.Tracer(False)
    spark = pb_spark.start_session(rdir, False, {"CINESCRAPERS_HARVEST_FORMATS": "qimg,ppm,png,jpeg,jpeg_prog"})
    try:
        def crawl(workload, tamper=None):
            return pb_crawl.run(
                spark, rdir, workload, SEED, SECONDS, tracer, time.time(), small=True, tamper=tamper
            )

        def analytics(tamper=None):
            return pb_analytics.run(
                spark, os.path.join(rdir, "a"), SEED, SECONDS, tracer, time.time(), small=True,
                tamper=tamper,
            )

        def clean(name, res):
            return None if not res["failures"] else f"{name}: {res['failures'][:3]}"

        def rejects(name, res, words):
            hit = [f for f in res["failures"] if any(w in f for w in words)]
            return None if hit else f"{name} not rejected; failures: {res['failures'][:3]}"

        results.append(("crawl checks pass", clean("crawl", crawl("crawl"))))
        h = crawl("harvest")
        results.append(("harvest checks pass", clean("harvest", h)))
        below = lossy_rows_below_floor()
        results.append((
            "harvest failed rows are the lossy rows below 40 dB",
            None if h["failed"] == below else f"failed={h['failed']}, rows below the floor={below}",
        ))
        results.append(("analytics checks pass", clean("analytics", analytics())))
        results.append((
            "dropped seen key rejected",
            rejects("dropped seen key", crawl("crawl", drop_seen_key), ["missing from the seen set"]),
        ))
        results.append((
            "altered caption rejected",
            rejects("altered caption", crawl("harvest", alter_caption), ["harvested images"]),
        ))
        results.append((
            "perturbed query row rejected",
            rejects("perturbed row", analytics(perturb_row), ["q_pricing_summary"]),
        ))
    finally:
        pb_spark.stop_session(spark)
        shutil.rmtree(rdir, ignore_errors=True)

    bad = 0
    for name, err in results:
        print(f"{'PASS' if err is None else 'FAIL'}  {name}" + ("" if err is None else f": {err}"))
        bad += err is not None
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
