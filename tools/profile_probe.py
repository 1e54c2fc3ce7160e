"""Isolate the seen-set admit stage at a given parallelism: build an N-key
state, then admit M candidate rows (frontier-like width): one cogroup that
probes them and commits the run. Reports wall per phase — the tool for
chasing the probe stage's scaling.

Usage: python tools/profile_probe.py <cpus> [state_keys] [cand_rows]
"""

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from cinescrapers_spark.crawl.seen import SeenSet  # noqa: E402
from cinescrapers_spark.crawl.snapshots import SnapshotTable  # noqa: E402
from cinescrapers_spark.session import get_spark  # noqa: E402

cpus = int(sys.argv[1])
state_keys = int(sys.argv[2]) if len(sys.argv) > 2 else 3_000_000
cand_rows = int(sys.argv[3]) if len(sys.argv) > 3 else 5_000_000

os.environ.setdefault("SPARK_HOME", "/opt/spark")
repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
n_exec = max(1, cpus // 2)
spark = get_spark(
    master=f"local-cluster[{n_exec},2,6144]",
    shuffle_partitions=cpus * 2,
    extra_conf={
        "spark.executor.memory": "5g",
        "spark.executorEnv.PYTHONPATH": repo_root,
    },
)
spark.sparkContext.setLogLevel("ERROR")

wd = tempfile.mkdtemp(prefix=f"probe-{cpus}-")
seen = SeenSet(SnapshotTable(os.path.join(wd, "shards")), num_shards=64)

# state: keys 0..state_keys
base = spark.range(0, state_keys, numPartitions=cpus * 2).select(
    F.xxhash64("id").alias("url_hash")
)
t0 = time.time()
seen.add(base, tick=0)
t_boot = time.time() - t0

# candidates: half overlap the state, half fresh; frontier-like row width
cand = spark.range(
    state_keys // 2, state_keys // 2 + cand_rows, numPartitions=cpus * 2
).select(
    F.xxhash64("id").alias("url_hash"),
    F.concat(F.lit("https://host-"), F.pmod("id", F.lit(10000)),
             F.lit(".example.com/whats-on/page"), F.col("id")).alias("url"),
    F.lit(1).alias("depth"),
    F.lit(0.5).alias("host_rank"),
    F.lit(1.0).alias("crawl_delay"),
)

for rep in range(2):
    t0 = time.time()
    with seen.admit(cand, tick=1 + rep) as (unseen, n_fresh):
        # the run commit inside admit runs the cogroup and fills the cache
        t_admit = time.time() - t0
        t0 = time.time()
        n_unseen = unseen.count()  # reads the cached unseen rows
        t_read = time.time() - t0
    print(
        {
            "cpus": cpus, "rep": rep, "state_keys": state_keys,
            "cand_rows": cand_rows, "n_unseen": n_unseen, "n_fresh": n_fresh,
            "bootstrap_s": round(t_boot, 1),
            "admit_s": round(t_admit, 1), "cached_read_s": round(t_read, 1),
        },
        flush=True,
    )
spark.stop()
