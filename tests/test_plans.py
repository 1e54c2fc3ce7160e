"""Plan-level tests: registry hygiene, LSH recall vs exact baselines."""

import pytest

from cinescrapers_spark.plans import registry


def test_registry_sane():
    reg = registry()
    assert len(reg) >= 55
    with_oracle = [n for n, (_, sql) in reg.items() if sql]
    assert len(with_oracle) >= 48
    for name, (fn, _) in reg.items():
        assert callable(fn), name


def test_driver_window_invariants():
    """The driver's correctness gate samples the FIRST 50 registry entries;
    rotation policy (plans/__init__.py) must never violate the pins
    (VERDICT r3 #8): headline/bench queries always inside the window,
    q_dedup_incremental (side-effecting index build) always outside, no
    rows-only query burning an oracle slot."""
    from cinescrapers_spark.plans import (
        DRIVER_WINDOW_SLOTS,
        HEADLINE_QUERIES,
        PINNED_OUT,
        driver_window,
    )

    reg = registry()
    win = driver_window()
    assert len(win) == DRIVER_WINDOW_SLOTS
    # every window slot is oracle-backed (rows-only exactness lives in pytest)
    for name in win:
        assert reg[name][1] is not None, f"rows-only query {name} in window"
    # bench headline queries are never parked
    for name in HEADLINE_QUERIES:
        assert name in reg and name in win, f"headline query {name} parked"
    # expensive side-effecting queries are never sampled by the driver
    for name in PINNED_OUT:
        assert name in reg and name not in win, f"pinned-out {name} in window"
    # parked cohort must stay small enough that alternation gives every
    # oracle query a driver row at least every other round
    oracle = [n for n, (_, sql) in reg.items() if sql]
    parked = [n for n in oracle if n not in win]
    assert len(parked) <= DRIVER_WINDOW_SLOTS - len(HEADLINE_QUERIES)


def test_minhash_lsh_matches_exact_jaccard(spark, sf_dir):
    """LSH-verified pairs are a subset of the exact-Jaccard pairs and miss
    at most 1% of them (band math puts the miss probability near 3e-4 per
    pair at θ=0.8; the plan is approximate, not exact)."""
    from cinescrapers_spark.plans.dedup import q_dedup_jaccard, q_dedup_minhash_lsh

    exact = {
        (r.source, r.doc_a, r.doc_b)
        for r in q_dedup_jaccard(spark, sf_dir).collect()
    }
    lsh = {
        (r.source, r.doc_a, r.doc_b)
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert lsh <= exact  # verification step guarantees no false positives
    missed = len(exact - lsh)
    assert missed <= max(1, int(0.01 * len(exact))), f"LSH missed {missed}/{len(exact)}"


@pytest.mark.parametrize(
    "theta, kept, dropped",
    [
        # (|a|, |b|) with b ⊆ a, so J = |b| / |a|
        (0.8, [(5, 4), (10, 8), (20000, 15999)], [(10000, 7999), (4, 3)]),
        (0.5, [(2, 1), (20000, 9999)], [(10000, 4999), (3, 1)]),
    ],
)
def test_jaccard_kernel_boundary(spark, theta, kept, dropped):
    """jaccard_pairs keeps pairs at exactly J = θ (4/5, 1/2) and at the
    lowest J that rounds up to θ (θ − 0.00005), and drops the first J that
    rounds below θ (θ − 0.0001): its size-ratio prune never cuts a pair
    the θ filter keeps."""
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.dedup import jaccard_pairs

    def seq(n):
        return F.sequence(F.lit(1).cast("long"), F.col(n).cast("long"))

    rows = list(enumerate(kept + dropped))
    pairs = (
        spark.createDataFrame([(i, a, b) for i, (a, b) in rows], "pid int, na int, nb int")
        .withColumn("ha", seq("na"))
        .withColumn("hb", seq("nb"))
    )
    got = {r.pid: r.j for r in jaccard_pairs(pairs, ["pid"], theta, "j").collect()}
    assert got == {i: theta for i in range(len(kept))}


def test_table_num_rows_sees_rewrites(tmp_path, monkeypatch):
    """The footer-peek memo notices a table rewritten at another size in
    the same process, and a missing pyarrow picks the JVM shape (0 rows)
    instead of the Arrow shape that needs pyarrow."""
    import sys

    import pandas as pd

    from cinescrapers_spark.plans import table_num_rows

    path = tmp_path / "documents.parquet"
    for n in (3, 7):
        pd.DataFrame({"doc_id": range(n)}).to_parquet(path)
        assert table_num_rows(str(tmp_path), "documents") == n
    pd.DataFrame({"doc_id": range(11)}).to_parquet(path)
    monkeypatch.setitem(sys.modules, "pyarrow.parquet", None)
    assert table_num_rows(str(tmp_path), "documents") == 0


def test_ann_lsh_recall_vs_bruteforce(spark, sf_dir):
    from cinescrapers_spark.plans.similarity import q_ann_bruteforce, q_ann_lsh

    exact = {(r.q_id, r.vec_id) for r in q_ann_bruteforce(spark, sf_dir).collect()}
    approx = {(r.q_id, r.vec_id) for r in q_ann_lsh(spark, sf_dir).collect()}
    recall = len(exact & approx) / len(exact)
    # random-hyperplane banding on near-orthogonal synthetic vectors is a
    # weak filter; assert the plumbing works and recall is nontrivial
    assert len(approx) > 0
    assert recall >= 0.2, f"ANN recall {recall:.2f}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.limit(5).collect()
    assert len(df.columns) == 5
    assert rows is not None


@pytest.mark.parametrize("name", ["q_pricing_summary", "q_top1_per_group", "q_dedup_exact"])
def test_queries_run_at_sf0001(spark, sf_dir, name):
    reg = registry()
    fn, _ = reg[name]
    assert fn(spark, sf_dir).count() >= 0


def test_approx_distinct_error_bound(spark, sf_dir):
    """HLL sketch (rsd=0.02) must stay within a loose error band of the
    exact daily distincts — the 10^10-scale COUNT(DISTINCT) form."""
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.advanced import q_approx_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = {
        r["d"]: r["n"]
        for r in ev.groupBy(F.to_date("ts").cast("string").alias("d"))
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {r["d"]: r["approx_users"] for r in q_approx_distinct(spark, sf_dir).collect()}
    assert set(approx) == set(exact)
    for d, n in exact.items():
        assert abs(approx[d] - n) <= max(3, 0.1 * n), (d, n, approx[d])


def test_partitioned_topk_exact_and_bounded(spark):
    """partitioned_topk must equal the naive single-window top-k on every
    partitioning, and its final exchange must be bounded by k×partitions."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.similarity import partitioned_topk

    df = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("key"),
        F.col("id").alias("vid"),
        (F.pmod(F.xxhash64("id"), F.lit(10_000)) / 10_000.0).alias("score"),
    )
    order = [F.desc("score"), F.asc("vid")]
    w = Window.partitionBy("key").orderBy(*order)
    naive = {
        (r.key, r.vid)
        for r in df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 7)
        .collect()
    }
    for nparts in (1, 4, 13):
        got = {
            (r.key, r.vid)
            for r in partitioned_topk(df.repartition(nparts), ["key"], order, 7)
            .collect()
        }
        assert got == naive, f"partitioned_topk diverged at nparts={nparts}"


def test_lsh_bucket_cap_skew_kill(spark, monkeypatch):
    """A mega-bucket (boilerplate corpus) must be excluded from pair
    generation when over the cap, reported by lsh_oversized_buckets, and
    the cap must be a no-op on a healthy corpus."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans import dedup
    from cinescrapers_spark.plans.dedup import (
        _tokens,
        lsh_candidate_pairs,
        lsh_oversized_buckets,
    )

    # 40 identical boilerplate docs (one bucket per band of size 40) + 2
    # genuine near-dups with distinct text
    rows = [{"doc_id": i, "source": "s", "text": "the same boilerplate template text"} for i in range(40)]
    rows += [
        {"doc_id": 100, "source": "s", "text": "unique alpha beta gamma delta epsilon"},
        {"doc_id": 101, "source": "s", "text": "unique alpha beta gamma delta zeta"},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows)).select(
        "doc_id", "source", _tokens(F.col("text")).alias("toks")
    )

    # the default cap is far above any bucket here: no pair is lost
    assert dedup.LSH_BUCKET_CAP >= 40
    uncapped = lsh_candidate_pairs(docs)
    assert uncapped.count() == 40 * 39 // 2 + 1  # quadratic blowup + the pair
    assert lsh_oversized_buckets(docs).count() == 0

    monkeypatch.setattr(dedup, "LSH_BUCKET_CAP", 10)
    capped = lsh_candidate_pairs(docs)
    got = {(r.doc_a, r.doc_b) for r in capped.collect()}
    assert got == {(100, 101)}, "capped run must keep healthy-bucket pairs only"

    over = lsh_oversized_buckets(docs)
    assert over.count() > 0 and over.agg({"bucket_size": "max"}).first()[0] == 40


def test_lsh_cap_end_to_end_grouped_resolves(spark, tmp_path):
    """Mega-bucket cap tripped END-TO-END at the DEFAULT cap: a
    boilerplate cluster larger than LSH_BUCKET_CAP swallows its own
    near-dups (every band bucket holding them also holds the whole
    cluster), q_dedup_minhash_lsh loses those pairs, and
    lsh_oversized_buckets must report the loss — while the grouped plan
    (exact-dup collapse first) recovers the EXACT ground truth, because
    collapsing the cluster to one representative deflates every bucket
    below the cap. This is precisely the corpus shape the grouped variant
    exists for."""
    import pandas as pd
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans import load
    from cinescrapers_spark.plans.dedup import (
        LSH_BUCKET_CAP,
        _tokens,
        lsh_oversized_buckets,
        q_dedup_minhash_lsh,
        q_dedup_minhash_lsh_grouped,
    )

    n_boiler = LSH_BUCKET_CAP + 100
    boiler = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    rows = [{"doc_id": i, "source": "s", "text": boiler} for i in range(n_boiler)]
    # two near-dups of the template (jaccard 10/12 ≈ 0.833 to each other,
    # 10/11 ≈ 0.909 to the template): every band where they collide with
    # anything also contains the full cluster
    rows.append({"doc_id": 90000, "source": "s", "text": boiler + " kilo"})
    rows.append({"doc_id": 90001, "source": "s", "text": boiler + " lima"})
    pd.DataFrame(rows).to_parquet(str(tmp_path / "documents.parquet"))
    sf = str(tmp_path)

    capped = {
        (r.doc_a, r.doc_b) for r in q_dedup_minhash_lsh(spark, sf).collect()
    }
    assert (90000, 90001) not in capped, "mega-bucket should swallow the pair"
    # ...but never silently: the oversized buckets are reported
    docs = load(spark, sf, "documents").select(
        "doc_id", "source", _tokens(F.col("text")).alias("toks")
    )
    over = lsh_oversized_buckets(docs).collect()
    assert over and max(r.bucket_size for r in over) >= n_boiler

    # grouped plan on the same corpus = exact ground truth
    grouped = q_dedup_minhash_lsh_grouped(spark, sf)
    n_within = n_boiler * (n_boiler - 1) // 2
    n_cross = n_boiler + n_boiler + 1  # boiler–kilo, boiler–lima, kilo–lima
    assert grouped.count() == n_within + n_cross
    got = {
        (r.doc_a, r.doc_b)
        for r in grouped.filter(F.col("doc_a") >= 90000).collect()
    }
    assert got == {(90000, 90001)}


def test_ann_ivf_recall_vs_bruteforce(spark, sf_dir):
    """IVF cell-probe plumbing: the synthetic vectors are near-uniform
    (same-label fraction of exact top-k ≈ 0.06 ≈ chance), so probing 3/10
    cells bounds recall near the probed fraction — assert it is nontrivial
    and that every returned pair carries the EXACT cosine (re-rank is
    exact; on a genuinely clustered corpus recall → 1)."""
    from cinescrapers_spark.plans.similarity import q_ann_bruteforce, q_ann_ivf

    exact = {(r.q_id, r.vec_id) for r in q_ann_bruteforce(spark, sf_dir).collect()}
    approx = {(r.q_id, r.vec_id) for r in q_ann_ivf(spark, sf_dir).collect()}
    assert approx, "IVF returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.25, f"IVF recall {recall:.2f}"
    # every returned pair must carry the exact cosine (re-rank is exact)
    exact_cos = {
        (r.q_id, r.vec_id): r.cosine
        for r in q_ann_bruteforce(spark, sf_dir).collect()
    }
    for r in q_ann_ivf(spark, sf_dir).collect():
        if (r.q_id, r.vec_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.q_id, r.vec_id)]) < 1e-9


def _clustered_embeddings(spark, n_queries=5):
    """In-repo clustered embeddings corpus: 8 well-separated 16-dim
    clusters, labels = cluster id with 20% noise (the per-label seed
    quantizer is deliberately imperfect; k-means has to fix it). Queries
    (vec_id < n_queries, label -1) sit inside clusters 0..4."""
    import numpy as np
    import pandas as pd

    rng = np.random.default_rng(7)
    k_clusters, dim, per = 8, 16, 50
    centers = rng.normal(0, 10.0, (k_clusters, dim))
    rows = []
    for i in range(n_queries):
        v = centers[i] + rng.normal(0, 0.5, dim)
        rows.append({"vec_id": i, "label": -1, "embedding": [float(x) for x in v]})
    vid = n_queries
    for cl in range(k_clusters):
        for _ in range(per):
            v = centers[cl] + rng.normal(0, 0.5, dim)
            label = cl if rng.random() > 0.2 else int(rng.integers(0, k_clusters))
            rows.append(
                {"vec_id": vid, "label": label, "embedding": [float(x) for x in v]}
            )
            vid += 1
    return spark.createDataFrame(pd.DataFrame(rows)), k_clusters


def test_ann_ivf_clustered_corpus_lloyd(spark):
    """On a genuinely clustered corpus, IVF recall must approach 1 —
    and the Lloyd iterations must not degrade (and should sharpen) the
    noisy per-label seed centroids. Near-uniform testdata cannot show cell
    locality, so the corpus is generated in-repo (_clustered_embeddings)."""
    from cinescrapers_spark.plans.similarity import ivf_topk

    emb, k_clusters = _clustered_embeddings(spark)
    n_queries = 5

    exact = {
        (r.q_id, r.vec_id)
        for r in ivf_topk(emb, nprobe=k_clusters, lloyd_iters=0).collect()
    }  # probing ALL cells = brute force (re-rank is exact)
    assert len(exact) == n_queries * 10
    ivf0 = {(r.q_id, r.vec_id) for r in ivf_topk(emb, nprobe=2, lloyd_iters=0).collect()}
    ivf2 = {(r.q_id, r.vec_id) for r in ivf_topk(emb, nprobe=2, lloyd_iters=2).collect()}
    r0 = len(exact & ivf0) / len(exact)
    r2 = len(exact & ivf2) / len(exact)
    assert r2 >= 0.9, f"clustered-corpus IVF recall {r2:.2f} (lloyd=2)"
    assert r2 >= r0 - 1e-9, f"Lloyd degraded recall: {r0:.2f} -> {r2:.2f}"


def test_vectorized_assignment_equals_relational(spark):
    """nearest_cell_vectorized (Arrow numpy matmul) must assign every
    vector to the SAME cell as the relational _nearest_cell argmax,
    including the lowest-cell-id tie-break — it is a physical-strategy
    swap, never a semantic one."""
    import numpy as np
    import pandas as pd

    from cinescrapers_spark.plans.similarity import (
        _cell_means,
        _nearest_cell,
        nearest_cell_vectorized,
    )

    rng = np.random.default_rng(3)
    centers = rng.normal(0, 5.0, (6, 8))
    rows = []
    for i in range(200):
        cl = i % 6
        v = centers[cl] + rng.normal(0, 0.8, 8)
        rows.append(
            {"vec_id": i, "cell": str(cl), "emb": [float(x) for x in v]}
        )
    # cells "7" and "12" share ONE identical member → identical centroids
    # → every vector's sim ties between them; the relational tie-break is
    # NUMERIC (min cell 7), which a lexicographic sort ("12" < "7") gets
    # wrong — this pins the numeric-tie parity
    shared = [float(x) for x in centers[0] * 3.0]
    rows_dup = rows + [
        {"vec_id": 1000, "cell": "7", "emb": shared},
        {"vec_id": 1001, "cell": "12", "emb": shared},
    ]
    pts = spark.createDataFrame(pd.DataFrame(rows_dup))
    cent = _cell_means(pts.select("cell", "vec_id", "emb")).localCheckpoint(eager=True)
    c = pts.select("vec_id", "emb")
    rel = {r["vec_id"]: r["cell"] for r in _nearest_cell(c, cent).collect()}
    vec = {r["vec_id"]: r["cell"] for r in nearest_cell_vectorized(c, cent).collect()}
    assert rel == vec


def test_simhash_band_pairs_complete_and_exact(spark, sf_dir):
    """Hamming-banded SimHash near-dup must equal the brute-force hamming
    ≤ 3 pair set (pigeonhole completeness + exact bit_count verify)."""
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans import load
    from cinescrapers_spark.plans.dedup import (
        _tokens,
        hash_set,
        q_dedup_simhash_band,
        simhash64,
    )

    got = {
        (r.doc_a, r.doc_b, r.hamming)
        for r in q_dedup_simhash_band(spark, sf_dir).collect()
    }
    sims = (
        load(spark, sf_dir, "documents")
        .select("doc_id", hash_set(_tokens(F.col("text"))).alias("h"))
        .select("doc_id", simhash64(F.col("h")).alias("s"))
        .collect()
    )
    vals = {r.doc_id: r.s for r in sims}
    ids = sorted(vals)
    want = set()
    for i, x in enumerate(ids):
        for y in ids[i + 1 :]:
            h = bin((vals[x] ^ vals[y]) & (2**64 - 1)).count("1")
            if h <= 3:
                want.add((x, y, h))
    assert got == want, (
        f"banded pairs != brute force: missing={want - got} extra={got - want}"
    )
    assert want, "fixture produced no hamming<=3 pairs to test"


def test_incremental_lsh_equals_batch(spark, sf_dir, tmp_path):
    """Feeding the corpus to the persisted LSH index in three batches must
    reproduce EXACTLY the full-batch q_dedup_minhash_lsh pair set (same
    minhash family, same band predicate, same verification) — and each
    batch must only touch new-batch + candidate rows, never rescan the
    corpus. Also: a re-run of a batch tick is idempotent."""
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans import load
    from cinescrapers_spark.plans.dedup import q_dedup_minhash_lsh
    from cinescrapers_spark.plans.incremental import IncrementalNearDupIndex

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    idx = IncrementalNearDupIndex(str(tmp_path / "lsh_index"))
    got = set()
    for tick in (1, 2, 3):
        batch = docs.filter(F.pmod("doc_id", F.lit(3)) == tick - 1)
        pairs = idx.add_batch(batch, tick=tick)
        got |= {(r.source, r.doc_a, r.doc_b, r.jaccard) for r in pairs.collect()}
    full = {
        (r.source, r.doc_a, r.doc_b, r.jaccard)
        for r in q_dedup_minhash_lsh(spark, sf_dir).collect()
    }
    assert got == full

    # idempotent re-run: committing tick 3 again adds no index rows and
    # returns the same tick-3 pairs
    n_runs = len(idx.bands_table.manifest())
    again = idx.add_batch(
        docs.filter(F.pmod("doc_id", F.lit(3)) == 2), tick=3
    )
    assert len(idx.bands_table.manifest()) == n_runs
    tick3 = {
        (r.source, r.doc_a, r.doc_b)
        for r in again.collect()
    }
    assert tick3 <= {(s, a, b) for s, a, b, _ in got}


def test_asof_join_tie_rule(spark, tmp_path):
    """The as-of tie rule must be explicit and identical on both sides
    (ADVICE r3): a click sharing the error's exact ts is NOT a match
    (strict c.ts < e.ts), and among clicks tied at the same earlier ts the
    largest event_id wins. The sf corpora contain no such ties, so this
    fixture constructs them and checks Spark against the DuckDB oracle."""
    import datetime

    import duckdb

    from cinescrapers_spark.plans.joins import ORACLES, q_asof_join

    t0 = datetime.datetime(2025, 1, 1, 12, 0, 0)
    s = lambda k: t0 + datetime.timedelta(seconds=k)  # noqa: E731
    rows = [
        # user 1: click 20 shares error 10's ts — must NOT match; the
        # strictly-earlier click 5 wins
        (5, s(0), 1, "click", 1.0, "{}"),
        (20, s(10), 1, "click", 1.0, "{}"),
        (10, s(10), 1, "error", 0.0, "{}"),
        # user 2: clicks 7 and 9 tie at the same earlier ts — max event_id
        # (9) wins
        (7, s(0), 2, "click", 1.0, "{}"),
        (9, s(0), 2, "click", 1.0, "{}"),
        (12, s(30), 2, "error", 0.0, "{}"),
        # user 3: no preceding click at all → NULL attribution
        (31, s(5), 3, "error", 0.0, "{}"),
        (33, s(6), 3, "click", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    df.coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))

    got = {
        (r.error_id, r.last_click_id)
        for r in q_asof_join(spark, str(tmp_path)).collect()
    }
    assert got == {(10, 5), (12, 9), (31, None)}

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW events AS SELECT * FROM '{tmp_path}/events.parquet/*.parquet'"
    )
    oracle = {
        (r[0], r[2])
        for r in con.execute(ORACLES["q_asof_join"]).fetchall()
    }
    assert oracle == got


def test_incremental_index_crash_resume(spark, sf_dir, tmp_path):
    """Kill the incremental LSH index at BOTH torn-commit points — after
    the pairs materialization but before the bands commit (tick 2), and
    between the bands and toks commits (tick 3) — then re-run each batch
    (VERDICT r3 #6, mirroring test_mid_tick_crash_resume). The resumed
    index must land identical manifests (tick/tag/snapshot_id/row_count)
    and snapshot CONTENTS to an uninterrupted feed, and the union of pair
    sets must match."""
    import pytest
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans import load
    from cinescrapers_spark.plans.incremental import IncrementalNearDupIndex

    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "text")
    batch = lambda t: docs.filter(F.pmod("doc_id", F.lit(3)) == t - 1)  # noqa: E731

    a = IncrementalNearDupIndex(str(tmp_path / "a"))
    pairs_a = set()
    for t in (1, 2, 3):
        pairs_a |= {tuple(r) for r in a.add_batch(batch(t), tick=t).collect()}

    b = IncrementalNearDupIndex(str(tmp_path / "b"))
    pairs_b = {tuple(r) for r in b.add_batch(batch(1), tick=1).collect()}

    def boom(*args, **kwargs):
        raise RuntimeError("simulated crash")

    # tick 2: crash BEFORE any commit (pairs were already materialized)
    real_bands_commit = b.bands_table.commit
    b.bands_table.commit = boom
    with pytest.raises(RuntimeError):
        b.add_batch(batch(2), tick=2)
    b.bands_table.commit = real_bands_commit
    assert b.bands_table.entry_for(2, "run") is None  # nothing landed
    pairs_b |= {tuple(r) for r in b.add_batch(batch(2), tick=2).collect()}

    # tick 3: crash BETWEEN the two commits (bands landed, toks did not)
    real_toks_commit = b.toks_table.commit
    b.toks_table.commit = boom
    with pytest.raises(RuntimeError):
        b.add_batch(batch(3), tick=3)
    b.toks_table.commit = real_toks_commit
    assert b.bands_table.entry_for(3, "run") is not None
    assert b.toks_table.entry_for(3, "run") is None
    pairs_b |= {tuple(r) for r in b.add_batch(batch(3), tick=3).collect()}

    assert pairs_a == pairs_b, "crash-resume pair set diverged"
    for table in ("bands_table", "toks_table"):
        ma = [
            {k: e[k] for k in ("tick", "tag", "snapshot_id", "row_count")}
            for e in getattr(a, table).manifest()
        ]
        mb = [
            {k: e[k] for k in ("tick", "tag", "snapshot_id", "row_count")}
            for e in getattr(b, table).manifest()
        ]
        assert ma == mb, f"{table} manifests diverged after resume"
        for ea, eb in zip(getattr(a, table).manifest(), getattr(b, table).manifest()):
            ra = spark.read.parquet(getattr(a, table).snapshot_dir(ea["snapshot_id"]))
            rb = spark.read.parquet(getattr(b, table).snapshot_dir(eb["snapshot_id"]))
            sa = {tuple(map(str, r)) for r in ra.collect()}
            sb = {tuple(map(str, r)) for r in rb.collect()}
            assert sa == sb, f"{table} snapshot {ea['snapshot_id']} content diverged"


def test_incremental_bucket_cap(spark, tmp_path):
    """add_batch with a bucket cap must (a) equal batch lsh_candidate_pairs
    semantics when the whole corpus arrives as one batch, (b) surface the
    skipped-bucket count, and (c) still probe the capped index correctly
    across batches — pairs inside healthy buckets survive, the mega-bucket
    never goes quadratic (ADVICE r3: the incremental path previously
    applied no cap at all)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    from cinescrapers_spark.plans.incremental import IncrementalNearDupIndex

    rows = [
        {"doc_id": i, "source": "s", "text": "the same boilerplate template text"}
        for i in range(40)
    ]
    # the healthy pair must CLEAR the verify threshold (add_batch verifies,
    # unlike lsh_candidate_pairs): 10 shared tokens of 11 each -> 10/12 = 0.833
    base = "unique alpha beta gamma delta epsilon zeta eta theta iota"
    rows += [
        {"doc_id": 100, "source": "s", "text": base + " kappa"},
        {"doc_id": 101, "source": "s", "text": base + " lamda"},
    ]
    docs = spark.createDataFrame(pd.DataFrame(rows))

    # (a)+(b): single batch == batch-mode capped behavior
    one = IncrementalNearDupIndex(str(tmp_path / "one"))
    got = {
        (r.doc_a, r.doc_b)
        for r in one.add_batch(docs, tick=1, bucket_cap=10).collect()
    }
    assert got == {(100, 101)}, "capped single-batch run must keep healthy pairs only"
    assert one.skipped_buckets_last_batch > 0

    # (c): split feed — the mega-bucket spans batches; index-so-far sizes
    # cross the cap and the stored-side probe must stay pruned
    two = IncrementalNearDupIndex(str(tmp_path / "two"))
    b1 = docs.filter("doc_id < 20 or doc_id = 100")
    b2 = docs.filter("doc_id >= 20 and doc_id != 100")
    p1 = {
        (r.doc_a, r.doc_b)
        for r in two.add_batch(b1, tick=1, bucket_cap=10).collect()
    }
    p2 = {
        (r.doc_a, r.doc_b)
        for r in two.add_batch(b2, tick=2, bucket_cap=10).collect()
    }
    assert two.skipped_buckets_last_batch > 0
    assert p1 == set(), "batch-1 mega-bucket (20 docs > cap) must be skipped"
    assert p2 == {(100, 101)}
    # no cap → quadratic candidate set would have verified the boilerplate
    # cluster as pairs; sanity-check the cap actually changed the outcome
    unc = IncrementalNearDupIndex(str(tmp_path / "unc"))
    all_pairs = {
        (r.doc_a, r.doc_b) for r in unc.add_batch(docs, tick=1).collect()
    }
    assert len(all_pairs) == 40 * 39 // 2 + 1


def test_incremental_collect_cap(spark, sf_dir, monkeypatch):
    """q_dedup_incremental's driver collect is hard-capped (VERDICT r4
    wrong #3): an adversarial all-near-dup corpus makes the pair set
    O(n²), and the query must fail loudly instead of OOMing the driver.
    Simulated by shrinking the cap below the sf0.001 pair count."""
    from cinescrapers_spark.plans import incremental

    monkeypatch.setattr(incremental, "MAX_COLLECTED_PAIRS", 0)
    with pytest.raises(ValueError, match="driver collect cap"):
        incremental.q_dedup_incremental(spark, sf_dir)


def test_incremental_ivf_equals_full_build(spark, tmp_path):
    """Feeding the clustered corpus to the persisted IVF index in three
    batches must reach the SAME recall (vs exact top-k) as the one-shot
    full-build ivf_topk with the identical protocol (per-label seed +
    2 Lloyd iterations, nprobe=2) — and a Lloyd refresh over the
    accumulated corpus must not degrade it (VERDICT r3 #7)."""
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.incremental_ivf import IncrementalIVFIndex
    from cinescrapers_spark.plans.similarity import ivf_topk

    emb, k_clusters = _clustered_embeddings(spark)
    cand = emb.filter("vec_id >= 5")
    queries = emb.filter("vec_id < 5").selectExpr("vec_id as q_id", "embedding")

    exact = {
        (r.q_id, r.vec_id)
        for r in ivf_topk(emb, nprobe=k_clusters, lloyd_iters=0).collect()
    }  # probing ALL cells = brute force (re-rank is exact)
    full = {
        (r.q_id, r.vec_id) for r in ivf_topk(emb, nprobe=2, lloyd_iters=2).collect()
    }
    recall_full = len(exact & full) / len(exact)

    idx = IncrementalIVFIndex(str(tmp_path / "ivf"), lloyd_iters=2)
    for t in (1, 2, 3):
        idx.add_batch(cand.filter(F.pmod("vec_id", F.lit(3)) == t - 1), tick=t)
    inc = {(r.q_id, r.vec_id) for r in idx.search(queries, nprobe=2).collect()}
    recall_inc = len(exact & inc) / len(exact)
    assert recall_inc == recall_full, f"{recall_inc:.3f} != full {recall_full:.3f}"
    assert recall_inc >= 0.9  # the clustered corpus must be near-perfect

    # periodic Lloyd refresh: retrain on the accumulated corpus, compact
    # the cell runs — recall must hold and reads must use the compaction
    idx.refresh(spark, tick=4, lloyd_iters=1)
    inc2 = {(r.q_id, r.vec_id) for r in idx.search(queries, nprobe=2).collect()}
    assert len(exact & inc2) / len(exact) >= recall_inc - 1e-9
    tags = [e.get("tag") for e in idx.cells_table.manifest()]
    assert tags[-1] == "compact"
    # post-compaction search sees each vector exactly once
    per_q = idx.search(queries, nprobe=k_clusters, k=10**6)
    counts = per_q.groupBy("q_id", "vec_id").count().filter("count > 1").count()
    assert counts == 0


def test_incremental_ivf_crash_resume(spark, tmp_path):
    """Kill the IVF index at its torn-commit point — centroids committed,
    cell run not — and at a clean pre-commit point, then re-run each
    batch. The resumed index must land identical manifests and the same
    search results as an uninterrupted feed; re-running a landed tick is
    a no-op (commits idempotent per (tick, tag))."""
    import pytest
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.incremental_ivf import IncrementalIVFIndex

    emb, k_clusters = _clustered_embeddings(spark)
    cand = emb.filter("vec_id >= 5")
    queries = emb.filter("vec_id < 5").selectExpr("vec_id as q_id", "embedding")
    batch = lambda t: cand.filter(F.pmod("vec_id", F.lit(3)) == t - 1)  # noqa: E731

    a = IncrementalIVFIndex(str(tmp_path / "a"), lloyd_iters=1)
    for t in (1, 2, 3):
        a.add_batch(batch(t), tick=t)

    def boom(*args, **kwargs):
        raise RuntimeError("simulated crash")

    b = IncrementalIVFIndex(str(tmp_path / "b"), lloyd_iters=1)
    # tick 1: crash BETWEEN the centroid commit and the cells commit —
    # the torn state has a trained quantizer but no assignments
    real_cells_commit = b.cells_table.commit
    b.cells_table.commit = boom
    with pytest.raises(RuntimeError):
        b.add_batch(batch(1), tick=1)
    b.cells_table.commit = real_cells_commit
    assert b.cent_table.entry_for(1, "cent") is not None
    assert b.cells_table.entry_for(1, "run") is None
    b.add_batch(batch(1), tick=1)  # resume: skips the landed cent commit

    # tick 2: crash BEFORE any commit
    b.cells_table.commit = boom
    with pytest.raises(RuntimeError):
        b.add_batch(batch(2), tick=2)
    b.cells_table.commit = real_cells_commit
    assert b.cells_table.entry_for(2, "run") is None
    b.add_batch(batch(2), tick=2)
    b.add_batch(batch(3), tick=3)
    # re-running a fully-landed tick is a no-op
    n = len(b.cells_table.manifest())
    b.add_batch(batch(3), tick=3)
    assert len(b.cells_table.manifest()) == n

    for table in ("cent_table", "cells_table"):
        ma = [
            {k: e[k] for k in ("tick", "tag", "snapshot_id", "row_count")}
            for e in getattr(a, table).manifest()
        ]
        mb = [
            {k: e[k] for k in ("tick", "tag", "snapshot_id", "row_count")}
            for e in getattr(b, table).manifest()
        ]
        assert ma == mb, f"{table} manifests diverged after crash-resume"
    sa = {tuple(r) for r in a.search(queries, nprobe=2).collect()}
    sb = {tuple(r) for r in b.search(queries, nprobe=2).collect()}
    assert sa == sb, "crash-resume search results diverged"


def test_dedup_components_transitive_closure(spark, sf_dir):
    """q_dedup_components must equal a pure-Python union-find over the
    exact-Jaccard pairs (transitive closure, min-id canonical label);
    connected_components on a synthetic CHAIN edge list must collapse
    multi-hop chains (A-B-C-D with A-D never an edge) to ONE component
    and keep disjoint islands apart."""
    import pandas as pd

    from cinescrapers_spark.plans.dedup import (
        connected_components,
        q_dedup_components,
        q_dedup_jaccard,
    )

    pairs = [(r.doc_a, r.doc_b) for r in q_dedup_jaccard(spark, sf_dir).collect()]
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    got = {
        r.doc_id: r.component_id
        for r in q_dedup_components(spark, sf_dir).collect()
    }
    assert got == want
    assert len(got) > 0  # the sf corpus has near-dup pairs

    # multi-hop chain + island: label propagation needs diameter rounds
    edges = spark.createDataFrame(
        pd.DataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11)], columns=["doc_a", "doc_b"]
        )
    )
    comp = {
        r.doc_id: r.component_id for r in connected_components(edges).collect()
    }
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_incremental_components_equals_batch(spark, sf_dir, tmp_path):
    """IncrementalComponents fed the near-dup pairs in ANY batch split —
    including one that delivers a chain's edges across ticks so ticks
    must MERGE previously-separate components — must end with exactly
    q_dedup_components' labels; compaction must preserve them."""
    from pyspark.sql import functions as F

    from cinescrapers_spark.plans.dedup import q_dedup_components, q_dedup_minhash_lsh
    from cinescrapers_spark.plans.incremental_cc import IncrementalComponents

    want = {
        r.doc_id: r.component_id
        for r in q_dedup_components(spark, sf_dir).collect()
    }
    pairs = q_dedup_minhash_lsh(spark, sf_dir).select("doc_a", "doc_b").cache()
    pairs.count()

    for salt, tag in ((0, "mod"), (7, "hash")):
        idx = IncrementalComponents(str(tmp_path / f"cc_{tag}"))
        for t in (1, 2, 3):
            part = (
                pairs.filter(F.pmod(F.xxhash64("doc_a", "doc_b", F.lit(salt)), F.lit(3)) == t - 1)
                if salt
                else pairs.filter(F.pmod(F.col("doc_a") + F.col("doc_b"), F.lit(3)) == t - 1)
            )
            idx.add_pairs(part, tick=t)
        got = {r.doc_id: r.component_id for r in idx.labels(spark).collect()}
        assert got == want, f"split {tag} diverged"
        idx.compact(spark, tick=4)
        got2 = {r.doc_id: r.component_id for r in idx.labels(spark).collect()}
        assert got2 == want, f"compaction changed labels ({tag})"
        assert len(idx.roots_table.manifest()) >= 1

    # explicit cross-tick merge: chain edges arrive ends-first
    idx = IncrementalComponents(str(tmp_path / "cc_chain"))
    import pandas as pd

    idx.add_pairs(
        spark.createDataFrame(pd.DataFrame([(1, 2), (5, 6)], columns=["doc_a", "doc_b"])),
        tick=1,
    )
    mid = {r.doc_id: r.component_id for r in idx.labels(spark).collect()}
    assert mid == {1: 1, 2: 1, 5: 5, 6: 5}
    idx.add_pairs(
        spark.createDataFrame(pd.DataFrame([(2, 5)], columns=["doc_a", "doc_b"])),
        tick=2,
    )  # merges the two components through existing nodes
    got = {r.doc_id: r.component_id for r in idx.labels(spark).collect()}
    assert got == {1: 1, 2: 1, 5: 1, 6: 1}


def test_incremental_components_crash_resume(spark, tmp_path):
    """Kill IncrementalComponents between its two commits (nodes landed,
    roots not) and before any commit; re-running the tick must land the
    identical state (commits idempotent per tick, derivation a pure
    function of batch + prior snapshots)."""
    import pandas as pd
    import pytest

    from cinescrapers_spark.plans.incremental_cc import IncrementalComponents

    def batch(t):
        data = {1: [(1, 2), (5, 6)], 2: [(2, 5), (10, 11)]}[t]
        return spark.createDataFrame(
            pd.DataFrame(data, columns=["doc_a", "doc_b"])
        )

    ref = IncrementalComponents(str(tmp_path / "ref"))
    for t in (1, 2):
        ref.add_pairs(batch(t), tick=t)
    want = {r.doc_id: r.component_id for r in ref.labels(spark).collect()}
    assert want == {1: 1, 2: 1, 5: 1, 6: 1, 10: 10, 11: 10}

    crash = IncrementalComponents(str(tmp_path / "crash"))
    crash.add_pairs(batch(1), tick=1)

    # torn commit: nodes run lands, roots commit dies
    real_commit = crash.roots_table.commit

    def boom(*a, **k):
        raise RuntimeError("killed before roots commit")

    crash.roots_table.commit = boom
    with pytest.raises(RuntimeError):
        crash.add_pairs(batch(2), tick=2)
    crash.roots_table.commit = real_commit
    crash.add_pairs(batch(2), tick=2)  # re-run the same tick
    got = {r.doc_id: r.component_id for r in crash.labels(spark).collect()}
    assert got == want
    # re-running a fully-landed tick is a no-op
    n_nodes = len(crash.nodes_table.manifest())
    crash.add_pairs(batch(2), tick=2)
    assert len(crash.nodes_table.manifest()) == n_nodes
    assert {r.doc_id: r.component_id for r in crash.labels(spark).collect()} == want


def test_incremental_components_bloom_pruning(spark, tmp_path):
    """Round-6 O(batch) endpoint resolve: nodes runs carry Bloom sidecars
    and labels(for_ids=...) must (a) PRUNE runs that provably contain no
    requested id and (b) return exactly the full labels restricted to the
    ids — pruning is an optimization, never a semantic change."""
    import os

    import pandas as pd

    from cinescrapers_spark.plans.incremental_cc import IncrementalComponents

    idx = IncrementalComponents(str(tmp_path / "cc_bloom"))
    # two batches over disjoint id ranges -> two runs with disjoint blooms
    idx.add_pairs(
        spark.createDataFrame(
            pd.DataFrame([(1, 2), (3, 4)], columns=["doc_a", "doc_b"])
        ),
        tick=1,
    )
    idx.add_pairs(
        spark.createDataFrame(
            pd.DataFrame([(1001, 1002), (1003, 1004)], columns=["doc_a", "doc_b"])
        ),
        tick=2,
    )
    entries = idx._live_entries(idx.nodes_table, 10**9)
    assert len(entries) == 2
    for e in entries:
        b = (e.get("metrics") or {}).get("bloom")
        assert b, "every nodes run must carry a bloom sidecar"
        assert os.path.exists(os.path.join(idx.nodes_table.path, b["file"]))

    # ids only from batch 2 -> run 1 must be pruned (bloom has no false
    # negatives, and these ranges cannot collide at this fpp)
    ids2 = spark.createDataFrame(pd.DataFrame({"doc_id": [1001, 1003]}))
    pruned = idx._prune_by_bloom(spark, entries, ids2)
    assert [e["snapshot_id"] for e in pruned] == [entries[1]["snapshot_id"]]

    # restricted lookup == full lookup filtered, for every subset shape
    full = {r.doc_id: r.component_id for r in idx.labels(spark).collect()}
    for ids in ([1, 1003], [2, 4], [1002, 1004], [999], []):
        ids_df = spark.createDataFrame(
            pd.DataFrame({"doc_id": pd.Series(ids, dtype="int64")}),
            schema="doc_id long",
        )
        got = {
            r.doc_id: r.component_id
            for r in idx.labels(spark, for_ids=ids_df).collect()
        }
        assert got == {i: full[i] for i in ids if i in full}, ids

    # cross-run merge through a restricted lookup stays exact
    idx.add_pairs(
        spark.createDataFrame(pd.DataFrame([(2, 1001)], columns=["doc_a", "doc_b"])),
        tick=3,
    )
    got = {r.doc_id: r.component_id for r in idx.labels(spark).collect()}
    assert got[1001] == got[1] == got[2] == 1


def test_token_count_paths_equivalent_and_scale_adaptive(spark, sf_dir, monkeypatch):
    """q_token_count picks between a JVM expression and a mapInArrow stage
    by table row count (footer peek). Both shapes must produce identical
    rows and schema, and the dispatch must flip exactly at the threshold:
    below it no python stage (the fixed Arrow-worker cost dominates small
    inputs), at/above it the Arrow shape (faster per row at scale)."""
    import cinescrapers_spark.plans.textops as T

    monkeypatch.setattr(T, "TOKEN_ARROW_MIN_ROWS", 10**12)
    jvm = T.q_token_count(spark, sf_dir)
    assert "MapInArrow" not in jvm._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(T, "TOKEN_ARROW_MIN_ROWS", 0)
    arrow = T.q_token_count(spark, sf_dir)
    assert "MapInArrow" in arrow._jdf.queryExecution().executedPlan().toString()

    assert jvm.schema == arrow.schema
    assert jvm.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(jvm).count() == 0
