"""Physical-plan shape gates: the properties that make queries survive a
100× scale-up are asserted on explain() output, not just prose —
predicate pushdown reaches the parquet scan, small dims broadcast, the
ANN top-k keeps its salted pre-pass, and nothing compiles to a
non-broadcast cartesian product.
"""

import contextlib
import io
import re

import pytest

from cinescrapers_spark.plans import registry


def _plan(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_pushed_filters_reach_scan(spark, sf_dir):
    """Row-group-skippable predicates must appear as PushedFilters on the
    parquet scan (a scan reading everything for a filtered query is wrong)."""
    reg = registry()
    for name in ("q_count_horizon", "q_pricing_summary", "q_current_window"):
        plan = _plan(reg[name][0](spark, sf_dir))
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
        assert any(p.strip() for p in pushed), f"{name}: no pushed filters\n{plan}"


def test_small_dims_broadcast(spark, sf_dir):
    reg = registry()
    plan = _plan(reg["q_broadcast_join_revenue"][0](spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_ann_topk_keeps_salted_prepass(spark, sf_dir):
    """partitioned_topk's pre-pass must survive optimization: two Window
    nodes, the first partitioned by (q_id, __pid) — the exchange into the
    final window is thereby bounded by k × partitions per query."""
    reg = registry()
    for name in ("q_ann_bruteforce", "q_ann_lsh"):
        plan = _plan(reg[name][0](spark, sf_dir))
        n_windows = plan.count("Window")
        assert "__pid" in plan, f"{name}: salted pre-pass optimized away"
        assert n_windows >= 2, f"{name}: expected pre+final windows\n{plan}"


def test_blocked_selfjoins_are_equijoins(spark, sf_dir):
    """The near-dup ground-truth self-joins must hash/merge on their
    blocking key (source / label / band) — a nested-loop over the corpus
    would be the O(n²)-everywhere plan the blocking exists to avoid."""
    reg = registry()
    for name in ("q_dedup_ngram", "q_dedup_embed_cosine", "q_dedup_jaccard",
                 "q_dedup_minhash_lsh"):
        plan = _plan(reg[name][0](spark, sf_dir))
        assert (
            "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
            or "BroadcastHashJoin" in plan
        ), f"{name}: no equi-join in plan\n{plan}"
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name}: blocking key not used as join key\n{plan}"
        )


def _join_nodes(plan: str) -> dict[str, str]:
    """Formatted-plan join node details, keyed by their left join keys."""
    out = {}
    for sec in plan.split("\n\n"):
        m = re.match(r"\(\d+\) (\w*Join)", sec)
        keys = re.search(r"Left keys \[\d+\]: \[([^\]]*)\]", sec)
        if m and keys:
            out[re.sub(r"#\d+L?", "", keys.group(1))] = m.group(1)
    return out


def test_shj_smj_boundary(spark, sf_dir):
    """preferSortMergeJoin=false is session-wide (session.py); its failure
    mode is a shuffled-hash build side too big for one task. Pin Spark's
    guard on this session: a build side over autoBroadcastJoinThreshold
    but under threshold × shuffle partitions, and ≥3× smaller than the
    stream side, plans ShuffledHashJoin; an oversized one plans
    SortMergeJoin. q_three_way_join's li⋈orders is on neither SHJ side of
    that guard: the projected orders side is only ~2× smaller than
    lineitem's, so it broadcasts at testdata size and sort-merges with
    broadcast off — never a shuffled hash build of orders."""
    small = spark.range(10**6).withColumnRenamed("id", "k")
    mid = spark.range(10**8).withColumnRenamed("id", "k")
    stream = spark.range(10**10).withColumnRenamed("id", "k")
    size = small._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(size // 2))
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) >= 3
        assert _join_nodes(_plan(stream.join(small, "k"))) == {
            "k": "ShuffledHashJoin"
        }
        assert _join_nodes(_plan(stream.join(mid, "k"))) == {"k": "SortMergeJoin"}

        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        off = _join_nodes(_plan(registry()["q_three_way_join"][0](spark, sf_dir)))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    on = _join_nodes(_plan(registry()["q_three_way_join"][0](spark, sf_dir)))
    assert on["l_orderkey"] == "BroadcastHashJoin", on
    assert off["l_orderkey"] == "SortMergeJoin", off


def test_asof_join_compiles_to_pure_window(spark, sf_dir):
    """The distributed as-of must be a single partitioned window — ANY join
    node means the plan regressed to a per-key range product, which is the
    O(clicks × errors)-per-user plan the window formulation exists to
    avoid."""
    reg = registry()
    plan = _plan(reg["q_asof_join"][0](spark, sf_dir))
    assert "Window" in plan, plan
    assert "Join" not in plan, f"as-of regressed to a join plan\n{plan}"


def test_range_join_is_binned_equijoin(spark, sf_dir):
    """The 10-minute range join must hash/merge on (user_id, bin) — a raw
    BETWEEN theta-join compiles to BroadcastNestedLoopJoin and dies at
    100 TB."""
    reg = registry()
    plan = _plan(reg["q_range_join_binned"][0](spark, sf_dir))
    assert (
        "SortMergeJoin" in plan
        or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    ), f"no equi-join in plan\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_no_unbroadcast_cartesian_anywhere(spark, sf_dir):
    """No registry query may compile to a CartesianProduct (a non-broadcast
    all-pairs shuffle); the documented all-pairs oracles go through
    broadcast nested-loop instead."""
    for name, (fn, _oracle) in registry().items():
        plan = _plan(fn(spark, sf_dir))
        assert "CartesianProduct" not in plan, f"{name} compiles to a cartesian"


def test_lsh_verify_joins_never_shuffle_corpus(spark, sf_dir):
    """The LSH verify stage must join the doc_id-bucketed token-hash
    scratch layout with NO exchange above the corpus-side scans — at
    corpus sizes past the broadcast threshold the only shuffled rows are
    the skinny candidates (VERDICT r2 #3). Asserted with broadcast off to
    force the at-scale plan."""
    from cinescrapers_spark.plans.dedup import q_dedup_minhash_lsh

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = _plan(q_dedup_minhash_lsh(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    scans = plan.count("Bucketed: true")
    assert scans == 2, f"verify-stage scans not bucketed ({scans}/2)\n{plan}"
    # no Exchange may feed off a docs_thash scan: in the formatted tree,
    # every Exchange's child subtree must not be a bucketed table scan
    for m in re.finditer(r"\(\d+\) Scan parquet spark_catalog\.default\.docs_thash", plan):
        # find the tree line that references this scan id and check its parent
        sid = re.search(r"\((\d+)\)", m.group(0)).group(1)
        tree_line = next(
            l for l in plan.splitlines()
            if l.strip().endswith(f"({sid})") and "Scan parquet" in l
        )
        assert "Exchange" not in tree_line
    assert "Exchange" in plan  # the candidate side still shuffles
