"""Physical-plan pins — the scale properties the operators promise.

Each test asserts the plan SHAPE (pushdown, partial aggregation, no
shuffle, top-k instead of global sort), not timings: these are the
properties that decide whether an operator survives a 100× scale-up.
"""

import pytest
from pyspark.sql import functions as F

from photon_spark.functions import dedup, similarity, text


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    # other modules cache the same paths — a cache hit would replace the
    # FileScan under inspection with an InMemoryTableScan
    spark.catalog.clearCache()
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    spark.catalog.clearCache()
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_text_profile_is_map_only(docs):
    # One Arrow map pass over the scan: no Exchange anywhere.
    plan = _plan(text.text_profile(docs))
    assert "MapInPandas" in plan
    assert "Exchange" not in plan


def test_text_profile_prunes_scan_columns(docs):
    # The profile reads only (doc_id, text) even though the table has more.
    plan = _plan(text.text_profile(docs))
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_exact_dedup_partial_aggregation(docs):
    # digest groupBy must map-side combine: two HashAggregate nodes around
    # one Exchange, and only digest+id columns shuffle (never text).
    plan = _plan(dedup.dedup_exact(docs))
    assert plan.count("HashAggregate") >= 2
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines and all("text" not in ln for ln in exchange_lines)


def test_ivf_assignment_no_shuffle_no_window(emb):
    plan = _plan(similarity.ivf_topk(emb, 0, k=10))
    assert "Window" not in plan
    assert "CartesianProduct" not in plan
    # scan -> project -> filter -> TakeOrdered: the only wide op is top-k
    assert "TakeOrderedAndProject" in plan


def test_brute_force_topk_take_ordered(emb):
    plan = _plan(similarity.brute_force_topk(emb, 0, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan  # no global sort


def test_simhash_pairs_no_cross_product(docs):
    plan = _plan(dedup.simhash_near_dup_pairs(docs))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_jaccard_shuffles_only_postings(docs):
    # The shingle self-join shuffles (id, shingle) pairs — document text
    # and shingle arrays never appear in an exchange.
    plan = _plan(dedup.jaccard_pairs(docs))
    for ln in plan.splitlines():
        if "Exchange" in ln:
            assert "text" not in ln and "sh#" not in ln


def test_lsh_signature_partition_pruning(spark, emb, tmp_path):
    # The "100 TB path" the lsh_topk docstring promises: embeddings written
    # partitioned by RP-signature make a bucket probe PARTITION PRUNING,
    # not a scan. Pin that the probe's FileScan reads only the matching
    # partition directories.
    import os
    dim = len(emb.first()["embedding"])
    path = os.path.join(str(tmp_path), "emb_by_sig")
    (emb.limit(400)
        .withColumn("sig", similarity.rp_signature("embedding", 3, dim=dim))
        .write.partitionBy("sig").parquet(path))
    spark.catalog.clearCache()
    probed = spark.read.parquet(path).where(F.col("sig").isin(1, 3))
    plan = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "sig" in plan
    # and the probe actually touches fewer files than the full table scan
    full = spark.read.parquet(path)
    n_part = full.select("sig").distinct().count()
    assert n_part > 2  # several buckets exist, so pruning is meaningful
    assert probed.count() + 1 <= full.count()  # strict subset of the rows


def test_ivf_index_probe_is_partition_pruned(spark, emb, tmp_path):
    # SCALE.md's central ANN claim, as a CHECKED plan property: an IVF
    # probe over the materialized cell-partitioned index carries
    # PartitionFilters on cell_id and opens only the n_probe probed
    # cells' files — n_probe/n_cells of the data, not a full scan.
    import os
    n_cells, n_probe = 8, 3
    path = os.path.join(str(tmp_path), "ivf_index")
    sample = emb.limit(400)
    cents = similarity.materialize_ivf_index(sample, path,
                                             n_cells=n_cells)
    spark.catalog.clearCache()
    qv = [float(x) for x in sample.orderBy("vec_id").first()["embedding"]]
    top = similarity.ivf_topk_from_index(spark, path, cents, qv, k=10,
                                         n_probe=n_probe)
    plan = top._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell_id" in plan
    # behavioral proof the unprobed cells' files are never OPENED (a
    # plan string alone could lie): corrupt one unprobed cell's parquet
    # file — the probe must still succeed, a full scan must fail
    probes = set(similarity.probe_cells(cents, qv, n_probe))
    all_cells = {int(f.split("cell_id=")[1].split("/")[0])
                 for f in spark.read.parquet(path).inputFiles()}
    assert len(all_cells) > n_probe  # pruning is meaningful
    victim = sorted(all_cells - probes)[0]
    import glob as _glob
    victims = _glob.glob(os.path.join(path, "**", f"cell_id={victim}",
                                      "*.parquet"), recursive=True)
    assert victims  # the corruption below must actually hit files
    for pf in victims:
        with open(pf, "wb") as fh:
            fh.write(b"not a parquet file")
    spark.catalog.clearCache()
    # index-path results == in-memory screening path (same semantics),
    # computed WITH the corrupted unprobed cell in place
    want = [(r["vec_id"], r["cosine"]) for r in
            similarity.ivf_topk(sample, qv, k=10, n_cells=n_cells,
                                n_probe=n_probe).collect()]
    got = [(r["vec_id"], r["cosine"]) for r in
           similarity.ivf_topk_from_index(spark, path, cents, qv, k=10,
                                          n_probe=n_probe).collect()]
    assert got == want
    with pytest.raises(Exception):
        spark.read.parquet(path).select("vec_id").collect()


def test_token_topk_rank_limit_pushdown(spark, sf_dir):
    # The heavy-hitter query's rank <= k filter must compile to the
    # two-stage WindowGroupLimit (Partial before the exchange, Final
    # after) — the per-partition top-k + merge shape that bounds shuffle
    # volume on unbounded key spaces.
    import photon_spark.queries_pipeline as qp
    plan = qp.q_token_topk(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "Partial" in plan and "Final" in plan


def test_asof_join_single_shuffle(spark):
    # the whole as-of = ONE hash exchange on the join keys + one window;
    # never a broadcast-nested-loop / cartesian range join.
    from pyspark.sql import Row
    from photon_spark.functions.asof import asof_join
    l = spark.createDataFrame([Row(k=1, ts=10, a=1)])
    r = spark.createDataFrame([Row(k=1, ts=5, b=2)])
    plan = _plan(asof_join(l, r, on=["k"], left_ts="ts", right_cols=["b"]))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_surprisal_compacts_before_join(spark, sf_dir):
    # the token stream must aggregate to (source, token) counts BEFORE the
    # vocabulary join: partial aggregation present, and no raw-text column
    # ever crosses an exchange.
    from photon_spark.queries_enrich import q_token_surprisal_by_source
    plan = _plan(q_token_surprisal_by_source(spark, sf_dir))
    assert plan.count("HashAggregate") >= 4  # partial+final for st and vocab
    exchange_lines = [ln for ln in plan.splitlines() if "Exchange" in ln]
    assert exchange_lines and all("text" not in ln for ln in exchange_lines)


def test_mixture_plan_broadcasts_totals(spark, sf_dir):
    from photon_spark.queries_enrich import q_mixture_reweight_plan
    plan = _plan(q_mixture_reweight_plan(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    # the per-lang agg map-side combines before its exchange
    assert plan.count("HashAggregate") >= 2


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """Registry-wide structural lint: no query plan may contain a
    CartesianProduct, and BroadcastNestedLoopJoin is allowed ONLY for
    the block-pair manifest operators whose non-equi join is over the
    packed-block relation (n_blocks rows — tiny by construction, and
    the O(n²) work it encodes is the documented GEMM manifest)."""
    from photon_spark import queries as q

    nlj_ok = {
        # block-pair GEMM manifest: non-equi join over n_blocks packed rows
        "knn_graph", "knn_graph_ivf", "embedding_near_dup_pairs",
        # consumes the knn_graph manifest above, then id+label equi-joins
        "knn_label_eval",
        # crossJoin of two 1-row aggregates (counts × redaction digest)
        "pii_scrub_stats",
        # crossJoin(broadcast(<1-row totals>)) — scalar denominators
        "bigram_lift_topk", "token_surprisal_by_source",
        "mixture_reweight_plan", "mixture_resample",
        # broadcast query BATCH (bounded by the caller's query count)
        "ann_topk_multi",
        # same broadcast query batch, float + int8 scoring tiers
        "ann_int8_recall_audit",
        # same broadcast query batch + queries × n_cells probe cross
        "ann_recall_audit",
        # identical shape with a CONSTANT-size (≤8-row) broadcast batch
        "ann_recall_audit_fixedq", "ann_ndcg_audit_fixedq",
        "ann_int8_recall_audit_fixedq", "matryoshka_recall_audit_fixedq",
        # broadcast query batch twice (full-dim + truncated passes)
        "matryoshka_recall_audit",
        # ann_recall_audit's shape twice (stale + fresh tiers) plus a
        # crossJoin(broadcast(<1-row churn aggregate>)); the fixedq twin
        # swaps in the constant ≤8-row broadcast batch
        "ivf_staleness_audit", "ivf_staleness_audit_fixedq",
        # broadcast anchor batch (fixed HN_ANCHORS list — 9 rows)
        "hard_negative_mining",
        # source-pair matrix: |sources|² tiny-by-construction cross
        "kmv_source_overlap",
        # crossJoin of three 1-row layout-stat aggregates
        "zorder_skipping_audit",
        # crossJoin(broadcast(<1-row order-count aggregate>)) — rides
        # the lift projection instead of a separate driver job
        "copurchase_pairs",
        # crossJoin of two 1-row scalars (total weight, floor sum)
        "neyman_allocation_plan",
        # 1-row violations x checked stat joins per constraint
        "constraint_audit",
        # 1-row triangle x wedge stat join
        "dup_graph_clustering",
        # 1-row est x exact stat join
        "join_size_estimate",
        # crossJoin(broadcast(<1-row vocab-size/avg/max aggregates>)) —
        # scalar LM denominator / HAVING thresholds (Q11/Q15/Q22 shapes)
        "bigram_lm_doc_bits", "part_value_concentration",
        "top_supplier_revenue", "idle_rich_customers",
        # crossJoin(broadcast(<1-row distinct-bigram count R>)) — the
        # KN continuation denominator, same scalar shape as bigram LM
        "kneser_ney_doc_bits",
        # crossJoin(broadcast(<1-row derived query phrase>)) — attaches
        # the phrase string to the top-k result
        "phrase_search_topk",
        # ann_recall_audit's IVF candidate construction (broadcast
        # 16-row centroid table) reused under the nDCG metric
        "ann_ndcg_audit",
        # consumes the knn_graph block-pair GEMM manifest above; the
        # mutual filter itself is a hash equi-join on the k·n relation
        "mutual_knn_pairs",
        # same consumer over the IVF-pruned manifest (knn_graph_ivf's
        # non-equi block-pair join over n_cells packed rows)
        "mutual_knn_pairs_ivf",
        # crossJoin(broadcast(<1-row token grand total>)) — the lift
        # denominator, same scalar shape as bigram_lift_topk
        "skipgram_lift_topk",
    }
    failures = []
    for name, fn in q.QUERIES.items():
        try:
            plan = (fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
        except Exception as exc:  # eager/streaming queries still return DFs
            failures.append((name, f"plan build failed: {exc}"))
            continue
        if "CartesianProduct" in plan:
            failures.append((name, "CartesianProduct"))
        if "BroadcastNestedLoopJoin" in plan and name not in nlj_ok:
            failures.append((name, "BroadcastNestedLoopJoin"))
    assert not failures, failures


def test_substring_profile_and_trim_are_join_free(spark, sf_dir):
    """The per-doc exact-substring operators must never build a pair
    relation: their plans are windows + aggregates over the gram
    postings, with NO join of any kind — the property that makes them
    two-exchange ops at any corpus size."""
    from photon_spark.functions import substring

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (substring.repeated_span_profile(docs, 5),
               substring.trim_plan(docs, 5)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, plan


def test_substring_spans_join_only_on_gram_and_id_keys(spark, sf_dir):
    """The pair miner's joins are all keyed (gram hash for candidates,
    doc id for the array fetch) — no nested-loop anywhere, and the
    posting cap guarantees the gram join's per-key fan-out is bounded."""
    from photon_spark.functions import substring

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (substring.repeated_spans(docs, 5)
            ._jdf.queryExecution().executedPlan().toString())
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_zorder_audit_has_no_global_window(spark, sf_dir):
    """Round-6 rewrite pin: the z-file assignment uses the bucketed-rank
    kernel (Window partitioned by the z-range bucket), never a global
    `row_number() OVER (ORDER BY z)` — the single-partition sort that
    would OOM one task at 100×. Every Window node in the plan must carry
    a partition spec."""
    from photon_spark.queries_layout import q_zorder_skipping_audit

    plan = (q_zorder_skipping_audit(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString())
    for ln in plan.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln:
            # unpartitioned windows render `windowspecdefinition(col ASC`
            # (no partition columns before the sort spec); partitioned
            # ones render `windowspecdefinition(part..., sort...`
            assert "bkt" in ln or "partitionBy" in ln, ln


def test_corpus_e2e_budget_cumsum_is_bucketed(spark, sf_dir):
    """Round-6 rewrite pin: the e2e budget stage's level cumsum runs on
    chunking.cumulative_by_bucket (per-bucket windows + driver offset
    rollup) — the plan must contain no unpartitioned Window node."""
    from photon_spark.queries_select import q_corpus_build_e2e

    df = q_corpus_build_e2e(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for c in getattr(df, "_photon_cached", []):
        c.unpersist()
    assert "_bucket" in plan  # the kernel's bucket key is in the plan
    for ln in plan.splitlines():
        if "Window" in ln and "windowspecdefinition" in ln:
            assert "_bucket" in ln or "q_int" in ln, ln


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def test_q4_exists_compiles_to_semi_join(spark, sf_dir):
    # the correlated EXISTS is a LEFT SEMI hash join on orderkey with the
    # cross-table lateness predicate as the residual condition — never a
    # nested-loop re-probe per order.
    from photon_spark.queries_relational import q_late_order_priority
    plan = _plan(q_late_order_priority(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q19_disjunction_pushes_envelopes_to_both_scans(spark, sf_dir):
    # Catalyst must factor the OR-of-conjuncts: the quantity envelope
    # (union of the three ranges) reaches the lineitem scan and the
    # brand/size disjunction the part scan — the fact never streams
    # unfiltered at 100 TB.
    from photon_spark.queries_relational import q_disjunctive_revenue
    plan = _formatted(q_disjunctive_revenue(spark, sf_dir))
    assert "GreaterThanOrEqual(l_quantity,1.0)" in plan
    assert "LessThanOrEqual(l_quantity,30.0)" in plan
    assert "EqualTo(p_brand,Brand#12)" in plan


def test_q2_min_cost_scans_fact_once(spark, sf_dir):
    # window-min formulation: ONE lineitem scan; the per-part min runs
    # over the reduced (partkey, suppkey, cost) relation, not a
    # join-back against a second aggregation of the fact.
    from photon_spark.queries_relational import q_min_cost_supplier
    plan = _formatted(q_min_cost_supplier(spark, sf_dir))
    assert plan.count("lineitem.parquet") == 1
    assert "Window" in plan


def test_q10_topk_is_take_ordered(spark, sf_dir):
    # the top-20 ranks on the exact integer rev4 with the unique custkey
    # tie-break and compiles to TakeOrderedAndProject — no global sort.
    from photon_spark.queries_relational import q_returned_item_customers
    plan = _plan(q_returned_item_customers(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_time_bounds_reach_scans_registry_wide(spark, sf_dir):
    # the _t_pruned sweep: every time-window fact query binds its bounds
    # to the RAW reader column below the ns normalization, so the window
    # appears in PushedFilters — at 100 TB this is the difference
    # between a row-group-pruned scan and a full-table read.
    from photon_spark.queries import q_time_range_count
    from photon_spark.queries_pipeline import q_upsert_merge
    from photon_spark.queries_relational import (
        q_excess_part_suppliers, q_idle_customers, q_idle_rich_customers,
        q_late_line_priority_mix, q_late_order_priority,
        q_nation_trade_volume, q_promo_revenue_share,
        q_returned_item_customers, q_shipping_priority,
        q_top_supplier_revenue)
    for fn, col in [(q_shipping_priority, "l_shipdate"),
                    (q_nation_trade_volume, "l_shipdate"),
                    (q_promo_revenue_share, "l_shipdate"),
                    (q_top_supplier_revenue, "l_shipdate"),
                    (q_excess_part_suppliers, "l_shipdate"),
                    (q_late_line_priority_mix, "l_shipdate"),
                    (q_late_order_priority, "o_orderdate"),
                    (q_returned_item_customers, "o_orderdate"),
                    (q_idle_customers, "o_orderdate"),
                    (q_idle_rich_customers, "o_orderdate"),
                    (q_upsert_merge, "ts"),
                    (q_time_range_count, "ts")]:
        plan = _formatted(fn(spark, sf_dir))
        pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln]
        assert any(f"GreaterThanOrEqual({col}," in ln
                   or f"LessThan({col}," in ln for ln in pushed), \
            (fn.__name__, pushed)


def test_q6_all_predicates_reach_the_scan(spark, sf_dir):
    # the pure pushed-filter scalar aggregate: ship window, discount
    # band AND quantity cap must all appear as PushedFilters on the
    # lineitem scan — at 100 TB this is row-group pruning before any
    # wide column moves. One scan, zero joins.
    from photon_spark.queries_relational import q_forecast_revenue_change
    plan = _formatted(q_forecast_revenue_change(spark, sf_dir))
    assert "GreaterThanOrEqual(l_discount,0.04)" in plan
    assert "LessThanOrEqual(l_discount,0.06)" in plan
    assert "LessThan(l_quantity,24.0)" in plan
    assert "GreaterThanOrEqual(l_shipdate," in plan
    assert "Join" not in plan


def test_q9_profit_star_no_dimension_shuffle_join(spark, sf_dir):
    # the LIKE-sliced profit star: part/supplier/nation must broadcast
    # (at the tiny test sf orders broadcasts too — fine; what the pin
    # forbids is any dimension falling back to a shuffle join), and the
    # LIKE slice must prune the part scan.
    from photon_spark.queries_relational import q_nation_profit_by_year
    plan = _plan(q_nation_profit_by_year(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "StringContains(p_name,red)" in _formatted(
        q_nation_profit_by_year(spark, sf_dir))


def test_q16_not_in_compiles_to_anti_join_on_id_pairs(spark, sf_dir):
    # the complaint NOT IN is a LEFT ANTI broadcast join, and it runs
    # over the distinct (partkey, suppkey) pair relation — the fact
    # reduces to two ids in its first exchange, never re-scanned.
    from photon_spark.queries_relational import q_part_supplier_counts
    plan = _plan(q_part_supplier_counts(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("lineitem.parquet") == 1


def test_upsert_merge_is_single_shuffle_no_join(spark, sf_dir):
    # MERGE INTO as one partial-then-final aggregate: both sides compact
    # via null-skipping struct max in the SAME group-by — no join, no
    # window, exactly one exchange of compacted key state.
    from photon_spark.queries_pipeline import q_upsert_merge
    plan = _plan(q_upsert_merge(spark, sf_dir))
    assert "Join" not in plan
    assert "Window" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_plan_exchange_budgets(spark, sf_dir):
    """Registry-wide plan-shape regression guard: every query's physical
    plan must stay within its recorded exchange budget
    (tools/plan_budgets.json — shuffle and broadcast counts at the test
    sf). A refactor that quietly adds a shuffle fails here with the
    query named; a plan that improves should have its budget re-banked
    via tools/gen_plan_budgets.py. New queries must be added to the
    budget file in the same commit."""
    import json
    import os
    from photon_spark import queries as q
    from tools.gen_plan_budgets import plan_counts

    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "tools", "plan_budgets.json")
    with open(path) as f:
        budgets = json.load(f)
    failures = []
    for name, fn in q.QUERIES.items():
        if name not in budgets:
            failures.append((name, "no budget recorded — run "
                             "tools/gen_plan_budgets.py"))
            continue
        try:
            plan = (fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
        except Exception as exc:
            failures.append((name, f"plan build failed: {exc}"))
            continue
        got = plan_counts(plan)
        b = budgets[name]
        if (got["shuffles"] > b["shuffles"]
                or got["broadcasts"] > b["broadcasts"]):
            failures.append((name, f"over budget: {got} > {b}"))
    assert not failures, failures


def test_bcast_dim_gate_falls_back_to_shuffled_equi_join(spark, sf_dir):
    """The size-gated dim-broadcast helper: at the test sf the estimate
    is under the cap, so the gated dims still broadcast (plans and
    hashes unchanged); with the cap forced to 0 — standing in for a dim
    that outgrew executor memory at a genuine 100× — the helper declines
    the hint and the join realizes as a SHUFFLED EQUI join (sort-merge /
    shuffled-hash), never a nested-loop or cartesian fallback, and the
    query's values are unchanged."""
    import photon_spark.queries_relational as rel

    hinted = rel.q_revenue_by_nation(spark, sf_dir)
    assert "BroadcastHashJoin" in _plan(hinted)
    expect = sorted(map(tuple, hinted.collect()))

    old = rel._BCAST_CAP_BYTES
    rel._BCAST_CAP_BYTES = 0
    # also disable Spark's own auto-broadcast (at the test sf the dim is
    # tiny, so Catalyst would re-broadcast it on its own — at the real
    # 100× it would not); the explicit nation hints keep working
    thresholds = ("spark.sql.autoBroadcastJoinThreshold",
                  "spark.sql.adaptive.autoBroadcastJoinThreshold")
    saved = {k: spark.conf.get(k, None) for k in thresholds}
    for k in thresholds:
        spark.conf.set(k, "-1")
    try:
        for fn in (rel.q_revenue_by_nation, rel.q_market_share):
            df = fn(spark, sf_dir)
            plan = _plan(df)
            assert "BroadcastNestedLoopJoin" not in plan
            assert "CartesianProduct" not in plan
            assert ("SortMergeJoin" in plan
                    or "ShuffledHashJoin" in plan), plan
            # nation-sized constants are still explicitly hinted
            assert "BroadcastHashJoin" in plan
        got = sorted(map(tuple,
                         rel.q_revenue_by_nation(spark, sf_dir).collect()))
    finally:
        rel._BCAST_CAP_BYTES = old
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    assert got == expect


def test_round8_rank_limit_pushdowns(spark, sf_dir):
    """Round-8 rank <= k shapes must keep the two-stage WindowGroupLimit
    (per-partition top-k before the exchange): the downtime gap census
    (rank over filtered gaps) and the Zipf audit (rank <= 30 per
    language) — the property that bounds their shuffle volume on
    unbounded key spaces."""
    import photon_spark.queries_pipeline as qp

    for fn in (qp.q_events_downtime_gaps, qp.q_zipf_deviation_audit):
        plan = fn(spark, sf_dir)._jdf.queryExecution() \
            .executedPlan().toString()
        assert "WindowGroupLimit" in plan, fn.__name__


def test_skyline_global_window_input_is_bounded(spark, sf_dir):
    """The Pareto query's unpartitioned window must consume the PHASE-1
    candidate relation (mapInPandas local skyline), never the raw
    table: the plan's single-partition exchange sits strictly above the
    ArrowEvalPython/mapInPandas node, so the usually-banned shape is
    fed only bounded input."""
    from photon_spark.queries_relational import q_pareto_front_parts

    plan = q_pareto_front_parts(spark, sf_dir)._jdf.queryExecution() \
        .executedPlan().toString()
    lines = plan.splitlines()
    single = next(i for i, ln in enumerate(lines)
                  if "Exchange SinglePartition" in ln)
    py = next(i for i, ln in enumerate(lines)
              if "MapInPandas" in ln or "ArrowEvalPython" in ln
              or "PythonMapInArrow" in ln)
    # tree prints top-down: the exchange consuming the python node's
    # output appears ABOVE it
    assert single < py, plan


def _split_top_brackets(s: str) -> list:
    """Split a physical Window node's printed argument list into its
    top-level ``], [`` segments (bracket/paren-depth aware — the expr
    segment nests windowspecdefinition parens)."""
    segs, depth, cur, i = [], 0, "", 0
    while i < len(s):
        if s.startswith("], [", i) and depth == 0:
            segs.append(cur)
            cur = ""
            i += 4
            continue
        ch = s[i]
        if ch in "([":
            depth += 1
        elif ch in ")]":
            if depth == 0:
                segs.append(cur)
                return segs
            depth -= 1
        cur += ch
        i += 1
    segs.append(cur)
    return segs


def _count_global_windows(plan: str) -> int:
    """Physical Window nodes with NO partition spec — the shape that
    funnels ALL data through one task. WindowExec prints
    ``Window [exprs], [partitionSpec], [orderSpec]`` and omits empty
    specs, so an unpartitioned-but-ordered window prints two segments
    whose SECOND is an order spec (``ASC NULLS``/``DESC NULLS``),
    while a partitioned-but-unordered window's second segment is bare
    column refs."""
    n = 0
    for ln in plan.splitlines():
        st = ln.strip()
        idx = st.find("Window [")
        if idx == -1 or "WindowGroupLimit" in st:
            continue
        segs = _split_top_brackets(st[idx + len("Window ["):])
        if len(segs) == 1:
            n += 1
        elif len(segs) == 2 and ("ASC NULLS" in segs[1]
                                 or "DESC NULLS" in segs[1]):
            n += 1
    return n


#: nodes that bound a global window's input: an aggregation (output is
#: |group keys|-sized), a limit, or a phase-1 python kernel (the
#: skyline local pass) somewhere beneath the window in the plan tree
_BOUNDING_NODES = ("HashAggregate", "SortAggregate", "ObjectHashAggregate",
                   "TakeOrderedAndProject", "GlobalLimit",
                   "WindowGroupLimit", "MapInPandas", "ArrowEvalPython",
                   "PythonMapInArrow", "LocalTableScan")


def test_no_unbounded_global_windows_registry_wide(spark, sf_dir):
    """Registry-wide lint generalizing the skyline phase-separation pin:
    an UNPARTITIONED window funnels its whole input through one task,
    so it is allowed ONLY when that input is structurally bounded — an
    aggregate / limit / phase-1 kernel must sit beneath it in the plan,
    and the query must carry a one-line boundedness justification here
    (exactly the NLJ-allowlist contract). Adding a global window over
    an unbounded relation fails with the query named."""
    from photon_spark import queries as q

    global_window_ok = {
        # rank window over the 6dp score GRID (group-by score first):
        # input ≤ |distinct rounded scores|, never |examples|
        "classifier_auc_rank": "6dp score-grid relation",
        # top-k rank over the posting-intersection survivors of ONE
        # query's terms (docs holding every term — collapses map-side)
        "conjunctive_search_topk": "per-query posting intersection",
        # rank over the PHRASE_TOPK-row limit (TakeOrderedAndProject
        # bounds it before the window)
        "phrase_search_topk": "top-k limit precedes the rank window",
        # RRF fusion ranks the UNION OF TWO TOP-K lists (≤ 2k rows)
        "hybrid_rrf_topk": "union of two top-k lists",
        # RBO: two top-k legs + a fixed RBO_DEPTH-row depth calendar
        "ranking_rbo_audit": "top-k legs + fixed depth calendar",
        # phase-2 skyline consumes phase-1 local-skyline survivors
        # (structural pin: test_skyline_global_window_input_is_bounded)
        "pareto_front_parts": "local-skyline phase-1 survivors",
        # month-over-month lag over the per-month revenue AGGREGATE
        "revenue_trend": "per-month aggregate (|months| rows)",
        # cumulative sum over the per-day new-user AGGREGATE
        "user_growth_accumulation": "per-day aggregate (|days| rows)",
        # largest-remainder rank over the per-stratum AGGREGATE
        "neyman_allocation_plan":
            "per-stratum aggregate (|lang x source| rows)",
        # Heaps-law curve: cumulative over per-bucket vocab AGGREGATE
        "vocab_growth_curve": "per-bucket aggregate (|buckets| rows)",
    }
    failures = []
    for name, fn in q.QUERIES.items():
        try:
            plan = (fn(spark, sf_dir)._jdf.queryExecution()
                    .executedPlan().toString())
        except Exception as exc:
            failures.append((name, f"plan build failed: {exc}"))
            continue
        n = _count_global_windows(plan)
        if n == 0:
            if name in global_window_ok:
                failures.append(
                    (name, "allowlisted but has no global window — "
                           "remove the stale entry"))
            continue
        if name not in global_window_ok:
            failures.append(
                (name, f"{n} unpartitioned Window node(s) and no "
                       "boundedness justification in "
                       "global_window_ok"))
            continue
        # structural check: a bounding node beneath the window
        lines = plan.splitlines()
        widx = next(i for i, ln in enumerate(lines)
                    if "Window [" in ln and "WindowGroupLimit" not in ln)
        below = "\n".join(lines[widx:])
        if not any(tok in below for tok in _BOUNDING_NODES):
            failures.append(
                (name, "global window has no aggregate/limit/phase-1 "
                       "node beneath it"))
    assert not failures, failures


def test_global_window_detector_self_check(spark):
    """The lint's detector must actually fire on an unbounded global
    window (else the registry lint is vacuously green) and stay silent
    on partitioned or partition-only windows."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(100).select(F.col("id"),
                                 (F.col("id") % 7).alias("k"))
    bad = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("id")))
    assert _count_global_windows(
        bad._jdf.queryExecution().executedPlan().toString()) == 1
    good = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("k").orderBy("id")))
    assert _count_global_windows(
        good._jdf.queryExecution().executedPlan().toString()) == 0
    part_only = df.withColumn(
        "m", F.max("id").over(Window.partitionBy("k")))
    assert _count_global_windows(
        part_only._jdf.queryExecution().executedPlan().toString()) == 0
