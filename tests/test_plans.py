"""Scale-posture assertions: the plans Catalyst produces for our operators
must be the plans we'd want at 100 TB — pushdown at the scan, pruned
ReadSchema, broadcast dims, no cartesian products, whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from datalake_brief_spark.catalog import load_table
from datalake_brief_spark.operators.joins import join_dim
from datalake_brief_spark.plans import (
    assert_broadcast_join,
    assert_no_cartesian,
    assert_pushed_filter,
    assert_read_schema_only,
    count_nodes,
    formatted_plan,
    plan_has,
    unpartitioned_window_count,
)
from datalake_brief_spark.queries import QUERIES

from tests.conftest import SF_SMOKE


def test_filter_pushes_to_parquet_scan(spark):
    df = load_table(spark, SF_SMOKE, "orders").filter(F.col("o_totalprice") <= 20000.0)
    assert_pushed_filter(df, "o_totalprice")


def test_projection_prunes_read_schema(spark):
    df = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_mktsegment")
    assert_read_schema_only(df, ["c_custkey", "c_mktsegment"])


def test_filter_project_chain_prunes_and_pushes(spark):
    q = QUERIES["filter_project_pipeline"].fn(spark, SF_SMOKE)
    assert_pushed_filter(q, "c_mktsegment")
    assert_read_schema_only(q, ["c_name", "c_acctbal", "c_mktsegment"])


def test_dim_join_broadcasts(spark):
    c = load_table(spark, SF_SMOKE, "customer")
    n = load_table(spark, SF_SMOKE, "nation")
    assert_broadcast_join(join_dim(c, n, on=c.c_nationkey == n.n_nationkey))


def test_dim_chain_query_has_no_shuffle_before_agg(spark):
    """The two dim joins must both broadcast: the only Exchange in the plan
    is the final aggregation shuffle."""
    q = QUERIES["join_dim_chain"].fn(spark, SF_SMOKE)
    assert count_nodes(q, "BroadcastHashJoin") == 2, formatted_plan(q)
    # exactly one shuffle: the final group-by (broadcasts aren't shuffles)
    assert count_nodes(q, "Exchange") == 1, formatted_plan(q)


def test_q1_uses_whole_stage_codegen_and_partial_agg(spark):
    q = QUERIES["q1_pricing_summary"].fn(spark, SF_SMOKE)
    assert count_nodes(q, "HashAggregate") == 2  # partial + final
    # codegen markers (*(n) prefixes) only appear in the AQE final plan
    # post-execution
    import re

    q.collect()
    final = q._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert re.search(r"\*\(\d+\)", final), final


def test_knn_bruteforce_broadcasts_queries_no_cartesian_shuffle(spark):
    q = QUERIES["knn_bruteforce"].fn(spark, SF_SMOKE)
    # broadcast nested loop join is the intended physical shape for the
    # small-queries × corpus cross; a CartesianProduct would shuffle both
    assert plan_has(q, "BroadcastNestedLoopJoin"), formatted_plan(q)


def test_semi_and_anti_joins_plan_as_joins_not_distinct(spark):
    for name in ("join_semi", "join_anti"):
        plan = formatted_plan(QUERIES[name].fn(spark, SF_SMOKE))
        assert "LeftSemi" in plan or "LeftAnti" in plan, f"{name}: {plan}"


def test_topk_global_plans_take_ordered(spark):
    plan = formatted_plan(QUERIES["topk_global"].fn(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan, plan


def test_q3_shuffle_declared_aqe_broadcasts_and_takes_ordered(spark):
    """The segment-filtered customer side is scale-proportional, so the
    static plan declares a shuffle join; at gate scale AQE converts it to
    a runtime broadcast — assert the adaptive FINAL plan does so."""
    q = QUERIES["q3_shipping_priority"].fn(spark, SF_SMOKE)
    plan = formatted_plan(q)
    assert "TakeOrderedAndProject" in plan, plan  # top-10, no total sort
    assert_no_cartesian(q)
    q.count()  # materialize so AQE finalizes
    final = q._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final, final


def test_q5_fixed_dims_broadcast_supplier_left_to_aqe(spark):
    """Nation and region (fixed-size dims) broadcast into supplier in the
    static plan; the scale-proportional ASIA-supplier side is declared as
    a shuffle join and AQE elects the runtime broadcast at gate scale."""
    q = QUERIES["q5_nation_revenue"].fn(spark, SF_SMOKE)
    assert count_nodes(q, "BroadcastHashJoin") >= 2, formatted_plan(q)
    q.count()
    final = q._jdf.queryExecution().executedPlan().toString()
    assert final.count("BroadcastHashJoin") >= 3, final


def test_dynamic_partition_pruning_fires(spark, tmp_path):
    """A partitioned fact joined to a filtered dim must plan a dynamic-
    pruning subquery on the fact scan: only matching partition dirs are
    read. At 100 TB this is the difference between scanning one partition
    and scanning the lake."""
    out = str(tmp_path / "orders_part")
    load_table(spark, SF_SMOKE, "orders").write.partitionBy("o_orderstatus").parquet(out)
    fact = spark.read.parquet(out)
    dim = spark.createDataFrame(
        [("O", "open"), ("F", "finished"), ("P", "pending")], "status string, label string"
    ).filter(F.col("label") == "open")
    j = fact.join(dim.hint("broadcast"), fact.o_orderstatus == dim.status).groupBy(
        "label"
    ).count()
    assert "dynamicpruning" in formatted_plan(j).lower(), formatted_plan(j)


def test_salted_join_matches_plain_join(spark):
    """Skew salting is a pure execution-strategy change: the salted join's
    result must equal the plain equi-join's."""
    from datalake_brief_spark.operators.joins import salted_join

    o = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_custkey").alias("custkey"), "o_orderkey"
    )
    c = load_table(spark, SF_SMOKE, "customer").select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    plain = sorted(
        (r.o_orderkey, r.c_mktsegment)
        for r in o.join(c, "custkey").select("o_orderkey", "c_mktsegment").collect()
    )
    salted = sorted(
        (r.o_orderkey, r.c_mktsegment)
        for r in salted_join(o, c, "custkey", salt_buckets=8)
        .select("o_orderkey", "c_mktsegment")
        .collect()
    )
    assert plain == salted


def test_semi_reduced_join_reduces_before_exchange(spark):
    """The semi-join reduction must plan as a BroadcastHashJoin(LeftSemi)
    BELOW the shuffle join's exchange on the big side: the probe table is
    filtered by the broadcast key set before any rows are hashed into the
    shuffle. Also an end-to-end equality check vs the plain join (the
    reduction is a pure execution-strategy change)."""
    from datalake_brief_spark.operators.joins import semi_reduced_join

    o = (
        load_table(spark, SF_SMOKE, "orders")
        .filter(F.col("o_totalprice") > 150000.0)
        .select(F.col("o_orderkey").alias("okey"), "o_orderpriority")
    )
    l = load_table(spark, SF_SMOKE, "lineitem").select(
        F.col("l_orderkey").alias("okey"), "l_quantity"
    )
    reduced = semi_reduced_join(l, o, key="okey")
    plan = formatted_plan(reduced)
    assert "LeftSemi" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    plain = l.join(o, "okey")
    assert sorted(map(tuple, reduced.collect())) == sorted(map(tuple, plain.collect()))


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """Spark's native runtime row-level filtering (SPARK-32268) is the
    automatic form of the same semi-join reduction: with the size thresholds
    lowered to fire at test scale, a shuffle join with a selective build
    side must inject a bloom-filter predicate (BloomFilterMightContain /
    bloom_filter agg) on the probe side. At production thresholds (10 MB
    creation side / 10 GB application side) this kicks in exactly at the
    100 TB shapes where it pays."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        # disable the broadcast path so the join actually shuffles and the
        # bloom (not a broadcast reuse / DPP subquery) is the runtime filter
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = (
            load_table(spark, SF_SMOKE, "orders")
            .filter(F.col("o_totalprice") > 150000.0)
            .select("o_orderkey", "o_orderpriority")
        )
        l = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
        j = l.join(o, l.l_orderkey == o.o_orderkey)
        plan = formatted_plan(j).lower()
        assert "might_contain" in plan or "bloomfilter" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_udtf_plans_arrow_not_pickled_rows(spark):
    """The §2.11 UDTF extension point must plan as ArrowEvalPythonUDTF
    (Arrow-batched) — BatchEvalPythonUDTF would be the pickled row loop the
    engine forbids."""
    plan = formatted_plan(QUERIES["udtf_ngrams"].fn(spark, SF_SMOKE))
    assert "ArrowEvalPythonUDTF" in plan, plan


def test_ngram_candidates_come_from_lsh_banding(spark):
    """The n-gram dedup plan must generate candidates via the LSH band
    equi-join (keys include band_hash), not an all-pairs block self-join —
    the quadratic shape this query shipped with in round 1."""
    plan = formatted_plan(QUERIES["dedup_ngram_jaccard"].fn(spark, SF_SMOKE))
    assert "band_hash" in plan, plan


# Entries allowed to carry unpartitioned Window nodes, with the documented
# driver-scale bound of each frame (VERDICT r7 ask #5). Every other entry
# must plan ZERO of them — an unpartitioned WindowExec funnels its whole
# input through ONE reducer (Exchange SinglePartition), the single-partition
# scale-killer class the r7 verdict flagged.
_UNPARTITIONED_WINDOW_ALLOWED = {
    # ≤257-row bin-offset cumsums of windows.two_phase_rank /
    # binned_prefix_sums (one per helper call): frames are the 256-bin
    # count aggregates, never data-scale rows.
    "ml_auc_rank": 1,  # one binned_prefix_sums over the score spectrum
    "events_pareto": 1,  # one binned_prefix_sums over the count spectrum
    "customer_rfm": 3,  # three two_phase_rank calls (R, F, M dimensions)
    # text.seeded_shuffle's documented 256-bin offset cumsum (text.py:516)
    "corpus_seeded_shuffle": 1,
    # distinct-frequency spectrum of text.vocab_coverage (text.py:1183):
    # O(√total_tokens) rows by the Zipf bound documented in its docstring
    "text_vocab_coverage": 3,
    # rank assignment over the ALREADY-top-50 lists (lexical BM25 top-50
    # + cosine_topk_single's post-limit top-50; rrf_fuse inputs are
    # k-bounded — the heavy work is in the rankers, and the vector leg's
    # corpus ranking is TakeOrderedAndProject, never a window)
    "hybrid_search_rrf": 2,
}


def test_no_query_produces_cartesian_or_row_python(spark):
    """Registry-wide physical-plan lint: no CartesianProduct (quadratic
    shuffle), no BatchEvalPython — the row-at-a-time Python UDF operator
    the engine's §2.11 rule forbids (Arrow paths plan as ArrowEvalPython /
    MapInPandas / FlatMapGroupsInPandas) — and no unpartitioned Window
    over a data-scale frame: entries in _UNPARTITIONED_WINDOW_ALLOWED may
    carry exactly their documented driver-scale count, everything else
    zero. This lint fails on the r7 forms of events_pareto (|users|
    frame), customer_rfm (three |customers| ntiles), and ml_auc_rank
    (unbinned score spectrum).

    Fanned across driver threads (r14): the lint is 287 query builds +
    explains of driver-side planning — serially it was the single slowest
    test in the suite (183 s, a fifth of the verify-gate budget); plan
    construction and explain are independent per query and py4j is
    thread-safe, so 8 threads cut it to ~a quarter. Failures keep their
    query name (pool.map re-raises the first worker assertion)."""
    from concurrent.futures import ThreadPoolExecutor

    def lint(item):
        name, q = item
        df = q.fn(spark, SF_SMOKE)
        assert_no_cartesian(df)
        assert "BatchEvalPython" not in formatted_plan(df), name
        n_unpart = unpartitioned_window_count(df)
        allowed = _UNPARTITIONED_WINDOW_ALLOWED.get(name, 0)
        assert n_unpart <= allowed, (
            f"{name}: {n_unpart} unpartitioned Window node(s) in plan, "
            f"allowed {allowed} — single-partition funnel at scale"
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(lint, QUERIES.items()))


def _latest_attested_rounds() -> dict[str, int]:
    """name → newest round whose committed CORRECTNESS_rNN.json names it."""
    import glob
    import json
    import os
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    latest: dict[str, int] = {}
    for f in glob.glob(os.path.join(root, "CORRECTNESS_r*.json")):
        r = int(re.search(r"r(\d+)", os.path.basename(f)).group(1))
        for name in json.load(open(f)):
            latest[name] = max(latest.get(name, 0), r)
    return latest


def test_driver_window_covers_unattested_entries():
    """The driver's CORRECTNESS gate checks only the first ~50 registry
    entries. Hand-maintained ordering let two r5-new entries sit below the
    window with zero driver history (VERDICT r5). Rule, automated: every
    oracle-backed registry entry absent from ALL committed
    CORRECTNESS_r*.json files must appear in the first 50 registry slots
    (oracle-less entries queue last: the gate cannot check them)."""
    attested = set(_latest_attested_rounds())
    order = list(QUERIES)
    checkable = [n for n in order if QUERIES[n].oracle is not None]
    window = set(order[:50])
    never = [n for n in checkable if n not in attested and n not in window]
    # Saturation clause: when MORE than 50 entries are never-attested (a
    # round that adds 20+ operators before the driver has run), the window
    # physically cannot hold them all — overflow is acceptable ONLY if
    # every top-50 slot is itself never-attested (nothing better could
    # occupy it) and the overflow queues immediately after the window.
    if never:
        assert all(n not in attested for n in order[:50]), (
            f"never-attested entries sit below the window while attested "
            f"entries occupy top-50 slots: {never}"
        )
        n_unattested = sum(1 for n in checkable if n not in attested)
        head = order[:n_unattested]
        assert all(n not in attested for n in head), (
            "the overflow must queue contiguously after the window, ahead "
            "of every already-attested entry"
        )
    # the registry order itself must stay a complete, duplicate-free ordering
    assert len(order) == len(set(order))
    assert set(order) == set(QUERIES)


def test_driver_window_holds_no_oracle_less_entry():
    """Aim: the driver's 50-query window never holds a query it cannot
    check. Oracle-less (hash-family / approximate) entries queue after
    every oracle-backed one, so they never take a window slot."""
    in_window = [n for n in list(QUERIES)[:50] if QUERIES[n].oracle is None]
    assert not in_window, f"oracle-less entries in the driver window: {in_window}"


def _assert_drains_stalest_first(order: list[str], latest: dict[str, int]) -> None:
    checkable = [n for n in order if QUERIES[n].oracle is not None]
    tail_rounds = [latest[n] for n in checkable[50:] if n in latest]
    assert tail_rounds == sorted(tail_rounds), (
        "rotation tail out of staleness order: a fresher-attested entry "
        "queues ahead of a staler one"
    )
    # VERDICT r12 ask #3: the window must take the GLOBALLY stalest band
    # — no attested entry inside the 50-slot window may be fresher than
    # any attested entry queued behind it (ties across the boundary are
    # fine; the stable sort resolves them by definition order).
    window_rounds = [latest[n] for n in checkable[:50] if n in latest]
    if window_rounds and tail_rounds:
        assert max(window_rounds) <= min(tail_rounds), (
            f"window holds an entry attested at r{max(window_rounds)} "
            f"while a staler r{min(tail_rounds)} entry waits in the tail "
            f"— the window must drain oldest-first"
        )


def test_rotation_tail_sorted_by_staleness():
    """Attestation rotation (VERDICT r7 ask #10): past the ~50-entry driver
    window, already-attested oracle-backed entries must queue in
    NON-DECREASING latest-attested-round order, so each round's window
    fill naturally takes the stalest entries first and no attestation can
    rot indefinitely. The order is derived from the CORRECTNESS files at
    import, so it holds again as soon as a new file lands."""
    _assert_drains_stalest_first(list(QUERIES), _latest_attested_rounds())


def test_window_rotates_on_next_round():
    """Rotation needs no code edit: when the next round's driver run
    attests today's whole window, the derived order puts a disjoint window
    in front, again drained stalest-first."""
    from datalake_brief_spark.queries import _window_order

    window = list(QUERIES)[:50]
    latest = {**_latest_attested_rounds(), **{n: 15 for n in window}}
    nxt = _window_order(QUERIES, latest)
    assert set(nxt[:50]).isdisjoint(window)
    assert all(QUERIES[n].oracle is not None for n in nxt[:50])
    _assert_drains_stalest_first(nxt, latest)


def test_ivf_centroids_train_once_under_concurrency(monkeypatch):
    """Driver threads constructing kNN queries at once share one k-means
    training per sf_dir: the memo is build-once, not check-then-set."""
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from datalake_brief_spark import queries as q
    from datalake_brief_spark.operators import similarity

    calls = []

    def train(*_args, **_kwargs):
        calls.append(1)
        time.sleep(0.2)  # long enough for the second thread to arrive
        return [[0.0]]

    monkeypatch.setattr(q, "_t", lambda *_args: None)
    monkeypatch.setattr(similarity, "train_ivf_centroids", train)
    key = "/nonexistent/build-once-race"
    start = threading.Barrier(2)

    def ask(_):
        start.wait(timeout=10)
        return q._ivf_centroids(None, key)  # noqa: SLF001

    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            got = [f.result(timeout=30) for f in [pool.submit(ask, i) for i in range(2)]]
    finally:
        q._IVF_CENTROIDS.pop(key, None)  # noqa: SLF001
    assert got == [[[0.0]], [[0.0]]]
    assert len(calls) == 1, f"k-means trained {len(calls)} times for one key"


def test_repetition_ngrams_do_not_retokenize_per_position(spark):
    """Regression guard for the O(tokens^2) shape: building bigrams via
    transform(sequence(...), i -> slice(split(...), i, n)) re-runs the
    regex tokenizer inside the lambda at every position (measured 11 s vs
    0.4 s at sf0.1). The shipped plan must use zip_with over shifted
    slices — so no `sequence(` feeding a lambda appears in the plan."""
    plan = formatted_plan(QUERIES["text_repetition"].fn(spark, SF_SMOKE))
    assert "zip_with" in plan, plan
    assert "sequence(0," not in plan, plan


def test_decontaminate_broadcasts_benchmark_grams_and_joins_on_hash(spark):
    """The benchmark gram set must broadcast (eval suites are small by
    definition) and the join key must be the 8-byte xxhash64, not the raw
    gram string."""
    df = QUERIES["decontaminate_ngrams"].fn(spark, SF_SMOKE)
    assert_broadcast_join(df)
    assert "xxhash64" in formatted_plan(df)


def test_knn_batch_plans_arrow_map_and_single_rank_shuffle(spark):
    """The batch KNN path must score in MapInPandas (Arrow) inside the scan
    stage and shuffle only the per-batch top-k partials for the global
    rank — exactly one Exchange node."""
    df = QUERIES["knn_batch"].fn(spark, SF_SMOKE)
    assert count_nodes(df, "MapInPandas") == 1
    assert count_nodes(df, "Exchange") == 1, formatted_plan(df)


def test_grouping_sets_is_one_expand_one_aggregate_pass(spark):
    """GROUPING SETS must plan as a single Expand over a single scan — not
    one scan per grouping set."""
    df = QUERIES["grouping_sets_custom"].fn(spark, SF_SMOKE)
    assert count_nodes(df, "Expand") == 1
    assert count_nodes(df, "Scan parquet") == 1, formatted_plan(df)


def test_lsh_band_exchange_is_reused_at_runtime(spark):
    """The band self-join docstring claims 'one Arrow signature pass — both
    join sides read the same shuffle output'. AQE materializes exchange
    reuse only at runtime, so a static explain can't verify it; execute and
    assert the FINAL adaptive plan carries a ReusedExchange (and therefore
    the minhash signature UDF ran once, not per join side). dedup_simhash
    rides the same pin (ADVICE r13): its combo-key relation must come back
    as ONE exchange both self-join sides read, or the bit-vote UDF and the
    20-way key explode silently run twice."""
    for name in ("dedup_ngram_jaccard", "dedup_minhash", "dedup_simhash"):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "isFinalPlan=true" in plan, name
        assert "ReusedExchange" in plan, (name, plan)


def test_bm25_tokenizes_once_at_runtime(spark):
    """r13: bm25_topk's stats aggregation and scoring pass must read ONE
    shared doc-keyed exchange of the narrow (id, dl, tf…) projection —
    i.e. the corpus tokenizes once. AQE materializes the reuse only at
    runtime, so execute and assert the final adaptive plan carries a
    ReusedExchange (the r12 two-scan shape had none to reuse)."""
    df = QUERIES["text_bm25"].fn(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
    assert "isFinalPlan=true" in plan, plan
    assert "ReusedExchange" in plan, plan


def test_r6_entries_keep_scale_shapes(spark):
    """Plan pins for the round-6 additions: temperature_mix's budget table
    joins back as a broadcast (never a shuffle on the stratum count);
    ks_drift aggregates to the bucket grid BEFORE any window (the ECDF
    cumsum runs over the n_bins-row relation, not raw rows); the asof
    forward direction stays a single-exchange union-window plan like its
    backward twin; mad_outliers' percentile scalars broadcast back."""
    tm = QUERIES["temperature_mix"].fn(spark, SF_SMOKE)
    p = formatted_plan(tm)
    assert "BroadcastHashJoin" in p or "BroadcastExchange" in p, p
    ks = QUERIES["dq_ks_drift"].fn(spark, SF_SMOKE)
    pk = formatted_plan(ks)
    # window must consume the aggregated grid: a HashAggregate appears
    # below the Window in the tree (formatted output lists children after)
    assert "Window" in pk and "HashAggregate" in pk, pk
    assert pk.index("HashAggregate") < pk.index("Window") or "Sort" in pk
    fwd = QUERIES["asof_join_forward"].fn(spark, SF_SMOKE)
    pf = formatted_plan(fwd)
    assert pf.count("Exchange") <= 3, pf  # union + one window shuffle (+AQE reads)
    assert "CartesianProduct" not in pf
    mad = QUERIES["dq_mad_outliers"].fn(spark, SF_SMOKE)
    pm = formatted_plan(mad)
    assert "BroadcastExchange" in pm, pm
    # curation-sampling band: cap + A-ES are ONE keyed window exchange each,
    # and the rank-limit pushes a map-side partial top-k below the shuffle
    for nm in ("corpus_domain_cap", "sample_weighted_aes"):
        q = QUERIES[nm].fn(spark, SF_SMOKE)
        pw = formatted_plan(q)
        assert "Window" in pw, (nm, pw)
        assert count_nodes(q, "Exchange") == 1, (nm, pw)
        assert "WindowGroupLimit" in pw, (nm, pw)
    # winsorize: percentile bound frame broadcasts back, never a shuffle of
    # the fact on a constant key
    pz = formatted_plan(QUERIES["profile_winsorized"].fn(spark, SF_SMOKE))
    assert "BroadcastExchange" in pz, pz
    # target encoding: the |C|x5 frame joins back via broadcast only
    pt = formatted_plan(QUERIES["ml_target_encode"].fn(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in pt or "BroadcastExchange" in pt, pt
    assert "SortMergeJoin" not in pt, pt
    # distribution profilers: boundary/total scalar frames broadcast back;
    # binning aggregates to <=n_bins keys, Benford to <=9
    for nm in ("ml_quantile_bins", "dq_benford"):
        pb = formatted_plan(QUERIES[nm].fn(spark, SF_SMOKE))
        assert "BroadcastExchange" in pb, (nm, pb)
        assert "CartesianProduct" not in pb, (nm, pb)
    # token KL: everything after the (group, token) aggregate runs on the
    # vocabulary-sized relation — the corpus-scale explode feeds exactly one
    # partial+final HashAggregate pair before any join
    pkl = formatted_plan(QUERIES["source_token_kl"].fn(spark, SF_SMOKE))
    assert "Generate" in pkl and "HashAggregate" in pkl, pkl
    assert "CartesianProduct" not in pkl, pkl
    # unicode canonicalization: Arrow-batched Python, never row-at-a-time
    pn = formatted_plan(QUERIES["text_normalize_nfc"].fn(spark, SF_SMOKE))
    assert "ArrowEvalPython" in pn, pn
    # embedding norm profile: the array fold stays a JVM expression — no
    # Python evaluator of any kind in the plan
    pe = formatted_plan(QUERIES["emb_norm_profile"].fn(spark, SF_SMOKE))
    assert "EvalPython" not in pe, pe
    # MI + grouped quantiles: contingency/group aggregates with broadcast-
    # only joins back — never a sort-merge of the fact
    for nm in ("ml_feature_mi", "profile_group_quantiles"):
        pq = formatted_plan(QUERIES[nm].fn(spark, SF_SMOKE))
        assert "SortMergeJoin" not in pq, (nm, pq)
        assert "CartesianProduct" not in pq, (nm, pq)
    # LM perplexity: pure relational (no Python evaluator), and the bigram
    # build must be the zip-of-slices, never a re-tokenizing per-position
    # lambda (no sequence( feeding the tokenizer)
    pp = formatted_plan(QUERIES["text_lm_perplexity"].fn(spark, SF_SMOKE))
    assert "EvalPython" not in pp, pp
    assert "sequence(0," not in pp, pp
    # quality cut: |G|-row threshold frame broadcasts; the fact itself
    # never shuffles (no hash exchange of data-scale rows)
    qc = QUERIES["corpus_quality_cut"].fn(spark, SF_SMOKE)
    pc = formatted_plan(qc)
    assert "BroadcastHashJoin" in pc, pc
    assert "SortMergeJoin" not in pc, pc
    # compression ratio: Arrow-batched Python, scan-stage (zero exchanges)
    cr = QUERIES["text_compression_ratio"].fn(spark, SF_SMOKE)
    pr = formatted_plan(cr)
    assert "ArrowEvalPython" in pr, pr
    assert count_nodes(cr, "Exchange") == 0, pr


def test_events_partition_pruned_scans_one_day_directory(spark):
    """The date-partitioned events layout must prune physically: the scan
    carries a PartitionFilters entry on event_date, and the files entering
    the plan all come from the single matching day directory."""
    import os

    from pyspark.sql import functions as F

    from datalake_brief_spark import queries as q

    df = QUERIES["events_partition_pruned"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "PartitionFilters" in plan, plan
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "event_date" in pf, plan
    # literal-free: the day bound rides in as a scalar subquery evaluated at
    # execution start — no job ran to build this plan
    assert "Subquery" in pf, plan
    # runtime proof (inputFiles() lists the relation pre-pruning): the rows
    # actually read all come from ONE day directory
    path = q._LAKEHOUSE_TABLES[("events_part", os.path.abspath(SF_SMOKE))]  # noqa: SLF001
    part = spark.read.parquet(path)
    min_day = part.agg(F.min("event_date")).collect()[0][0]
    touched = {
        r[0].rsplit("/", 2)[-2]
        for r in part.filter(F.col("event_date") == F.lit(min_day))
        .select(F.input_file_name())
        .distinct()
        .collect()
    }
    assert touched == {f"event_date={min_day}"}, touched


def test_seeded_shuffle_rank_is_distributed(spark):
    """The global epoch-shuffle rank must NOT be a single-reducer
    row_number: the data-scale exchange hash-partitions on the md5-prefix
    bin (256-way parallel local ranks); the only SinglePartition exchange
    allowed is the 256-row bin-offset cumsum."""
    df = QUERIES["corpus_seeded_shuffle"].fn(spark, SF_SMOKE)
    plan = formatted_plan(df)
    assert "hashpartitioning(__bin" in plan, plan
    # the data rows (doc_id et al.) never cross a SinglePartition exchange
    import re

    for m in re.finditer(r"\(\d+\) Exchange\nInput(?: \[\d+\])?: \[([^\]]*)\]\nArguments: SinglePartition", plan):
        cols = m.group(1)
        assert "doc_id" not in cols, f"data-scale SinglePartition exchange: {cols}"


def test_gopher_rules_is_scan_stage_only(spark):
    """The full rule suite must evaluate as per-row expressions: no KEYED
    exchange, no generator blow-up, no Python. r13 allows exactly one
    round-robin spread exchange of the raw (id, text) projection (scan
    parallelism for single-split sources — functions.spread_scan, a no-op
    at scale); the rules themselves still never shuffle."""
    q = QUERIES["text_gopher_rules"].fn(spark, SF_SMOKE)
    plan = formatted_plan(q)
    assert count_nodes(q, "Exchange") <= 1, plan
    assert "hashpartitioning" not in plan, plan  # spread is round-robin only
    assert "EvalPython" not in plan, plan


def test_budget_sample_is_one_window_exchange(spark):
    """Budgeted sampling = one running sum per stratum: exactly the window
    partitioning exchange, nothing else — no join, no second shuffle."""
    q = QUERIES["sample_token_budget"].fn(spark, SF_SMOKE)
    assert count_nodes(q, "Exchange") == 1, formatted_plan(q)
    assert plan_has(q, "Window"), formatted_plan(q)


def test_dsir_histograms_are_partial_aggregated(spark):
    """Both corpus histograms come from ONE keyed aggregation with map-side
    combine (partial+final HashAggregate pairs), and the scalar totals ride
    a broadcast — never a cartesian shuffle."""
    q = QUERIES["dsir_weights"].fn(spark, SF_SMOKE)
    assert_no_cartesian(q)
    assert count_nodes(q, "HashAggregate") >= 4, formatted_plan(q)  # partial+final ×2
    assert plan_has(q, "BroadcastNestedLoopJoin") or plan_has(
        q, "BroadcastExchange"
    ), formatted_plan(q)


def test_null_skip_read_drops_null_free_files(spark):
    """Runtime evidence in the registry context: the IS NULL read's plan
    must scan only the holey file group — the null-free group never enters
    inputFiles()."""
    from datalake_brief_spark.queries import _lakehouse_table, _nulled_customer
    from datalake_brief_spark.sources import txlog

    def build(path):
        d = _nulled_customer(spark, SF_SMOKE)
        txlog.append(d.filter(F.col("bal").isNotNull()).coalesce(2), path, stats_cols=["bal"])
        txlog.append(d.filter(F.col("bal").isNull()).coalesce(2), path, stats_cols=["bal"])

    path = _lakehouse_table("nullskip", SF_SMOKE, build)
    got = txlog.read_pruned_nulls(spark, path, "bal", is_null=True)
    all_files = txlog.visible_files(path)
    assert len(got.inputFiles()) < len(all_files), (got.inputFiles(), all_files)


def test_q6_pushes_all_predicates_and_prunes_schema(spark):
    """Q6 is a pure scan-aggregate: every predicate must reach the parquet
    reader and the scan must read only the four referenced columns."""
    q = QUERIES["q6_forecast_revenue"].fn(spark, SF_SMOKE)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert_pushed_filter(q, col)
    assert_read_schema_only(
        q, ["l_quantity", "l_extendedprice", "l_discount", "l_shipdate"]
    )
    assert count_nodes(q, "HashAggregate") == 2, formatted_plan(q)  # partial+final


def test_q18_joins_broadcast_small_side_never_sort_merge(spark):
    """Aggregate-then-join: the HAVING-filtered key set and the qualified
    orders broadcast; neither join may fall back to sort-merge (the
    customer table must never be shuffled for this query)."""
    q = QUERIES["q18_large_orders"].fn(spark, SF_SMOKE)
    plan = formatted_plan(q)
    assert count_nodes(q, "BroadcastHashJoin") == 2, plan
    assert "SortMergeJoin" not in plan, plan


def test_repeated_spans_plan_is_jvm_only_linear_passes(spark):
    """The ExactSubstr span pipeline must stay JVM-side (no Python
    evaluation node of any kind) with partial+final doc-frequency
    aggregation and a windowed island merge — the four-linear-pass shape
    from PLANS.md."""
    q = QUERIES["dedup_repeated_spans"].fn(spark, SF_SMOKE)
    plan = formatted_plan(q)
    for bad in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas", "FlatMapGroupsInPandas"):
        assert bad not in plan, plan
    assert "Window" in plan, plan
    # doc-frequency agg (partial+final around its exchange) + final span agg
    assert count_nodes(q, "HashAggregate") >= 3, plan
    assert_no_cartesian(q)


def test_tpch_completion_band_plan_shapes(spark):
    """The 12 round-4 TPC-H shapes compile to the subquery-free forms a
    100 TB plan needs: EXISTS → LeftSemi, NOT EXISTS / NOT IN → LeftAnti,
    correlated aggregates → join-back, scalar subqueries → 1-row broadcast
    — never a CartesianProduct, a distinct+inner rewrite, or row Python."""
    semi = {"q20_excess_suppliers": 1, "q21_waiting_suppliers": 1}
    anti = {"q16_supplier_cnt": 1, "q21_waiting_suppliers": 1, "q22_dormant_customers": 1}
    for name in (
        "q2_min_cost_supplier", "q8_market_share", "q9_product_profit",
        "q11_important_parts", "q12_late_lines", "q13_customer_distribution",
        "q15_top_supplier", "q16_supplier_cnt", "q17_small_quantity",
        "q20_excess_suppliers", "q21_waiting_suppliers", "q22_dormant_customers",
    ):
        q = QUERIES[name].fn(spark, SF_SMOKE)
        plan = formatted_plan(q)
        assert_no_cartesian(q)
        if name in semi:
            assert "LeftSemi" in plan, (name, plan)
        if name in anti:
            assert "LeftAnti" in plan, (name, plan)


def test_q13_left_outer_survives_to_physical_plan(spark):
    """Zero-order customers must come from a real LeftOuter join (a
    dropped outer side would silently lose the c_count=0 bucket)."""
    q = QUERIES["q13_customer_distribution"].fn(spark, SF_SMOKE)
    assert "LeftOuter" in formatted_plan(q), formatted_plan(q)


def test_q21_top20_is_take_ordered_not_total_sort(spark):
    q = QUERIES["q21_waiting_suppliers"].fn(spark, SF_SMOKE)
    assert "TakeOrderedAndProject" in formatted_plan(q), formatted_plan(q)


def test_scalar_subquery_aggregates_reuse_exchange_at_runtime(spark):
    """Q2/Q11/Q15 broadcast a scalar (or per-group) re-aggregate of a
    relation they also consume directly. The source columns are filtered
    not-null explicitly so both branches' exchange subtrees stay
    canonically identical — AQE must materialize the shared shuffle once
    and wire the second consumer as a ReusedExchange (one lineitem scan,
    not two). Static explain can't see this; execute and check the final
    adaptive plan."""
    for name in (
        "q2_min_cost_supplier",
        "q11_important_parts",
        "q15_top_supplier",
        "q21_waiting_suppliers",  # `late` consumed as l1 and as the anti side
    ):
        df = QUERIES[name].fn(spark, SF_SMOKE)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert "isFinalPlan=true" in plan, name
        assert "ReusedExchange" in plan, (name, plan)


def test_q20_prefix_like_pushes_to_part_scan(spark):
    """p_name LIKE 'blue%' must reach the parquet reader as a
    StringStartsWith pushed filter, not a post-scan residual only."""
    q = QUERIES["q20_excess_suppliers"].fn(spark, SF_SMOKE)
    assert "StringStartsWith" in formatted_plan(q), formatted_plan(q)


def test_q21_self_join_sides_declared_sort_merge(spark):
    """Regression guard for the tpch_scale_check finding: un-hinted, the
    static planner broadcast the fact-sized semi/anti build sides from
    their compressed-file-size estimates and the 8x-data wall was 22.9x
    the 1x wall. The static plan must carry SortMergeJoin for BOTH
    self-joins (AQE may still locally optimize at runtime)."""
    plan = formatted_plan(QUERIES["q21_waiting_suppliers"].fn(spark, SF_SMOKE))
    assert "SortMergeJoin LeftSemi" in plan, plan
    assert "SortMergeJoin LeftAnti" in plan, plan


def test_r7_entries_keep_scale_shapes(spark):
    """Plan pins for the round-7 additions: every sequence-analytics entry
    is a single-exchange window plan (rank-limit entries push a map-side
    partial top-k below the shuffle); the graph entries join with
    shuffle-partitionable joins; segment dedup stays pure-JVM; the
    scan-stage entries plan zero exchanges; cell assignment folds
    centroids as literals (no join at all)."""
    one_exchange = {
        "window_distribution_suite": None,
        "scd2_intervals": None,
        "ts_zscore_anomaly": None,
        "ts_rolling_median": None,
        "dedup_latest_by_key": "WindowGroupLimit",
        "sample_group_hash": "WindowGroupLimit",
    }
    for nm, extra in one_exchange.items():
        q = QUERIES[nm].fn(spark, SF_SMOKE)
        p = formatted_plan(q)
        assert count_nodes(q, "Exchange") == 1, (nm, p)
        assert "Window" in p, (nm, p)
        if extra:
            assert extra in p, (nm, p)
    # islands: both windows + the island agg share the user-key
    # partitioning family — two exchanges max ((user) and (user,state))
    gi = QUERIES["gaps_islands"].fn(spark, SF_SMOKE)
    assert count_nodes(gi, "Exchange") <= 2, formatted_plan(gi)
    # graph: wedge+closure joins must be shuffle-partitionable — never a
    # nested-loop fallback from a non-equi condition
    for nm in ("graph_triangles", "graph_degree_stats"):
        p = formatted_plan(QUERIES[nm].fn(spark, SF_SMOKE))
        assert "BroadcastNestedLoopJoin" not in p, (nm, p)
        assert "CartesianProduct" not in p, (nm, p)
    # segment dedup: pure JVM (one posexplode Generate, no Python eval)
    sd = QUERIES["dedup_segments_corpus"].fn(spark, SF_SMOKE)
    ps = formatted_plan(sd)
    assert "EvalPython" not in ps, ps
    assert count_nodes(sd, "Generate") == 1, ps
    # one-hot is scan-stage only: zero exchanges
    oh = QUERIES["ml_one_hot"].fn(spark, SF_SMOKE)
    assert count_nodes(oh, "Exchange") == 0, formatted_plan(oh)
    # stratified split audit: partial+final agg on the tiny grid
    ss = QUERIES["ml_split_stratified"].fn(spark, SF_SMOKE)
    assert count_nodes(ss, "HashAggregate") == 2, formatted_plan(ss)
    # cell assignment: centroids are plan literals — NO join of any kind
    ac = QUERIES["emb_assign_cells"].fn(spark, SF_SMOKE)
    assert "Join" not in formatted_plan(ac), formatted_plan(ac)
    # banded interval join: equi-join on (key, bucket), no nested loop
    ij = QUERIES["join_interval_overlap"].fn(spark, SF_SMOKE)
    pj = formatted_plan(ij)
    assert "BroadcastNestedLoopJoin" not in pj, pj
    # interpolation: forward+backward windows over ONE key partitioning —
    # the spine join adds bounded exchanges, never a cartesian calendar
    il = QUERIES["ts_interpolate_linear"].fn(spark, SF_SMOKE)
    pl = formatted_plan(il)
    assert "CartesianProduct" not in pl, pl
    assert pl.count("Window") >= 2, pl
