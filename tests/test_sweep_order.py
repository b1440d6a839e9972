"""The driver-sweep rotation contract (queries/__init__.py).

The driver proves ~50 queries per round in REGISTRY insertion order;
the reorder must therefore (a) put no already-proven query ahead of
unproven work, (b) keep every unproven name inside a contiguous prefix
a budget based at position 0 can reach, and (c) stay deterministic so
two imports agree.  The fingerprints that decide "proven" hash what a
spec means — its SQL, oracle and shape — so the tests at the end pin
that too.
"""

from __future__ import annotations

import json

from datafusion_umami_spark.queries import _driver_history, _driver_history_from
from datafusion_umami_spark.registry import REGISTRY, _load_all

_load_all()


def test_stale_no_oracle_record_does_not_prove_an_oracled_spec(tmp_path):
    """r6 verdict item 1: a spec that NOW carries an oracle must rank
    unproven when its latest driver record is a rows-only `no_oracle`
    pass from before the oracle existed — otherwise a rewritten oracle
    never earns a hash row."""
    rec = {"hash_match": None, "spark_rows": 3, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_rows_only": rec, "q_now_oracled": rec})
    )
    green, failed = _driver_history_from(tmp_path, oracled={"q_now_oracled"})
    assert "q_rows_only" in green  # still oracle-less: rows-only proves it
    assert "q_now_oracled" not in green  # stale record, spec has an oracle
    assert "q_now_oracled" in failed


def test_approx_aggs_reclassified_unproven_until_hash_row_lands():
    """Live check of the same contract: the round-6 tolerance-banded
    approx aggregates carry real oracles, so their r1/r4 no_oracle
    records must not classify them green (they sit in the unproven /
    failed ranks and re-enter the sweep front).  Self-retiring: once
    a CORRECTNESS artifact records their hash rows they classify green
    and drop to the back of the sweep (budget hygiene is pinned
    globally by test_no_proven_green_query_ahead_of_unproven); a LATER
    red record drops them from `green` again and the unproven branch
    below re-asserts front membership on the next run.  The oracle
    assertion never retires."""
    green, _failed = _driver_history()
    front = list(REGISTRY)[:50]
    for name in ("agg_approx_distinct", "agg_approx_percentile"):
        # must keep their oracles — deleting one would let a rows-only
        # record classify them green again (the round-6 defect)
        assert REGISTRY[name].oracle is not None
        if name in green:
            continue  # hash row landed; re-enters below if it regresses
        assert name in front, f"{name} not in sweep front-50"


def test_no_proven_green_query_ahead_of_unproven():
    green, _failed = _driver_history()
    names = list(REGISTRY)
    unproven = [n for n in names if n not in green]
    if not unproven:
        return
    last_unproven = max(names.index(n) for n in unproven)
    early_greens = [n for n in names[:last_unproven] if n in green]
    assert not early_greens, (
        "proven-green queries would burn sweep budget ahead of unproven "
        f"ones: {early_greens[:5]}"
    )


def test_unproven_set_occupies_a_contiguous_prefix():
    """The remaining sweeps cover the whole backlog only if every
    unproven name sits within the first len(unproven) positions — i.e.
    no unproven query hides past a green one where a 50-row/round
    budget based at position 0 could never reach it."""
    green, _failed = _driver_history()
    names = list(REGISTRY)
    unproven = {n for n in names if n not in green}
    prefix = set(names[: len(unproven)])
    assert prefix == unproven, (
        f"unproven names past position {len(unproven)}: "
        f"{sorted(unproven - prefix)[:5]}"
    )


def test_legacy_backlog_is_exhausted():
    """r5 verdict item 2, horizon re-pinned each round (r6 item 8, r7
    item 2, r8 item 5, r9 item 4): the r9 sweep exhausted the legacy
    backlog — every name outside the addition tranches has a green
    driver row certifying its current text.  From round 10 the pin is
    exact: legacy == [] up to the sanctioned overflow-fence demotions
    below.  Tranche additions must queue strictly BEHIND any
    legacy names so they never displace one out of the horizon.  The
    contiguous-prefix test above guarantees reachability; this one pins
    the COUNT so any addition that jumps the queue or regrows the
    backlog fails CI."""
    addition_modules = {
        "datafusion_umami_spark.queries.job_shapes_t4",
        "datafusion_umami_spark.queries.tpcds_shapes_t5",
        "datafusion_umami_spark.queries.clickbench_ext2",
        "datafusion_umami_spark.queries.job_shapes_t5",
        "datafusion_umami_spark.queries.tpcds_shapes_t6",
        "datafusion_umami_spark.queries.clickbench_closure",
        "datafusion_umami_spark.queries.job_shapes_t6",
        "datafusion_umami_spark.queries.tpcds_shapes_t7",
        "datafusion_umami_spark.queries.job_shapes_t7",
        "datafusion_umami_spark.queries.tpcds_shapes_t8",
        "datafusion_umami_spark.queries.pg_edges",
    }
    additions = {
        n for n, spec in REGISTRY.items() if spec.module in addition_modules
    }
    assert additions, "addition-name extraction broke"

    green, _failed = _driver_history()
    names = list(REGISTRY)
    unproven = [n for n in names if n not in green]
    legacy = [n for n in unproven if n not in additions]
    # r11 re-pin (r10 verdict item 3): both r10 sanctioned overflow-fence
    # demotions (ts_anomaly_zscore_minutes, embedding_centroid_per_label)
    # re-earned hash-green driver rows on the fixed text in the r10
    # sweep, so the sanctioned set was back to EMPTY.  Any future
    # demotion or backlog regrowth must fail CI loudly until a verdict
    # sanctions it by name here.
    # r12 sanctioned demotion (same class as the r10 pair — a self-found
    # big-input arithmetic bug, fixed and deliberately demoted to
    # re-earn a driver row on the corrected text):
    # cur_source_mixture_budget's base allocation used (a - a%b)/b,
    # which routes through DOUBLE division and loses ulps once
    # a = toks*100000 > 2^53 (any source past ~9e10 tokens — the live
    # regime at 100 TB).  Caught by tests/test_fuzz.py::
    # test_mixture_budget_matches_largest_remainder_reference
    # (falsifying example toks=[1, 1, 224_094_516_748] under-allocated
    # the big source by 1); fixed to native integer division (Spark
    # DIV / DuckDB //) in queries/curation.py.
    # Second r12 instance, found by the post-fix code-review probe of
    # the same class: tpcds_dual_rank_return_ratio's integer ppm used
    # FLOOR(double/double) over aggregate-scale cent sums, which flips
    # at exact ppm boundaries past ~$90M returned per group and feeds
    # RANK(); fixed to Spark DIV over DECIMAL(38,0) / DuckDB // over
    # HUGEINT (queries/tpcds_shapes_t6.py, pinned by tests/test_fuzz.py
    # ::test_exact_ppm_ratio_matches_python_reference).
    # Third r12 sanctioned demotion, found by the session-window
    # property pin: session_window_agg's gaps-and-islands oracle split
    # on >= gap, but Spark MERGES windows that touch (an event exactly
    # gap after the previous one joins the same session) — masked on sf
    # data (µs timestamps never land an exact 30-minute gap), falsified
    # instantly on a 1-second grid.  Oracle fixed to > gap
    # (queries/streaming_queries.py, pinned by tests/test_fuzz.py::
    # test_session_window_matches_gaps_and_islands_reference).
    # r12 batch 4 (found by the IVF Lloyd pin's all-zero falsifying
    # example): every cosine-dividing text crashed with an ANSI
    # divide-by-zero on a zero-norm embedding — a VALID array<float>
    # row (failed-encoder/padding outputs at corpus scale).  All seven
    # norm-dividing specs now fence `WHERE nrm > 0` on BOTH engine
    # texts (zero vectors still cluster in k-means; they are excluded
    # only where cosine is undefined), and the numpy kernel masks
    # zero norms + short-circuits a zero-norm query (NaN, not a crash,
    # was its failure mode).  Demoted to re-earn rows on fenced texts.
    # r12 batch 5 (found by the aggregates.py high-effort review):
    # agg_nth_value crashed under ANSI mode on a <3-distinct group
    # (element_at OOB throws where the DuckDB oracle's list[3] yields
    # NULL) -> try_element_at; agg_regression rounded SF-GROWING raw
    # sums of squares at fixed decimals (1-ulp cross-engine diff
    # observed at sf0.01, guaranteed flip once ulp(SYY) > 0.5) -> emit
    # the SF-invariant per-row quotients S**/n with a NULLIF(count,0)
    # guard; agg_having was uncapped (891 rows at the sweep scale,
    # 9k at sf0.1) -> ORDER BY l_partkey LIMIT 1000 per the CLAUDE.md
    # row-budget convention.
    # r12 batch 6 (eventanalytics.py high-effort review): the funnel's
    # conversion_rate ROUND(double, 6) diverges between engines on real
    # count pairs (probed: 41/640 -> 0.064063 Spark vs 0.064062 DuckDB)
    # -> exact integer ppm via native DIV / //; the histogram band's
    # BIGINT/5000.0 types DECIMAL(27,6) on Spark but DOUBLE on DuckDB
    # (CLAUDE.md decimal-literal rule) -> explicit double cast; RFM's
    # 1-row CROSS JOIN planned a BroadcastNestedLoopJoin -> scalar
    # subquery (plan hygiene, matches the TF-IDF pattern).
    # r12 batch 7 (json_funcs.py high-effort review, closing the
    # campaign): json_variant_ops hand-concatenated its JSON doc (a
    # NULL k nulled the WHOLE doc vs the oracle's field-wise NULLs,
    # and an unescaped quote in a value would ANSI-crash parse_json)
    # -> to_json(named_struct(...)) + the shared k-IS-NOT-NULL fence;
    # json_from_json_struct's oracle used strict CAST where Spark's
    # from_json is permissive (a non-integer k would crash DuckDB on a
    # row Spark drops) -> TRY_CAST; json_tuple_arrays never actually
    # called json_tuple (coverage overstatement) -> LATERAL VIEW
    # json_tuple for the top-level fields.
    # All 19 r12 demotions re-earned hash-green rows in the r12 sweep
    # (CORRECTNESS_r12.json, 50/50), so the set reset to EMPTY at the
    # round-13 blessing.  r13 batch 1 (r12 verdict item 2 — the five
    # `weak` global-window quantile-banding specs, demanded by name):
    # each exact NTILE/global-running-sum window forced its
    # users/docs-cardinality input through ONE partition.  Rewritten to
    # percentile_disc boundary aggregates broadcast as scalar
    # subqueries + comparison banding (the greedy budget additionally
    # two-levels its prefix sum: per-band offsets via a ≤10-row
    # self-join + a PARTITION BY band running sum, output bit-identical
    # to the old global form).  Banding ties take the better band on
    # both engines; gates: tests/test_plans.py::
    # test_quantile_banding_has_no_global_window, property pins in
    # tests/test_fuzz.py (round-13 section).  Deliberately demoted to
    # re-earn driver rows on the scale-safe texts.
    # r13 batch 2 (the three ADVICE items, each probed before fixing):
    # (a) the seven cosine specs' zero-norm fence extended to a
    # FINITE-norm fence — the probe FALSIFIED the advisor's claimed
    # Spark-drops/DuckDB-keeps asymmetry (both engines evaluate
    # NaN > 0 as TRUE), but that makes the gap worse: NaN/Inf norms
    # from corrupt encoder output sailed into the top-k on BOTH
    # engines.  Shared phrase `AND NOT isnan(nrm) AND nrm <
    # CAST('Infinity' AS DOUBLE)` on all 13 texts + isfinite mask in
    # the numpy kernel; pinned by tests/test_fuzz.py::
    # test_cosine_fence_excludes_nonfinite_norms (which also exposed
    # that duckdb's pandas scan coerces in-list NaN to NULL — the pin
    # feeds DuckDB SQL literals).
    # (b) json_variant_ops' k extraction strict CAST -> try_cast/
    # TRY_CAST on both sides with the fence on the try_cast result (a
    # malformed non-integer k ANSI-crashed both engines — the exact
    # class the r12 json_from_json_struct fix closed one spec up).
    # (c) cur_source_mixture_budget's numerator widened to
    # DECIMAL(38,0)/HUGEINT incl. the remainder (BIGINT toks*100000
    # ANSI-throws past ~9.2e13 tokens/source); largest-remainder pin
    # range extended to 1e16.
    # r13 batch 3 (sources_sinks.py high-effort review — first of the
    # six never-reviewed modules, r12 verdict item 3):
    # parquet_codec_roundtrip had THREE defects: (a) the cross-codec
    # equality check was an inner join, so a codec copy losing an
    # entire l_returnflag group passed vacuously; (b) the check was a
    # bare `assert`, stripped under python -O; (c) the cents were a
    # REFORMULATED oracle (decimal-cast-then-multiply vs the oracle's
    # round(x*100)) with no property pin.  Now: cents computed with the
    # oracle's formula before the write (shared algorithm), collected-
    # set comparison incl. a decimal-fidelity column, explicit raise,
    # and the returned frame is rebuilt from the compared rows (no
    # double zstd scan).  csv_malformed_modes: comment said the fixture
    # is 4 rows; it is 3 (doc fix inside the callable -> fp demotion).
    # The ~16-text CAST(l_quantity AS BIGINT) class (Spark truncates,
    # DuckDB rounds) is fenced by a fixture-integrality pin in
    # tests/test_oracle.py instead of 15+ demotions — TPC-H defines
    # l_quantity integral.
    # r13 batch 4 (subqueries.py high-effort review): all five specs
    # were hash-green while their INTERESTING branches sat in
    # measure-zero sets — the review probed the fixtures and fixed the
    # discrimination, not just the texts:
    # - subq_scalar_correlated_projection never exercised the empty
    #   correlated group (every fixture customer has orders), i.e. the
    #   canonical COUNT-bug path of scalar decorrelation; the
    #   o_totalprice > 450000 filter makes ~1/3 of groups empty at
    #   every SF (COUNT must be 0, MAX must be NULL);
    # - subq_lateral_topn same fix: INNER-lateral row elimination now
    #   actually drops ~1/3 of customers;
    # - subq_exists_correlated_agg's HAVING > 1000 passed 100% of
    #   suppliers at every SF (per-supplier qty sums are scale-
    #   invariant ~15k) -> median-splitting > 15000 (7/10 pass at
    #   sf0.001);
    # - subq_in_correlated_filter's subqueries were both UNCORRELATED
    #   (name overstated coverage) -> the IN is now genuinely
    #   correlated on the outer order's total price;
    # - subq_scalar_uncorrelated: NULLIF(COUNT(*), 0) per the CLAUDE.md
    #   ANSI denominator rule (refactor hazard, not a live crash).
    # r13 batch 5 (relational.py high-effort review): one LIVE
    # nondeterminism bug and four vacuous-branch defects, all probed:
    # - distinct_on_first_line ordered ties by l_linenumber alone while
    #   112-141 orderkeys have 2+ rows tied on the minimum linenumber
    #   with DIFFERENT l_partkey — both engines picked layout-dependent
    #   rows (green by luck) -> total-order tail l_partkey on both
    #   sides, matching the pg_edges DISTINCT ON convention;
    # - except_distinct returned ZERO rows at sf>=0.01 (the subtrahend
    #   covered all nations) -> SF-invariant custkey<=30 subtrahend
    #   (8/25 survivors at proof scales);
    # - intersect_all's right side held each key once, so min-
    #   multiplicity was always 1 (INTERSECT ALL == DISTINCT on that
    #   data) -> both sides lineitem multisets, capped;
    # - sort_nulls_ordering never produced a NULL bal (NULLIF vs 0.0
    #   matches nothing) and its LIMIT window held only seg-NULL rows
    #   at proof scale -> bal NULL for <3000 balances, SF-invariant
    #   150-customer input, LIMIT 60 spans both NULLS clauses and
    #   non-NULL ordering;
    # - sort_multicol_large shipped raw TIMESTAMP_LTZ l_shipdate
    #   (UTC-pin luck) -> output cast to TIMESTAMP_NTZ per convention;
    # - filter_like_ilike tested LIKE twice -> real ILIKE operator.
    sanctioned = {"evt_rfm_segments", "tpcds_ntile_decile_profile",
                  "tpcds_freq_monetary_matrix",
                  "cur_quality_curriculum_buckets",
                  "cur_token_budget_greedy",
                  "ann_bruteforce_topk", "ann_bruteforce_vectorized",
                  "ann_lsh_probe", "ann_ivf_grid", "ann_recall_eval",
                  "ann_ivf_trained", "dedup_embedding_cosine",
                  "json_variant_ops", "cur_source_mixture_budget",
                  "parquet_codec_roundtrip", "csv_malformed_modes",
                  "subq_scalar_uncorrelated",
                  "subq_scalar_correlated_projection",
                  "subq_in_correlated_filter", "subq_lateral_topn",
                  "subq_exists_correlated_agg",
                  "distinct_on_first_line", "except_distinct",
                  "intersect_all", "sort_nulls_ordering",
                  "sort_multicol_large", "filter_like_ilike",
                  # r13 batch 6 (dataframe_ops.py review): stratified
                  # top-k fenced doc_id IS NOT NULL (a NULL id hashes to
                  # a NULL sort key placed on OPPOSITE ends by the two
                  # engines' ORDER BY defaults); merge_upsert's LIMIT
                  # truncation made engine-stable with explicit NULLS
                  # LAST; repartition_by_range's date filter moved
                  # INSIDE the data range (the old 1995-01-01 boundary
                  # matched every row).  The four reformulated-oracle
                  # reshape specs got the CLAUDE.md-mandated micro-data
                  # pin (tests/test_fuzz.py reshape section); the
                  # 60-bit hash texts now build from queries/hashing.py
                  # byte-identically (no demotion for that one).
                  "sample_stratified_topk", "merge_upsert_latest_wins",
                  "repartition_by_range",
                  # r13 batch 7 (catalog_ddl.py review): cache_table_scan
                  # uncached in `finally` BEFORE the harness executed the
                  # returned frame, so the compared rows never read the
                  # live cache (and the guard was a bare assert, dead
                  # under python -O) -> rows collected while cached,
                  # explicit raise; ddl_set_show_conf leaked its SET onto
                  # the shared session (AQE flipped on under an AQE-off
                  # leg would contaminate later plans) -> prior value
                  # restored after collecting the SHOW.  The inline hash
                  # pair in table_fingerprint_orders migrated to
                  # queries/hashing.py byte-identically (no demotion).
                  "cache_table_scan", "ddl_set_show_conf",
                  # r13 batch 8 (types_edges.py review, closing the six-
                  # module campaign): types_decimal_arith's unit_price
                  # was a silent reformulation (DuckDB evaluates
                  # DECIMAL/DECIMAL in DOUBLE — probed — so the engines
                  # rounded DIFFERENT quotients, agreeing only on TPC-H's
                  # exact-multiple prices) -> IEEE-shared integer-cents /
                  # (qty*100) division; types_interval_arith plus_36h and
                  # types_timestamp_precision ts_ms/ts_s shipped LTZ
                  # outputs (UTC-pin luck) -> TIMESTAMP_NTZ per the
                  # registry convention with a split oracle.  The
                  # TRY_CAST decimal-string engine divergence is pinned
                  # as a documented gap (test_fuzz.py).
                  "types_decimal_arith", "types_interval_arith",
                  "types_timestamp_precision",
                  # r13 batch 9: registry-WIDE output-schema audit (all
                  # 541 queries at sf0.001) found exactly ONE remaining
                  # raw-LTZ timestamp output — fn_datetime_make_parse's
                  # to_timestamp() reparse — now CAST to TIMESTAMP_NTZ
                  # per convention.  Zero errors, zero other hits.
                  "fn_datetime_make_parse",
                  # r13 batch 10 (joins.py review — the oldest-evidence
                  # r2 cohort; FINAL demotion batch, the 50-slot sweep
                  # budget is now at 40): three more vacuous-branch
                  # specs (join_left_anti returned ZERO rows at proof
                  # scales — every fixture customer has an order;
                  # join_right_semi retained every supplier at every SF
                  # — P(no qty>=49 item in ~600 lines) ~ 1e-11;
                  # join_in_or_subquery's IN branch matched all
                  # suppliers so the OR excluded nothing), each fixed
                  # with probed discriminating predicates, and ONE
                  # latent NULL-key bug: join_salted_skew's
                  # pmod(event_id, 8) salted a NULL id to NULL and the
                  # salted equi-join dropped the row while the unsalted
                  # oracle kept it -> coalesce-before-salt + the
                  # reformulation micro pin (test_fuzz.py).
                  "join_left_anti", "join_right_semi",
                  "join_in_or_subquery", "join_salted_skew",
                  # r13 batch 11 (timeseries.py review — the true final
                  # batch, 43/50 sweep slots): ts_rolling_median_weekly
                  # fixed-decimal-ROUNDed a corpus-growing daily-revenue
                  # median (the agg_regression magnitude class) -> exact
                  # unrounded cents (7-row frames pick an element,
                  # partial frames interpolate to half-integers — exact
                  # in double on both engines); inc_rollup_merge's date
                  # cutoff was DISJOINT at the group level (midnight
                  # timestamps), so the merge never merged, a NULL date
                  # silently vanished vs the recompute oracle, and the
                  # inlined cutoff CTE scanned orders 4x -> parity split
                  # (every day merges two partials), IS NOT NULL fence
                  # on both texts, split-materialized rollup (0 fact
                  # scans in the final plan); ts_anomaly_zscore_minutes
                  # dropped its dead always-1 CASE (a 3-copy drift
                  # hazard of the width fence).  Both reformulations
                  # pinned on adversarial micro-data incl. 7e13
                  # magnitudes (test_fuzz.py).
                  "ts_rolling_median_weekly", "inc_rollup_merge",
                  "ts_anomaly_zscore_minutes",
                  # r14 batch 1 (the r13 verdict's two named demands):
                  # tpcds_pareto_coverage was the LAST corpus-
                  # cardinality global window (running SUM + ROW_NUMBER
                  # over ALL customers in one partition) -> the
                  # cur_token_budget_greedy two-level prefix sum, pinned
                  # bit-identical to a pure-Python global cumsum at 2^52
                  # magnitudes (test_fuzz.py) + both banding plan gates;
                  # tpcds_ntile_decile_profile (ADVICE item 1)
                  # fixed-decimal-ROUNDed a corpus-growing revenue
                  # double over a bare-BIGINT ANSI cents sum ->
                  # exact integer cents in DECIMAL(38,0), STRING output
                  # per the hash-sum convention.
                  "tpcds_pareto_coverage",
                  # r14 batch 2 (first discrimination-probe harvest,
                  # tests/test_discrimination.py): four TPC-H shapes
                  # whose load-bearing branch sat in an empty set at a
                  # proof SF — q22's "customers with no orders" anti
                  # matched NOTHING at ANY SF (the generator gives every
                  # customer orders; the spec was hash-green on an empty
                  # result) -> anti on "no URGENT order"; q11/q20/q21
                  # filtered n_name='NATION_1', EMPTY at sf0.001 (10
                  # suppliers, one per nation) -> SF-invariant key-range
                  # fence (n_nationkey <= 12); additionally q11's
                  # fraction-of-total HAVING rejected every group past
                  # 1000 parts (0/2000 survivors at sf0.01) -> scale-free
                  # mean-multiple threshold in exact DECIMAL(38,0)
                  # integer arithmetic, split-materialized; q20's
                  # HAVING > 50 never rejected a supplier -> 200 (inside
                  # the roughly SF-invariant per-supplier distribution).
                  "tpch_q11", "tpch_q20", "tpch_q21", "tpch_q22",
                  # r14 batch 3 (probe harvest, tpcds_shapes_t5): the
                  # INTERSECT semi excluded NOTHING (every part has both
                  # 'A' and 'N' lines) -> qty>=45 leg fences; the
                  # OR-subquery arm demanded >=20 orders but the max per
                  # customer is 18 at sf0.001 (arm never fired locally)
                  # -> 14; the volatile cross-month pair join returned
                  # EMPTY at sf0.001 (HAVING n>=3 starved consecutive
                  # flagged months) -> n>=2 floor.  All thresholds
                  # probed scale-stable at sf0.001/0.01/0.1.
                  "tpcds_intersect_driven_sales",
                  "tpcds_or_local_or_subquery",
                  "tpcds_volatile_items_cross_month",
                  # r14 batch 4 (probe harvest, t6/t8): the EXCEPT chain
                  # keyed on exact order DATE removed ~zero rows (two
                  # same-customer same-day different-status orders are
                  # near-measure-zero) -> month key, both subtrahends
                  # bite; zip_prefix's SUBSTR(c_name,14,2) IN '00'..'09'
                  # matched EVERY customer (5th-from-last id digit is 0
                  # below custkey 1e5) and its dense-nation HAVING kept
                  # all 25 nations at sf0.01 -> last-two-digit repdigit
                  # fence (exactly 10%) + fixed-key c_custkey<=100
                  # subset (21/4 dense/sparse at EVERY SF);
                  # ship_exists' NATION_5 scope had zero single-supplier
                  # rejections at sf0.001 -> key-range nation fence.
                  "tpcds_except_chain_count",
                  "tpcds_t8_zip_prefix_dense",
                  "tpcds_t8_ship_exists_notexists",
                  # r14 batch 5 (probe harvest, the vacuous-HAVING
                  # class): seven specs whose HAVING floor sat entirely
                  # below (or above: cb_ext_q5 was EMPTY at sf0.001)
                  # the per-group count distribution at proof scale —
                  # absolute floors against corpus-growing counts fail
                  # in both directions.  Scale-free median fences
                  # (count median, or median-of-means where round-robin
                  # generation makes all counts EQUAL: cb_url/cb_referer),
                  # an SF-invariant per-user absolute floor for h2o
                  # (per-user counts don't grow with SF), and a
                  # (user, day) regrouping for cb_ext_stddev_var_having
                  # whose singleton-group NULL-stddev branch was
                  # structurally impossible on whole-user groupings.
                  "h2o_groupby_highcard", "cb_regex_extract_agg",
                  "cb_stats_having", "cb_url_length_having",
                  "cb_referer_domain_agg", "cb_ext_stddev_var_having",
                  "cb_ext_q5_p95_approx",
                  # r14 batch 6: the triangle spec's own comment warned
                  # the unfenced co-purchase graph is complete; the
                  # qty>45 fence alone still left the sf0.001 graph
                  # complete (the closure never rejected a wedge
                  # locally) -> added a 1998+ ship-date fence, all four
                  # probe branches now fire at every proof SF.
                  "graph_triangle_count",
                  # r14 batch 7 (null-fence/casewhen probe sweep):
                  # job_notnull_or_like_fence filtered n_name='NATION_7'
                  # — the same single-nation-empty class as the tpch
                  # trio; the spec was hash-green on an EMPTY result at
                  # sf0.001 -> SF-invariant key-range fence, all three
                  # branches probed at every SF.
                  "job_notnull_or_like_fence",
                  # r14 batch 8 (the probes themselves run at sf0.1 —
                  # the round-close battery): two more members of the
                  # batch-5 class, found one scale up.  Both specs
                  # fence FIXED-cardinality mod buckets (256x32 /
                  # 64x16 keys) with HAVING COUNT(*) > 1 — vacuous at
                  # sf0.1 where every bucket holds >= 2 (resp. >= 50)
                  # rows, and forever vacuous at 100 TB -> scale-free
                  # median-count fences, split-materialized to one
                  # events scan (plan-gated), kept/rejected probed
                  # positive at sf0.001/0.01/0.1.  test_discrimination
                  # now ALSO asserts probes at sf0.1, so this direction
                  # of the class is CI-enforced at every proof scale.
                  "cb_ext_q4_median_rank", "cb_ext_quantiles_per_pair",
                  # r14 batch 9 (OPTIMIZATION-round sanctioned
                  # demotions — results proven unchanged, the texts/
                  # closures changed for measured perf wins; every name
                  # re-verified 541/541 at sf0.01 + sf0.1 + hostile in
                  # the round battery):
                  # (a) scan-spread opt-ins: spread_tables= is part of
                  # a SQL spec's fingerprinted shape, so only OPTED-IN
                  # specs changed — the 11 opted-in fingerprints demote
                  # until fresh driver rows land (dedup_minhash_lsh's
                  # opt-in lives in a helper, no fp change);
                  "tpch_q1", "tpch_q18", "agg_high_cardinality",
                  "tpcds_rollup_rank", "text_token_stats",
                  # (b) pipeline_c4_style_filter: split-materialized
                  # (2 documents scans -> 1, regex chain runs once);
                  "pipeline_c4_style_filter",
                  # (c) graph_pagerank_purchases: the skipped
                  # defensive distinct (bidir is distinct by
                  # construction) + the dropped initial-state
                  # checkpoint;
                  "graph_pagerank_purchases",
                  # (d) window_first_last_nth/window_running_sum_rows:
                  # the r14 LATENT-nondeterminism fix (total-order
                  # tiebreaks on the non-unique (l_orderkey,
                  # l_linenumber) window key) surfaced by the
                  # spread-everything verify legs;
                  "window_first_last_nth", "window_running_sum_rows",
                  # (e) tpcds_twice_joined_wide_star: stage year fence
                  # pushed to the orders scan (result-invariance pinned
                  # in test_fuzz.py + DuckDB byte-identity at 3 SFs).
                  "tpcds_twice_joined_wide_star"}
    assert set(legacy) <= sanctioned, (
        f"legacy backlog regrew past the r11 horizon: {legacy[:8]}"
    )
    assert set(names[: len(legacy)]) == set(legacy), (
        "legacy backlog is not the exact queue front — additions or "
        "greens displaced it"
    )
    in_queue_additions = [n for n in unproven if n in additions]
    if in_queue_additions:
        first = min(names.index(n) for n in in_queue_additions)
        assert first >= len(legacy), (
            f"round-6 addition at position {first} jumps the legacy backlog"
        )


def test_latest_record_wins(tmp_path):
    """A regression after an earlier pass must re-enter the failed set
    (and a later fix must clear it)."""
    import json

    from datafusion_umami_spark.queries import _driver_history_from

    ok = {"rows_match": True, "schema_match": True, "hash_match": True,
          "spark_rows": 5, "oracle_rows": 5, "err": None}
    boom = {"rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": "TypeError"}
    rows_only = {"rows_match": None, "schema_match": None, "hash_match": None,
                 "spark_rows": 3, "oracle_rows": None, "err": "no_oracle"}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_regressed": ok, "q_fixed": boom, "q_stable": ok,
                    "q_rowsonly": rows_only})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_regressed": boom, "q_fixed": ok})
    )
    green, failed = _driver_history_from(tmp_path)
    assert green == {"q_fixed", "q_stable", "q_rowsonly"}
    assert failed == {"q_regressed"}


def test_edited_spec_is_demoted_and_requeued(monkeypatch):
    """r8 verdict item 4: a driver-green spec whose CURRENT text no
    longer matches the fingerprint recorded at its last green row must
    classify unproven and re-queue ahead of proven greens."""
    import datafusion_umami_spark.fingerprint as fpmod
    from datafusion_umami_spark.queries import _stale_edited
    from datafusion_umami_spark.registry import REGISTRY

    name = "tpch_q1"
    real_fp = fpmod.spec_fingerprint(REGISTRY[name])

    monkeypatch.setattr(fpmod, "load_ledger",
                        lambda path=None: {name: {"fp": real_fp, "round": 2}})
    assert _stale_edited({name}) == set(), "matching fp must stay green"

    monkeypatch.setattr(fpmod, "load_ledger",
                        lambda path=None: {name: {"fp": "tampered", "round": 2}})
    assert _stale_edited({name}) == {name}, "edited fp must demote"

    # a green name ABSENT from the ledger stays green (lenient until the
    # round-start tool records it)
    monkeypatch.setattr(fpmod, "load_ledger", lambda path=None: {})
    assert _stale_edited({name}) == set()


# The 19 names that entered round 12 never-swept (module order) — the
# final prove-down front.  Once all 19 carry green driver rows the
# registry is 541/541 proven and the queue front becomes the freshness
# cohort (test below).
R12_PROVEDOWN_FRONT = [
    "tpcds_t8_above_avg_of_sums", "tpcds_t8_triple_leg_dim_union",
    "tpcds_t8_channel_pnl_union_rollup", "tpcds_t8_leftjoin_returns_profit",
    "tpcds_t8_income_band_chain", "tpcds_t8_triple_or_demo_pairs",
    "tpcds_t8_ored_demo_pairs_returns", "tpcds_t8_time_of_day_count",
    "distinct_on_first_order_per_customer",
    "distinct_on_max_qty_line_per_supplier",
    "distinct_on_expression_keys", "distinct_on_omit_key_top_balance",
    "pg_null_derived_count_asymmetry", "pg_null_ordering_matrix",
    "pg_three_valued_logic_matrix", "pg_setop_all_multiplicity",
    "pg_window_analytic_matrix", "pg_window_empty_over_aggregates",
    "pg_window_groups_asymmetric_frames",
]


def test_r11_reproofs_landed_and_queue_front_finishes_the_provedown():
    """Round-12 re-pin, BOUNDARY-TOLERANT (r11 verdict item 6): the r11
    sweep went 50/50 on the projected front (cb_closure ×4 + job_t6 ×13
    + tpcds_t7 ×14 + job_t7 ×13 + tpcds_t8 first 6, all blessed at r11),
    and the queue front is now exactly the 19 never-swept names that
    finish the prove-down.  Tolerance: whichever subset of the 19 is
    STILL unproven must lead the queue in module order — so the pin
    stays green both before and after the r12 driver artifact lands
    (post-artifact, the freshness-rotation test below takes over as the
    front assertion, per r11 verdict item 3's endgame contract)."""
    from datafusion_umami_spark.fingerprint import load_ledger

    green, _failed = _driver_history()
    ledger = load_ledger()
    # r14: job_t6_four_bridge_clique and tpcds_t8_qty_demand_offset_join
    # dropped out of the r11-green witness set — their scan-spread
    # opt-in (optimization round, sanctioned batch 9 above) demoted the
    # edited closures until fresh driver rows land.  r15 round start:
    # the r14 driver SWEPT both green on the edited texts, so the
    # blessing legitimately advanced past r11 — the pin now witnesses
    # "blessed at r11 or re-proven by a later driver row", never a
    # silent regression below r11.
    for name in ("cb_q32_watch_client_unfenced",
                 "tpcds_t7_multi_year_profile_stack",
                 "job_t7_conj_same_column_likes"):
        assert name in green, f"r11-swept {name} must classify green"
        assert ledger[name]["round"] >= 11, f"{name} not blessed at r11+"
    for name in ("job_t6_four_bridge_clique",
                 "tpcds_t8_qty_demand_offset_join"):
        assert ledger[name]["round"] >= 11, f"{name} not blessed at r11+"
    # The sanctioned demotions (see test_legacy_backlog_is_exhausted for
    # the current round's rationale) re-enter the queue AHEAD of the
    # addition tail — in module import order, then registration order
    # within a module (listed so below) — until fresh
    # driver rows land on the fixed texts.  r13 set: the five
    # de-globalized quantile-banding specs + the nine ADVICE-batch
    # texts (finite-norm fence ×7, variant try_cast, mixture widening).
    demoted = [
        n
        for n in (
            "agg_high_cardinality", "subq_scalar_uncorrelated",
            "subq_scalar_correlated_projection", "subq_in_correlated_filter",
            "subq_lateral_topn", "subq_exists_correlated_agg",
            "filter_like_ilike", "sort_nulls_ordering",
            "distinct_on_first_line", "intersect_all", "except_distinct",
            "sort_multicol_large", "fn_datetime_make_parse",
            "json_variant_ops", "types_decimal_arith", "types_interval_arith",
            "types_timestamp_precision", "csv_malformed_modes",
            "parquet_codec_roundtrip", "dedup_embedding_cosine",
            "h2o_groupby_highcard", "cb_regex_extract_agg", "cb_stats_having",
            "cb_url_length_having", "cb_referer_domain_agg",
            "cb_ext_stddev_var_having", "cb_ext_quantiles_per_pair",
            "tpcds_rollup_rank", "tpcds_ntile_decile_profile",
            "tpcds_freq_monetary_matrix", "tpcds_pareto_coverage",
            "ddl_set_show_conf", "cache_table_scan", "sample_stratified_topk",
            "repartition_by_range", "merge_upsert_latest_wins",
            "ann_bruteforce_topk", "ann_bruteforce_vectorized",
            "ann_lsh_probe", "ann_ivf_grid", "ann_ivf_trained",
            "ann_recall_eval", "text_token_stats", "pipeline_c4_style_filter",
            "evt_rfm_segments", "cur_source_mixture_budget",
            "cur_quality_curriculum_buckets", "cur_token_budget_greedy",
            "graph_pagerank_purchases", "graph_triangle_count",
            "inc_rollup_merge", "ts_anomaly_zscore_minutes",
            "ts_rolling_median_weekly", "tpch_q1", "tpch_q11", "tpch_q18",
            "tpch_q20", "tpch_q21", "tpch_q22", "join_left_anti",
            "join_right_semi", "join_in_or_subquery", "join_salted_skew",
            "window_first_last_nth", "window_running_sum_rows",
            "job_notnull_or_like_fence", "job_five_alias_fact_clique",
            "tpcds_intersect_driven_sales", "tpcds_twice_joined_wide_star",
            "tpcds_or_local_or_subquery", "tpcds_volatile_items_cross_month",
            "cb_ext_q4_median_rank", "cb_ext_q5_p95_approx",
            "job_keyword_in8_triple_clique", "job_double_link_two_hops",
            "tpcds_except_chain_count", "tpcds_yearly_decline_union",
            "job_t6_four_bridge_clique", "tpcds_t8_zip_prefix_dense",
            "tpcds_t8_qty_demand_offset_join",
            "tpcds_t8_ship_exists_notexists")
        if n not in green
    ]
    still_unproven = demoted + [
        n for n in R12_PROVEDOWN_FRONT if n not in green
    ]
    front = list(REGISTRY)[: len(still_unproven)]
    assert front == still_unproven, (
        f"queue front must be the unproven prove-down tail: "
        f"{front[:5]} != {still_unproven[:5]}")


def test_green_tail_rotates_oldest_evidence_first():
    """r11 verdict item 2 (freshness rotation): behind the unproven
    prefix, proven greens queue by ASCENDING round of their latest
    driver record, so the driver's slack sweep budget always lands on
    the rows whose evidence is oldest.  Once the prove-down completes
    (zero unproven), this becomes the whole queue-front assertion:
    position 0 holds the green with the OLDEST driver evidence.  Age is
    the RECORD round (r12 review: ledger-absent greens are not
    necessarily fresh, and deregistered ledger entries must not skew
    the expectation — every green name has a record by construction)."""
    from pathlib import Path

    from datafusion_umami_spark.queries import _latest_records

    green, _failed = _driver_history()
    records = _latest_records(Path(__file__).resolve().parents[1])
    names = list(REGISTRY)
    tail = [n for n in names if n in green]
    if not tail:
        return  # bootstrap state: nothing proven yet, nothing to rotate
    # greens occupy exactly the suffix (contiguous-prefix test pins the
    # complement); their evidence rounds must be non-decreasing
    rounds = [records[n][1] if n in records else 10**6 for n in tail]
    assert rounds == sorted(rounds), (
        "green tail not in ascending-evidence-age order: first offender "
        f"{next(tail[i] for i in range(1, len(rounds)) if rounds[i] < rounds[i-1])!r}"
    )
    oldest = min(rounds)
    assert rounds[0] == oldest, (
        f"rotation front is r{rounds[0]} evidence but r{oldest} rows exist")


def test_ledger_is_committed_and_covers_the_greens():
    """The fingerprint ledger must exist, parse, and carry an entry for
    (nearly) every driver-green name so the proven-as-written rule has
    teeth; entries record the round of the green row they bless."""
    from datafusion_umami_spark.fingerprint import LEDGER_PATH, load_ledger

    assert LEDGER_PATH.exists()
    ledger = load_ledger()
    assert len(ledger) >= 390
    assert all(
        isinstance(e, dict) and e.get("fp") and isinstance(e.get("round"), int)
        for e in ledger.values()
    )
    # r10 (r9 verdict item 2): every entry records the sha of the tree
    # its green row executed, so provenance is auditable per entry.
    bad_sha = [n for n, e in ledger.items()
               if not (isinstance(e.get("sha"), str) and len(e["sha"]) == 40)]
    assert not bad_sha, f"ledger entries without swept-tree sha: {bad_sha[:5]}"


def test_ledger_tool_blessing_rules(tmp_path):
    """tools/update_sweep_fingerprints.py rules (r9 review finding 3),
    exercised on the tool's own `apply_blessings`: a missing entry is
    blessed ONLY when its green row comes from the latest artifact; an
    existing entry is re-blessed only by a latest-artifact row (an
    older round's swept text is unrecoverable); an entry edited after
    its proof is left stale; an unregistered name is ignored."""
    import json as _json

    tool = _load_tool()
    ok = {"hash_match": True, "spark_rows": 1, "err": None}
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        _json.dumps({"q_old_green": ok, "q_rebless": ok}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        _json.dumps({"q_fresh_green": ok, "q_rebless": ok}))

    greens, max_round = tool.green_rounds(tmp_path, oracled=set())
    assert max_round == 2
    assert greens == {"q_old_green": 1, "q_fresh_green": 2, "q_rebless": 2}

    greens.update(q_stale_rebless=1, q_edited=2, q_unchanged=2, q_deleted=2)
    ledger = {
        "q_rebless": {"fp": "old-fp", "round": 1, "sha": "s1"},
        "q_stale_rebless": {"fp": "old-fp", "round": 0, "sha": "s0"},
        "q_edited": {"fp": "proved-fp", "round": 2, "sha": "s2"},
        "q_unchanged": {"fp": "fp:q_unchanged", "round": 2, "sha": "s2"},
        "q_deleted": {"fp": "old-fp", "round": 1, "sha": "s1"},
    }
    untouched = {n: dict(e) for n, e in ledger.items() if n != "q_rebless"}
    added, updated, stale, skipped = tool.apply_blessings(
        ledger, greens, max_round, swept="s2",
        known=set(greens) - {"q_deleted"}, current_fp=lambda n: f"fp:{n}")

    assert added == ["q_fresh_green"]  # fresh evidence -> current text
    assert updated == ["q_rebless"]  # re-proved by the LATEST sweep
    assert stale == ["q_edited"]  # edited after proof -> re-queue
    # swept text unrecoverable: a missing entry from an older round, and
    # a re-proof from an older sweep (the preflight proves only the latest)
    assert skipped == ["q_old_green", "q_stale_rebless"]
    assert ledger.pop("q_fresh_green") == {
        "fp": "fp:q_fresh_green", "round": 2, "sha": "s2"}
    assert ledger.pop("q_rebless") == {
        "fp": "fp:q_rebless", "round": 2, "sha": "s2"}
    assert ledger == untouched  # skipped, stale and unregistered entries


def _load_tool():
    import importlib.util
    from pathlib import Path

    spec = importlib.util.spec_from_file_location(
        "update_sweep_fingerprints",
        str(Path(__file__).resolve().parents[1]
            / "tools" / "update_sweep_fingerprints.py"),
    )
    tool = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(tool)
    return tool


def test_ledger_tool_preflight_refuses_unsound_blessings(tmp_path):
    """r9 verdict item 2 / ADVICE items 1-2: blessing fingerprints the
    CURRENT tree against rows that executed the SWEPT tree, so the tool
    must refuse whenever the two provably differ under the package —
    (a) uncommitted package changes, (b) any post-sweep commit touching
    the package.  Exercised on a scratch git repo shaped like ours."""
    import json as _json
    import subprocess

    def git(*args):
        subprocess.run(["git", *args], cwd=tmp_path, check=True,
                       capture_output=True,
                       env={"PATH": "/usr/bin:/bin",
                            "GIT_AUTHOR_NAME": "t", "GIT_AUTHOR_EMAIL": "t@t",
                            "GIT_COMMITTER_NAME": "t",
                            "GIT_COMMITTER_EMAIL": "t@t",
                            "HOME": str(tmp_path)})

    pkg = tmp_path / "datafusion_umami_spark" / "queries"
    pkg.mkdir(parents=True)
    spec_file = pkg / "specs.py"
    spec_file.write_text("X = 1\n")
    git("init", "-q")
    git("add", "-A")
    git("commit", "-qm", "builder final HEAD (swept tree)")
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        _json.dumps({"q": {"hash_match": True, "spark_rows": 1}}))
    git("add", "-A")
    git("commit", "-qm", "driver: round 1 artifacts")

    tool = _load_tool()
    assert tool.preflight(tmp_path) == [], "clean round-start tree must pass"

    # (a) dirty working tree under the package -> refuse
    spec_file.write_text("X = 2\n")
    problems = tool.preflight(tmp_path)
    assert len(problems) == 1 and "uncommitted" in problems[0]

    # ledger-file changes are the tool's own output -> still clean
    spec_file.write_text("X = 1\n")
    (pkg / "sweep_fingerprints.json").write_text("{}")
    git("add", str(pkg / "sweep_fingerprints.json"))
    git("commit", "-qm", "bless")
    assert tool.preflight(tmp_path) == []

    # (b) a post-sweep commit touching the package -> refuse, even when
    # the working tree is clean (the mid-round laundering window)
    spec_file.write_text("X = 3\n")
    git("add", "-A")
    git("commit", "-qm", "edit a spec after the sweep")
    problems = tool.preflight(tmp_path)
    assert len(problems) == 1 and "commits after swept tree" in problems[0]

    # the swept sha is the artifact commit's parent
    artifact, swept = tool.swept_head(tmp_path)
    head = subprocess.run(
        ["git", "rev-parse", f"{artifact}^"], cwd=tmp_path,
        capture_output=True, text=True).stdout.strip()
    assert swept == head

    # (c) an UNCOMMITTED newest artifact is a refusal diagnostic, not a
    # crash (r10 review finding): there is no swept tree to bless from
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        _json.dumps({"q2": {"hash_match": True, "spark_rows": 1}}))
    problems = tool.preflight(tmp_path)
    assert problems and any("not committed" in p for p in problems)


def test_ledger_absent_exemption_deactivates_after_blessing(monkeypatch):
    """r9 ADVICE item 2 narrowing: the latest-artifact exemption for
    ledger-absent greens exists ONLY to bridge the gap between the
    driver sweep landing and the round-start blessing.  Once the
    ledger's max round equals the artifacts' max round (the blessing
    ran), an absent green name is a dropped or refused entry and must
    demote — it may not ride the exemption for the rest of the round.

    State-independent since r11 (r10 verdict "What's wrong" item 1 /
    ADVICE item 3): both the records AND the ledger are synthetic
    fixtures, so a freshly-landed driver artifact the blessing has not
    seen yet — the normal round-boundary window — cannot redden this
    test.  The README count pin that once forced the blessing is now
    `test_every_registered_name_has_a_green_latest_record`, which reads
    the artifacts only; running the blessing is the ROUND START step."""
    import datafusion_umami_spark.fingerprint as fpmod
    import datafusion_umami_spark.queries as qmod
    from datafusion_umami_spark.fingerprint import spec_fingerprint
    from datafusion_umami_spark.queries import _driver_history
    from datafusion_umami_spark.registry import REGISTRY

    names = [n for n, s in REGISTRY.items() if s.oracle is not None]
    victim, other = names[0], names[1]
    rec = {"hash_match": True, "rows_match": True, "schema_match": True,
           "spark_rows": 4, "oracle_rows": 4, "err": None}
    records = {victim: (rec, 7), other: (rec, 7)}
    monkeypatch.setattr(qmod, "_latest_records", lambda root: dict(records))
    blessed_other = {"fp": spec_fingerprint(REGISTRY[other]),
                     "round": 7, "sha": "f" * 40}

    # blessing landed (ledger max == artifact max), victim absent -> demote
    monkeypatch.setattr(fpmod, "load_ledger",
                        lambda path=None: {other: dict(blessed_other)})
    green, _ = _driver_history()
    assert victim not in green, "dropped entry rode the exemption"
    assert other in green, "blessed green demoted by the fixture"

    # blessing NOT yet landed (ledger max behind artifacts): the same
    # absent name from the latest artifact is exempt — fresh evidence
    monkeypatch.setattr(
        fpmod, "load_ledger",
        lambda path=None: {other: dict(blessed_other, round=6)})
    green, _ = _driver_history()
    assert victim in green, "pre-blessing fresh green must stay exempt"


def test_ledger_shas_match_git_provenance():
    """Every ledger entry's `sha` must BE the swept tree of its round —
    the parent of the commit that added that round's CORRECTNESS
    artifact (r9 verdict item 2).  Recomputes the round -> swept-sha
    map from git and requires an exact match, so a rewritten history,
    a hand-edited ledger, or a blessing from the wrong tree fails
    loudly."""
    import subprocess
    from pathlib import Path

    from datafusion_umami_spark.fingerprint import load_ledger

    root = Path(__file__).resolve().parents[1]

    def git(*args):
        return subprocess.run(
            ["git", *args], cwd=root, capture_output=True, text=True,
            check=True).stdout.strip()

    swept = {}
    for artifact in sorted(root.glob("CORRECTNESS_r*.json")):
        rnd = int("".join(c for c in artifact.stem if c.isdigit()))
        adds = git("log", "--diff-filter=A", "--format=%H", "--",
                   artifact.name).splitlines()
        if adds:
            # newest adding commit (r10 ADVICE item 2) — a re-added
            # artifact re-pins its round to the newest add's parent, so
            # ledger entries blessed from the first add fail HERE loudly
            swept[rnd] = git("rev-parse", f"{adds[0]}^")

    bad = [
        f"{n}: r{e['round']} sha {e['sha'][:10]} != swept "
        f"{swept.get(e['round'], 'missing')[:10]}"
        for n, e in load_ledger().items()
        if swept.get(e.get("round")) != e.get("sha")
    ]
    assert not bad, f"{len(bad)} provenance mismatches: {bad[:5]}"


def test_malformed_fp_routes_to_ledger_path(monkeypatch):
    """No `fp` field of a CORRECTNESS record decides a rank: the ledger
    alone proves the text.  Malformed, mismatching and matching fps all
    classify exactly like an fp-less record."""
    import datafusion_umami_spark.fingerprint as fpmod
    import datafusion_umami_spark.queries as qmod
    from datafusion_umami_spark.fingerprint import spec_fingerprint
    from datafusion_umami_spark.queries import _driver_history

    names = [n for n, s in REGISTRY.items() if s.oracle is not None]
    malformed, mismatched, old_absent = names[:3]
    rec = {"hash_match": True, "rows_match": True, "schema_match": True,
           "spark_rows": 1, "err": None}
    records = {
        malformed: (dict(rec, fp="THIS-IS-NOT-HEX"), 9),
        # well-formed, but not the current text's fingerprint
        mismatched: (dict(rec, fp="0" * 64), 9),
        # well-formed and matching, but an older round's ledger-absent row
        old_absent: (dict(rec, fp=spec_fingerprint(REGISTRY[old_absent])),
                     5),
    }
    monkeypatch.setattr(qmod, "_latest_records", lambda root: dict(records))
    # both entries at round 9 == the artifacts' max: the blessing landed
    monkeypatch.setattr(
        fpmod, "load_ledger",
        lambda path=None: {n: {"fp": spec_fingerprint(REGISTRY[n]),
                               "round": 9, "sha": "f" * 40}
                           for n in (malformed, mismatched)})
    green, _failed = _driver_history()
    assert malformed in green, "malformed fp must fall back to the ledger proof"
    assert mismatched in green, "a record's fp must not demote a ledgered green"
    assert old_absent not in green, (
        "a record's fp must not prove a ledger-absent green")


def test_blessing_tool_rejects_unknown_flags():
    """The tool takes `--dry-run` and `--force` only: a typo or a retired
    flag fails loudly instead of being ignored (no git needed)."""
    import pytest

    tool = _load_tool()
    for argv in (["--repair-provenance"], ["--froce"]):
        with pytest.raises(SystemExit) as e:
            tool.main(argv)
        assert e.value.code != 0, argv


def test_entry_spec_fingerprints_surface():
    """The driver hook `__spark_entry__.spec_fingerprints()` must cover
    every registered name with the exact fingerprint the ledger
    machinery computes (same function, same salt)."""
    import importlib.util
    from pathlib import Path

    from datafusion_umami_spark.fingerprint import spec_fingerprint
    from datafusion_umami_spark.registry import REGISTRY

    entry_path = Path(__file__).resolve().parents[1] / "__spark_entry__.py"
    spec = importlib.util.spec_from_file_location("__spark_entry__",
                                                  str(entry_path))
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    fps = m.spec_fingerprints()
    assert set(fps) == set(REGISTRY)
    for name in list(REGISTRY)[:5] + list(REGISTRY)[-5:]:
        assert fps[name] == spec_fingerprint(REGISTRY[name])


def _stand_in(fn, **attrs):
    """A different callable carrying `fn`'s docstring and SQL shape."""

    def stand_in(spark, sf_dir):  # pragma: no cover - never called
        raise AssertionError("fingerprinting must not run the spec")

    stand_in.__doc__ = fn.__doc__
    if hasattr(fn, "_sql_shape"):
        stand_in._sql_shape = fn._sql_shape
    for k, v in attrs.items():
        setattr(stand_in, k, v)
    return stand_in


def test_fingerprint_hashes_what_a_spec_means():
    """A SQL spec's fingerprint covers its SQL, oracle and shape (spread
    tables / stage views), not the registrar closure that runs it — so
    rewriting a registrar demotes nothing, while any change to what the
    spec means still does.  A DataFrame spec's shape is its source."""
    import dataclasses

    from datafusion_umami_spark.fingerprint import spec_fingerprint

    def fp(spec, **attrs):
        return spec_fingerprint(
            dataclasses.replace(spec, fn=_stand_in(spec.fn, **attrs)))

    plain, spread, split, frame = (
        REGISTRY[n] for n in
        ("proj_expressions", "tpch_q18", "tpch_q11", "tpch_q5"))
    assert plain.fn._sql_shape == ("sql", ())
    assert spread.fn._sql_shape == ("sql", ("lineitem",))
    assert split.fn._sql_shape == ("split", ("q11_g_m",))
    assert not hasattr(frame.fn, "_sql_shape")

    for spec in (plain, spread, split):
        # same docstring + shape, different callable: same fingerprint
        assert fp(spec) == spec_fingerprint(spec), spec.name
        # the SQL and the oracle are fingerprinted
        assert fp(spec, __doc__=spec.fn.__doc__ + " ") != fp(spec)
        assert spec_fingerprint(
            dataclasses.replace(spec, oracle=spec.oracle + " ")
        ) != spec_fingerprint(spec)
    # the spread set and the stage view names are fingerprinted
    assert fp(plain, _sql_shape=("sql", ("lineitem",))) != fp(plain)
    assert fp(spread, _sql_shape=("sql", ())) != fp(spread)
    assert fp(split, _sql_shape=("split", ("q11_g_x",))) != fp(split)
    # a DataFrame spec still follows its callable's source
    assert fp(frame) != spec_fingerprint(frame)
