"""The driver-sweep rotation contract (queries/__init__.py).

The driver proves ~50 queries per round in REGISTRY insertion order;
the reorder must therefore (a) put no already-proven query ahead of
unproven work, (b) keep every unproven name inside a contiguous prefix
a budget based at position 0 can reach, and (c) stay deterministic so
two imports agree.  The ranking rules are checked on literal inputs to
`sweep_ranks`; the live checks read the order the package builds from
the committed artifacts and ledger.  The fingerprints that decide
"proven" hash what a spec means — its SQL, oracle and shape — so the
tests at the end pin that too.
"""

from __future__ import annotations

import json

from datafusion_umami_spark.queries import (
    _driver_history,
    _latest_records,
    _passing,
    sweep_ranks,
)
from datafusion_umami_spark.registry import REGISTRY, _load_all

_load_all()

OK = {"rows_match": True, "schema_match": True, "hash_match": True,
      "spark_rows": 5, "oracle_rows": 5, "err": None}
BOOM = {"rows_match": None, "schema_match": None, "hash_match": None,
        "spark_rows": None, "oracle_rows": None, "err": "TypeError"}
ROWS_ONLY = {"rows_match": None, "schema_match": None, "hash_match": None,
             "spark_rows": 3, "oracle_rows": None, "err": "no_oracle"}


def _ranks(records, ledger=None, names=None, oracled=()):
    """`sweep_ranks` on literal inputs.  `records` maps name -> (record,
    round); `names` defaults to the record names in order; each name's
    current fingerprint is `fp:<name>`, and the default ledger blesses
    every record name with it at its record round."""
    if ledger is None:
        ledger = {n: {"fp": f"fp:{n}", "round": rnd}
                  for n, (_rec, rnd) in records.items()}
    return sweep_ranks(list(records) if names is None else names, records,
                       ledger, lambda n: f"fp:{n}", set(oracled))


def test_stale_no_oracle_record_does_not_prove_an_oracled_spec():
    """A spec that NOW carries an oracle must rank unproven when its
    latest driver record is a rows-only `no_oracle` pass from before the
    oracle existed — otherwise a rewritten oracle never earns a hash
    row."""
    _order, green, failed = _ranks(
        {"q_rows_only": (ROWS_ONLY, 1), "q_now_oracled": (ROWS_ONLY, 1)},
        oracled={"q_now_oracled"})
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


# Specs deliberately demoted: edited after their proof (a fix, or a perf
# rewrite with results proven unchanged) and re-queued to earn a fresh
# driver row on the new text.  Registration order.  Why each one was
# demoted is in the git history of this list.
SANCTIONED_DEMOTIONS = (
    "agg_high_cardinality", "subq_scalar_uncorrelated",
    "subq_scalar_correlated_projection", "subq_in_correlated_filter",
    "subq_lateral_topn", "subq_exists_correlated_agg", "filter_like_ilike",
    "sort_nulls_ordering", "distinct_on_first_line", "intersect_all",
    "except_distinct", "sort_multicol_large", "fn_datetime_make_parse",
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
    "ann_bruteforce_topk", "ann_bruteforce_vectorized", "ann_lsh_probe",
    "ann_ivf_grid", "ann_ivf_trained", "ann_recall_eval",
    "text_token_stats", "pipeline_c4_style_filter", "evt_rfm_segments",
    "cur_source_mixture_budget", "cur_quality_curriculum_buckets",
    "cur_token_budget_greedy", "graph_pagerank_purchases",
    "graph_triangle_count", "inc_rollup_merge",
    "ts_anomaly_zscore_minutes", "ts_rolling_median_weekly", "tpch_q1",
    "tpch_q11", "tpch_q18", "tpch_q20", "tpch_q21", "tpch_q22",
    "join_left_anti", "join_right_semi", "join_in_or_subquery",
    "join_salted_skew", "window_first_last_nth", "window_running_sum_rows",
    "job_notnull_or_like_fence", "job_five_alias_fact_clique",
    "tpcds_intersect_driven_sales", "tpcds_twice_joined_wide_star",
    "tpcds_or_local_or_subquery", "tpcds_volatile_items_cross_month",
    "cb_ext_q4_median_rank", "cb_ext_q5_p95_approx",
    "job_keyword_in8_triple_clique", "job_double_link_two_hops",
    "tpcds_except_chain_count", "tpcds_yearly_decline_union",
    "job_t6_four_bridge_clique", "tpcds_t8_zip_prefix_dense",
    "tpcds_t8_qty_demand_offset_join", "tpcds_t8_ship_exists_notexists",
)


def test_legacy_backlog_is_exhausted():
    """Every unproven name is a sanctioned demotion: the never-swept
    backlog is exhausted, so any other demotion, or a regrown backlog,
    fails CI until it is sanctioned by name above."""
    green, _failed = _driver_history()
    unsanctioned = [n for n in REGISTRY
                    if n not in green and n not in SANCTIONED_DEMOTIONS]
    assert not unsanctioned, (
        f"unsanctioned demotions or unproven backlog: {unsanctioned[:8]}")


def test_unproven_names_keep_registration_order():
    """Latest-record failures lead; unproven names follow in
    registration order, whatever made them unproven (never swept, edited
    after proof, absent from a caught-up ledger); greens come last, by
    ascending record round."""
    names = ["q_green_new", "q_edited", "q_never_b", "q_green_old",
             "q_failed", "q_dropped", "q_never_a"]
    records = {"q_green_new": (OK, 5), "q_edited": (OK, 4),
               "q_green_old": (OK, 2), "q_failed": (BOOM, 5),
               "q_dropped": (OK, 3)}
    ledger = {"q_green_new": {"fp": "fp:q_green_new", "round": 5},
              "q_edited": {"fp": "proved-fp", "round": 4},
              "q_green_old": {"fp": "fp:q_green_old", "round": 2}}
    order, green, failed = _ranks(records, ledger, names)
    assert order == ["q_failed", "q_edited", "q_never_b", "q_dropped",
                     "q_never_a", "q_green_old", "q_green_new"]
    assert green == {"q_green_old", "q_green_new"}
    assert failed == {"q_failed"}


def test_latest_record_wins(tmp_path):
    """A regression after an earlier pass must re-enter the failed set
    (and a later fix must clear it)."""
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_regressed": OK, "q_fixed": BOOM, "q_stable": OK,
                    "q_rowsonly": ROWS_ONLY})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_regressed": BOOM, "q_fixed": OK})
    )
    records = _latest_records(tmp_path)
    assert {n: rnd for n, (_rec, rnd) in records.items()} == {
        "q_regressed": 2, "q_fixed": 2, "q_stable": 1, "q_rowsonly": 1}
    _order, green, failed = _ranks(records)
    assert green == {"q_fixed", "q_stable", "q_rowsonly"}
    assert failed == {"q_regressed"}


def test_edited_spec_is_demoted_and_requeued():
    """A driver-green spec whose CURRENT fingerprint no longer matches
    its ledger entry classifies unproven and re-queues ahead of proven
    greens; a matching entry keeps its spec green."""
    records = {"q_proven": (OK, 2), "q_edited": (OK, 2)}
    ledger = {"q_proven": {"fp": "fp:q_proven", "round": 2},
              "q_edited": {"fp": "tampered", "round": 2}}
    order, green, _failed = _ranks(records, ledger)
    assert green == {"q_proven"}
    assert order == ["q_edited", "q_proven"]


def test_r11_reproofs_landed_and_queue_front_finishes_the_provedown():
    """The r11-swept witnesses stay proven (blessed at round 11 or by a
    later driver row), and the queue front is exactly the sanctioned
    demotions that are still unproven, in registration order."""
    from datafusion_umami_spark.fingerprint import load_ledger

    green, _failed = _driver_history()
    ledger = load_ledger()
    for name in ("cb_q32_watch_client_unfenced",
                 "tpcds_t7_multi_year_profile_stack",
                 "job_t7_conj_same_column_likes"):
        assert name in green, f"r11-swept {name} must classify green"
        assert ledger[name]["round"] >= 11, f"{name} not blessed at r11+"
    for name in ("job_t6_four_bridge_clique",
                 "tpcds_t8_qty_demand_offset_join"):
        assert ledger[name]["round"] >= 11, f"{name} not blessed at r11+"
    still_unproven = [n for n in SANCTIONED_DEMOTIONS if n not in green]
    front = list(REGISTRY)[: len(still_unproven)]
    assert front == still_unproven, (
        f"queue front must be the unproven sanctioned demotions: "
        f"{front[:5]} != {still_unproven[:5]}")


def test_green_tail_rotates_oldest_evidence_first():
    """Freshness rotation: behind the unproven prefix, proven greens
    queue by ASCENDING round of their latest driver record, so the
    driver's slack sweep budget always lands on the rows whose evidence
    is oldest.  Once nothing is unproven, position 0 holds the green
    with the OLDEST driver evidence.  Age is the RECORD round: every
    green name has a record by construction."""
    from pathlib import Path

    green, _failed = _driver_history()
    records = _latest_records(Path(__file__).resolve().parents[1])
    names = list(REGISTRY)
    tail = [n for n in names if n in green]
    if not tail:
        return  # bootstrap state: nothing proven yet, nothing to rotate
    # greens occupy exactly the suffix (contiguous-prefix test pins the
    # complement); their evidence rounds must be non-decreasing
    rounds = [records[n][1] for n in tail]
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
    tool = _load_tool()
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_old_green": OK, "q_rebless": OK}))
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_fresh_green": OK, "q_rebless": OK}))

    greens, max_round = _passing(_latest_records(tmp_path), oracled=set())
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


def test_ledger_absent_exemption_deactivates_after_blessing():
    """The exemption for ledger-absent greens only bridges the gap
    between a driver sweep landing and the round-start blessing.  While
    the ledger's max round is behind the newest record round, an absent
    name whose row comes from that newest round stays green (fresh
    evidence); once the ledger catches up, an absent green is a dropped
    or refused entry and demotes."""
    records = {"q_victim": (OK, 7), "q_other": (OK, 7), "q_old": (OK, 6)}
    blessed = {"q_other": {"fp": "fp:q_other", "round": 7}}
    _order, green, _failed = _ranks(records, blessed)
    assert green == {"q_other"}, "dropped entry rode the exemption"
    behind = {"q_other": {"fp": "fp:q_other", "round": 6}}
    _order, green, _failed = _ranks(records, behind)
    # q_old's row is not from the newest round: no exemption
    assert green == {"q_other", "q_victim"}, (
        "pre-blessing fresh green must stay exempt")


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


def test_malformed_fp_routes_to_ledger_path():
    """No `fp` field of a CORRECTNESS record decides a rank: the ledger
    alone proves the text.  Malformed, mismatching and matching fps all
    classify exactly like an fp-less record."""
    records = {
        "q_malformed": (dict(OK, fp="THIS-IS-NOT-HEX"), 9),
        # well-formed, but not the current text's fingerprint
        "q_mismatched": (dict(OK, fp="0" * 64), 9),
        # matching the current text, but an older round's ledger-absent row
        "q_old_absent": (dict(OK, fp="fp:q_old_absent"), 5),
    }
    # both entries at round 9 == the newest record round: blessing landed
    ledger = {n: {"fp": f"fp:{n}", "round": 9}
              for n in ("q_malformed", "q_mismatched")}
    _order, green, _failed = _ranks(records, ledger)
    assert green == {"q_malformed", "q_mismatched"}, (
        "a record's fp must neither demote a ledgered green nor prove a "
        "ledger-absent one")


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
