"""README's status paragraph carries the load-bearing inventory numbers
auditors read; hand-edited counts drifted twice (rounds 2 and 3).  Pin
them mechanically to the registry import count so any new registration
without a README bump fails CI.
"""

from __future__ import annotations

import re
from pathlib import Path

from datafusion_umami_spark.registry import REGISTRY, _load_all

_load_all()

README = Path(__file__).resolve().parents[1] / "README.md"


def test_readme_status_counts_match_registry():
    text = README.read_text()
    m = re.search(
        r"Status: (\d+) registered queries \((\d+) oracle-checked, (\d+)\s*\nrows-only",
        text,
    )
    assert m, "README status paragraph not found / format changed"
    total, oracle, rows_only = map(int, m.groups())
    real_total = len(REGISTRY)
    real_oracle = sum(1 for s in REGISTRY.values() if s.oracle)
    assert (total, oracle, rows_only) == (
        real_total,
        real_oracle,
        real_total - real_oracle,
    ), (
        f"README says {total}/{oracle}/{rows_only}, registry has "
        f"{real_total}/{real_oracle}/{real_total - real_oracle} — "
        "update the README status paragraph"
    )


def test_clickbench_main_mapping_is_dedicated_1_to_1():
    """README claims 43/43 ClickBench main files each map to a DEDICATED
    registry entry (round-8 closure).  Parse the mapping comment in
    queries/clickbench.py and require: every canonical file q0-q42
    appears exactly once as a mapping source, every mapped name is
    registered, and no name is the dedicated entry for two files —
    which is what '1:1' means and what this test keeps true."""
    import re

    src = (
        Path(__file__).resolve().parents[1]
        / "datafusion_umami_spark"
        / "queries"
        / "clickbench.py"
    ).read_text()
    block = src.split("Full mapping of the 43 canonical")[1].split('"""')[0]
    # strip the leading '#' comment gutters, then parse qN→name pairs
    text = re.sub(r"^#\s?", "", block, flags=re.M)
    pairs = re.findall(r"q(\d+)→(\w+)", text) or re.findall(
        r"q(\d+)->(\w+)", text
    )
    mapping = {}
    for num, name in pairs:
        n = int(num)
        assert n not in mapping, f"q{n} mapped twice in the comment"
        mapping[n] = name
    assert sorted(mapping) == list(range(43)), (
        f"mapping covers {len(mapping)} files, missing "
        f"{sorted(set(range(43)) - set(mapping))}"
    )
    unregistered = [v for v in mapping.values() if v not in REGISTRY]
    assert not unregistered, f"mapped names not registered: {unregistered}"
    from collections import Counter

    dupes = [k for k, c in Counter(mapping.values()).items() if c > 1]
    assert not dupes, f"shape is the dedicated entry for two files: {dupes}"


def test_job_mapping_covers_all_113_files():
    """README/SURVEY claim the JOB corpus is fully shaped.  Parse the
    mapping block in queries/job_shapes.py and require: every reference
    file (benchmarks/queries/imdb/*.sql, 113 of them, families 1..33)
    appears exactly once, and every mapped name is a registered
    'job'-tagged query.  Many-to-one is allowed by design (letters
    within a family differ by constants/fence tightness); this test
    keeps the table total and the names real."""
    import re

    src = (
        Path(__file__).resolve().parents[1]
        / "datafusion_umami_spark"
        / "queries"
        / "job_shapes.py"
    ).read_text()
    block = src.split("Full mapping of the 113 JOB files")[1]
    pairs = re.findall(r"(\d{1,2}[a-f])→(\w+)", block)
    files = [p[0] for p in pairs]
    assert len(files) == 113, f"mapping lists {len(files)} files, want 113"
    assert len(set(files)) == 113, "a file is mapped twice"

    ref = Path("/root/reference/benchmarks/queries/imdb")
    if ref.is_dir():  # belt-and-braces when the reference is mounted
        expected = {p.stem for p in ref.glob("*.sql")}
        assert set(files) == expected, (
            f"mapping/files diverge: {set(files) ^ expected}"
        )

    for f, name in pairs:
        spec = REGISTRY.get(name)
        assert spec is not None, f"{f} maps to unregistered {name!r}"
        assert "job" in spec.tags, f"{f} maps to non-job entry {name!r}"


def test_tpcds_mapping_covers_all_99_queries():
    """Parse the mapping block in queries/tpcds_shapes.py and require:
    every planning-corpus number 1..99 appears exactly once, and every
    mapped name is a registered 'tpcds'-tagged query.  Many-to-one is
    allowed by design (the corpus repeats templates across channels)."""
    import re

    src = (
        Path(__file__).resolve().parents[1]
        / "datafusion_umami_spark"
        / "queries"
        / "tpcds_shapes.py"
    ).read_text()
    block = src.split("Full mapping of the 99 TPC-DS")[1]
    pairs = re.findall(r"q(\d{1,2})→(\w+)", block)
    nums = [int(p[0]) for p in pairs]
    assert len(nums) == 99 and set(nums) == set(range(1, 100)), (
        f"mapping lists {len(nums)} queries / range mismatch"
    )
    for n, name in pairs:
        spec = REGISTRY.get(name)
        assert spec is not None, f"q{n} maps to unregistered {name!r}"
        assert "tpcds" in spec.tags, f"q{n} maps to non-tpcds entry {name!r}"


def test_every_registered_name_has_a_green_latest_record():
    """The correctness evidence, read from the CORRECTNESS_r*.json
    artifacts with the same record-walk the sweep classifier uses (raw
    artifact classification — ledger demotions are a separate, stricter
    notion): no latest record is a failure, and every registered name
    has a green latest record.  Checked on the data, not on a round
    number in prose, so a newly landed artifact cannot turn it red."""
    from datafusion_umami_spark.queries import _latest_records, _passing

    root = README.parent
    assert sorted(root.glob("CORRECTNESS_r*.json")), "no CORRECTNESS artifacts"
    oracled = {n for n, s in REGISTRY.items() if s.oracle is not None}
    records = _latest_records(root)
    passing, _newest = _passing(records, oracled)
    failed = set(records) - set(passing)
    assert not failed, f"latest-record failures exist: {sorted(failed)[:5]}"
    missing = sorted(set(REGISTRY) - set(passing))
    assert not missing, (
        f"{len(missing)} registered names lack a green latest record: "
        f"{missing[:5]}"
    )


def test_bench_charter_covers_the_bench_set():
    """r9 verdict item 6: every bench slot must be justified by a
    distinct plan property in BASELINE.md's charter table, and the
    charter must not list retired names — the two sets match exactly."""
    baseline = README.parent / "BASELINE.md"
    text = baseline.read_text()
    start = text.index("## Bench-set charter")
    charter = {
        m.group(1)
        for m in re.finditer(r"^\| (\w+) \|", text[start:], re.M)
        if m.group(1) != "Query"
    }
    bench = {n for n, s in REGISTRY.items() if getattr(s, "bench", False)}
    assert charter == bench, (
        f"charter missing: {sorted(bench - charter)}; "
        f"stale charter rows: {sorted(charter - bench)}"
    )


def test_evidence_table_matches_ledger():
    """r10 verdict item 6: EVIDENCE.md (the per-query proving-round +
    swept-sha table) is generated from the fingerprint ledger and must
    match a fresh regeneration byte-for-byte — a ledger blessing, a
    demotion, or a registration that is not reflected in the committed
    table fails here."""
    import importlib.util

    gen_path = README.parent / "tools" / "gen_evidence_table.py"
    spec = importlib.util.spec_from_file_location("gen_evidence_table",
                                                  str(gen_path))
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    committed = (README.parent / "EVIDENCE.md").read_text()
    assert committed == gen.render(), (
        "EVIDENCE.md is stale — regenerate with "
        "python tools/gen_evidence_table.py"
    )
