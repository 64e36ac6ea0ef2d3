"""The registry's presentation order is what the driver's first-N
correctness sweep consumes, so it is behavior, not cosmetics: stale-red
queries (latest driver row is an error) must come first, never-checked
queries next, and the proven block last — rotated per round so re-checks
cycle through it instead of re-proving the same head forever."""

from __future__ import annotations

import json

from kafka_go_cardinality_spark import driver_evidence
from kafka_go_cardinality_spark.queries import ORACLE_SQL, QUERIES


def test_stale_red_queries_lead_the_registry():
    stale = driver_evidence.stale_red_names()
    names = list(QUERIES)
    assert set(names[: len(stale)]) == stale


def test_never_checked_precede_proven():
    proven = driver_evidence.proven_names()
    stale = driver_evidence.stale_red_names()
    names = list(QUERIES)
    first_proven = min(
        (i for i, n in enumerate(names) if n in proven), default=len(names)
    )
    for i, n in enumerate(names):
        if n not in proven and n not in stale:
            assert i < first_proven, f"never-checked {n} sorted after proven block"


def test_proven_block_is_oldest_evidence_first():
    """The proven block must present oldest-evidence-first so each
    driver sweep re-proves the most stale green rows (r6 verdict item
    4), with rows-only queries aged forward by the staleness penalty so
    hash-capable queries get the sweep slots (r7 verdict item 4), and
    queries whose defining module changed since the last round-close
    commit aged BACK by the churn boost (r9 verdict item 6): ascending
    EFFECTIVE age across the block, recomputed here from the same
    primitives the registry uses.  Rows-only queries the head budget
    deferred leave that order on purpose: they sit together at the
    slots right after the sweep head, still oldest-first among
    themselves."""
    from kafka_go_cardinality_spark.queries import (
        CHURN_BOOST,
        ORACLE_SQL,
        ROWS_ONLY_STALENESS_PENALTY,
        SWEEP_HEAD,
        _CHURNED,
        _HEAD_DEFERRED,
        _age_capped,
    )

    age = driver_evidence.evidence_age()
    proven = driver_evidence.proven_names()
    pending = driver_evidence.rows_only_green_names() & set(ORACLE_SQL)

    def effective(n):
        return (
            age[n]
            + (0 if n in ORACLE_SQL else ROWS_ONLY_STALENESS_PENALTY)
            - (CHURN_BOOST if n in _CHURNED else 0)
        )

    ages = [
        effective(n)
        for n in QUERIES
        if n in proven and n in age and n not in pending
        and not _age_capped(n)  # capped queries jump the penalty order
        and n not in _HEAD_DEFERRED  # moved out of the head by the budget
    ]
    assert ages == sorted(ages)
    names = list(QUERIES)
    deferred = [n for n in names if n in _HEAD_DEFERRED]
    assert [names.index(n) for n in deferred] == list(
        range(SWEEP_HEAD, SWEEP_HEAD + len(deferred))
    )
    deferred_ages = [effective(n) for n in deferred]
    assert deferred_ages == sorted(deferred_ages)


def test_age_cap_overrides_penalties():
    """R10 verdict item 3, r12-close composition: any proven query
    whose latest driver evidence is EVIDENCE_AGE_CAP (5) or more
    rounds old must lead the proven block regardless of churn boosts
    to competitors — the cap exists to stop COMPOUNDING deferral
    (q_sample_stratified sat five straight rounds behind stacked
    churn boosts at the r10 close).  ROWS-ONLY queries cap
    ROWS_ONLY_STALENESS_PENALTY rounds later: the penalty is a fixed,
    bounded deferral the cap was never meant to erase, and erasing it
    let nine r07 approx grains cap simultaneously at the r12 close and
    claim 9/50 sweep-head slots for rows-only checks (the r7 verdict's
    >= 44-hash-capable bar).  Pins: (a) the cap predicate is raw age
    vs EVIDENCE_AGE_CAP + (rows-only ? penalty : 0); (b) every capped
    proven query sorts before every uncapped one inside the proven
    block; (c) with the shipped artifacts, an oracled proven query at
    cap age is inside the 50-slot sweep head."""
    from kafka_go_cardinality_spark.queries import (
        EVIDENCE_AGE_CAP,
        ROWS_ONLY_STALENESS_PENALTY,
        _age_capped,
    )

    age = driver_evidence.evidence_age()
    rounds = driver_evidence.round_index()
    proven = driver_evidence.proven_names()
    pending = driver_evidence.rows_only_green_names() & set(ORACLE_SQL)
    for n in proven:
        if n in age:
            cap = EVIDENCE_AGE_CAP + (
                0 if n in ORACLE_SQL else ROWS_ONLY_STALENESS_PENALTY
            )
            assert _age_capped(n) == (rounds - 1 - age[n] >= cap), n
    names = list(QUERIES)
    block = [n for n in names if n in proven and n not in pending]
    capped = [n for n in block if _age_capped(n)]
    if capped:
        last_capped = max(names.index(n) for n in capped)
        first_uncapped = min(
            (names.index(n) for n in block if not _age_capped(n)),
            default=len(names),
        )
        assert last_capped < first_uncapped
    # q_sample_stratified is rows-only, so its cap includes the penalty.
    if "q_sample_stratified" in proven and rounds - 1 - age.get(
        "q_sample_stratified", rounds
    ) >= EVIDENCE_AGE_CAP + ROWS_ONLY_STALENESS_PENALTY:
        assert names.index("q_sample_stratified") < 50


def test_churned_queries_outrank_equal_age_unchurned():
    """Code churn must act as an age rebate within the proven block: a
    churned query sorts with queries CHURN_BOOST rounds staler than
    itself, so a module rewrite pulls its queries back into the sweep
    head instead of waiting out the full rotation.  Skipped-by-vacuity
    when the working tree matches the last round-close commit (churn
    signal empty — pure age rotation, covered above)."""
    from kafka_go_cardinality_spark.queries import (
        CHURN_BOOST,
        ORACLE_SQL,
        ROWS_ONLY_STALENESS_PENALTY,
        _CHURNED,
        _effective_age,
    )

    if not _CHURNED:
        return
    age = driver_evidence.evidence_age()
    proven = driver_evidence.proven_names()
    for n in _CHURNED:
        if n in proven and n in age:
            unchurned = age[n] + (
                0 if n in ORACLE_SQL else ROWS_ONLY_STALENESS_PENALTY
            )
            assert _effective_age(n) == unchurned - CHURN_BOOST


def test_churn_signal_maps_modules_to_queries():
    """changed_files() is repo-relative git paths; _churned_names()
    must map a changed query module to exactly its own queries.  Uses
    the live signal when present; always checks the never-crash
    contract (empty set on any git failure is the documented
    degradation)."""
    import inspect
    import os

    from kafka_go_cardinality_spark.queries import QUERIES as Q, _CHURNED

    changed = {
        p
        for p in driver_evidence.changed_files()
        if p.endswith(".py") and not p.startswith("tests/")
    }
    root = os.path.dirname(os.path.dirname(os.path.abspath(
        driver_evidence.__file__)))
    for n in _CHURNED:
        src = inspect.getsourcefile(inspect.unwrap(Q[n]))
        assert os.path.relpath(src, root) in changed, n


def test_hash_pending_lead_the_proven_block():
    """R8 verdict item 1: a query whose latest driver row is a green
    rows-only check but which NOW registers an oracle has never been
    value-hashed by the driver's independent gate — it must outrank
    every merely-stale proven query, landing in the sweep head so the
    next CORRECTNESS round produces its first hash row."""
    proven = driver_evidence.proven_names()
    pending = driver_evidence.rows_only_green_names() & set(ORACLE_SQL)
    names = list(QUERIES)
    if not pending:
        return  # steady state: every oracled query has hash evidence
    last_pending = max(i for i, n in enumerate(names) if n in pending)
    for i, n in enumerate(names):
        if n in proven and n not in pending:
            assert i > last_pending, (
                f"settled-proven {n} sorted before hash-pending block"
            )
    # and the pending block must actually fit in the driver's 50-slot
    # sweep head, else the reorder bought nothing
    assert last_pending < 50


def test_r8_flipped_queries_are_hash_pending():
    """The six queries that gained oracles in r8 after their last
    driver visit (the concrete instance behind the tier) must classify
    as hash-pending until a CORRECTNESS round hashes them; once r09
    evidence lands this set naturally empties and the test still holds
    (subset check against whatever is STILL pending)."""
    flipped = {
        "q_kmeans",
        "q_sim_ann_pq",
        "q_sim_knn_ivf",
        "q_text_bpe_merges",
        "q_text_bpe_encode",
        "q_seq_pack_bpe",
    }
    pending = driver_evidence.rows_only_green_names() & set(ORACLE_SQL)
    rows = driver_evidence.latest_rows()
    for n in flipped:
        assert n in ORACLE_SQL, f"{n} lost its oracle"
        if rows.get(n, {}).get("err") == "no_oracle":
            assert n in pending
            assert list(QUERIES).index(n) < 50, f"{n} outside sweep head"


def test_sweep_head_is_mostly_hash_capable():
    """The driver's 50-slot sweep must spend its slots on queries that
    can produce hash evidence: with the rows-only penalty in place, the
    current artifacts put at most a handful of rows-only queries in the
    head (r07 spent 12 slots on them; the r7 verdict's bar is ≥44
    oracled of 50)."""
    from kafka_go_cardinality_spark.queries import ORACLE_SQL

    head = list(QUERIES)[:50]
    oracled = sum(1 for n in head if n in ORACLE_SQL)
    assert oracled >= 44, f"only {oracled}/50 head slots are hash-capable"


def test_head_budget_defers_surplus_rows_only_queries():
    """The head budget pass on a synthetic order (no artifacts, no git):
    27 oracled queries, then nine tied rows-only ones, then oracled.
    At most ROWS_ONLY_HEAD_BUDGET rows-only queries stay in the first
    SWEEP_HEAD slots; the surplus moves, in order, to slot SWEEP_HEAD;
    a stale-red and an age-capped rows-only query keep their places and
    count against the budget.  Unproven (stale-red or never-checked) and
    age-capped queries never move, even past the budget."""
    from kafka_go_cardinality_spark.queries import (
        ROWS_ONLY_HEAD_BUDGET,
        SWEEP_HEAD,
        _bound_rows_only_head,
    )

    tied = [f"r_tied_{i}" for i in range(9)]
    names = (
        ["r_red", "r_capped"]
        + [f"o_{i:03d}" for i in range(27)]
        + tied
        + [f"o_{i:03d}" for i in range(27, 80)]
    )
    stale_red = {"r_red"}
    proven = set(names) - stale_red

    def oracled(n):
        return n.startswith("o_")

    order, deferred = _bound_rows_only_head(
        names,
        oracled=oracled,
        proven=proven.__contains__,
        capped={"r_capped"}.__contains__,
    )

    assert sorted(order) == sorted(names)
    head = order[:SWEEP_HEAD]
    assert sum(1 for n in head if not oracled(n)) <= ROWS_ONLY_HEAD_BUDGET
    assert order[:2] == ["r_red", "r_capped"]
    kept = ROWS_ONLY_HEAD_BUDGET - 2
    assert [order.index(n) for n in tied[:kept]] == list(range(29, 29 + kept))
    assert deferred == tied[kept:]
    assert order[SWEEP_HEAD : SWEEP_HEAD + len(deferred)] == deferred
    assert [n for n in order if oracled(n)] == [n for n in names if oracled(n)]

    pinned_tied = _bound_rows_only_head(
        names,
        oracled=oracled,
        proven=proven.__contains__,
        capped=set(tied).__contains__,
    )
    assert pinned_tied == (names, [])
    nothing = frozenset().__contains__
    unproven = _bound_rows_only_head(
        names, oracled=oracled, proven=nothing, capped=nothing
    )
    assert unproven == (names, [])


def test_is_green_semantics():
    assert driver_evidence.is_green({"err": None, "hash_match": True})
    assert not driver_evidence.is_green({"err": None, "hash_match": False})
    assert not driver_evidence.is_green({"err": "boom", "hash_match": None})
    # rows-only queries: green iff the Spark side actually returned rows
    assert driver_evidence.is_green({"err": "no_oracle", "spark_rows": 5})
    assert not driver_evidence.is_green({"err": "no_oracle", "spark_rows": None})


def test_round_index_counts_only_parsed_files(tmp_path):
    good = {"q_x": {"err": None, "hash_match": True}}
    (tmp_path / "CORRECTNESS_r01.json").write_text(json.dumps(good))
    (tmp_path / "CORRECTNESS_r02.json").write_text("{not json")
    root = str(tmp_path)
    assert driver_evidence.round_index(root) == 1
    assert driver_evidence.proven_names(root) == frozenset({"q_x"})


def test_latest_row_wins(tmp_path):
    (tmp_path / "CORRECTNESS_r01.json").write_text(
        json.dumps({"q_x": {"err": "loader crash"}})
    )
    (tmp_path / "CORRECTNESS_r02.json").write_text(
        json.dumps({"q_x": {"err": None, "hash_match": True}})
    )
    root = str(tmp_path)
    assert driver_evidence.proven_names(root) == frozenset({"q_x"})
    assert driver_evidence.stale_red_names(root) == frozenset()


def test_changed_files_includes_untracked(tmp_path):
    """r11 ADVICE: `git diff --name-only <base>` never lists untracked
    files, so a brand-new not-yet-added module was invisible to the
    churn boost despite being the freshest rewrite.  changed_files()
    must union in `git ls-files --others --exclude-standard`."""
    import subprocess

    root = str(tmp_path)

    def git(*args):
        subprocess.run(
            ["git", "-C", root, *args], check=True, capture_output=True
        )

    git("init", "-q")
    git("config", "user.email", "t@t")
    git("config", "user.name", "t")
    (tmp_path / "a.py").write_text("x = 1\n")
    git("add", "a.py")
    git("commit", "-qm", "round 1: verdict/advice")
    (tmp_path / "a.py").write_text("x = 2\n")          # tracked, modified
    (tmp_path / "brand_new.py").write_text("y = 1\n")  # untracked
    driver_evidence.changed_files.cache_clear()
    try:
        changed = driver_evidence.changed_files(root)
        assert "a.py" in changed
        assert "brand_new.py" in changed
    finally:
        driver_evidence.changed_files.cache_clear()
