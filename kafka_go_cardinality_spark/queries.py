"""The declared query surface: name → (spark, sf_dir) → DataFrame, plus the
DuckDB oracle SQL for every exact-semantics query.

This is the registry behind ``__spark_entry__.queries()`` /
``oracle_sql()``.  Conventions:

- every computed column is aliased identically in the Spark query and the
  oracle SQL (the driver sorts columns by name before value-hashing);
- approximate queries register NO oracle (rows-only check) — estimator
  values can never hash-match across engines (SURVEY.md §7.3);
- double-typed aggregates are rounded the same way on both sides so
  summation-order ulps can't flip the hash.
"""

from __future__ import annotations

from collections.abc import Callable

import functools

from pyspark.sql import DataFrame, SparkSession

from kafka_go_cardinality_spark.caching import release_tracked

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLE_SQL: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query; ``oracle=None`` marks it rows-only (approx ops).

    Entry to any query releases the PREVIOUS query's tracked caches
    (see caching.py) so persisted intermediates never accumulate across
    a multi-query sweep."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        @functools.wraps(fn)
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            release_tracked()
            return fn(spark, sf_dir)

        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLE_SQL[name] = oracle
        return wrapped

    return deco


# Import the family modules for their registration side effects.  Order
# mirrors SURVEY.md §7.1's build order.
from kafka_go_cardinality_spark import queries_cardinality  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_relational  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_datapipe  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_analytics  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_streaming  # noqa: E402,F401
from kafka_go_cardinality_spark import queries_udf  # noqa: E402,F401


# ---------------------------------------------------------------------------
# Registry presentation order.
#
# The driver's correctness sweep checks the first N registry entries per
# round, so insertion order decides which queries accumulate driver-side
# evidence.  The ordering is computed from the CORRECTNESS_r*.json
# artifacts via driver_evidence (latest row per query wins):
#
#   rank -1  STALE-RED: driver checked it, latest row is an error — these
#            go first until a green row lands;
#   rank 0+  never driver-checked, front-loaded by family (similarity and
#            multimodal first — zero driver evidence as of round 4 — then
#            streaming, analytics, and everything else);
#   rank 60  HASH-PENDING: latest driver row is a green rows-only check
#            but the query NOW registers an oracle — it gained one after
#            its last driver visit, so the driver's independent gate has
#            never value-hashed it (r8 verdict item 1).  Ahead of the
#            whole proven block regardless of age: a first-ever hash row
#            outranks any refresh;
#   rank 99  PROVEN: latest driver row green.  Parked at the back,
#            ordered by evidence AGE (round of the latest row, oldest
#            first): each round's sweep re-proves the queries whose
#            green rows are most stale — the r2-era relational core
#            rows before anything re-checked in r5/r6.  Refreshing the
#            head makes those rows the newest, so the order is a
#            self-rotating queue over successive rounds.
#
# HEAD BUDGET: after the rank sort, one pass caps the rows-only queries
# in the first SWEEP_HEAD slots at ROWS_ONLY_HEAD_BUDGET.  Further
# proven, uncapped rows-only queries that would land in the head move,
# in order, to just after it (_HEAD_DEFERRED); stale-red, never-checked,
# hash-pending and age-capped queries keep their places.  The deferred
# queries are still the stalest, so the next sweeps admit them at most
# ROWS_ONLY_HEAD_BUDGET per round.
# ---------------------------------------------------------------------------

from kafka_go_cardinality_spark import driver_evidence  # noqa: E402

_PROVEN: frozenset[str] = driver_evidence.proven_names()
_STALE_RED: frozenset[str] = driver_evidence.stale_red_names()

_FAMILY_ORDER = (
    "q_sim_", "q_mm_", "q_stream_", "q_agg_", "q_window_", "q_join_",
    "q_sample_", "q_shuffle_", "q_split_", "q_mix_", "q_merge_", "q_scd2_", "q_ts_",
    "q_anomaly_", "q_dedup_", "q_text_", "q_tpch_",
)


# Order the proven block oldest-evidence-first (see driver_evidence.
# evidence_age): the driver's first-N sweep then re-proves the most
# stale green rows each round, and refreshing them rotates the queue.
#
# ORACLE-AWARE (r7 verdict item 4): a rows-only query can never produce
# hash evidence, so each of its sweep slots buys strictly less than an
# oracled query's would (r07 spent 12 of 50 slots on approx grains).
# Rows-only queries therefore carry an age penalty — they re-check only
# once their run-clean evidence is ROWS_ONLY_STALENESS_PENALTY rounds
# staler than competing oracled queries' hash evidence, rather than
# never (a hard oracled-first split would park them forever behind the
# ~4-round oracled rotation) or in equal turn (wasting hash slots).
ROWS_ONLY_STALENESS_PENALTY = 2

# CHURN-AWARE (r9 verdict item 6): a green row from round N-k proves
# nothing about code rewritten since, so queries whose DEFINING MODULE
# changed since the last round-close commit are aged back by
# CHURN_BOOST rounds.  Deliberately small — a refinement of the age
# rotation, not an override: a whole-module touch must not flood the
# 50-slot sweep head with freshly-checked queries and starve the
# genuinely oldest evidence.  Symmetric with the rows-only penalty, so
# a churned rows-only query re-enters on equal age terms with untouched
# oracled ones (its code changed; even a rows-only run re-proves it
# still executes).  Module granularity is the honest approximation:
# operator-module changes usually co-occur with their query module's
# (true for every round so far), and a finer import-graph walk would
# pin churn to code that often cannot affect results.
CHURN_BOOST = 2

# AGE CAP (r10 verdict item 3): the rows-only penalty and the churn
# boost are REFINEMENTS of the age rotation, but refinements can
# compound — q_sample_stratified's rows-only penalty plus churn boosts
# to competing queries deferred it five straight rounds, past the
# rotation's own "re-verifies within ~5 rounds" guarantee.  Hard rule,
# applied before any penalty arithmetic: a proven query whose latest
# driver evidence is EVIDENCE_AGE_CAP or more rounds old jumps to the
# head of the proven block (capped queries order among themselves by
# raw age then name).  Self-clearing: the jump puts it in the sweep
# head, the sweep refreshes its row, and the cap disengages.
EVIDENCE_AGE_CAP = 5

_AGE: dict[str, int] = driver_evidence.evidence_age()
_ROUNDS: int = driver_evidence.round_index()


def _churned_names() -> frozenset[str]:
    """Queries whose defining module file changed since the last driver
    round-close commit (empty when the git signal is unavailable)."""
    import inspect
    import os

    changed = {
        p
        for p in driver_evidence.changed_files()
        if p.endswith(".py") and not p.startswith("tests/")
    }
    if not changed:
        return frozenset()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = set()
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsourcefile(inspect.unwrap(fn))
        except TypeError:
            continue
        if src and os.path.relpath(src, root) in changed:
            out.add(name)
    return frozenset(out)


_CHURNED: frozenset[str] = _churned_names()


def _effective_age(name: str) -> int:
    age = _AGE.get(name, -1)
    if name not in ORACLE_SQL:
        age += ROWS_ONLY_STALENESS_PENALTY
    if name in _CHURNED:
        age -= CHURN_BOOST
    return age


def _age_capped(name: str) -> bool:
    """Latest driver evidence is >= EVIDENCE_AGE_CAP rounds old.

    Rows-only queries cap ROWS_ONLY_STALENESS_PENALTY rounds LATER
    (r12 close): the cap exists to stop penalty/boost COMPOUNDING from
    deferring a query indefinitely (the r10 q_sample_stratified
    incident was churn boosts to competitors stacking round after
    round), not to erase the rows-only penalty itself — a fixed +2 is
    bounded by construction.  Without this composition, the seven
    q_*_approx grains plus two rollup twins (all last swept in r07)
    capped SIMULTANEOUSLY at the r12 close and claimed 9 of the 50
    sweep-head slots for rows-only checks, violating the r7 verdict's
    >= 44-hash-capable bar.  The composition only delays such a cohort
    by two rounds; it does not spread it out (at the r13 close the same
    nine tied the oracled r08 block at effective age 8 and took slots
    27-35 together).  The bar is kept by the head budget pass
    (_bound_rows_only_head), not by this predicate."""
    if name not in _AGE:
        return False
    cap = EVIDENCE_AGE_CAP + (
        0 if name in ORACLE_SQL else ROWS_ONLY_STALENESS_PENALTY
    )
    return (_ROUNDS - 1 - _AGE[name]) >= cap


# Tie-break at EQUAL effective age: oracled before rows-only (r12
# close).  The rows-only penalty ages a query's slot claim forward by
# 2 rounds; when that lands it in a tie with an oracled cohort (the
# r07 approx grains at effective 8 vs the r08 block at raw 8), a name
# tie-break handed the rows-only queries the slots — the exact
# inversion the penalty exists to prevent.  Equal-age rows-only
# queries enter once the tied oracled cohort has been refreshed
# (whereupon its age moves past theirs), one rotation later.
_PROVEN_POS: dict[str, int] = {
    n: i
    for i, n in enumerate(
        sorted(
            _PROVEN,
            key=lambda n: (
                0 if _age_capped(n) else 1,
                _AGE.get(n, -1) if _age_capped(n) else _effective_age(n),
                0 if n in ORACLE_SQL else 1,
                n,
            ),
        )
    )
}

# HASH-PENDING (r8 verdict item 1): green rows-only evidence + an oracle
# registered NOW means the oracle landed after the driver's last visit —
# the independent gate has never hash-checked the query.  Computed here,
# after all family modules have registered, so ORACLE_SQL is complete.
_HASH_PENDING: frozenset[str] = (
    driver_evidence.rows_only_green_names() & frozenset(ORACLE_SQL)
)


def _presentation_rank(name: str) -> tuple[int, int, str]:
    if name in _STALE_RED:
        return (-1, 0, name)
    if name in _HASH_PENDING:
        return (60, 0, name)
    if name in _PROVEN:
        return (99, _PROVEN_POS[name], name)
    for i, prefix in enumerate(_FAMILY_ORDER):
        if name.startswith(prefix):
            return (i, 0, name)
    return (50, 0, name)


# The driver's correctness sweep checks this many registry entries per
# round; at most ROWS_ONLY_HEAD_BUDGET of them may be rows-only (the r7
# verdict's bar: >= 44 of 50 hash-capable).
SWEEP_HEAD = 50
ROWS_ONLY_HEAD_BUDGET = SWEEP_HEAD - 44


def _bound_rows_only_head(
    names: list[str],
    *,
    oracled: Callable[[str], bool],
    proven: Callable[[str], bool],
    capped: Callable[[str], bool],
) -> tuple[list[str], list[str]]:
    """Return ``(order, deferred)``: ``names`` with every rows-only query
    beyond the first ROWS_ONLY_HEAD_BUDGET that would land in the first
    SWEEP_HEAD slots moved, in order, to just after them.

    Only proven, uncapped queries move.  Stale-red and never-checked
    queries are not proven (their latest driver row is not green, or
    there is none); hash-pending ones are oracled; all of them, and the
    age-capped queries, keep their places, and count against the budget.
    So the bar holds whenever those pinned rows-only queries number at
    most ROWS_ONLY_HEAD_BUDGET."""
    head: list[str] = []
    deferred: list[str] = []
    rows_only = 0
    rest = iter(names)
    for n in rest:
        if not oracled(n):
            if rows_only >= ROWS_ONLY_HEAD_BUDGET and proven(n) and not capped(n):
                deferred.append(n)
                continue
            rows_only += 1
        head.append(n)
        if len(head) == SWEEP_HEAD:
            break
    return head + deferred + list(rest), deferred


def _reorder_for_driver() -> frozenset[str]:
    """Reorder the registry for the driver; return the head-deferred set."""
    order, deferred = _bound_rows_only_head(
        sorted(QUERIES, key=_presentation_rank),
        oracled=ORACLE_SQL.__contains__,
        proven=_PROVEN.__contains__,
        capped=_age_capped,
    )
    # Mutate in place: family modules and tests may already hold references
    # to these dicts, and late registrations (env-gated streaming ops) must
    # land in the same object.
    ordered_q = {name: QUERIES[name] for name in order}
    QUERIES.clear()
    QUERIES.update(ordered_q)
    ordered_o = {name: ORACLE_SQL[name] for name in ordered_q if name in ORACLE_SQL}
    ORACLE_SQL.clear()
    ORACLE_SQL.update(ordered_o)
    return frozenset(deferred)


_HEAD_DEFERRED: frozenset[str] = _reorder_for_driver()
