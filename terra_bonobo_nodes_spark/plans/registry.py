"""Registry of correctness queries: Spark plan + DuckDB oracle SQL pairs.

Each entry exercises one operator (or a small composition) from
SURVEY.md §2 on the driver's parquet tables. Conventions that keep the
driver's order-insensitive value-hash comparison stable across engines:

- every float output is ``round(x, 4..6)`` in BOTH the Spark plan and
  the oracle SQL (kills summation-order last-ulp drift);
- no raw arrays/structs/timestamps in oracle-checked outputs — arrays
  are reduced or joined to strings, timestamps cast to epoch BIGINT;
- every computed column is aliased identically on both sides.

Queries whose semantics are not SQL-expressible (streaming state,
geometry kernels without a DuckDB spatial extension) register with
``oracle=None`` → the driver records a weaker rows-only check, and the
full semantics are covered by pytest unit tests instead.
"""

from __future__ import annotations

import json
import re
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Query:
    name: str
    spark_fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None
    headline: bool = False  # included in bench.py
    tags: tuple[str, ...] = field(default=())


_REGISTRY: dict[str, Query] = {}


def register(
    name: str,
    oracle: str | None,
    headline: bool = False,
    tags: tuple[str, ...] = (),
) -> Callable[[Callable[[SparkSession, str], DataFrame]], Callable]:
    def deco(fn: Callable[[SparkSession, str], DataFrame]) -> Callable:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = Query(name, fn, oracle, headline, tags)
        return fn

    return deco


# Driver-check ordering. The correctness driver walks all_queries() in
# order and records exactly the first DRIVER_CAP rows per round, so the
# order is part of the verification contract. _compute_priority derives
# it from the CORRECTNESS_r*.json artifacts, in five sections:
#   (1) due: every row whose last green is >= 2 rounds old, oldest first
#       (computed; it must always fit in DRIVER_CAP together with (2));
#   (2) _CHANGED_THIS_ROUND: rows whose operator code changed since
#       their last green (a green row for old code is not a green row);
#   (3) _NEW_THIS_ROUND: rows taking their first driver row;
#   (4) _DEFERRED_TO_NEXT_ROUND: changed/new overflow of the last window;
#   (5) everything else, stalest green first (never-checked rows first).
# Capacity: at most 144 registered queries, about a three-round refresh
# cycle at DRIVER_CAP rows per round. Adding a query requires retiring or
# merging one in the same commit (add-one-retire-one); capability that
# cannot free a slot is covered by pytest only. test_rotation_freshness.py
# enforces the cap and the per-round arithmetic.

DRIVER_CAP = 50  # rows the correctness driver records per round

# The round whose window the hand-maintained lists below budget for.
# Once the driver writes CORRECTNESS_r{_ROTATION_ROUND}.json the lists
# are SPENT: _compute_priority and test_rotation_freshness treat them
# as empty (their names are either green at LATEST — obligation met —
# or surface loudly as never-green stragglers at the head of the next
# window). This keeps the suite green both mid-round and at the
# post-artifact handoff state the next round inherits (VERDICT_r12
# "What's wrong" #1: the r12 lists stayed active after the artifact
# landed and over-subscribed the r13 demand computation).
_ROTATION_ROUND = 18

# BUDGET (r18 window, DRIVER_CAP=50, recomputed from the ACTUAL
# artifacts at the r17 handoff): due cohort = 31 (the unrefreshed r15
# greens) + 3 new (the r17 deferrals below take their first driver
# rows) = 34 of 50 — 16 slots of slack for r18 changed-code entries
# and the stalest-green tail. r18 registers and retires nothing.

# (2) operator code changed since the query's last green: entries are
# added in the SAME commit as the edit they schedule (the git-diff
# derivation test flags a forgotten one), each re-verified hash-green
# at sf0.001/0.01/0.1 in-session before landing. Rows already in the
# r18 due cohort absorb their edits at zero extra demand.
_CHANGED_THIS_ROUND: tuple[str, ...] = (
    # r18 geometry kernel fusion (geo/kernels.py vectorized st_point +
    # fused st_poly_prep/st_xy/specialized chain kernels;
    # operators/spatial.py _rx/_lx reuse; fixture call sites): the
    # affected rows not already due. Each hash-green at 3 SFs after
    # the edit; the full 132/132 sf0.01 replica re-run on the same
    # tree (pipeline_es_indexing is r15-green due — zero extra
    # demand). Budget: 31 due + 3 new + 9 changed = 43 of 50.
    "j1_boolean_intersect",
    "j2_overlay_surface",
    "g_scalar_geometry_surface",
    "g9_line_clip_length",
    "j3_intersection_geom_area",
    "a2_union_on_property_centroid",
    "a4_sql_text_cluster",
    "g7_transform_surface",
    "pipeline_file_import",
    # r18 bloom.py: plan-keyed packed-filter memo (VERDICT_r17 item 4),
    # reserved-column guard + identifier escaping (ADVICE r17). Bits
    # byte-identical; hash-green at 3 SFs. +1 demand (r17 green).
    "llm_decontamination_surface",
)

# (3) first driver row this round: the three rows deferred out of the
# r17 window (oracles verified at 3 SFs in pytest since registration;
# the driver has never recorded them — they head this window).
_NEW_THIS_ROUND: tuple[str, ...] = (
    "corpus_drift_psi",
    "llm_novelty_scores",
    "layout_zorder_pruning",
)

# (4) overflow — heads the next round's queue. Empty: the r18 window
# closes at 34-of-50 before changed-code entries, so nothing defers.
_DEFERRED_TO_NEXT_ROUND: tuple[str, ...] = ()

# (5) r17 OPTIMIZATION-PHASE carve-out, full-replica verified. The
# optimization rounds change shared internals — the parquet loader's
# footer-schema/relation memo, the tokenizer/readability SQL-text
# builder forms — that sit in EVERY registered query's plan, so the
# git-diff freshness derivation flags 131 of 132 queries from one
# loader edit: a demand the 50-row rotation cannot absorb by design.
# The contract's GOAL (no query rides unverified changed code) is met
# by a STRONGER check than one driver row: after each optimization
# commit the FULL registry was re-run against the DuckDB oracles at
# sf0.01 (132/132 rows+schema+hash green via tests/check_driver.py —
# the driver-compare replica; evidence + run log references in
# OPTIMIZATION_r17.md), and every directly-edited row additionally at
# sf0.001/0.01/0.1. test_changed_code_list_covers_the_git_diff
# excludes the symbols below from its derivation seed and the queries
# below from its missing set. Build rounds keep these EMPTY — the
# seam exists for optimization phases only, and the next build
# round's windows re-green everything through the normal rotation.
# r17's entries are SPENT (CORRECTNESS_r17.json exists; the git-diff
# derivation's base commit now postdates those edits) and were emptied
# at the r18 handoff so a stale exemption cannot mask an r18 edit to
# the same symbol. r18 optimization edits that touch cross-cutting
# internals re-enter here ONLY with fresh full-replica evidence
# recorded in OPTIMIZATION_r18.md.
_OPT_FULL_REPLICA_SYMBOLS: tuple[str, ...] = ()
_OPT_FULL_REPLICA_QUERIES: tuple[str, ...] = ()


def _last_green_rounds() -> tuple[int, dict[str, tuple[int, int]]]:
    """Scan the repo-root CORRECTNESS_r*.json artifacts: returns
    (latest_round, {query: (last_green_round, position_in_artifact)}).
    A row is green if it hash-matched, or had rows under the documented
    no-oracle (rows-only) contract."""
    root = Path(__file__).resolve().parents[2]
    latest = 0
    last: dict[str, tuple[int, int]] = {}
    for path in sorted(root.glob("CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", path.name)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            rows = json.loads(path.read_text())
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue
        latest = max(latest, rnd)
        for pos, (name, v) in enumerate(rows.items()):
            green = v.get("hash_match") is True or (
                v.get("err") == "no_oracle" and v.get("spark_rows") is not None
            )
            if green and (name not in last or rnd >= last[name][0]):
                last[name] = (rnd, pos)
    return latest, last


def _active_lists(
    latest: int,
) -> tuple[tuple[str, ...], tuple[str, ...], tuple[str, ...]]:
    """The hand-maintained changed/new/deferred lists, or empty tuples
    once the round they budget for has its artifact (lists are spent —
    see the _ROTATION_ROUND note above)."""
    if latest >= _ROTATION_ROUND:
        return (), (), ()
    return _CHANGED_THIS_ROUND, _NEW_THIS_ROUND, _DEFERRED_TO_NEXT_ROUND


def _compute_priority(registered: Iterable[str]) -> list[str]:
    """The five-section ordering documented above, generated from the
    artifacts so a bookkeeping slip can't silently age a query out of
    the rotation (the round-6 failure mode)."""
    names = list(registered)
    latest, last = _last_green_rounds()
    if not last:
        # Without the artifacts the "stalest green first" sections
        # silently degrade to registration order — the exact failure
        # mode the computed ordering exists to prevent. Warn loudly so
        # an installed-package / moved-artifacts deployment can't
        # pretend the freshness contract is being honored.
        import warnings

        warnings.warn(
            "registry: no CORRECTNESS_r*.json artifacts found next to the "
            "package — correctness-rotation ordering degrades to "
            "registration order (freshness contract NOT enforced)",
            RuntimeWarning,
            stacklevel=2,
        )
    due = [n for n in names if n in last and last[n][0] <= latest - 2]
    due.sort(key=lambda n: last[n])
    changed, new, deferred = _active_lists(latest)
    order: list[str] = []
    seen: set[str] = set()
    for block in (due, changed, new, deferred):
        for n in block:
            if n in names and n not in seen:
                order.append(n)
                seen.add(n)
    rest = [n for n in names if n not in seen]
    # never-checked stragglers (default round 0) before stalest greens
    rest.sort(key=lambda n: last.get(n, (0, -1)))
    order.extend(rest)
    return order


def all_queries() -> dict[str, Query]:
    # Import side-effect modules that populate the registry.
    from terra_bonobo_nodes_spark.plans import (  # noqa: F401
        queries_candidates,
        queries_functions,
        queries_geo,
        queries_llm,
        queries_pipelines,
        queries_relational,
        queries_sources,
        queries_streaming,
    )

    order = _compute_priority(_REGISTRY)
    return {name: _REGISTRY[name] for name in order}


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {name: q.spark_fn for name, q in all_queries().items()}


def oracle_sql() -> dict[str, str]:
    return {name: q.oracle for name, q in all_queries().items() if q.oracle}
