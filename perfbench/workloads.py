"""The two workloads: which queries each pass runs and what set-up and
output check each needs. README.md gives the reasons for each choice.

A pass is a fixed set of calls; the seed only shuffles their order, so
every seed does the same work. Each list is a fixed slice of its packs,
sized so a run fits the time one benchmark run may take on a 4-core
host (see README.md, "Why two workloads, and why slices").

Every run makes PASSES = 7 timed passes over 5 calls. Sorted, the 35
call times come in blocks of seven per query (when queries' times do
not overlap); the median (the 18th) and the tail (the 25th, with ten
beyond it) are each the middle sample of one query's block, so each is
that query's median over the run: neither jumps between queries from
run to run, and up to three slowed calls of a query do not move it.
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field

CALLABLE, SQL = "callable", "sql"


@dataclass(frozen=True)
class Workload:
    name: str
    # (kind, query name): CALLABLE runs queries()[name](spark, sf_dir),
    # SQL runs oracle_sql()[name] through Engine.sql.
    items: tuple[tuple[str, str], ...]
    # memos.MEMO_BUILDERS entries the untimed set-up builds.
    memo_builders: tuple[str, ...] = ()
    # Queries whose output is checked against the DuckDB oracle (the rest
    # have no oracle, or a brute-force O(n^2) one at sf0.1).
    oracle: frozenset[str] = field(default_factory=frozenset)
    # Re-collect the last timed pass and compare with the first pass's
    # digest: the read side of memos and sinks must serve the same rows.
    recheck: bool = False


def _callables(*names: str) -> tuple[tuple[str, str], ...]:
    return tuple((CALLABLE, n) for n in names)


_REL_CALLABLES = (
    "tpch_q03_shipping_priority",
    "t03_lineitem_count_by_priority",
    "agg_orders_rollup",
    "mut_delete_survivors",
)
_REL_SQL = ("tpch_q10_returned_items",)

_CUR_CALLABLES = (
    "ext_semdedup_fixed",
    "ext_s_dedup_clusters",
    "ext_repetition_filter",
    "ext_top_tokens",
    # A stateful stream from streaming_pack, so the state store stays
    # measured (see README.md, "Why two workloads").
    "ext_streaming_hourly_max",
)

WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="relational",
            items=_callables(*_REL_CALLABLES) + tuple((SQL, n) for n in _REL_SQL),
            oracle=frozenset(_REL_CALLABLES),
        ),
        Workload(
            name="curation",
            items=_callables(*_CUR_CALLABLES),
            memo_builders=("repetition_metrics",),
            # The sampled twin's oracle is a brute-force cluster join
            # (over a minute in DuckDB at sf0.1): it is held to its
            # first-pass digest only.
            oracle=frozenset(_CUR_CALLABLES) - {"ext_s_dedup_clusters"},
            recheck=True,
        ),
    )
}

PASSES = 7
# Untimed passes between the check pass and the timed ones, so the timed
# passes start with the JIT warm (see README.md, "A run").
WARM_PASSES = 2


def pass_order(workload: Workload, seed: int, pass_no: int) -> list[tuple[str, str]]:
    """The order of one timed pass: the only thing the seed decides."""
    items = list(workload.items)
    random.Random(f"{seed}/{pass_no}").shuffle(items)
    return items
