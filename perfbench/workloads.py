"""Workload definitions: which registry ops each workload runs, and how
the seed turns them into a request sequence.

Two kinds:

* ``interactive`` — a closed loop of ``clients`` threads over one warm
  snapshot.  Panels are requested with Zipf(``ZIPF_S``) popularity; the
  order of ``ops`` IS the popularity rank (fixed by design: the
  landing-page panels are hot).  Requests are dealt from decks of
  ``deck_size`` whose panel counts follow the Zipf weights exactly, so
  every deck serves the same mix; the seed shuffles each deck.  The
  clients deal the deck between them; the unit of work is a whole deck.
* ``batch`` — every pass stages a fresh snapshot under a unique basename
  and runs ``ops`` once, in an order the seed shuffles per pass; the
  unit of work is a pass.

A run warms up on ``warmup_units`` untimed units of the workload's own
mix (after the oracle check), then times at least ``min_units``.  Both
run on generated tables at scale factor ``SF``: small enough that a run
(JVM start, oracle check of every op, warm-up, timed phase) stays near
a minute, which the benchmark's run budget requires.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

SF = 0.01
ZIPF_S = 1.0


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "interactive" | "batch"
    ops: tuple[str, ...]
    clients: int = 1
    deck_size: int = 0
    warmup_units: int = 0  # untimed decks / passes after the oracle check
    min_units: int = 1


DASHBOARD = Workload(
    name="dashboard",
    kind="interactive",
    ops=(
        "ts_load_profile",
        "ts_peak",
        "sql_tpch_q6",
        "topk_global",
        "ts_capacity_factor",
        "sql_tpch_q1",
        "ts_demand_charge",
        "agg_rollup",
        "topk_per_group",
        "text_source_quality",
        "sql_tpch_q3",
        "win_share_of_total",
        "dedup_exact",
        "graph_degree_dist",
        "sim_label_centroids",
        "udf_pandas_grouped_agg",
    ),
    clients=2,
    deck_size=100,
    warmup_units=2,
)

NIGHTLY = Workload(
    name="nightly",
    kind="batch",
    ops=(
        "stream_cdc_apply",
        "sink_parquet",
        "etl_scd2_intervals",
        "ts_gap_fill",
        "etl_dq_report",
        "dedup_near_minhash",
    ),
    warmup_units=3,
    min_units=3,
)

WORKLOADS = {w.name: w for w in (DASHBOARD, NIGHTLY)}


def zipf_counts(n_ops: int, s: float, size: int) -> list[int]:
    """Largest-remainder apportionment of ``size`` draws over Zipf(s)
    ranks, at least one draw per rank."""
    weights = [1.0 / (rank + 1) ** s for rank in range(n_ops)]
    spare = size - n_ops
    shares = [spare * wt / sum(weights) for wt in weights]
    counts = [1 + int(x) for x in shares]
    by_remainder = sorted(range(n_ops), key=lambda i: int(shares[i]) - shares[i])
    for i in by_remainder[: size - sum(counts)]:
        counts[i] += 1
    return counts


def deck(w: Workload, seed: int, k: int) -> list[str]:
    """The ``k``-th shuffled deck of dashboard requests."""
    cards = [
        name
        for name, count in zip(w.ops, zipf_counts(len(w.ops), ZIPF_S, w.deck_size))
        for _ in range(count)
    ]
    random.Random(f"{seed}/{w.name}/deck{k}").shuffle(cards)
    return cards


def pass_order(w: Workload, seed: int, unit_id) -> list[str]:
    """The chain in the seeded order of one batch pass."""
    order = list(w.ops)
    random.Random(f"{seed}/{w.name}/pass{unit_id}").shuffle(order)
    return order
