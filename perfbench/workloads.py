"""The benchmark's workloads: which operations a client runs, in which
order, on which input set.

An operation is a registered query (``plans.all_queries()``), timed
from plan construction through ``toPandas()``, or a publish: a query
whose result is upserted with ``sources.sinks.merge_upsert`` into a
table local to the run. A publish is timed through the upsert and
checked by reading the table back, since upserting the same keys must
leave it equal to the query's oracle.

Order within a pass is fixed. Operations with a Python stage
(pandas UDFs, applyInPandasWithState) run last, because a Python stage
slows JVM-only queries that run after it in the same session.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Op:
    name: str
    query: str
    upsert_keys: tuple[str, ...] = ()  # non-empty: a publish


@dataclass(frozen=True)
class Workload:
    name: str
    inputs: str
    ops: tuple[Op, ...]
    why: str
    # True: an untimed warm-up pass first, as a long-running service
    # sees it. False: the first pass is timed, as a job launched once
    # sees it, JIT and code generation included.
    warm: bool


def _q(*names: str) -> tuple[Op, ...]:
    return tuple(Op(n, n) for n in names)


CRM_INTERACTIVE = Workload(
    "crm_interactive",
    "full",
    _q(
        "cross_sell_recommendations",
        "account_features",
        "score_explanations",
        "ranking_eval_metrics",
        # plans.relational
        "pricing_summary",
        "filter_projection",
        "topk_per_group",
        "daily_order_stats",
        "label_join",
        "customer_order_deltas",
        "multi_predicate_filter",
        "join_revenue_by_nation",
        "trend_with_date_spine",
        # plans.olap, without approx_distinct_stats
        "sales_rollup_cube",
        "customers_with_urgent_orders",
        "nation_balance_quantiles",
        "order_value_histogram",
        "balance_outliers_zscore",
        "order_priority_pivot",
    ),
    "short CRM, relational and OLAP lookups on a warm session: plan construction, Catalyst and job scheduling dominate each wall",
    warm=True,
)

CRM_NIGHTLY = Workload(
    "crm_nightly",
    "nightly",
    _q(
        "blocked_similarity_join",
        "token_jaccard_pairs",
        "er_match_cascade",
        "er_threshold_sweep",
        "minhash_near_dup",
        "near_dup_clusters",
    )
    + (
        Op("publish_account_features", "account_features", ("c_custkey",)),
        Op(
            "publish_recommendations",
            "cross_sell_recommendations",
            ("account1_id", "account2_id"),
        ),
    )
    + _q(
        "incremental_watermark_sync",
        "stateful_running_totals",
    ),
    "nightly batch on a one-day event delta: entity resolution, corpus dedup, upserts and Python streaming state, run once from a cold start",
    warm=False,
)

WORKLOADS = {w.name: w for w in (CRM_INTERACTIVE, CRM_NIGHTLY)}
