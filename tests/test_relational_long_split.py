"""The relational and events money sums run on codegen longs, not
decimal buffers.

The long split (``operators/money.py``; OPTIMIZATION_r09.md "Exact
long-split money sums") converts each value once per row via the SAME
decimal(18,6) cast the reference formulation used, then sums plain long
components — so it is value-identical by construction (gated by the
DuckDB mirror in test_entry_parity, and against ``decimal.Decimal`` in
test_money).  These tests pin the OPTIMIZATION
itself: if a refactor reintroduces a decimal sum buffer into one of the
rewritten aggregates, the plan falls off Spark's compact-long fast path
and the regression is silent at toy scale — the plan shape is the only
cheap tripwire."""

from __future__ import annotations

import re

import pytest

from sequali_spark.operators import events, relational
from sequali_spark.plans import checks

# Every query that sums money through operators/money.py.
LONG_SPLIT = {
    "pricing_summary": lambda spark, sf: relational.pricing_summary(spark, sf),
    "top_unshipped": lambda spark, sf: relational.top_unshipped_orders(spark, sf),
    "pricing_rollup": lambda spark, sf: relational.pricing_rollup(spark, sf),
    "region_revenue": lambda spark, sf: relational.region_revenue(spark, sf),
    "part_type_share": lambda spark, sf: relational.part_type_revenue_share(spark, sf),
    "value_band_join": lambda spark, sf: relational.value_band_join(spark, sf),
    "events_hourly_report": lambda spark, sf: events.hourly_report(spark, sf),
    "events_type_totals": lambda spark, sf: events.event_type_totals(spark, sf),
    "events_top_users": lambda spark, sf: events.top_users_by_value(spark, sf),
}


@pytest.mark.parametrize("name", sorted(LONG_SPLIT))
def test_no_decimal_sum_buffer_in_aggregate(spark, sf_dir, name):
    plan = checks.physical_plan(LONG_SPLIT[name](spark, sf_dir))
    # No aggregate may sum a decimal: sum(...decimal...) inside a
    # *_sum(...) function list is the buffer the rewrite removed.  The
    # per-row decimal(18,6) *cast* (projection layer) is intentional —
    # it is what keeps rounding bit-identical — so only aggregate
    # functions are scanned.
    offenders = [
        m.group(0)
        for m in re.finditer(r"(?:partial_)?sum\([^)]*decimal[^)]*\)", plan)
    ]
    assert not offenders, f"{name}: decimal sum buffer reappeared: {offenders}"


def test_part_type_share_window_reads_emitted_cents_only(spark, sf_dir):
    """The share-of-total window must consume the aggregated BIGINT
    revenue_cents (a ~150-row frame), never a row-level decimal — the
    single-partition exchange is safe only because of that."""
    plan = checks.physical_plan(relational.part_type_revenue_share(spark, sf_dir))
    assert "Window" in plan
    # the window's sum operand is a projection of the emitted BIGINT
    # cents (cast to decimal(19,0) for the i64 overflow guard), produced
    # ABOVE the per-type HashAggregate — never row-level lineitem data
    assert re.search(r"cast\(revenue_cents#\d+L as decimal\(19,0\)\) AS _w0", plan)
    win_at = plan.index("Window")
    agg_at = plan.index("HashAggregate")
    assert win_at < agg_at, "window must sit above the per-type aggregate"
