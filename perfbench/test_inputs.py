"""Input-generator and check-helper tests; no Spark needed.

    python3 -m pytest perfbench/test_inputs.py -q
"""

from __future__ import annotations

import datetime
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402


def test_same_seed_same_bytes():
    assert inputs.digest(7) == inputs.digest(7)


def test_other_seed_other_bytes():
    assert inputs.digest(7) != inputs.digest(8)


def test_seed_keeps_workload_shape():
    a = inputs.make_co2_feed(1, 400, complete_from=300)
    b = inputs.make_co2_feed(2, 400, complete_from=300)
    assert [d for d, _v in a.days] == [d for d, _v in b.days]
    # timed nights never miss a day: each lands exactly one row
    assert all(v is not None for _d, v in a.days[300:])


def test_feed_has_header_gaps_and_malformed_lines():
    feed = inputs.make_co2_feed(3, 3000)
    text = feed.text_through(2999)
    assert text.startswith("#")
    assert any(v is None for _d, v in feed.days)
    well_formed = [ln for _i, ln in feed.lines if len(ln.split()) == 5 and ln.split()[2].isdigit()]
    assert len(well_formed) == len(feed.series_through(2999)) < len(feed.lines)


def test_ann_growth_ids_exceed_base():
    gen = inputs.AnnGen(4, 30)
    grown = gen.growth_batch(5)
    assert min(i for i, _v in grown) > max(i for i, _v in gen.base)


def test_half_up_rounding_matches_spark():
    assert checks.round_half_up(0.0625, 3) == 0.063  # Python's round gives 0.062
    assert checks.round_half_up(2.5, 0) == 3.0


def test_co2_recompute_lags_over_missing_days():
    d0 = datetime.date(2024, 1, 1)
    series = {d0: 400.0, d0 + datetime.timedelta(days=2): 404.0}
    daily, weekly, _b = checks.expected_co2_tables(series)
    second = daily[d0 + datetime.timedelta(days=2)]
    assert second["PREV_DAY_CO2"] == 400.0
    assert second["DAILY_CHANGE"] == 1.0
    assert second["NORMALIZED_CO2"] == 1.0
    assert weekly[d0]["AVG_WEEKLY_CO2"] == 402.0
