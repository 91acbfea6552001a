"""Output checks, recomputed independently of the program in plain Python.

The CO2 check rebuilds the daily and weekly statistics tables from the
generated series with the reference semantics (lag over the previous
present day, percent change, volatility, min-max normalization, ISO-week
rollups), using Spark's HALF_UP rounding on the shortest decimal form of a
double, and compares them with what the pipeline stored.
"""

from __future__ import annotations

import datetime
import math
from decimal import ROUND_HALF_UP, Decimal


def round_half_up(x: float | None, nd: int) -> float | None:
    if x is None:
        return None
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-nd), rounding=ROUND_HALF_UP))


def pct_change(prev: float | None, curr: float | None) -> float:
    if prev is None or curr is None or prev == 0.0:
        return 0.0
    return (curr - prev) / prev * 100.0


def volatility(curr: float | None, prev: float | None) -> float | None:
    if curr is None or prev is None or curr <= 0.0 or prev <= 0.0:
        return None
    return round_half_up(abs(curr - prev) / ((curr + prev) / 2.0) * 100.0, 4)


def normalize(x: float | None, mn: float, mx: float) -> float | None:
    if mx == mn:
        return 0.5
    if x is None:
        return None
    return round_half_up((x - mn) / (mx - mn), 3)


def expected_co2_tables(series: dict[datetime.date, float]):
    """(daily, weekly) dicts keyed by DATE / WEEK_START."""
    dates = sorted(series)
    mn, mx = min(series.values()), max(series.values())
    daily = {}
    prev = None
    for d in dates:
        v = series[d]
        daily[d] = {
            "CO2_PPM": v,
            "PREV_DAY_CO2": prev,
            "DAILY_CHANGE": pct_change(prev, v),
            "DAILY_VOLATILITY": volatility(v, prev),
            "NORMALIZED_CO2": normalize(v, mn, mx),
        }
        prev = v
    weeks: dict[datetime.date, list[float]] = {}
    for d in dates:
        weeks.setdefault(d - datetime.timedelta(days=d.weekday()), []).append(series[d])
    weekly = {}
    for w, vals in weeks.items():
        avg = sum(vals) / len(vals)
        lo, hi = min(vals), max(vals)
        weekly[w] = {
            "AVG_WEEKLY_CO2": avg,
            "WEEK_START_CO2": lo,
            "WEEK_END_CO2": hi,
            "WEEKLY_CHANGE": pct_change(lo, hi),
            "WEEKLY_VOLATILITY": volatility(hi, lo),
            "NORMALIZED_WEEKLY_CO2": normalize(avg, mn, mx),
        }
    return daily, weekly, (mn, mx)


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    return math.isclose(a, b, rel_tol=1e-12, abs_tol=1e-12)


def _same_rounded(got, unrounded, nd: int) -> bool:
    """Equal after rounding; a one-unit difference is accepted only when
    the unrounded value sits on a rounding tie (sum order of an average)."""
    want = None if unrounded is None else round_half_up(unrounded, nd)
    if _same(got, want):
        return True
    if got is None or unrounded is None:
        return False
    frac = abs(unrounded * 10**nd) % 1.0
    return abs(frac - 0.5) < 1e-6 and abs(got - want) <= 10**-nd * 1.0000001


def compare_co2(daily_rows, weekly_rows, series) -> list[str]:
    """Mismatches between stored rows and the recompute (empty = pass)."""
    daily, weekly, (mn, mx) = expected_co2_tables(series)
    errs = []
    got_d = {r["DATE"]: r for r in daily_rows}
    if set(got_d) != set(daily):
        errs.append(f"daily dates differ: {len(got_d)} stored vs {len(daily)} expected")
    for d, want in daily.items():
        row = got_d.get(d)
        if row is None:
            continue
        for col, v in want.items():
            if not _same(row[col], v):
                errs.append(f"daily {d} {col}: {row[col]} != {v}")
    got_w = {r["WEEK_START"]: r for r in weekly_rows}
    if set(got_w) != set(weekly):
        errs.append(f"weekly weeks differ: {len(got_w)} stored vs {len(weekly)} expected")
    for w, want in weekly.items():
        row = got_w.get(w)
        if row is None:
            continue
        for col, v in want.items():
            if col == "NORMALIZED_WEEKLY_CO2":
                ok = (mx == mn and row[col] == 0.5) or _same_rounded(
                    row[col], (want["AVG_WEEKLY_CO2"] - mn) / (mx - mn), 3)
            else:
                ok = _same(row[col], v)
            if not ok:
                errs.append(f"weekly {w} {col}: {row[col]} != {v}")
    return errs[:20]
