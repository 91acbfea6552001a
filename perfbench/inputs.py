"""Seeded input generator shared by every benchmark workload.

Everything a workload feeds the program comes from here, derived only from
the ``--seed`` argument: the same seed yields byte-identical inputs
(``digest`` hashes them; ``test_inputs.py`` pins that). The seed changes
noise and vector values, never the shape of a workload (sizes, calendar
positions), so runs with different seeds do the same amount of work.

Two families:

- ``Co2Feed``: a daily series shaped like the NOAA Mauna Loa file: a
  rising trend, a seasonal cycle peaking in May, Gaussian noise, missing
  days, malformed lines and a ``#`` comment header. NOAA republishes the
  whole file every day, so ``text_through(n)`` is the full document as of
  day ``n``.
- ``AnnGen``: clustered base vectors, perturbed growth batches whose ids
  exceed every earlier id, and query vectors that are not in the index.
"""

from __future__ import annotations

import datetime
import hashlib
import math
import random
from dataclasses import dataclass, field

# -- CO2 feed ---------------------------------------------------------------

FEED_HEADER = [
    "# --------------------------------------------------------------------",
    "# USE OF NOAA GML DATA (synthetic stand-in, generated per seed)",
    "# Daily mean CO2 mole fraction, Mauna Loa shape: trend + season + noise",
    "# columns: year month day decimal_date co2_ppm",
    "# --------------------------------------------------------------------",
]
FEED_START = datetime.date(2011, 1, 1)
TREND_PPM_PER_YEAR = 2.2
SEASON_AMPLITUDE_PPM = 3.2
NOISE_PPM = 0.35
MISSING_DAY_RATE = 0.04
MALFORMED_LINE_RATE = 0.01


@dataclass
class Co2Feed:
    """A daily series plus its feed lines, one entry per calendar day."""

    n_days: int
    # per calendar day: (date, ppm or None when the day is missing)
    days: list[tuple[datetime.date, float | None]] = field(default_factory=list)
    # feed lines in file order, each tagged with the day index it belongs to
    lines: list[tuple[int, str]] = field(default_factory=list)

    def text_through(self, day_index: int) -> str:
        """The whole feed as published on day ``day_index`` (inclusive)."""
        body = [ln for i, ln in self.lines if i <= day_index]
        return "\n".join(FEED_HEADER + body) + "\n"

    def series_through(self, day_index: int) -> dict[datetime.date, float]:
        """Valid (date -> ppm) rows the parser must keep up to that day."""
        return {
            d: v for d, v in self.days[: day_index + 1] if v is not None
        }

    def day(self, day_index: int) -> datetime.date:
        return self.days[day_index][0]


def _decimal_date(d: datetime.date) -> str:
    ylen = 366 if d.year % 4 == 0 and (d.year % 100 or d.year % 400 == 0) else 365
    return f"{d.year + (d.timetuple().tm_yday - 0.5) / ylen:.4f}"


def _malformed(rng: random.Random, d: datetime.date) -> str:
    """A line the parser must drop: truncated, non-numeric date or prose."""
    kind = rng.randrange(3)
    if kind == 0:
        return f"{d.year} {d.month} {d.day}"
    if kind == 1:
        return f"{d.year} {d.month} ?? {_decimal_date(d)} 0.00"
    return "station maintenance: no measurement"


def make_co2_feed(seed: int, n_days: int, complete_from: int | None = None) -> Co2Feed:
    """``n_days`` from ``FEED_START``. Days from index ``complete_from`` on
    are never missing, so each timed night lands exactly one row."""
    rng = random.Random(f"co2:{seed}")
    feed = Co2Feed(n_days=n_days)
    for i in range(n_days):
        d = FEED_START + datetime.timedelta(days=i)
        years = i / 365.25
        # seasonal maximum in mid-May, like the Mauna Loa record
        season = SEASON_AMPLITUDE_PPM * math.sin(
            2 * math.pi * (d.timetuple().tm_yday - 45) / 365.25
        )
        ppm = 354.0 + TREND_PPM_PER_YEAR * years + season + rng.gauss(0, NOISE_PPM)
        missing = rng.random() < MISSING_DAY_RATE
        if 0 < i < (complete_from or n_days) and missing:
            feed.days.append((d, None))
        else:
            ppm = round(ppm, 2)
            feed.days.append((d, ppm))
            feed.lines.append(
                (i, f"{d.year:4d} {d.month:2d} {d.day:2d} {_decimal_date(d)} {ppm:.2f}")
            )
        if rng.random() < MALFORMED_LINE_RATE:
            feed.lines.append((i, _malformed(rng, d)))
    return feed


# -- ANN vectors ------------------------------------------------------------


def _unit(rng: random.Random, dim: int) -> list[float]:
    v = [rng.gauss(0, 1) for _ in range(dim)]
    n = math.sqrt(sum(x * x for x in v)) or 1.0
    return [round(x / n, 6) for x in v]


# the dimension of the embedding vectors ``bench.py``'s ANN walls index
ANN_DIM = 64


class AnnGen:
    """Clustered vectors: ``n_clusters`` unit centres, points = centre +
    noise. Growth batches perturb random base points; ids strictly increase
    across batches, so every grown vector's id exceeds every stored id."""

    def __init__(self, seed: int, n_base: int, n_clusters: int = 24):
        self.rng = random.Random(f"ann:{seed}")
        self.centres = [_unit(self.rng, ANN_DIM) for _ in range(n_clusters)]
        self.base = [(i, self._point()) for i in range(n_base)]
        self.next_id = n_base

    def _point(self) -> list[float]:
        c = self.rng.choice(self.centres)
        return [round(x + self.rng.gauss(0, 0.25), 6) for x in c]

    def growth_batch(self, n: int) -> list[tuple[int, list[float]]]:
        out = []
        for _ in range(n):
            _src, v = self.rng.choice(self.base)
            out.append((self.next_id, [round(x + self.rng.gauss(0, 0.05), 6) for x in v]))
            self.next_id += 1
        return out

    def queries(self, n: int, first_id: int = 900_000_000) -> list[tuple[int, list[float]]]:
        return [(first_id + j, self._point()) for j in range(n)]


# -- determinism ------------------------------------------------------------


def digest(seed: int) -> str:
    """sha256 over a fixed slice of every family's output for ``seed``."""
    h = hashlib.sha256()
    feed = make_co2_feed(seed, 800)
    h.update(feed.text_through(799).encode())
    ann = AnnGen(seed, 50)
    h.update(repr((ann.base, ann.growth_batch(10), ann.queries(3))).encode())
    return h.hexdigest()
