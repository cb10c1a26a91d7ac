"""Seeded NOAA-format daily CO2 feed generator (FIXTURES.md section 1).

The feed mirrors NOAA's `co2_daily_mlo.txt`: `#` header lines, then one
whitespace-separated row per day, `Year Month Day Decimal_Date CO2_ppm`,
with a 6th `CO2 Daily Change` column on rows from SIX_COL_FROM onward.
About 1% of the days carry a missing CO2 value, written `NaN` (a literally
blank field would shift the 6th column into the CO2 slot); the loader
coerces it to null.

Values are a trend plus a seasonal cycle plus noise. The seed changes the
values and which days are missing, never the number of rows or columns, so
every seed gives a feed of the same size.
"""
import datetime
import math
import random

HISTORY_START = datetime.date(1974, 1, 1)
HISTORY_END = datetime.date(2026, 1, 1)  # exclusive: 52 years of history
SIX_COL_FROM = datetime.date(2000, 1, 1)
MISSING_SHARE = 0.01
HEADER = [
    "# NOAA/GML daily mean CO2, Mauna Loa Observatory (synthetic)",
    "# Generated for benchmarking; values are not measurements.",
    "# Columns: year month day decimal_date co2_ppm [co2_daily_change]",
]


def history_days():
    return (HISTORY_END - HISTORY_START).days


def generate(seed, extra_days):
    """Return `(date, co2 or None)` for the history plus `extra_days` days."""
    rng = random.Random(seed)
    slope = rng.uniform(1.2, 1.6)     # ppm per year
    curve = rng.uniform(0.008, 0.014)  # ppm per year squared
    phase = rng.uniform(0.0, 2 * math.pi)
    amp = rng.uniform(2.5, 3.5)
    n = history_days() + extra_days
    missing = set(rng.sample(range(n), round(n * MISSING_SHARE)))
    days = []
    for i in range(n):
        d = HISTORY_START + datetime.timedelta(days=i)
        t = i / 365.25
        co2 = (330.0 + slope * t + curve * t * t
               + amp * math.sin(2 * math.pi * t + phase)
               + rng.gauss(0.0, 0.35))
        days.append((d, None if i in missing else round(co2, 2)))
    return days


def render(days):
    """The feed text, one line per day after the header."""
    lines = list(HEADER)
    prev = None
    for d, co2 in days:
        start = datetime.date(d.year, 1, 1)
        year_len = (datetime.date(d.year + 1, 1, 1) - start).days
        dec = d.year + ((d - start).days + 0.5) / year_len
        cols = [str(d.year), str(d.month), str(d.day), "%.3f" % dec,
                "NaN" if co2 is None else "%.2f" % co2]
        if d >= SIX_COL_FROM:
            change = None if co2 is None or prev is None else co2 - prev
            cols.append("NaN" if change is None else "%.2f" % change)
        lines.append(" ".join(cols))
        prev = co2
    return "\n".join(lines) + "\n"


def write_feed(path, seed, extra_days):
    """Write the feed to `path`; return the number of day rows."""
    days = generate(seed, extra_days)
    with open(path, "w") as f:
        f.write(render(days))
    return len(days)
