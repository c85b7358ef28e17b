"""Seeded NOAA-format daily CO2 feed (Mauna Loa `co2_daily_mlo.txt` layout).

Each calendar day carries one line `YEAR MONTH DAY DECIMAL_DATE CO2_PPM`
unless the day is an instrument gap, in which case the line is omitted.
The value is a quadratic trend plus an annual cycle plus Gaussian noise.
The same seed always gives byte-identical text.
"""
import datetime
import math
import random

HEADER = (
    "# Synthetic Mauna Loa daily mean CO2 (NOAA co2_daily_mlo.txt layout)\n"
    "# Columns: year month day decimal_date co2_ppm\n"
)
FIRST_DAY = datetime.date(1974, 1, 1)
GAP_ODDS = 7  # about one day in seven has no line


def feed_rows(seed, first=FIRST_DAY, last=datetime.date(2026, 12, 31)):
    """(date, line) for every non-gap day in [first, last], in date order."""
    rng = random.Random(seed)
    rows = []
    day = first
    while day <= last:
        gap = rng.randrange(GAP_ODDS) == 0
        noise = rng.gauss(0.0, 0.35)
        if not gap:
            years = (day - FIRST_DAY).days / 365.25
            season = 3.1 * math.sin(2 * math.pi * (day.timetuple().tm_yday / 365.25 + 0.12))
            ppm = 330.0 + 1.35 * years + 0.0125 * years * years + season + noise
            ylen = 366 if day.year % 4 == 0 and (day.year % 100 != 0 or day.year % 400 == 0) else 365
            dec = day.year + (day.timetuple().tm_yday - 0.5) / ylen
            rows.append((day, "%4d %5d %5d %10.4f %9.2f\n" % (
                day.year, day.month, day.day, dec, round(ppm, 2))))
        day += datetime.timedelta(days=1)
    return rows


def feed_text(rows):
    """The full feed file for the given rows: header, then one line each."""
    return HEADER + "".join(line for _, line in rows)
