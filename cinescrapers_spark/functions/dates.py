"""Date/time scalar functions.

The reference's date handling (SURVEY §2.8): fixed strptime formats →
``to_timestamp`` built-ins; free-text parses → a pure-Python parser that
the extractors' Arrow-batched kernels call;
``parse_date_without_year``'s "if now.month>6 and parsed.month<3 → next
year" rollover (``/root/reference/src/cinescrapers/utils.py:16-25``) →
column expression with an injected ``now`` (never wall-clock inside the
plan — determinism is a schema property, SURVEY §7.3).

Everything is tz-naive London wall time (TimestampNTZ end-to-end).
"""

from __future__ import annotations

import datetime as _dt
import re as _re

from pyspark.sql import Column
from pyspark.sql import functions as F

RELEASE_YEAR_RE = r"\b((19\d{2})|(20[0-2]\d))\b"  # ref utils.py:9


def release_year_col(text: Column) -> Column:
    """First 1900-2029 year in the text, as int; NULL when absent."""
    y = F.regexp_extract(text, RELEASE_YEAR_RE, 1)
    return F.when(y == "", None).otherwise(y).cast("int")


def year_rollover(parsed: Column, now: _dt.datetime) -> Column:
    """Apply the reference's year-rollover rule (utils.py:23-24): a date
    parsed without a year lands in `now`'s year; if it's late in the year
    (month>6) and the parsed month is early (<3), bump to next year."""
    if now.month > 6:
        bumped = F.make_timestamp_ntz(
            F.lit(now.year + 1),
            F.month(parsed),
            F.day(parsed),
            F.hour(parsed),
            F.minute(parsed),
            F.second(parsed).cast("decimal(8,6)"),
        )
        return F.when(F.month(parsed) < 3, bumped).otherwise(parsed)
    return parsed


# --------------------------------------------------------------------------
# free-text date parsing — the sandbox stand-in for dateparser
# --------------------------------------------------------------------------
# ~12 reference scrapers parse listing dates like "Fri 18 Jul 18:30" via
# dateparser (ica/scrape.py:67, genesis/scrape.py:75, kiln via
# parse_date_without_year, utils.py:16-25). No dateparser lib exists here,
# so this is a deterministic pattern-table parser covering those shapes:
# optional weekday, day + month name (either order), optional 4-digit year,
# optional HH:MM / h.MMam/pm / h(am|pm) time. Dates without a year land in
# the injected `now`'s year with the utils.py:23-24 rollover applied.

_MONTHS = {}
for _i, _names in enumerate(
    [
        ("jan", "january"), ("feb", "february"), ("mar", "march"),
        ("apr", "april"), ("may",), ("jun", "june"), ("jul", "july"),
        ("aug", "august"), ("sep", "sept", "september"), ("oct", "october"),
        ("nov", "november"), ("dec", "december"),
    ],
    start=1,
):
    for _n in _names:
        _MONTHS[_n] = _i

_WEEKDAYS = {
    "mon", "monday", "tue", "tues", "tuesday", "wed", "weds", "wednesday",
    "thu", "thur", "thurs", "thursday", "fri", "friday", "sat", "saturday",
    "sun", "sunday",
}
_ORDINAL_RE = _re.compile(r"\b(\d{1,2})(st|nd|rd|th)\b")
_TIME_RE = _re.compile(r"^(\d{1,2})(?:[:.](\d{2}))?(am|pm)?$")


def parse_freetext_datetime_py(
    s: str | None, now: _dt.datetime
) -> _dt.datetime | None:
    """Parse a free-text listing date; None when the shape is not covered
    (the reference raises ScrapingError there, ica/scrape.py:68-69)."""
    if not s:
        return None
    t = _ORDINAL_RE.sub(r"\1", s.strip().lower().replace(",", " "))
    day = month = year = None
    hour = minute = 0
    saw_time = False
    for tok in t.split():
        if tok in _WEEKDAYS:
            continue
        if tok in _MONTHS:
            if month is not None:
                return None
            month = _MONTHS[tok]
            continue
        if _re.fullmatch(r"\d{4}", tok):
            if year is not None:
                return None
            year = int(tok)
            continue
        m = _TIME_RE.fullmatch(tok)
        if m and (m.group(2) or m.group(3)):  # has :MM or am/pm → a time
            if saw_time:
                return None
            hour = int(m.group(1))
            minute = int(m.group(2) or 0)
            if m.group(3) == "pm" and hour < 12:
                hour += 12
            elif m.group(3) == "am" and hour == 12:
                hour = 0
            saw_time = True
            continue
        if _re.fullmatch(r"\d{1,2}", tok) and day is None:
            day = int(tok)
            continue
        return None  # unrecognized token: refuse rather than guess
    if month is None or day is None:
        return None
    no_year = year is None
    if no_year:
        year = now.year
    try:
        parsed = _dt.datetime(year, month, day, hour, minute)
    except ValueError:
        return None
    # utils.py:23-24: a year-less date parsed late in the year (now.month>6)
    # with an early parsed month (<3) belongs to next year
    if no_year and now.month > 6 and parsed.month < 3:
        parsed = parsed.replace(year=now.year + 1)
    return parsed


def to_naive_london(ts_utc: Column) -> Column:
    """TZ-aware instant → naive Europe/London wall time (ref
    barbican/scrape.py:74-77: astimezone(London).replace(tzinfo=None))."""
    return F.from_utc_timestamp(ts_utc, "Europe/London").cast("timestamp_ntz")


def next_month_boundary(now: _dt.datetime) -> _dt.datetime:
    """Month rollover incl. December wrap (ref __main__.py:71-76):
    same day/time next month."""
    if now.month == 12:
        return now.replace(year=now.year + 1, month=1)
    return now.replace(month=now.month + 1)


def this_morning(now: _dt.datetime) -> _dt.datetime:
    """Midnight today (ref __main__.py:354-356 grab_current_showtimes)."""
    return now.replace(hour=0, minute=0, second=0, microsecond=0)


def naturaldelta_py(seconds: float) -> str:
    """Humanized duration — the reference prints elapsed times through
    ``humanize.naturaldelta`` (__main__.py:298,465,548). Faithful
    re-implementation of the library's default (months=True) ladder for
    non-negative deltas; the lib is not in this sandbox."""
    s = int(abs(seconds))
    if s < 1:
        return "a moment"
    if s == 1:
        return "a second"
    if s < 60:
        return f"{s} seconds"
    minutes = s // 60
    if minutes == 1:
        return "a minute"
    if minutes < 60:
        return f"{minutes} minutes"
    hours = s // 3600
    if hours == 1:
        return "an hour"
    if hours < 24:
        return f"{hours} hours"
    days = s // 86400
    years, days = divmod(days, 365)
    months = int(days // 30.5)
    if years == 0:
        if days == 1:
            return "a day"
        if months == 0:
            return f"{days} days"
        if months == 1:
            return "a month"
        return f"{months} months"
    if years == 1:
        if months == 0:
            return "1 year, 1 day" if days == 1 else (
                f"1 year, {days} days" if days else "a year"
            )
        return f"1 year, {months} months"
    return f"{years} years"


def naturaltime_py(delta: _dt.timedelta) -> str:
    """``humanize.naturaltime`` for a past timedelta: "now" under a
    second, else naturaldelta + " ago". The reference's stats command
    prints ``f"Last updated: {humanize.naturaltime(elapsed)} ago"``
    (__main__.py:156) — note the doubled " ago" is the REFERENCE's own
    output; callers reproducing that line must append it themselves."""
    s = delta.total_seconds()
    if s < 1:
        return "now"
    return f"{naturaldelta_py(s)} ago"
