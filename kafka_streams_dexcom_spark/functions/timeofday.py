"""Time-of-day extraction for the interval lookup join.

The reference splits the ISO timestamp string on 'T' and parses the
"HH:mm:ss" tail (reference: kafka-streams-categorize/.../EgvTransformer.java:40-49
— nominally 12-hour ``hh`` with lenient parsing; the intended and
implemented-here semantics are 24-hour time-of-day, see SURVEY.md §2.6 #5).

Comparing zero-padded "HH:mm:ss" strings lexicographically is equivalent to
comparing times — fixed-width digits — so the join predicate stays a plain
string range predicate that Catalyst can reason about.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def time_of_day(ts: Column | str) -> Column:
    """'HH:mm:ss' string from a timestamp column."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.date_format(c, "HH:mm:ss")


def time_of_day_from_iso_string(s: Column | str) -> Column:
    """'HH:mm:ss' from an ISO-8601 local string like 2020-11-02T02:00:00
    (string-split path, mirroring EgvTransformer.java:41). Fractional
    seconds and a zone suffix (``.406600``, ``Z``, ``+01:00``) are cut
    off: kept, they sort ``05:59:59.4`` after a range ending ``05:59:59``
    and the reading matches no range."""
    c = F.col(s) if isinstance(s, str) else s
    return F.substring(F.split(c, "T").getItem(1), 1, 8)
