"""ISO-8601 duration parsing.

The reference stores YouTube durations as raw ISO-8601 strings like
``"PT2H47M24S"`` and never parses them (reference
silver_transform_videos.py:34; sample ``"PT51S"`` in
videos_with_sentiment.json:7).  Spark has no built-in ISO-duration
parser, so the engine provides one as a pure Column expression —
``regexp_extract`` per component, JVM-side, codegen-friendly; no UDF.

Semantics: null on malformed input, matching the reference's
``safe_int`` null-on-error philosophy (silver_transform_videos.py:12-16).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Full ISO-8601 duration grammar as produced by the YouTube API:
# P[nW] or P[nD][T[nH][nM][nS]]; youtube uses PT#H#M#S / P#DT#H#M#S.
# Anchored with \z, not $: Java's $ also matches before a trailing line
# terminator, which would accept "PT5S\n".
_ISO_DURATION_RE = (
    r"^P(?:(\d+)W)?(?:(\d+)D)?(?:T(?:(\d+)H)?(?:(\d+)M)?(?:(\d+(?:\.\d+)?)S)?)?\z"
)


def iso8601_duration_seconds(col: Column | str) -> Column:
    """Parse an ISO-8601 duration string column into total seconds (long).

    Null for malformed strings, for nulls, for a bare ``"P"``/``"PT"``
    with no components (which the regex technically matches but carries
    no information), and for totals past the long range.
    """
    c = F.col(col) if isinstance(col, str) else col

    def part(group: int) -> Column:
        # regexp_extract returns '' both when the whole regex fails and
        # when the optional group is absent; the result only counts
        # once the overall string matched.  Absent groups go straight to
        # 0: casting '' to double fails through a thrown JVM exception,
        # which costs more than the regex itself and hits every empty
        # W/D/H group of a PT#M#S duration.
        g = F.regexp_extract(c, _ISO_DURATION_RE, group)
        return F.when(g != "", g.try_cast("double")).otherwise(F.lit(0.0))

    matched = c.rlike(_ISO_DURATION_RE)
    has_any_component = F.regexp_extract(c, r"(\d)", 1) != ""
    total = (
        part(1) * 604800  # weeks
        + part(2) * 86400  # days
        + part(3) * 3600  # hours
        + part(4) * 60  # minutes
        + part(5)  # seconds
    )
    # try_cast: a total past the long range is null, where a plain cast
    # saturates with ANSI off and raises with ANSI on.  (A total that
    # rounds to exactly 2^63 as a double still saturates; an explicit
    # bound would evaluate the five regex groups twice.)
    return F.when(matched & has_any_component, total.try_cast("long")).otherwise(
        F.lit(None).cast("long")
    )
