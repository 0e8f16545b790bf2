"""Date parsing helpers.

``parse_release_date`` reproduces the reference's mixed-granularity
release-date semantics (pd.to_datetime at
/root/reference/spotifytransform.py:99): Spotify returns "YYYY",
"YYYY-MM", or "YYYY-MM-DD"; all three coerce to a date. Padding rule
(documented in SURVEY.md §7 / FIXTURES.md): YYYY → YYYY-01-01,
YYYY-MM → YYYY-MM-01.

Implemented as a length-dispatch + pad + single to_date — ANSI-safe (no
try_* needed, no exceptions on well-formed inputs), pure Catalyst
expressions, fully codegen'd.
"""

from __future__ import annotations


def parse_release_date(c: str) -> str:
    """Spark SQL fragment: the release date in SQL expression ``c`` as a
    DATE."""
    return (
        f"to_date(CASE length({c}) WHEN 4 THEN concat({c}, '-01-01') "
        f"WHEN 7 THEN concat({c}, '-01') ELSE {c} END, 'yyyy-MM-dd')"
    )


# DuckDB oracle fragment with identical padding semantics.
SQL_PARSE_RELEASE_DATE = (
    "CAST(STRPTIME(CASE WHEN LENGTH({c}) = 4 THEN {c} || '-01-01' "
    "WHEN LENGTH({c}) = 7 THEN {c} || '-01' ELSE {c} END, '%Y-%m-%d') AS DATE)"
)
