"""Target URIs with glob filtering (reference P1).

The reference gates every scan with ``glue://db/tbl*``-style URIs: the
scheme picks the connector, the path components are fnmatch patterns
applied during enumeration (reference: cli.py:85-95 parse,
glue.py:152-159 / unity.py:110-115 / hms.py:83-88 filters).

Spark-first shape: the same fnmatch semantics in two places —
driver-side (``match_names``) to prune the table list BEFORE any scan
job is planned (the cheapest possible filter: unread tables cost
nothing), and data-plane (``glob_to_rlike``) as an ``rlike`` predicate
so catalog-frame pipelines keep the filter inside the plan (Catalyst
pushes it into the enumeration scan where the source supports it).
"""

from __future__ import annotations

import fnmatch
import re


def parse_target(uri: str) -> tuple[str, str, str]:
    """'scheme://db_pat/tbl_pat' -> (scheme, db_pat, tbl_pat).

    Reference cli.py:85-95: missing components default to '*'; a bare
    'scheme://db' targets every table of matching databases.
    """
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*)://([^/]*)(?:/(.*))?$", uri)
    if not m:
        raise ValueError(f"bad target URI: {uri!r} "
                         f"(want scheme://db_pattern[/table_pattern])")
    scheme, db_pat, tbl_pat = m.group(1), m.group(2) or "*", m.group(3)
    return scheme, db_pat, tbl_pat if tbl_pat else "*"


def match_names(names, patterns) -> tuple[str, ...]:
    """fnmatch-filter a name list against one-or-many glob patterns."""
    if isinstance(patterns, str):
        patterns = (patterns,)
    return tuple(n for n in names
                 if any(fnmatch.fnmatch(n, p) for p in patterns))


def glob_to_rlike(pattern: str) -> str:
    """fnmatch glob -> anchored Java regex for ``Column.rlike``.

    Only ``*`` and ``?`` wildcards (the forms the reference's targets
    use); everything else is escaped literally.
    """
    out = []
    for ch in pattern:
        if ch == "*":
            out.append(".*")
        elif ch == "?":
            out.append(".")
        else:
            out.append(re.escape(ch))
    return "^" + "".join(out) + "$"
