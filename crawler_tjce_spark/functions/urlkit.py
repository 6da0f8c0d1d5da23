"""URL canonicalization and host extraction for the frontier and the
seen-set.

The reference's frontier key is the pagination restart token
(``crawler/crawler.py:628-652``) and its seen-set is an exact Python
set of entity names (``schemas/entity_mapping_crawler.py:219-223``).
At 10^10-URL scale the key must be a canonical URL; everything here is
JVM-side (``regexp_replace`` chains) so canonicalization runs inside
whole-stage codegen at scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_str(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def canonicalize_url(col: Column | str) -> Column:
    """Normalize a URL to its canonical crawl identity.

    Steps (standard crawler canonicalization; deterministic, order
    matters):
      1. trim; default scheme ``https`` if missing;
      2. lowercase scheme + host;
      3. strip fragment (``#...``);
      4. strip default ports ``:80`` / ``:443``;
      5. collapse duplicate slashes in the path (not in the query);
      6. drop a trailing ``/`` on a bare host;
      7. sort query parameters lexicographically.
    """
    s = F.trim(_as_str(col).cast("string"))
    s = F.when(s.rlike(r"^[A-Za-z][A-Za-z0-9+.-]*://"), s).otherwise(F.concat(F.lit("https://"), s))
    # lowercase scheme://host[:port] prefix only
    prefix = F.regexp_extract(s, r"^([A-Za-z][A-Za-z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(s, F.length(prefix) + 1, F.lit(1 << 30))
    s = F.concat(F.lower(prefix), rest)
    s = F.regexp_replace(s, r"#.*$", "")
    s = F.regexp_replace(s, r"^(https://[^/?#]*):443(?=[/?]|$)", r"$1")
    s = F.regexp_replace(s, r"^(http://[^/?#]*):80(?=[/?]|$)", r"$1")
    # split off query before touching the path
    query = F.regexp_extract(s, r"\?(.*)$", 1)
    path_part = F.regexp_replace(s, r"\?.*$", "")
    path_part = F.regexp_replace(path_part, r"(?<!:)//+", "/")
    path_part = F.regexp_replace(path_part, r"^(https?://[^/?#]+)/$", r"$1")
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.when(query == "", path_part).otherwise(
        F.concat(path_part, F.lit("?"), sorted_query)
    )


def url_host(col: Column | str) -> Column:
    """Host (without port) of a canonical URL — the politeness key."""
    return F.regexp_extract(_as_str(col), r"^[a-z][a-z0-9+.-]*://([^/:?#]*)", 1)
