"""The Overture->OSM tag-transform chain (SURVEY.md §2.7, F1-F11).

Every step is a pure Catalyst column expression (regexp/string ops —
JVM-side, codegen), with a `sql_*` twin emitting the equivalent
DuckDB SQL so each step is oracle-checkable. Semantics pinned to the
reference:

  F1  lowercase_url              match.py:19-33
  F2  tracking-param strip       match.py:36-49,63-86
  F3  website blacklist          match.py:316-368
  F4  website normalize (F2∘F1)  match.py:369-374
  F5  toll-free phone drop       match.py:376-390
  F6  category -> OSM tags       match.py:286 (overturetoosm.process_place,
      pinned on the fixture vocabulary — documented subset)
  F7  street-address parse       match.py:288-298 (atlus.get_address,
      fixture grammar "123 Main Street Northwest")
  F8  phone normalize            match.py:304-314 (atlus.get_phone ->
      "+1 XXX-XXX-XXXX")
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- F2: the reference's TRACKING_PARAMS_REGEX, verbatim
# (match.py:36-49). Java regex and RE2 both accept this pattern. ---
TRACKING_PARAMS_PATTERN = (
    r"&?(?:utm_[^&=]*|[a-z_]*(?:id|token|source|ref)|_ga|hsCtaTracking"
    r"|hsa_[^&=]*|_hs[^&=]*|ref_?|lipi)(=[^&=]+)"
)

# --- F3: website blacklist, verbatim (match.py:316-368) ---
WEBSITE_BLACKLIST = [
    "ubereats.com", "doordash.com", "grubhub.com",
    "opentable.com", "resy.com",
    "google.com", "g.page", "apple.com", "yelp.com", "groupon.com",
    "eventbrite.com", "musthavemenus.com", "parkopedia.com",
    "toasttab.com", "dineblast.com", "thanx.com", "order.online",
    "digitalpour.com", "waitrapp.com", "culinarycloud.co",
    "bit.ly", "business.site", "spotify.com", "facebook.com",
    "instagram.com", "twitter.com", "x.com", "whitepages.com",
    "yellowpages.com", "yahoo.com", "mapquest.com", "glassdoor.com",
    "restaurant.com", "cortera.com", "finduslocal.com", "redfin.com",
    "dandb.com", "chamberofcommerce.com", "wikidot.com", "...", '"',
]

# --- F5: toll-free prefixes, verbatim (match.py:376-390) ---
TOLL_FREE = ["+1-800", "+1-888", "+1-877", "+1-866", "+1-855", "+1-844", "+1-833"]

# --- F6: the overturetoosm.process_place behavior pinned on the
# fixture vocabulary (a documented subset of the external lib;
# match.py:286). ---
CATEGORY_TO_TAGS = {
    "restaurant": [("amenity", "restaurant")],
    "bar": [("amenity", "bar")],
    "cafe": [("amenity", "cafe"), ("cuisine", "coffee_shop")],
    "bakery": [("shop", "bakery")],
    "unknown": [],
}

# ---------------------------------------------------------------------------
# F1 — lowercase the domain only, preserve protocol & path case.
# Mirrors the reference's split semantics EXACTLY (match.py:19-33):
# split at the FIRST '//' anywhere (protocol = everything up to and
# including it — the LAZY `.*?//` finds the first occurrence even when
# a '/' precedes it), partition the remainder at its first '/',
# lowercase the domain, and drop a bare trailing '/' (the reference's
# empty path contributes nothing: path group == "/" -> dropped).
# Kept as ONE regex applied 3x so huge synthesized URL expressions
# stay under janino's 64KB codegen method limit.
# ---------------------------------------------------------------------------

_URL_RE = r"^(.*?//)?([^/]*)(/.*)?$"


def lowercase_url(url: Column) -> Column:
    proto = F.regexp_extract(url, _URL_RE, 1)
    domain = F.lower(F.regexp_extract(url, _URL_RE, 2))
    path = F.regexp_extract(url, _URL_RE, 3)
    return F.concat(
        proto, domain, F.when(path == "/", F.lit("")).otherwise(path)
    )


def sql_lowercase_url(url: str) -> str:
    pat = _URL_RE
    path = f"coalesce(regexp_extract({url}, '{pat}', 3), '')"
    return (
        f"concat(coalesce(regexp_extract({url}, '{pat}', 1), ''), "
        f"lower(coalesce(regexp_extract({url}, '{pat}', 2), '')), "
        f"CASE WHEN {path} = '/' THEN '' ELSE {path} END)"
    )


# ---------------------------------------------------------------------------
# F2 — strip tracking params (single-pass regex union, then tidy)
# ---------------------------------------------------------------------------

def strip_tracking_params(url: Column) -> Column:
    cleaned = F.regexp_replace(url, TRACKING_PARAMS_PATTERN, "")
    cleaned = F.regexp_replace(cleaned, r"[&?]+$", "")  # rstrip("&?")
    return F.regexp_replace(cleaned, r"\?&", "?")


def sql_strip_tracking_params(url: str) -> str:
    pat = TRACKING_PARAMS_PATTERN.replace("'", "''")
    return (
        f"regexp_replace(regexp_replace(regexp_replace({url}, '{pat}', '', 'g'), "
        f"'[&?]+$', ''), '\\?&', '?', 'g')"
    )


# ---------------------------------------------------------------------------
# F3/F4 — blacklist then normalize the survivor
# ---------------------------------------------------------------------------

def _contains_any(col: Column, needles: list[str]) -> Column:
    return reduce(
        lambda a, b: a | b, [F.contains(col, F.lit(n)) for n in needles]
    )


def clean_website(url: Column) -> Column:
    """NULL if blacklisted, else the normalized URL:
    lowercase_url(strip(url).replace('?&','?').rstrip('?& '))
    (match.py:316-374)."""
    normalized = lowercase_url(
        F.regexp_replace(
            F.regexp_replace(strip_tracking_params(url), r"\?&", "?"),
            r"[?& ]+$",
            "",
        )
    )
    return F.when(url.isNull() | _contains_any(url, WEBSITE_BLACKLIST), F.lit(None)).otherwise(
        normalized
    )


def sql_clean_website(url: str) -> str:
    bl = " OR ".join(
        f"position('{d.replace(chr(39), chr(39) * 2)}' in {url}) > 0"
        for d in WEBSITE_BLACKLIST
    )
    stripped = sql_strip_tracking_params(url)
    tidied = (
        f"regexp_replace(regexp_replace({stripped}, '\\?&', '?', 'g'), "
        f"'[?& ]+$', '')"
    )
    return (
        f"CASE WHEN {url} IS NULL OR ({bl}) THEN NULL "
        f"ELSE {sql_lowercase_url(tidied)} END"
    )


# ---------------------------------------------------------------------------
# F5 — toll-free phone drop
# ---------------------------------------------------------------------------

def drop_toll_free(phone: Column) -> Column:
    return F.when(
        phone.isNull() | _contains_any(phone, TOLL_FREE), F.lit(None)
    ).otherwise(phone)


def sql_drop_toll_free(phone: str) -> str:
    conds = " OR ".join(f"position('{p}' in {phone}) > 0" for p in TOLL_FREE)
    return f"CASE WHEN {phone} IS NULL OR ({conds}) THEN NULL ELSE {phone} END"


# ---------------------------------------------------------------------------
# F8 — phone normalize: any string with a 10-digit US number (optional
# leading +1) -> "+1-XXX-XXX-XXXX" (atlus.get_phone pinned behavior;
# the dashed form is what the reference's toll-free blacklist keys on,
# match.py:376-390)
# ---------------------------------------------------------------------------

_PHONE_RE = r"^\D*1?\D*(\d{3})\D*(\d{3})\D*(\d{4})\D*$"


def normalize_phone(phone: Column) -> Column:
    ok = phone.rlike(_PHONE_RE)
    formatted = F.concat(
        F.lit("+1-"),
        F.regexp_extract(phone, _PHONE_RE, 1),
        F.lit("-"),
        F.regexp_extract(phone, _PHONE_RE, 2),
        F.lit("-"),
        F.regexp_extract(phone, _PHONE_RE, 3),
    )
    # ValueError tolerated in the reference -> keep original on no-parse
    return F.when(phone.isNull(), F.lit(None)).when(ok, formatted).otherwise(phone)


def sql_normalize_phone(phone: str) -> str:
    pat = _PHONE_RE
    return (
        f"CASE WHEN {phone} IS NULL THEN NULL "
        f"WHEN regexp_matches({phone}, '{pat}') THEN "
        f"concat('+1-', regexp_extract({phone}, '{pat}', 1), '-', "
        f"regexp_extract({phone}, '{pat}', 2), '-', "
        f"regexp_extract({phone}, '{pat}', 3)) "
        f"ELSE {phone} END"
    )


# ---------------------------------------------------------------------------
# F7 — street-address parse on the fixture grammar
# "<number> <Street Name Words>" -> (housenumber, street)
# ---------------------------------------------------------------------------

_ADDR_RE = r"^(\d+) (.+)$"


def parse_housenumber(addr: Column) -> Column:
    got = F.regexp_extract(addr, _ADDR_RE, 1)
    return F.when(addr.isNull() | (got == ""), F.lit(None)).otherwise(got)


def parse_street(addr: Column) -> Column:
    got = F.regexp_extract(addr, _ADDR_RE, 2)
    return F.when(addr.isNull() | (got == ""), F.lit(None)).otherwise(got)


def sql_parse_housenumber(addr: str) -> str:
    return (
        f"CASE WHEN {addr} IS NULL OR NOT regexp_matches({addr}, '{_ADDR_RE}') "
        f"THEN NULL ELSE regexp_extract({addr}, '{_ADDR_RE}', 1) END"
    )


def sql_parse_street(addr: str) -> str:
    return (
        f"CASE WHEN {addr} IS NULL OR NOT regexp_matches({addr}, '{_ADDR_RE}') "
        f"THEN NULL ELSE regexp_extract({addr}, '{_ADDR_RE}', 2) END"
    )


# ---------------------------------------------------------------------------
# F6 — category -> OSM tag map (+P10 default)
# ---------------------------------------------------------------------------

def category_tags(category: Column) -> Column:
    """map<string,string> of OSM tags for a category (P10: missing ->
    'unknown' -> empty map)."""
    cat = F.coalesce(category, F.lit("unknown"))
    expr = F.lit(None).cast("map<string,string>")
    # build a when-chain over the pinned vocabulary
    result = None
    for c, kvs in CATEGORY_TO_TAGS.items():
        m = (
            F.create_map(
                *[x for kv in kvs for x in (F.lit(kv[0]), F.lit(kv[1]))]
            )
            if kvs
            else F.create_map().cast("map<string,string>")
        )
        result = F.when(cat == c, m) if result is None else result.when(cat == c, m)
    return result.otherwise(F.create_map().cast("map<string,string>"))
