"""Date subsystem (SURVEY.md §2.8 F1-F6, §2.2 P2/P4).

Everything here is a **native Catalyst expression** — no Python UDFs in
the hot path. The semantics mirror the reference's documented intent:

- bad-format rejection regexes: reference ``whalefinder/validate.py:49-62``
- lenient parse of accepted formats: reference ``validate.py:37-63``
- ISO-validity predicate: reference ``cleaner.py:160-168``
- messy-date normalizer, the reference's ``split_dates``
  (``cleaner.py:76-158``), as :func:`with_date_parts` (the reference's
  textual-month branch has a latent ``datetime.strptime``
  AttributeError at ``cleaner.py:107``; per SURVEY §7.3.2 we implement
  the documented intent, i.e. the strptime cascade as written).

A pure-Python twin of the spec (:func:`split_dates_py`) is the unit /
property-test oracle, and :func:`split_dates_duckdb_sql` emits the same
cascade as DuckDB SQL so the driver's oracle runs the identical spec.
"""

from __future__ import annotations

import calendar
import datetime as _dt
import re
import string

from pyspark.sql import Column
from pyspark.sql import functions as F

from whale_sightings_spark.schemas import DATE_PARTS_FIELDS

# ---------------------------------------------------------------------------
# P2: bad-format rejection regexes (reference validate.py:49-62).
# Python re.match anchors at the start only -> translate to ^pattern
# (no trailing $ except where the reference pattern has one implicitly
# via full-string structure; re.match('^\d{4}-\d{1,2}$') etc. already
# carry $ in the reference).
# ---------------------------------------------------------------------------

BAD_DATE_FORMATS: tuple[str, ...] = (
    r"^\d{4}-\d{1,2}$",       # 1990-03
    r"^\d{1,2}-\d{4}$",       # 03-1990
    r"^\d{1,4}$",             # 1985
    r"^\d{1,2} [A-Za-z]+$",   # 20 Nov
    r"^[A-Za-z]+ \d{1,2}$",   # Oct 15
    r"^[A-Za-z]+ \d{4}$",     # Oct 1970
    r"^\d{4} [A-Za-z]+$",     # 1970 Oct
    r"^.*/.*",                # any '/' character
)


def is_bad_date_format(col: Column) -> Column:
    """True when eventDate matches one of the 8 rejected shapes (P2)."""
    expr = F.lit(False)
    for fmt in BAD_DATE_FORMATS:
        expr = expr | col.rlike(fmt)
    return expr


# ---------------------------------------------------------------------------
# F1: lenient parse chain for accepted formats (reference validate.py:41-47).
# dateutil accepts far more than the docstring; the engine contract is the
# documented accepted set plus common textual with-year forms.
# ---------------------------------------------------------------------------

_ACCEPTED_TS_FORMATS: tuple[str, ...] = (
    "yyyy-MM-dd",
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm",
    "yyyy-MM-dd HH:mm",
    "MMMM d yyyy",
    "MMM d yyyy",
    "d MMMM yyyy",
    "d MMM yyyy",
)


def parse_event_date(col: Column) -> Column:
    """F1: lenient eventDate parse -> DateType (null when unparseable).

    Timezone tails (``Z``, ``+00``, ``+00:00``) are stripped before the
    format chain — the reference truncates to a date anyway
    (``parse(value).date()``, validate.py:63).
    """
    trimmed = F.trim(col)
    # strip tz tails (Z / +00 / +00:00) — but only when a time component
    # exists, so the day of a plain date is never mistaken for an offset
    stripped = F.when(
        trimmed.rlike(r"\d{2}:\d{2}"),
        F.regexp_replace(trimmed, r"(Z|[+-]\d{2}(:?\d{2})?)$", ""),
    ).otherwise(trimmed)
    parsed = None
    for fmt in _ACCEPTED_TS_FORMATS:
        attempt = F.try_to_timestamp(stripped, F.lit(fmt))
        parsed = attempt if parsed is None else F.coalesce(parsed, attempt)
    return F.to_date(parsed)


def normalize_event_date(parsed: Column) -> Column:
    """Valid-channel normalization: a :func:`parse_event_date` result
    serialized back to an ISO YYYY-MM-DD *string* (reference
    model_dump(mode='json'), validate.py:178 — see SURVEY §1.4)."""
    return F.date_format(parsed, "yyyy-MM-dd")


# ---------------------------------------------------------------------------
# P4: ISO-validity predicate (reference cleaner.py:160-168)
# ---------------------------------------------------------------------------

ISO_DATE_RE = r"^\d{4}-\d{2}-\d{2}$"


def date_is_valid(col: Column) -> Column:
    """True iff the (string) eventDate is exactly YYYY-MM-DD."""
    return F.coalesce(col.rlike(ISO_DATE_RE), F.lit(False))


# ---------------------------------------------------------------------------
# F3: split_dates — the messy-date normalizer (reference cleaner.py:76-158)
# ---------------------------------------------------------------------------

#: lowercase month-name -> month number, abbreviated + full (the reference
#: tries %b then %B strptime formats, cleaner.py:89-98).
MONTHS: dict[str, int] = {
    **{calendar.month_abbr[i].lower(): i for i in range(1, 13)},
    **{calendar.month_name[i].lower(): i for i in range(1, 13)},
}

#: days in month for strptime's default year 1900 (not a leap year) —
#: governs validity of day-month / month-day textual forms.
_DAYS_1900 = (31, 28, 31, 30, 31, 30, 31, 31, 30, 31, 30, 31)

_ZEROS = (0, 0, 0, 0, 0, 0)


def split_dates_py(date_str: str) -> tuple[int, int, int, int, int, int]:
    """Pure-Python twin of the split_dates spec — the test oracle.

    Documented-intent reimplementation of reference cleaner.py:76-158
    (strptime cascade for textual months; '/'-range, year-range,
    year-month, full-date, bare-year numeric branches; six zeros on
    failure)."""
    s = date_str.replace(",", "").strip(" ")

    # textual-month branch (cleaner.py:81-115 documented intent)
    text_formats = [
        (r"^[A-Za-z]+ \d{4}$", "%b %Y"),
        (r"^\d{4} [A-Za-z]+$", "%Y %b"),
        (r"^\d{1,2} [A-Za-z]+$", "%d %b"),
        (r"^[A-Za-z]+ \d{1,2}$", "%b %d"),
        (r"^[A-Za-z]+ \d{4}$", "%B %Y"),
        (r"^\d{4} [A-Za-z]+$", "%Y %B"),
        (r"^\d{1,2} [A-Za-z]+$", "%d %B"),
        (r"^[A-Za-z]+ \d{1,2}$", "%B %d"),
    ]
    for r_fmt, p_fmt in text_formats:
        if re.match(r_fmt, s):
            try:
                d = _dt.datetime.strptime(s, p_fmt).date()
            except ValueError:
                continue
            if "%d" not in p_fmt:
                end_day = calendar.monthrange(d.year, d.month)[1]
                return (d.year, d.month, d.day, d.year, d.month, end_day)
            return (d.year, d.month, d.day) * 2

    try:
        if "/" in s and "-" in s:
            start, end = s.split("/")
            start = re.sub(r"T.*", "", start)
            end = re.sub(r"T.*", "", end)
            sy, sm, sd = start.split("-")
            ey, em, ed = end.split("-")
            return tuple(map(int, (sy, sm, sd, ey, em, ed)))  # type: ignore[return-value]
        elif "/" in s:
            sy, ey = s.split("/")
            return (int(sy), 1, 1, int(ey), 12, 31)
        elif "-" in s:
            parts = s.split("-")
            if len(parts) == 2:
                year, month = map(int, parts)
                if 0 < month <= 12:
                    return (year, month, 1, year, month, calendar.monthrange(year, month)[1])
                return (year, 1, 1, month, 12, 31)
            if len(parts) == 3:
                y, m, d = map(int, parts)
                return (y, m, d) * 2
            return _ZEROS  # >3 dash-parts: failure sentinel
        else:
            return (int(s), 1, 1, int(s), 12, 31)
    except ValueError:
        return _ZEROS


#: month names ordered so array_position(...) % 12 yields the month number
_MONTH_NAMES = [calendar.month_abbr[i].lower() for i in range(1, 13)] + [
    calendar.month_name[i].lower() for i in range(1, 13)
]


def _month_num(name_col: Column) -> Column:
    """Month-name (any case, abbrev or full) -> 1..12, null if not a month.

    array_position over a 24-element literal array keeps the expression
    tree small (it is inlined several times per cascade — a 48-pair
    create_map here multiplies codegen size and compile time). Case is
    folded by an ASCII ``translate``, not ``lower``: the first ``lower``
    in a JVM pays a one-time ICU class init of about 1.6 s, and month
    names are ASCII (the only letter Unicode lowers into ASCII is the
    Kelvin sign, and no month name has a ``k``).
    """
    folded = F.translate(name_col, string.ascii_uppercase, string.ascii_lowercase)
    pos = F.array_position(F.array(*[F.lit(n) for n in _MONTH_NAMES]), folded)
    return F.when(pos > 0, ((pos - 1) % 12 + 1).cast("int"))


def _days_in_month(year: Column, month: Column) -> Column:
    """F6: month-end day with real leap handling (monthrange parity)."""
    return F.dayofmonth(F.last_day(F.make_date(year, month, F.lit(1))))


def _days_in_month_1900(month: Column) -> Column:
    return F.element_at(F.array(*[F.lit(d) for d in _DAYS_1900]), month)


def date_parts_struct(sy, sm, sd, ey, em, ed) -> Column:
    """The six date parts as one int struct, in DATE_PARTS_FIELDS order."""
    return F.struct(
        *[c.cast("int").alias(f) for c, f in zip((sy, sm, sd, ey, em, ed), DATE_PARTS_FIELDS)]
    )


def staged_date_parts(df, src: str):
    """F3, the split_dates spec (:func:`split_dates_py`), over column
    ``src``: returns ``df`` plus its staged ``__`` helper columns, and
    the date-part struct expression over them.

    Every capture (space/dash/slash splits, month-name lookups) is
    materialized ONCE per row as a column, then the dispatch cascade is
    cheap when/struct logic over those attributes plus one rlike per
    shape. A single-expression cascade re-runs each regexp_extract per
    struct field per branch (conditional branches defeat codegen
    subexpression elimination) — measured ~3x slower.
    """
    ddd = r"^(\d+)-(\d+)-(\d+)$"
    dd = r"^(\d+)-(\d+)$"
    yy = r"^(\d+)/(\d+)$"

    d1 = df.withColumn("__s", F.trim(F.regexp_replace(F.col(src), ",", "")))
    d2 = d1.withColumns(
        {
            "__sp": F.split(F.col("__s"), " "),
            "__dash": F.split(F.col("__s"), "-"),
            "__slash": F.split(F.col("__s"), "/"),
        }
    )
    d3 = d2.withColumns(
        {
            "__w1": F.try_element_at(F.col("__sp"), F.lit(1)),
            "__w2": F.try_element_at(F.col("__sp"), F.lit(2)),
            "__side0": F.regexp_replace(
                F.try_element_at(F.col("__slash"), F.lit(1)), "T.*", ""
            ),
            "__side1": F.regexp_replace(
                F.try_element_at(F.col("__slash"), F.lit(2)), "T.*", ""
            ),
        }
    )
    d4 = d3.withColumns(
        {
            "__m1": _month_num(F.col("__w1")),
            "__m2": _month_num(F.col("__w2")),
            "__s0p": F.split(F.col("__side0"), "-"),
            "__s1p": F.split(F.col("__side1"), "-"),
        }
    )

    mk = date_parts_struct
    zeros = mk(*(F.lit(0),) * 6)
    i = F.lit(1)
    s = F.col("__s")

    def iel(arr: str, idx: int) -> Column:
        return F.try_element_at(F.col(arr), F.lit(idx)).try_cast("int")

    def month_year(year: Column, m: Column) -> Column:
        return F.when(
            m.isNotNull() & year.isNotNull(),
            mk(year, m, i, year, m, _days_in_month(year, m)),
        ).otherwise(zeros)

    def day_month(day: Column, m: Column) -> Column:
        ok = m.isNotNull() & (day >= 1) & (day <= _days_in_month_1900(m))
        y1900 = F.lit(1900)
        return F.when(ok, mk(y1900, m, day, y1900, m, day)).otherwise(zeros)

    full_range = F.when(
        (F.size("__slash") == 2)
        & F.col("__side0").rlike(ddd)
        & F.col("__side1").rlike(ddd),
        mk(
            iel("__s0p", 1), iel("__s0p", 2), iel("__s0p", 3),
            iel("__s1p", 1), iel("__s1p", 2), iel("__s1p", 3),
        ),
    ).otherwise(zeros)

    year_range = F.when(
        s.rlike(yy),
        mk(iel("__slash", 1), i, i, iel("__slash", 2), F.lit(12), F.lit(31)),
    ).otherwise(zeros)

    y2, m2 = iel("__dash", 1), iel("__dash", 2)
    year_month = F.when(
        (m2 > 0) & (m2 <= 12), mk(y2, m2, i, y2, m2, _days_in_month(y2, m2))
    ).otherwise(mk(y2, i, i, m2, F.lit(12), F.lit(31)))

    full_date = mk(
        iel("__dash", 1), iel("__dash", 2), iel("__dash", 3),
        iel("__dash", 1), iel("__dash", 2), iel("__dash", 3),
    )

    y0 = s.try_cast("int")
    parts = (
        F.when(
            s.rlike(r"^[A-Za-z]+ \d{4}$"),
            month_year(F.col("__w2").try_cast("int"), F.col("__m1")),
        )
        .when(
            s.rlike(r"^\d{4} [A-Za-z]+$"),
            month_year(F.col("__w1").try_cast("int"), F.col("__m2")),
        )
        .when(
            s.rlike(r"^\d{1,2} [A-Za-z]+$"),
            day_month(F.col("__w1").try_cast("int"), F.col("__m2")),
        )
        .when(
            s.rlike(r"^[A-Za-z]+ \d{1,2}$"),
            day_month(F.col("__w2").try_cast("int"), F.col("__m1")),
        )
        .when(s.contains("/") & s.contains("-"), full_range)
        .when(s.contains("/"), year_range)
        .when(s.rlike(dd), year_month)
        .when(s.rlike(ddd), full_date)
        .when(s.contains("-"), zeros)
        .when(s.rlike(r"^\d+$"), mk(y0, i, i, y0, F.lit(12), F.lit(31)))
        .otherwise(zeros)
    )
    return d4, parts


def with_date_parts(df, src: str = "eventDate"):
    """Attach the six date-part columns (reference cleaner.py:302,333)
    computed by :func:`staged_date_parts`.

    The struct is materialized before field extraction, so
    CollapseProject cannot duplicate the cascade six times in the
    projection. That does not hold for a filter over the six columns:
    predicate pushdown substitutes each field's source, one cascade per
    named field.
    """
    staged, parts = staged_date_parts(df, src)
    return staged.withColumn("__parts", parts).select(
        *df.columns, *[F.col(f"__parts.{f}").alias(f) for f in DATE_PARTS_FIELDS]
    )


# ---------------------------------------------------------------------------
# DuckDB twin of the cascade — keeps the driver's oracle on the same spec.
# ---------------------------------------------------------------------------

def split_dates_duckdb_sql(col: str) -> dict[str, str]:
    """Emit DuckDB SQL expressions for the six split_dates parts.

    Only the numeric + textual-month branches reachable from digit /
    month-name inputs — i.e. the full spec above — expressed with
    DuckDB's regexp_extract / make_date / last_day so the oracle runs
    the identical cascade.
    """
    s = f"trim(replace({col}, ',', ''))"
    month_case = "CASE lower({n}) " + " ".join(
        f"WHEN '{name}' THEN {num}" for name, num in MONTHS.items()
    ) + " ELSE NULL END"
    days1900 = "list_extract([31,28,31,30,31,30,31,31,30,31,30,31], {m})"

    def dim(y: str, m: str) -> str:
        return f"date_part('day', last_day(make_date({y}, {m}, 1)))"

    # textual shapes
    n_my = f"regexp_extract({s}, '^([A-Za-z]+) ([0-9]{{4}})$', 1)"
    y_my = f"CAST(regexp_extract({s}, '^([A-Za-z]+) ([0-9]{{4}})$', 2) AS INT)"
    n_ym = f"regexp_extract({s}, '^([0-9]{{4}}) ([A-Za-z]+)$', 2)"
    y_ym = f"CAST(regexp_extract({s}, '^([0-9]{{4}}) ([A-Za-z]+)$', 1) AS INT)"
    d_dm = f"CAST(regexp_extract({s}, '^([0-9]{{1,2}}) ([A-Za-z]+)$', 1) AS INT)"
    n_dm = f"regexp_extract({s}, '^([0-9]{{1,2}}) ([A-Za-z]+)$', 2)"
    n_md = f"regexp_extract({s}, '^([A-Za-z]+) ([0-9]{{1,2}})$', 1)"
    d_md = f"CAST(regexp_extract({s}, '^([A-Za-z]+) ([0-9]{{1,2}})$', 2) AS INT)"

    m_my = month_case.format(n=n_my)
    m_ym = month_case.format(n=n_ym)
    m_dm = month_case.format(n=n_dm)
    m_md = month_case.format(n=n_md)

    # numeric shapes
    side0 = f"regexp_replace(list_extract(str_split({s}, '/'), 1), 'T.*', '')"
    side1 = f"regexp_replace(list_extract(str_split({s}, '/'), 2), 'T.*', '')"
    ddd = "^([0-9]+)-([0-9]+)-([0-9]+)$"
    dd = "^([0-9]+)-([0-9]+)$"
    yy = "^([0-9]+)/([0-9]+)$"

    def ymd(side: str, grp: int) -> str:
        return f"CAST(regexp_extract({side}, '{ddd}', {grp}) AS INT)"

    y2 = f"CAST(regexp_extract({s}, '{dd}', 1) AS INT)"
    m2 = f"CAST(regexp_extract({s}, '{dd}', 2) AS INT)"
    y0 = f"CAST(regexp_extract({s}, '^([0-9]+)$', 1) AS INT)"

    range_ok = (
        f"len(str_split({s}, '/')) = 2 AND regexp_matches({side0}, '{ddd}') "
        f"AND regexp_matches({side1}, '{ddd}')"
    )

    def branch(part: str) -> str:
        """Build one output column's CASE cascade; `part` selects which of
        the six values each branch yields."""
        text_my = {
            "sy": y_my, "sm": m_my, "sd": "1",
            "ey": y_my, "em": m_my, "ed": dim(y_my, m_my),
        }
        text_ym = {
            "sy": y_ym, "sm": m_ym, "sd": "1",
            "ey": y_ym, "em": m_ym, "ed": dim(y_ym, m_ym),
        }
        text_dm = {
            "sy": "1900", "sm": m_dm, "sd": d_dm,
            "ey": "1900", "em": m_dm, "ed": d_dm,
        }
        text_md = {
            "sy": "1900", "sm": m_md, "sd": d_md,
            "ey": "1900", "em": m_md, "ed": d_md,
        }
        rng = {
            "sy": ymd(side0, 1), "sm": ymd(side0, 2), "sd": ymd(side0, 3),
            "ey": ymd(side1, 1), "em": ymd(side1, 2), "ed": ymd(side1, 3),
        }
        yrng = {
            "sy": f"CAST(regexp_extract({s}, '{yy}', 1) AS INT)", "sm": "1", "sd": "1",
            "ey": f"CAST(regexp_extract({s}, '{yy}', 2) AS INT)", "em": "12", "ed": "31",
        }
        ym_valid = {
            "sy": y2, "sm": m2, "sd": "1", "ey": y2, "em": m2, "ed": dim(y2, m2),
        }
        ym_years = {"sy": y2, "sm": "1", "sd": "1", "ey": m2, "em": "12", "ed": "31"}
        fdate = {
            "sy": ymd(s, 1), "sm": ymd(s, 2), "sd": ymd(s, 3),
            "ey": ymd(s, 1), "em": ymd(s, 2), "ed": ymd(s, 3),
        }
        byear = {"sy": y0, "sm": "1", "sd": "1", "ey": y0, "em": "12", "ed": "31"}

        return f"""CAST(COALESCE(CASE
  WHEN regexp_matches({s}, '^[A-Za-z]+ [0-9]{{4}}$')
    THEN CASE WHEN {m_my} IS NOT NULL THEN {text_my[part]} ELSE 0 END
  WHEN regexp_matches({s}, '^[0-9]{{4}} [A-Za-z]+$')
    THEN CASE WHEN {m_ym} IS NOT NULL THEN {text_ym[part]} ELSE 0 END
  WHEN regexp_matches({s}, '^[0-9]{{1,2}} [A-Za-z]+$')
    THEN CASE WHEN {m_dm} IS NOT NULL AND {d_dm} BETWEEN 1 AND {days1900.format(m=m_dm)} THEN {text_dm[part]} ELSE 0 END
  WHEN regexp_matches({s}, '^[A-Za-z]+ [0-9]{{1,2}}$')
    THEN CASE WHEN {m_md} IS NOT NULL AND {d_md} BETWEEN 1 AND {days1900.format(m=m_md)} THEN {text_md[part]} ELSE 0 END
  WHEN contains({s}, '/') AND contains({s}, '-')
    THEN CASE WHEN {range_ok} THEN {rng[part]} ELSE 0 END
  WHEN contains({s}, '/')
    THEN CASE WHEN regexp_matches({s}, '{yy}') THEN {yrng[part]} ELSE 0 END
  WHEN regexp_matches({s}, '{dd}')
    THEN CASE WHEN {m2} > 0 AND {m2} <= 12 THEN {ym_valid[part]} ELSE {ym_years[part]} END
  WHEN regexp_matches({s}, '{ddd}') THEN {fdate[part]}
  WHEN contains({s}, '-') THEN 0
  WHEN regexp_matches({s}, '^[0-9]+$') THEN {byear[part]}
  ELSE 0 END, 0) AS INT)"""

    return {
        "start_year": branch("sy"),
        "start_month": branch("sm"),
        "start_day": branch("sd"),
        "end_year": branch("ey"),
        "end_month": branch("em"),
        "end_day": branch("ed"),
    }
