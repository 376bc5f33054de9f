"""The versioned table's one data-skipping rule, ``_keeps`` over
``_may_match``: a commit, file or partition dir is skipped only when
no row its recorded [min, max] allows can satisfy the predicates.
Library reads (``read_version``/``incremental_scan`` ``prune=``) and
format reads (pushed filters) all decide through it, so a skip can
never lose rows that ``df.where`` on the source keeps.
"""

from __future__ import annotations

import datetime
import decimal
import json
import os

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from end_to_end_database_pipeline_project_spark.sources import versioned as V
from end_to_end_database_pipeline_project_spark.sources.versioned_source import (
    _hive_dir_value,
    register,
)

D = decimal.Decimal
UTC = datetime.timezone.utc
OPS = ("=", ">", ">=", "<", "<=")


# ------------------------------------------------ pure-Python property


def _key(v):
    """``v`` in Spark's comparison order: NaN above every float and
    equal to itself, -0.0 equal to 0.0, timestamps as naive UTC, a date
    as its midnight (Spark casts a date to a timestamp to compare)."""
    if isinstance(v, float):
        return (1, 0.0) if v != v else (0, v + 0.0)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(UTC).replace(tzinfo=None)
        return v
    if isinstance(v, datetime.date):
        return datetime.datetime.combine(v, datetime.time())
    return v


def _satisfies(x, op, value) -> bool:
    """Spark's ``x <op> value`` for a non-NULL ``x``."""
    if op == "in":
        return any(_satisfies(x, "=", v) for v in value)
    a, b = _key(x), _key(value)
    return {
        "=": a == b,
        ">": a > b,
        ">=": a >= b,
        "<": a < b,
        "<=": a <= b,
    }[op]


_TS = {
    "min_value": datetime.datetime(1900, 1, 1),
    "max_value": datetime.datetime(2200, 1, 1),
}
_ZONES = st.sampled_from(
    [UTC, datetime.timezone(datetime.timedelta(hours=5, minutes=30)),
     datetime.timezone(datetime.timedelta(hours=-8))]
)
_DECIMALS = st.builds(
    lambda unscaled, scale: D(unscaled).scaleb(-scale),
    st.integers(-(10**12), 10**12),
    st.integers(0, 6),
)
# each type: (data values, predicate values); the predicate is what a
# reader hands ``_may_match``, the data what was recorded
_TYPES = {
    "int": (st.integers(-(2**63), 2**63 - 1),) * 2,
    "float": (
        st.one_of(st.floats(), st.sampled_from([0.0, -0.0, float("nan")])),
    )
    * 2,
    "decimal": (_DECIMALS,) * 2,
    "date": (st.dates(),) * 2,
    "naive_ts": (st.datetimes(**_TS),) * 2,
    "aware_ts": (st.datetimes(**_TS, timezones=_ZONES),) * 2,
    "mixed_ts": (st.datetimes(**_TS), st.datetimes(**_TS, timezones=_ZONES)),
    "date_vs_ts": (st.dates(), st.datetimes(**_TS)),
    "ts_vs_date": (st.datetimes(**_TS), st.dates()),
    "str": (
        st.one_of(
            st.text(max_size=6),
            st.text(alphabet="019-: T.eE", max_size=12),
        ),
    )
    * 2,
    "bool": (st.booleans(),) * 2,
}


@st.composite
def _cases(draw):
    data_st, pred_st = _TYPES[draw(st.sampled_from(sorted(_TYPES)))]
    vals = draw(st.lists(st.one_of(st.none(), data_st), min_size=1, max_size=4))
    op = draw(st.sampled_from(OPS + ("in",)))
    if op == "in":
        value = tuple(draw(st.lists(pred_st, min_size=1, max_size=3)))
    else:
        value = draw(pred_st)
    return vals, op, value


def _recorded(v):
    """A stat as a reader sees it: serialized and read back from the
    manifest's JSON."""
    return json.loads(json.dumps(V._stat_value(v)))


@settings(
    max_examples=20000 if os.environ.get("SPARK_GRAFT_STRESS") else 500,
    deadline=None,
)
@given(_cases())
def test_may_match_never_skips_a_matching_range(case):
    """Soundness of the one skip rule: a recorded range — commit or
    file stats via ``_bound``/``_stat_value``, or a hive dir via
    ``_hive_dir_value`` — is never skipped when a value inside it
    satisfies the predicate."""
    vals, op, value = case
    lo = _recorded(V._bound(min, vals))
    hi = _recorded(V._bound(max, vals))
    if any(v is not None and _satisfies(v, op, value) for v in vals):
        assert V._may_match(lo, hi, op, value), (lo, hi, op, value)
    for v in vals:
        rec = V._hive_stat(V._partition_value(f"c={_hive_dir_value(v)}", "c"))
        if v is not None and _satisfies(v, op, value):
            assert V._may_match(rec["min"], rec["max"], op, value), (rec, op, value)
        if v is None:
            assert not V._may_match(rec["min"], rec["max"], op, value)


def _as_string(v):
    """A typed predicate value as the string literal Spark casts back
    to it on a column of its type (a user's ``prune=`` bound may be
    either)."""
    if isinstance(v, tuple):
        return tuple(_as_string(x) for x in v)
    s = V._stat_value(v)
    return s if isinstance(s, str) else str(v).lower()


def _shift(v, n):
    """``v`` moved ``n`` small steps (hours for a timestamp, days for a
    date), so a predicate value lands next to a recorded one."""
    if isinstance(v, (bool, str)):
        return v
    if isinstance(v, datetime.date):
        hours = 1 if isinstance(v, datetime.datetime) else 24
        try:
            return v + datetime.timedelta(hours=n * hours)
        except OverflowError:  # next to date.min or date.max
            return v
    return v + n


@st.composite
def _pred_sets(draw):
    """Recorded values and one or two predicates on them (a library
    ``prune=`` is two), each value typed or as its string literal.
    Predicate values are often drawn next to a recorded value (same
    day, nearby number), where string and typed orders part."""
    name = draw(st.sampled_from(sorted(_TYPES)))
    data_st, pred_st = _TYPES[name]
    vals = draw(st.lists(st.one_of(st.none(), data_st), min_size=1, max_size=4))
    near = [v for v in vals if v is not None]
    if near and data_st is pred_st:
        pred_st = st.one_of(
            pred_st,
            st.builds(_shift, st.sampled_from(near), st.integers(-3, 3)),
        )
    preds = []
    for _ in range(draw(st.integers(1, 2))):
        op = draw(st.sampled_from(OPS + ("in",)))
        if op == "in":
            value = tuple(draw(st.lists(pred_st, min_size=1, max_size=3)))
        else:
            value = draw(pred_st)
        preds.append((op, value))
    as_str = draw(st.booleans())
    given_preds = [(op, _as_string(v)) for op, v in preds] if as_str else preds
    return vals, preds, given_preds


@settings(
    max_examples=20000 if os.environ.get("SPARK_GRAFT_STRESS") else 500,
    deadline=None,
)
@given(_pred_sets())
def test_keeps_never_skips_a_matching_range(case):
    """Soundness of the rule over predicate sets: a recorded range (as
    above, and a timestamp dir as Spark's writer names it, with a space
    separator) is kept when a value inside it satisfies every
    predicate, whether the predicate values are typed or their string
    literals."""
    vals, preds, given_preds = case

    def hit(v):
        return v is not None and all(_satisfies(v, op, x) for op, x in preds)

    stats = {
        "min": _recorded(V._bound(min, vals)),
        "max": _recorded(V._bound(max, vals)),
    }
    if any(hit(v) for v in vals):
        assert V._keeps(stats, given_preds), (stats, given_preds)
    for v in filter(hit, vals):
        forms = [_hive_dir_value(v)]
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            forms.append(str(v))
        for raw in forms:
            rec = V._hive_stat(V._partition_value(f"c={raw}", "c"))
            assert V._keeps(rec, given_preds), (rec, given_preds)


def test_rule_skips_by_value():
    """The rule still skips: decimals order as numbers, not strings;
    all-NULL ranges and the NULL partition match no comparison; string
    bounds are read under one type at a time, so they prune as the
    value Spark casts them to."""
    m = V._may_match
    assert not m("5.00", "9.00", ">", D("9.00"))
    assert not m("10.50", "12.00", "<=", D("10.00"))
    assert m("5.00", "12.00", "=", D("9.50"))
    assert not m(None, None, "=", 1)
    assert not m(None, None, "in", (1, 2))
    assert not m(5, 10, "<=", "3")
    assert m(1, 10, ">=", "1")
    assert not m("2020-06-02", "2020-06-02", "=", datetime.date(2020, 6, 3))
    # a string bound keeps a timestamp range Spark's cast would match
    k = V._keeps
    ts_range = {"min": "2000-01-01T00:00:00", "max": "2000-01-05T00:00:00"}
    assert k(ts_range, (("<=", "2000-01-01"),))
    assert not k(ts_range, (("<=", "1999-12-31T23:59:59"),))
    # both bounds under one reading: a space-separated dir outside
    # ['T'-form] bounds is skipped, though each bound alone matches it
    # under some reading
    dir12 = V._hive_stat("2020-06-01 12:00:00")
    bounds = ((">=", "2020-06-01T09:00:00"), ("<=", "2020-06-01T11:00:00"))
    assert not k(dir12, bounds)
    assert all(k(dir12, (b,)) for b in bounds)
    # decimal strings order as numbers under the numeric reading
    assert k({"min": "5.00", "max": "12.00"}, ((">=", "9.00"), ("<=", "10.00")))
    assert not k({"min": "10.50", "max": "12.00"}, (("<=", "10.00"),))


# --------------------------------------------- Spark: reads lose no rows


def test_decimal_and_mistyped_bounds_never_lose_rows(spark, tmp_path):
    """A decimal(10,2) column holding 5.00, 9.50 and 12.00: every read
    for [9.00, 10.00] (or = 9.50) returns the 9.50 rows, as ``df.where``
    on the source does — commit and file stats, partition dirs, the
    change feed, and format reads of library- and format-written
    tables. Comparing the manifest's decimal strings (``"12.00" <
    "9.00"``) used to skip them all. String bounds compare as the value
    Spark casts them to."""
    register(spark)
    src = spark.sql(
        "SELECT k, CAST(amt AS decimal(10,2)) AS amt, ts FROM VALUES "
        "(1L, 5.00, TIMESTAMP_NTZ'2000-01-01'), "
        "(2L, 9.50, TIMESTAMP_NTZ'2000-01-01'), "
        "(3L, 12.00, TIMESTAMP_NTZ'2000-01-02') AS t(k, amt, ts)"
    ).coalesce(1)
    lo, hi = D("9.00"), D("10.00")

    def keys(df):
        return sorted(r.k for r in df.collect())

    in_range = keys(src.where(F.col("amt").between(lo, hi)))
    assert in_range == [2]
    stats, parts, fmt = (str(tmp_path / n) for n in ("stats", "parts", "fmt"))
    V.write_version(src, stats, stats_cols=("amt", "k", "ts"))
    V.append_version(src, stats, stats_cols=("amt", "k", "ts"))  # v2
    V.write_version(src, parts, partition_by=("amt",))
    src.write.format("versioned_table").option("path", fmt).option(
        "statscols", "amt"
    ).mode("overwrite").save()
    # library: commit and file stats, partition dirs, the change feed
    assert keys(V.read_version(spark, stats, prune=("amt", lo, hi))) == in_range * 2
    assert keys(V.read_version(spark, parts, prune=("amt", lo, hi))) == in_range
    feed = V.incremental_scan(spark, stats, 1, prune=("amt", lo, hi))
    assert keys(feed) == in_range
    # format: pushed filter over library- and format-written file stats
    for path, copies in ((stats, 2), (fmt, 1)):
        got = spark.read.format("versioned_table").option("path", path).load()
        assert keys(got.where("amt = 9.50")) == in_range * copies, path

    # string bounds compare as the value Spark casts them to: no
    # TypeError over long stats, and a date-only bound keeps the rows
    # at its midnight ("2000-01-01T00:00:00" > "2000-01-01" as strings)
    for col, blo, bhi in (("k", "1", "2"), ("ts", "1999-12-31", "2000-01-01")):
        want = keys(src.where(F.col(col).between(blo, bhi)))
        got = V.read_version(spark, stats, prune=(col, blo, bhi))
        assert want == [1, 2] and keys(got) == [1, 1, 2, 2], col
