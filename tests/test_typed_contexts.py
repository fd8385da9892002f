"""Typed context normalizer chains (int ZeroFill / date digit-pack /
geo Morton z-order) — reference semantics from
Hunt/Index/Schema/Normalize/*.hs, pinned strings from
test/Hunt/AnalyzerTests.hs:121-131 — plus engine-vs-oracle identity
for typed range and point queries (normQueryCx on the query side)."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from hunt_spark.engine import HuntEngine
from hunt_spark.functions.analysis import (
    date_norm_py,
    geo_norm_py,
    int_norm_py,
)
from hunt_spark.operators.build import BuildConfig
from hunt_spark.oracle import OracleIndex


def test_int_zerofill_reference_pin():
    # AnalyzerTests.hs:121-131
    assert int_norm_py("1") == "100000000000000000001"
    assert int_norm_py("0") == "1" + "0" * 20
    assert int_norm_py("-1") == "0" + "9" * 20
    assert int_norm_py("x1") is None
    assert int_norm_py("1.5") is None


@given(st.integers(-(10**18), 10**18), st.integers(-(10**18), 10**18))
@settings(max_examples=300, deadline=None)
def test_int_zerofill_order_isomorphic(a, b):
    na, nb = int_norm_py(str(a)), int_norm_py(str(b))
    assert (a < b) == (na < nb)
    assert len(na) == 21


def test_int_zerofill_reference_bounds():
    # AnalyzerTests.hs test_isInt_overflow/_upper/_lower: int64 bounds
    assert int_norm_py("9223372036854775807") == "109223372036854775807"
    assert int_norm_py("6443264") is not None
    assert int_norm_py("10000000000000000000000000000000000000") is None
    assert int_norm_py("-9223372036854775808") is not None
    # NOTE deliberate divergence from NI.normalizeToText's negative form
    # ("0" + abs, AnalyzerTests.hs test_normInt2/4): that encoding is
    # not order-isomorphic for negatives (-1 -> "0...01" sorts BELOW
    # -2 -> "0...02"); ours offsets by 10^20 so one lexicographic
    # BETWEEN answers any range (pinned by
    # test_int_zerofill_order_isomorphic)
    assert int_norm_py("-9223372036854775808") < int_norm_py("-1")


def test_date_pack():
    assert date_norm_py("2013-01-01") == "20130101000000"
    assert date_norm_py("2013-01-01T12:30:45") == "20130101123045"
    assert date_norm_py("2013-1-1") is None
    assert date_norm_py("hello") is None
    assert date_norm_py("2012-12-31") < date_norm_py("2013-01-01")


def test_date_partial_reference_pins(spark):
    # AnalyzerTests.hs prop_isAnyDate2/3: datetime and bare year are
    # valid dates; partials expand to the reference's toUTC defaults
    assert date_norm_py("2013") == "20130101000000"
    assert date_norm_py("2013-06") == "20130601000000"
    assert date_norm_py("2013") == date_norm_py("2013-01-01")
    assert date_norm_py("201") is None
    # JVM build-side twin agrees
    from pyspark.sql import functions as F

    from hunt_spark.functions.analysis import normalize_context_col

    df = spark.createDataFrame(
        [("2013 2013-06 2013-06-15 2013-06-15T10:20:30 junk",)], "d string"
    )
    got = df.select(normalize_context_col(F.col("d"), "date").alias("n")).first()["n"]
    assert got.split() == [
        "20130101000000", "20130601000000", "20130615000000", "20130615102030",
    ]


def test_date_yearless_xsd_forms(spark):
    # Normalize/Date.hs rexDates gMonthDay/gMonth/gDay ("--12-25",
    # "--12", "---25"); readMonthDayS/readMonthS/readDayS default the
    # missing fields to year 1 / month 1 / day 1
    assert date_norm_py("--12-25") == "00011225000000"
    assert date_norm_py("--12") == "00011201000000"
    assert date_norm_py("---25") == "00010125000000"
    # malformed year-less tokens still rejected
    assert date_norm_py("--1") is None
    assert date_norm_py("----25") is None
    assert date_norm_py("--12-25-01") is None
    # JVM build-side twin agrees
    from pyspark.sql import functions as F

    from hunt_spark.functions.analysis import normalize_context_col

    df = spark.createDataFrame([("--12-25 --12 ---25 --1 junk",)], "d string")
    got = df.select(normalize_context_col(F.col("d"), "date").alias("n")).first()["n"]
    assert got.split() == [
        "00011225000000", "00011201000000", "00010125000000",
    ]


def test_date_tz_reference_pins():
    """Timezone suffixes shift by the reference's signed-ADD semantics
    (Normalize/Date.hs toUTCTime `addUTCTime tz`, Date.hs:152-158, with
    readTimeZone negating only '-', Date.hs:236-246) — the opposite
    direction of ISO-8601 UTC conversion, mirrored exactly."""
    assert date_norm_py("2013-01-01T12:00:00+02:00") == "20130101140000"
    assert date_norm_py("2013-01-01T12:00:00-02:00") == "20130101100000"
    assert date_norm_py("2013-01-01T12:00:00Z") == "20130101120000"
    # tz on date-only and partial forms (rexDates puts tz on every form)
    assert date_norm_py("2013-01-01Z") == "20130101000000"
    assert date_norm_py("2013-01-01-05:00") == "20121231190000"  # crosses midnight
    assert date_norm_py("2013+05:30") == "20130101053000"
    assert date_norm_py("--12-25-05:00") == "00011224190000"
    # tz hour capped at 13 (h13, Date.hs:190-192); the "+14:00:00"
    # alternative crashes the reference's readTimeZone, so reject
    assert date_norm_py("2013-01-01+14:00") is None
    assert date_norm_py("2013-01-01+13:59") == "20130101135900"
    # shifts leaving year 1..9999 reject (no year-0 support upstream)
    assert date_norm_py("0001-01-01-00:01") is None
    assert date_norm_py("9999-12-31T23:59:59+13:59") is None


def test_date_calendar_clip_and_grammar_bounds():
    # fromGregorian clips out-of-calendar days (Date.hs:253-260 via
    # Data.Time); out-of-grammar months/days are not dates at all
    assert date_norm_py("2013-02-31") == "20130228000000"
    assert date_norm_py("2012-02-31") == "20120229000000"  # leap year
    assert date_norm_py("2013-13-01") is None
    assert date_norm_py("2013-00-01") is None
    assert date_norm_py("2013-01-32") is None
    assert date_norm_py("2013-01-01T25:00:00") is None


def test_date_leap_and_fraction_pins():
    # hms admits the literal 24:00:00 (Date.hs:186-187); without a
    # zone, show renders dayTime>=24h as leap second 23:59:60
    # (timeToTimeOfDay); with one, addUTCTime normalizes to next day
    assert date_norm_py("2013-01-01T24:00:00") == "20130101235960"
    assert date_norm_py("2013-01-01T24:00:00Z") == "20130102000000"
    assert date_norm_py("2013-01-01T24:00:00+01:00") == "20130102010000"
    assert date_norm_py("2013-01-01T24:00:01") is None
    # fractional seconds survive into the key, trailing zeros dropped
    # (show of Pico). Separator is '_' (a \w char), NOT the
    # reference's '.': the key stream is re-tokenized by \w+ in the
    # build, and '.' would split the key so indexed terms never match
    # query-side normalized keys. All whole-second keys are exactly 14
    # digits, so ordering within a second stays chronological.
    assert date_norm_py("2013-01-01T12:00:00.5") == "20130101120000_5"
    assert date_norm_py("2013-01-01T12:00:00.50") == "20130101120000_5"
    assert date_norm_py("2013-01-01T12:00:00.0") == "20130101120000"
    assert date_norm_py("2013-01-01T12:00:00.05+01:00") == "20130101130000_05"
    assert (
        date_norm_py("2013-01-01T12:00:00")
        < date_norm_py("2013-01-01T12:00:00.5")
        < date_norm_py("2013-01-01T12:00:01")
    )


_DATE_TOKEN_ST = st.one_of(
    # well-formed-ish assemblies around the grammar's edges
    st.builds(
        lambda y, mo, d, t, z: f"{y:04d}-{mo:02d}-{d:02d}{t}{z}",
        st.integers(1, 9999),
        st.integers(0, 13),
        st.integers(0, 32),
        st.sampled_from(
            ["", "T12:30:45", "T23:59:59", "T24:00:00", "T00:00:00.25",
             "T12:00:00.500", "T25:00:00"]
        ),
        st.sampled_from(["", "Z", "+02:00", "-05:30", "+13:59", "+14:00"]),
    ),
    st.builds(
        lambda mo, d, z: f"--{mo:02d}-{d:02d}{z}",
        st.integers(0, 13), st.integers(0, 32),
        st.sampled_from(["", "Z", "-01:00"]),
    ),
    st.sampled_from(
        ["2013", "2013Z", "2013-06", "2013-06+01:00", "--12", "---25",
         "--12Z", "---25-13:00", "junk", "2013-1-1", "20130101"]
    ),
)


@given(st.lists(st.lists(_DATE_TOKEN_ST, min_size=1, max_size=8),
                min_size=40, max_size=40))
@settings(max_examples=3, deadline=None)
def test_date_norm_jvm_python_parity(token_lists):
    """_date_norm_expr (Catalyst) == date_norm_py on generated tokens
    spanning every form, the tz/leap/fraction edges, and rejects. Each
    example evaluates its 40 token lists as the rows of one DataFrame:
    one Spark job per example, not per list (hypothesis's first example
    is the minimal one, so two random examples bring 80 lists)."""
    spark = test_date_norm_jvm_python_parity._spark
    from hunt_spark.functions.analysis import normalize_context_col

    df = spark.createDataFrame(
        [(i, " ".join(tokens)) for i, tokens in enumerate(token_lists)],
        "i int, d string",
    )
    got = {
        r["i"]: r["n"]
        for r in df.select(
            "i", normalize_context_col(F.col("d"), "date").alias("n")
        ).collect()
    }
    for i, tokens in enumerate(token_lists):
        want = [k for t in tokens if (k := date_norm_py(t)) is not None]
        assert got[i].split() == want, tokens


@pytest.fixture(autouse=True)
def _attach_spark_for_parity(spark):
    # hypothesis wraps the test, so the fixture can't be a parameter;
    # stash the session on the function instead
    test_date_norm_jvm_python_parity._spark = spark
    yield


@given(
    st.integers(-89 * 10**7, 89 * 10**7),
    st.integers(-179 * 10**7, 179 * 10**7),
)
@settings(max_examples=200, deadline=None)
def test_geo_norm_denorm_roundtrip(lat7, lon7):
    # AnalyzerTests.hs test_norm_pos5 / prop_norm_pos3: denormalize .
    # normalize is identity at the index's 1e-7-degree resolution
    from hunt_spark.functions.analysis import geo_denorm_py

    pos = f"{lat7 / 1e7:.7f}-{lon7 / 1e7:.7f}"
    assert geo_denorm_py(geo_norm_py(pos)) == pos


def test_geo_zorder_properties():
    z = geo_norm_py("52.5-13.4")
    assert z is not None and len(z) == 64 and set(z) <= {"0", "1"}
    assert geo_norm_py("52.5-13.4") == geo_norm_py("52.5-13.4")
    # nearby points share a long common prefix; far points do not
    z2 = geo_norm_py("52.5000001-13.4000001")
    z_far = geo_norm_py("-33.9--151.2") or geo_norm_py("-33.9-151.2")
    common = len([1 for a, b in zip(z, z2) if a == b])  # not prefix len
    prefix2 = next((i for i, (a, b) in enumerate(zip(z, z2)) if a != b), 64)
    prefix_far = next((i for i, (a, b) in enumerate(zip(z, z_far)) if a != b), 64)
    assert prefix2 > prefix_far
    assert geo_norm_py("91.0-0.0") is None
    assert geo_norm_py("junk") is None


ROWS = [
    # (url, body, year, date, pos)
    ("u1", "alpha beta", "1999", "1999-05-04", "52.5-13.4"),
    ("u2", "beta gamma", "2005", "2005-01-31", "52.5-13.4"),
    ("u3", "gamma delta", "2010", "2010-12-24", "48.8-2.3"),
    ("u4", "delta alpha", "-50", "2013-01-01T08:00:00", "40.7--74.0"),
    ("u5", "alpha gamma", "7", "1999-05-04", "35.6-139.7"),
]

CTYPES = {"year": "int", "date": "date", "pos": "geo"}


@pytest.fixture(scope="module")
def typed_engine(spark, tmp_path_factory):
    df = spark.createDataFrame(
        ROWS, "url string, body string, year string, date string, pos string"
    )
    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("typed_idx")),
        BuildConfig(n_shards=4, salt_buckets=2, context_types=CTYPES),
    )
    eng.build(
        df,
        {c: F.col(c) for c in ("body", "year", "date", "pos")},
        build_id="typed",
    )
    return eng


@pytest.fixture(scope="module")
def oracle_typed(spark):
    from hunt_spark.functions.analysis import CONTEXT_NORMS_PY

    ids = {
        r["url"]: r["id"]
        for r in spark.createDataFrame([(r[0],) for r in ROWS], "url string")
        .select("url", F.xxhash64("url").alias("id"))
        .collect()
    }

    def norm_text(text, ctype):
        f = CONTEXT_NORMS_PY[ctype]
        return " ".join(z for t in text.split() if (z := f(t)) is not None)

    docs = [(ids[r[0]], r[0], 1.0) for r in ROWS]
    cx = {
        "body": {ids[r[0]]: r[1] for r in ROWS},
        "year": {ids[r[0]]: norm_text(r[2], "int") for r in ROWS},
        "date": {ids[r[0]]: norm_text(r[3], "date") for r in ROWS},
        "pos": {ids[r[0]]: norm_text(r[4], "geo") for r in ROWS},
    }
    norms = {c: CONTEXT_NORMS_PY[t] for c, t in CTYPES.items()}
    return OracleIndex(docs, cx, context_norms=norms, context_types=CTYPES)


TYPED_QUERIES = [
    "year:[1999 TO 2010]",       # int range, numeric order
    "year:[-100 TO 10]",         # negative lower bound
    "year:'2005'",               # int point
    "date:[1999-01-01 TO 2010-12-31]",
    "date:'2013-01-01T08:00:00'",
    "pos:'52.5-13.4'",           # geo point (z-string equality)
    "alpha AND year:[0 TO 2000]",
]


@pytest.mark.parametrize("q", TYPED_QUERIES)
def test_typed_rank_identity(typed_engine, oracle_typed, q):
    got = [
        (r["doc_id"], r["score"])
        for r in typed_engine.search(q, k=10, use_wand=False).collect()
    ]
    want = [(d, s) for d, _u, s in oracle_typed.search(q, k=10)]
    assert [g[0] for g in got] == [w[0] for w in want], (q, got, want)
    for g, w in zip(got, want):
        assert math.isclose(g[1], w[1], abs_tol=1e-6)
    assert got, q


def test_int_range_is_numeric_not_lexicographic(typed_engine):
    # lexicographic raw strings would put "7" above "1999"; zero-fill
    # must keep 7 inside [0 TO 2000] and -50 outside
    ids = {
        r["url"]
        for r in typed_engine.search("year:[0 TO 2000]", k=10).collect()
    }
    assert ids == {"u1", "u5"}


def test_gaussian_int_range_hunt_mode(spark, tmp_path_factory):
    """I9 lookupRangeSc: in reference-native scoring mode an int-range
    hit scores by a Gaussian bell vs the interval midpoint
    (PrefixTreeIndex.hs:266-270, Keys.hs:70-99) — midpoint docs rank
    above edge docs; engine == oracle to 1e-9."""
    import math as m

    from hunt_spark.functions.analysis import CONTEXT_NORMS_PY, int_norm_py

    rows = [(f"u{y}", str(y)) for y in (2000, 2003, 2005, 2007, 2010)]
    df = spark.createDataFrame(rows, "url string, year string")
    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("gauss_idx")),
        BuildConfig(n_shards=2, context_types={"year": "int"}),
        scoring="hunt",
    )
    eng.build(df, {"year": F.col("year")}, build_id="g")
    got = eng.search("year:[2000 TO 2010]", k=10, use_wand=False).collect()
    # midpoint 2005 first, symmetric decay outward, edges last
    assert [r["url"] for r in got] == ["u2005", "u2003", "u2007", "u2000", "u2010"]
    assert m.isclose(got[0]["score"], 1.0)
    # Keys.hs sigma = max(|mu|, 10)/10 = 200.5 for mu=2005
    sigma = max(abs(2005.0), 10.0) / 10.0
    assert m.isclose(got[1]["score"], m.exp(-(2.0**2) / (2 * sigma**2)))

    ids = {
        r["url"]: r["id"]
        for r in df.select("url", F.xxhash64("url").alias("id")).collect()
    }
    oracle = OracleIndex(
        [(ids[u], u, 1.0) for u, _y in rows],
        {"year": {ids[u]: int_norm_py(y) for u, y in rows}},
        context_norms={"year": CONTEXT_NORMS_PY["int"]},
        scoring="hunt",
        context_types={"year": "int"},
    )
    want = oracle.search("year:[2000 TO 2010]", k=10)
    assert [r["doc_id"] for r in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert m.isclose(g["score"], w[2], abs_tol=1e-9)


def test_typed_validator_rejects_in_query(typed_engine):
    # a non-int constant cannot match anything in the int context
    assert typed_engine.search("year:'notanint'", k=10).count() == 0


# ---------------------------------------------------------------------------
# I10 full: geo rectangle containment (PrefixTreeIndex2Dim.hs:96 via
# Data.StringMap.Dim2Search.lookupRange; property-tested against an
# isInRect oracle like test/Hunt/InterpreterTests.hs:536-559)
# ---------------------------------------------------------------------------

GEO_POINTS = [
    (52.5, 13.4), (52.5, 13.5), (48.8, 2.3), (40.7, -74.0),
    (35.6, 139.7), (-33.9, 151.2), (52.6, 13.4), (0.0, 0.0),
    (52.4, 13.3), (53.0, 14.0), (52.0, 13.0), (-1.0, -1.0),
]


@pytest.fixture(scope="module")
def geo_engine(spark, tmp_path_factory):
    rows = [(f"g{i}", f"{lat}-{lon}") for i, (lat, lon) in enumerate(GEO_POINTS)]
    df = spark.createDataFrame(rows, "url string, pos string")
    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("georect_idx")),
        BuildConfig(n_shards=2, salt_buckets=1, context_types={"pos": "geo"}),
    )
    eng.build(df, {"pos": F.col("pos")}, build_id="geo")
    return eng


def _in_rect(lat, lon, lat1, lon1, lat2, lon2):
    return lat1 <= lat <= lat2 and lon1 <= lon <= lon2


@pytest.mark.parametrize(
    "rect",
    [
        (52.0, 13.0, 53.0, 14.0),    # Berlin box: excludes z-interval noise
        (40.0, -80.0, 53.0, 14.0),   # spans negative lon
        (-40.0, -180.0, 60.0, 180.0),  # nearly everything
        (52.5, 13.4, 52.5, 13.4),    # degenerate point rect
        (10.0, 10.0, 20.0, 20.0),    # empty
    ],
)
def test_geo_rect_containment(geo_engine, rect):
    lat1, lon1, lat2, lon2 = rect
    q = f"pos:[{lat1}-{lon1} TO {lat2}-{lon2}]"
    got = {r["url"] for r in geo_engine.search(q, k=100, use_wand=False).collect()}
    want = {
        f"g{i}"
        for i, (lat, lon) in enumerate(GEO_POINTS)
        if _in_rect(lat, lon, lat1, lon1, lat2, lon2)
    }
    assert got == want


@given(
    st.lists(
        st.tuples(
            st.integers(-89, 89), st.integers(-179, 179),
        ),
        min_size=1, max_size=8,
    ),
    st.integers(-89, 69), st.integers(-179, 159),
    st.integers(0, 20), st.integers(0, 20),
)
@settings(max_examples=30, deadline=None)
def test_geo_rect_pred_property(points, lat1, lon1, dlat, dlon):
    """Pure-predicate property check (no Spark): the de-interleaved
    rect filter over z-strings equals isInRect for integer-degree
    points — mirrors the reference's quickcheck property."""
    lat2, lon2 = lat1 + dlat, lon1 + dlon
    lo = geo_norm_py(f"{lat1}-{lon1}")
    hi = geo_norm_py(f"{lat2}-{lon2}")
    for lat, lon in points:
        z = geo_norm_py(f"{lat}-{lon}")
        in_rect = lat1 <= lat <= lat2 and lon1 <= lon <= lon2
        pred = (
            lo <= z <= hi
            and lo[0::2] <= z[0::2] <= hi[0::2]
            and lo[1::2] <= z[1::2] <= hi[1::2]
        )
        assert pred == in_rect, (lat, lon, lat1, lon1, lat2, lon2)


def test_fractional_datetime_survives_build_tokenization(spark, tmp_path_factory):
    """Regression: the fraction separator must be a \\w character. The
    normalized key stream is re-tokenized by \\w+ inside the build, so
    a '.'-joined key ('20130101120000.5') split into two bogus terms —
    indexed fractional datetimes could never match the query-side key.
    End-to-end: exact and range lookups on a fractional-second token."""
    from hunt_spark.operators.build import BuildConfig

    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("frac_idx")),
        BuildConfig(n_shards=4, context_types={"when": "date"}),
    )
    docs = spark.createDataFrame(
        [
            ("u1", "a", "2013-01-01T12:00:00.5"),
            ("u2", "b", "2013-01-01T12:00:00"),
            ("u3", "c", "2013-01-01T12:00:01"),
        ],
        "url string, text string, when string",
    )
    eng.build(docs, {"text": F.col("text"), "when": F.col("when")}, build_id="f")
    u1 = (
        spark.createDataFrame([("u1",)], "url string")
        .select(F.xxhash64("url").alias("i")).first()["i"]
    )
    exact = {r["doc_id"] for r in eng.select('when:"2013-01-01T12:00:00.5"').collect()}
    assert exact == {u1}
    rng = {
        r["doc_id"]
        for r in eng.select(
            'when:[2013-01-01T12:00:00.2 TO 2013-01-01T12:00:00.9]'
        ).collect()
    }
    assert rng == {u1}


def test_rejected_context_excluded_from_single_group_fast_path(
    spark, tmp_path_factory
):
    """Regression: when every typed context REJECTS the query constant
    (validator -> None) and only text keeps it unchanged, the
    single-group fast path must scan just the surviving contexts. It
    used to scan the original fan-out — a prefix like '201301' then
    matched every packed date key '20130101HHMMSS' in the rejected
    date context (the oracle skips the context entirely)."""
    from hunt_spark.operators.build import BuildConfig

    eng = HuntEngine(
        spark,
        str(tmp_path_factory.mktemp("rej_idx")),
        BuildConfig(n_shards=4, context_types={"when": "date"}),
    )
    docs = spark.createDataFrame(
        [("u1", "alpha beta", "2013-01-01T12:00:00"),
         ("u2", "gamma delta", "2013-01-02")],
        "url string, text string, when string",
    )
    eng.build(docs, {"text": F.col("text"), "when": F.col("when")}, build_id="r")
    # '201301' matches no date grammar form -> rejected by the date
    # context; as a bare-word prefix over text it matches nothing
    assert eng.select("201301").collect() == []
    # sanity: a real date constant still hits through the date context
    assert {r["doc_id"] for r in eng.select('when:"2013-01-02"').collect()}
