"""Property-based fuzzing (hypothesis) of the byte codecs: typed wire
row images over random schemas+values, binary JSON documents, LZW, and
the image codecs. Pure Python — no Spark session."""

from __future__ import annotations

import datetime
from decimal import Decimal

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from polardbx_cdc_spark import binlog_wire as W

# --- typed row images ------------------------------------------------------
# strategy: a (decl, value-strategy) pair per column type; build random
# tables of 1..6 columns, random rows with NULLs, and round trip through
# TABLE_MAP + WRITE_ROWS.

_COLUMN_KINDS = [
    ("tinyint", st.integers(-128, 127)),
    ("tinyint unsigned", st.integers(0, 255)),
    ("smallint", st.integers(-(1 << 15), (1 << 15) - 1)),
    ("mediumint", st.integers(-(1 << 23), (1 << 23) - 1)),
    ("int", st.integers(-(1 << 31), (1 << 31) - 1)),
    ("bigint", st.integers(-(1 << 63), (1 << 63) - 1)),
    ("bigint unsigned", st.integers(0, (1 << 64) - 1)),
    ("double", st.floats(allow_nan=False, allow_infinity=False, width=64)),
    (
        "decimal(18,4)",
        st.decimals(
            min_value=Decimal("-99999999999999.9999"),
            max_value=Decimal("99999999999999.9999"),
            places=4,
            allow_nan=False,
            allow_infinity=False,
        ),
    ),
    ("varchar(255)", st.text(max_size=80)),
    ("char(20)", st.text(max_size=20)),
    ("date", st.dates(datetime.date(1000, 1, 1), datetime.date(9999, 12, 31))),
    (
        "datetime(6)",
        st.datetimes(
            datetime.datetime(1000, 1, 1), datetime.datetime(9999, 12, 28)
        ),
    ),
    (
        "time(6)",
        st.timedeltas(
            min_value=-datetime.timedelta(hours=800),
            max_value=datetime.timedelta(hours=800),
        ),
    ),
    ("blob", st.binary(max_size=64)),
    ("enum('a','b','c','d')", st.integers(1, 4)),
    ("set('p','q','r','s','t')", st.integers(0, 31)),
    ("bit(12)", st.integers(0, (1 << 12) - 1)),
    ("year", st.integers(1901, 2155)),
]


@st.composite
def _tables(draw):
    cols = draw(st.lists(st.sampled_from(_COLUMN_KINDS), min_size=1, max_size=6))
    rows = []
    for _ in range(draw(st.integers(1, 5))):
        rows.append(
            [None if draw(st.booleans()) and draw(st.booleans()) else draw(vs)
             for _, vs in cols]
        )
    return [d for d, _ in cols], rows


def _norm(decl, v):
    if v is None:
        return None
    if decl.startswith("time"):
        # wire truncates to fsp precision (micros here, fsp=6 → exact)
        return v
    return v


@given(_tables())
@settings(max_examples=120, deadline=None)
def test_typed_row_images_round_trip_any_schema(table):
    decls, rows = table
    td = W.TableDef.from_mysql_types("d", "t", decls)
    buf = (
        W.encode_fde()
        + W.encode_table_map(1, td)
        + W.encode_rows_event(W.WRITE_ROWS_EVENT, 1, td, rows)
    )
    got = [e for e in W.decode_events(buf) if e["type"] == W.WRITE_ROWS_EVENT][0][
        "rows"
    ]
    assert len(got) == len(rows)
    for grow, row in zip(got, rows):
        for gv, v, decl in zip(grow, row, decls):
            if v is None:
                assert gv is None
                continue
            if decl.startswith("double"):
                assert gv == v or (gv != gv and v != v)
            elif decl.startswith("decimal"):
                assert Decimal(gv) == Decimal(v)
            else:
                assert gv == _norm(decl, v), (decl, v, gv)


# --- binary JSON -----------------------------------------------------------

_json_scalars = st.one_of(
    st.none(),
    st.booleans(),
    st.integers(-(1 << 63), (1 << 64) - 1),
    st.floats(allow_nan=False, allow_infinity=False),
    st.text(max_size=40),
)
_json_values = st.recursive(
    _json_scalars,
    lambda children: st.one_of(
        st.lists(children, max_size=6),
        st.dictionaries(st.text(max_size=12), children, max_size=6),
    ),
    max_leaves=25,
)


@given(_json_values)
@settings(max_examples=200, deadline=None)
def test_binary_json_round_trips_any_document(doc):
    assert W.json_parse(W.json_serialize(doc)) == doc


# --- LZW + images ----------------------------------------------------------


@given(st.binary(max_size=4000))
@settings(max_examples=100, deadline=None)
def test_gif_lzw_round_trips_any_bytes(data):
    from polardbx_cdc_spark.functions import media_codecs as mc

    assert mc._lzw_decode(mc._lzw_encode(data, 8), 8) == data


@given(st.integers(1, 24), st.integers(1, 24), st.integers(3, 4), st.integers(0, 2**32 - 1))
@settings(max_examples=60, deadline=None)
def test_png_round_trips_any_image(h, w, c, seed):
    from polardbx_cdc_spark.functions import media_codecs as mc

    arr = np.random.RandomState(seed % (2**31)).randint(
        0, 256, (h, w, c), dtype=np.uint8
    )
    assert np.array_equal(mc.decode_png(mc.encode_png(arr)), arr)


@given(st.integers(1, 20), st.integers(1, 20), st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_jpeg_dims_exact_and_error_bounded(h, w, seed):
    from polardbx_cdc_spark.functions import media_codecs as mc

    arr = np.random.RandomState(seed).randint(0, 256, (h, w, 3), dtype=np.uint8)
    back = mc.decode_jpeg(mc.encode_jpeg(arr, 95))
    assert back.shape == arr.shape
    # random noise is the worst case for DCT coding; the bound is loose
    # but must hold for EVERY image (dims/layout bugs explode it)
    assert np.abs(back.astype(int) - arr.astype(int)).mean() < 24


# --- ROWS v1 framing + pre-5.6 legacy temporals ----------------------------

_LEGACY_KINDS = [
    (
        "datetime legacy",
        st.datetimes(
            datetime.datetime(1000, 1, 1), datetime.datetime(9999, 12, 28)
        ).map(lambda d: d.replace(microsecond=0)),
    ),
    (
        "timestamp legacy",
        st.datetimes(
            datetime.datetime(1970, 1, 2), datetime.datetime(2106, 2, 6)
        ).map(lambda d: d.replace(microsecond=0)),
    ),
    (
        "time legacy",
        st.timedeltas(
            min_value=-datetime.timedelta(hours=838),
            max_value=datetime.timedelta(hours=838),
        ).map(lambda t: t - datetime.timedelta(microseconds=t.microseconds)),
    ),
]


@st.composite
def _legacy_tables(draw):
    cols = draw(
        st.lists(
            st.sampled_from(_COLUMN_KINDS[:8] + _LEGACY_KINDS),
            min_size=1, max_size=6,
        )
    )
    rows = []
    for _ in range(draw(st.integers(1, 4))):
        rows.append(
            [None if draw(st.booleans()) and draw(st.booleans()) else draw(vs)
             for _, vs in cols]
        )
    return [d for d, _ in cols], rows


@given(_legacy_tables(), st.sampled_from([W.WRITE_ROWS_EVENT, W.WRITE_ROWS_EVENT_V1]))
@settings(max_examples=120, deadline=None)
def test_legacy_temporals_round_trip_in_both_framings(table, event_type):
    """Any mix of numeric + legacy-temporal columns must round trip
    bit-exact through BOTH v2 and v1 rows-event framing."""
    decls, rows = table
    td = W.TableDef.from_mysql_types("d", "t", decls)
    buf = (
        W.encode_fde()
        + W.encode_table_map(1, td)
        + W.encode_rows_event(event_type, 1, td, rows)
    )
    got = [e for e in W.decode_events(buf) if e["type"] == event_type][0]["rows"]
    assert len(got) == len(rows)
    for grow, row in zip(got, rows):
        for gv, v, decl in zip(grow, row, decls):
            if v is None:
                assert gv is None
            elif decl.startswith("double"):
                assert gv == v
            elif decl.startswith("decimal"):
                assert Decimal(gv) == Decimal(v)
            else:
                assert gv == v, (decl, v, gv)


@given(_tables())
@settings(max_examples=60, deadline=None)
def test_v1_and_v2_bodies_differ_only_by_var_header(table):
    """For any schema+rows: the v1 event equals the v2 event minus the
    2-byte var-header (modulo type code and recomputed lengths/CRC)."""
    decls, rows = table
    td = W.TableDef.from_mysql_types("d", "t", decls)
    v2 = W.encode_rows_event(W.WRITE_ROWS_EVENT, 1, td, rows)
    v1 = W.encode_rows_event(W.WRITE_ROWS_EVENT_V1, 1, td, rows)
    assert len(v1) == len(v2) - 2
    # identical decoded payloads
    base = W.encode_fde() + W.encode_table_map(1, td)
    r2 = W.decode_events(base + v2)[-1]["rows"]
    r1 = W.decode_events(base + v1)[-1]["rows"]
    assert r1 == r2


@given(_tables())
@settings(max_examples=60, deadline=None)
def test_transaction_payload_wrap_is_transparent(table):
    """Property: wrapping ANY transaction stream in a TRANSACTION_PAYLOAD
    (compression NONE) and decoding yields exactly the decode of the
    plain stream — payload framing is transparent to every column kind."""
    decls, rows = table
    td = W.TableDef.from_mysql_types("d", "t", decls)
    evs = [
        W.encode_query("", "BEGIN"),
        W.encode_table_map(1, td),
        W.encode_rows_event(W.WRITE_ROWS_EVENT, 1, td, rows),
        W.encode_xid(7),
    ]
    wrapped = W.encode_transaction_payload(evs)
    inner = W.decode_events(wrapped)[0]["events"]
    assert inner == W.decode_events(b"".join(evs))


@given(_tables(), st.data())
@settings(max_examples=60, deadline=None)
def test_partial_row_images_round_trip_any_mask(table, data):
    """Property: for ANY schema and ANY non-empty present mask, a partial
    row image round-trips — present columns keep their values, absent
    columns come back None, and the partial marker lists exactly the
    mask."""
    decls, rows = table
    td = W.TableDef.from_mysql_types("d", "t", decls)
    n = len(decls)
    mask = data.draw(
        st.lists(st.booleans(), min_size=n, max_size=n).filter(any)
    )
    buf = W.encode_table_map(1, td) + W.encode_rows_event(
        W.WRITE_ROWS_EVENT, 1, td, rows, present=mask
    )
    ev = [e for e in W.decode_events(buf) if e["type"] == W.WRITE_ROWS_EVENT][0]
    full_buf = W.encode_table_map(1, td) + W.encode_rows_event(
        W.WRITE_ROWS_EVENT, 1, td, rows
    )
    full = [e for e in W.decode_events(full_buf)
            if e["type"] == W.WRITE_ROWS_EVENT][0]["rows"]
    for got, ref in zip(ev["rows"], full):
        for i in range(n):
            assert got[i] == (ref[i] if mask[i] else None)
    if all(mask):
        assert "present_columns" not in ev
    else:
        assert ev["present_columns"] == [i for i, m in enumerate(mask) if m]


@given(_tables(), st.data())
@settings(max_examples=40, deadline=None)
def test_payload_wrap_of_partial_images(table, data):
    """Interaction property: TRANSACTION_PAYLOAD framing over PARTIAL row
    images — wrap(mask(events)) decodes exactly like mask(events), with
    the partial markers intact inside the payload."""
    decls, rows = table
    td = W.TableDef.from_mysql_types("d", "t", decls)
    n = len(decls)
    mask = data.draw(
        st.lists(st.booleans(), min_size=n, max_size=n).filter(any)
    )
    evs = [
        W.encode_table_map(1, td),
        W.encode_rows_event(W.WRITE_ROWS_EVENT, 1, td, rows, present=mask),
    ]
    plain = W.decode_events(b"".join(evs))
    wrapped = W.decode_events(W.encode_transaction_payload(evs))[0]["events"]
    assert wrapped == plain
    ev = [e for e in wrapped if e["type"] == W.WRITE_ROWS_EVENT][0]
    if not all(mask):
        assert ev["present_columns"] == [i for i, m in enumerate(mask) if m]


# ---------------------------------------------------------------------------
# r12 temporal forward-cast laws (MODIFY COLUMN … DATE/DATETIME/TIME)
# ---------------------------------------------------------------------------


@given(st.datetimes(datetime.datetime(1000, 1, 1),
                    datetime.datetime(9999, 12, 28)))
@settings(max_examples=200, deadline=None)
def test_mysql_cast_datetime_roundtrips_its_own_string_form(dt):
    """Law: rendering a datetime the way the string retype renders it,
    then casting back, is the identity — the two directions of a
    VARCHAR↔DATETIME retype pair can never drift."""
    s = dt.strftime("%Y-%m-%d %H:%M:%S")
    if dt.microsecond:
        s += f".{dt.microsecond:06d}"
    assert W._mysql_cast_datetime(s) == dt


@given(st.datetimes(datetime.datetime(1000, 1, 1),
                    datetime.datetime(9999, 12, 28)),
       st.integers(0, 999), st.integers(0, 9))
@settings(max_examples=200, deadline=None)
def test_mysql_cast_datetime_rounds_extra_fraction_half_up(dt, nanos3, d7):
    """Law: fractional digits past micros ROUND-HALF-UP (WL#946), with
    carry into seconds when micros overflow."""
    dt = dt.replace(microsecond=0)
    frac = f"{nanos3:03d}999{d7}"  # 7 digits: micros=nanos3*1000+999, then d7
    s = dt.strftime("%Y-%m-%d %H:%M:%S") + "." + frac
    got = W._mysql_cast_datetime(s)
    base_micros = nanos3 * 1000 + 999
    want = (dt + datetime.timedelta(microseconds=base_micros + (1 if d7 >= 5 else 0)))
    assert got == want


def test_mysql_cast_datetime_carry_into_next_second():
    import datetime as dt

    got = W._mysql_cast_datetime("2024-12-31 23:59:59.9999995")
    assert got == dt.datetime(2025, 1, 1, 0, 0, 0, 0)


@given(st.integers(0, 99), st.integers(0, 59), st.integers(0, 59))
@settings(max_examples=200, deadline=None)
def test_mysql_cast_time_numeric_grouping(h, m, s):
    """Law: MySQL's right-anchored HHMMSS grouping for numeric TIME."""
    n = h * 10000 + m * 100 + s
    assert W._mysql_cast_time_str(n) == f"{h:02d}:{m:02d}:{s:02d}"
    if n:
        assert W._mysql_cast_time_str(-n) == f"-{h:02d}:{m:02d}:{s:02d}"


@given(st.integers(0, 59))
@settings(max_examples=50, deadline=None)
def test_mysql_cast_time_rejects_invalid_groups(s):
    """Minutes/seconds >= 60 and hours > 838 are out of TIME range."""
    import pytest

    with pytest.raises(ValueError):
        W._mysql_cast_time_str(s * 100 + 60)  # seconds group = 60+
    with pytest.raises(ValueError):
        W._mysql_cast_time_str(839_00_00 + s)  # hours > 838


@given(st.dates(datetime.date(1000, 1, 1), datetime.date(9999, 12, 31)),
       st.booleans())
@settings(max_examples=200, deadline=None)
def test_mysql_numeric_date_forms(d, short_year):
    """Law: YYYYMMDD ints cast to the date; YYMMDD uses the 70 pivot."""
    n = d.year * 10000 + d.month * 100 + d.day
    assert W._mysql_cast_datetime(n) == datetime.datetime(
        d.year, d.month, d.day)
    if short_year and 1970 <= d.year <= 2069:
        # MySQL zero-pads short numerics (str2datetime): 30102 reads as
        # '030102' = 2003-01-02 — leading-zero years must NOT reject
        yy = d.year % 100
        n6 = yy * 10000 + d.month * 100 + d.day
        assert W._mysql_cast_datetime(n6) == datetime.datetime(
            d.year, d.month, d.day)


def test_mysql_cast_time_string_normalizes_and_validates():
    """r12 review: the string branch renders the CANONICAL MySQL form
    (zero-padded) and validates groups like the numeric branch."""
    import pytest

    assert W._mysql_cast_time_str("9:5:0") == "09:05:00"
    assert W._mysql_cast_time_str("-9:5") == "-09:05:00"
    assert W._mysql_cast_time_str("101:02:03.5") == "101:02:03.5"
    assert W._mysql_cast_time_str("10:00:59.9999995") == "10:01:00"
    for bad in ("12:99:99", "12:00:60", "839:00:00"):
        with pytest.raises(ValueError):
            W._mysql_cast_time_str(bad)


def test_mysql_cast_datetime_short_numeric_forms():
    """r13 (ADVICE r12): 101 → 2000-01-01, 30102 → 2003-01-02 — but
    1010101 now RAISES, matching number_to_datetime's rejection band
    (991231 < nr < 10000101 is not a valid numeric datetime form)."""
    import pytest

    assert W._mysql_cast_datetime(101) == datetime.datetime(2000, 1, 1)
    assert W._mysql_cast_datetime(30102) == datetime.datetime(2003, 1, 2)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(1010101)


def test_mysql_cast_datetime_acceptance_bands():
    """ADVICE r12: mirror number_to_datetime's bands exactly — each
    boundary accepted, each gap rejected (my_time.cc)."""
    import pytest

    # YYMMDD 20xx band edge
    assert W._mysql_cast_datetime(691231) == datetime.datetime(2069, 12, 31)
    # gap (691231, 700101)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(691232)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(700100)
    # YYMMDD 19xx band
    assert W._mysql_cast_datetime(700101) == datetime.datetime(1970, 1, 1)
    assert W._mysql_cast_datetime(991231) == datetime.datetime(1999, 12, 31)
    # gap (991231, 10000101) — the ADVICE example lives here
    for nr in (991232, 1010101, 9999999, 10000100):
        with pytest.raises(ValueError):
            W._mysql_cast_datetime(nr)
    # YYYYMMDD band
    assert W._mysql_cast_datetime(10000101) == datetime.datetime(1000, 1, 1)
    assert W._mysql_cast_datetime(99991231) == datetime.datetime(9999, 12, 31)
    # gap (99991231, 101000000)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(99991232)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(100999999)
    # YYMMDDHHMMSS 20xx / 19xx bands and the gap between them
    assert W._mysql_cast_datetime(101000000) == datetime.datetime(2000, 1, 1)
    assert W._mysql_cast_datetime(691231235959) == datetime.datetime(
        2069, 12, 31, 23, 59, 59)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(691231235960)
    assert W._mysql_cast_datetime(700101000000) == datetime.datetime(1970, 1, 1)
    assert W._mysql_cast_datetime(991231235959) == datetime.datetime(
        1999, 12, 31, 23, 59, 59)
    # full YYYYMMDDHHMMSS, and past the top of the range
    assert W._mysql_cast_datetime(99991231235959) == datetime.datetime(
        9999, 12, 31, 23, 59, 59)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(99991231235960)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(0)
    # in-band but not a real calendar value (month 13)
    with pytest.raises(ValueError):
        W._mysql_cast_datetime(20241301)


def test_encode_fde_rejects_pre_checksum_server_version():
    """ADVICE r12 writer/reader symmetry: the encoder always stamps a
    CRC footer + alg byte, so a pre-5.6.1 server_version (which the
    decoder treats as having neither) must be refused at encode time."""
    import pytest

    for sv in ("5.5.62-log", "5.6.0", "4.1.22"):
        with pytest.raises(ValueError):
            W.encode_fde(server_version=sv)
    # 5.6.1 and later encode fine and self-decode
    for sv in ("5.6.1", "8.0.32", "5.7.0-polardbx-spark"):
        evs = W.decode_events(W.encode_fde(server_version=sv))
        assert evs[0]["type"] == W.FORMAT_DESCRIPTION_EVENT


def test_retype_converter_wraps_arithmetic_errors():
    """ADVICE r12: non-temporal hops (varchar→bigint/decimal) fail with
    decimal.InvalidOperation on non-numeric input — _ctx must surface
    that as a contextual ValueError, not an in-executor crash."""
    import pytest

    from pyspark.sql import types as T

    conv = W._retype_converter(
        "varchar(32)", "bigint", T.StringType(), T.LongType(), "c1")
    with pytest.raises(ValueError, match="c1"):
        conv("not-a-number")
    conv = W._retype_converter(
        "varchar(32)", "decimal(12,2)", T.StringType(),
        T.DecimalType(12, 2), "c2")
    with pytest.raises(ValueError, match="c2"):
        conv("abc")
    conv = W._retype_converter(
        "varchar(32)", "double", T.StringType(), T.DoubleType(), "c3")
    with pytest.raises(ValueError, match="c3"):
        conv("abc")


def test_reverse_retype_temporal_to_numeric_and_string():
    """r13 reverse lattice: temporal sources → INT/DECIMAL/VARCHAR with
    MySQL's value images — YYYYMMDDHHMMSS numerics with TEMPORAL-domain
    fraction rounding (59.6s rolls the minute, never a 60-second image),
    fsp-exact string rendering, and ENUM/SET label-set MODIFYs that map
    by label."""
    import pytest

    from pyspark.sql import types as T

    dtv = datetime.datetime(2024, 3, 5, 23, 59, 59, 600000)
    # datetime → bigint: temporal rounding carries through the day
    conv = W._retype_converter("datetime(6)", "bigint",
                               T.TimestampNTZType(), T.LongType(), "c")
    assert conv(dtv) == 20240306000000
    assert conv(datetime.datetime(2024, 3, 5, 1, 2, 3)) == 20240305010203
    # date → bigint: YYYYMMDD
    conv = W._retype_converter("date", "bigint",
                               T.DateType(), T.LongType(), "c")
    assert conv(datetime.date(1997, 12, 31)) == 19971231
    # time → bigint: ±HHMMSS with temporal rounding
    conv = W._retype_converter("time(6)", "bigint",
                               T.StringType(), T.LongType(), "c")
    assert conv("12:34:59.6") == 123500
    assert conv("-00:00:00.6") == -1
    assert conv("838:59:58") == 8385958
    # datetime → decimal(20,2): fraction quantized at target scale in
    # the temporal domain
    conv = W._retype_converter("datetime(6)", "decimal(20,2)",
                               T.TimestampNTZType(),
                               T.DecimalType(20, 2), "c")
    from decimal import Decimal
    assert conv(dtv) == Decimal("20240305235959.60")
    assert conv(datetime.datetime(2024, 3, 5, 23, 59, 59, 996000)) == \
        Decimal("20240306000000.00")
    # datetime(6) → varchar: fsp-exact (zeros kept); datetime(0) → none
    conv = W._retype_converter("datetime(6)", "varchar(26)",
                               T.TimestampNTZType(), T.StringType(), "c")
    assert conv(datetime.datetime(2024, 3, 5, 1, 2, 3)) == \
        "2024-03-05 01:02:03.000000"
    conv = W._retype_converter("datetime", "varchar(26)",
                               T.TimestampNTZType(), T.StringType(), "c")
    assert conv(datetime.datetime(2024, 3, 5, 1, 2, 3)) == \
        "2024-03-05 01:02:03"
    # time(3) → varchar: fsp-exact padding of the canonical form
    conv = W._retype_converter("time(3)", "varchar(16)",
                               T.StringType(), T.StringType(), "c")
    assert conv("10:01:00.5") == "10:01:00.500"
    # decimal → datetime: fraction becomes micros
    conv = W._retype_converter("decimal(20,4)", "datetime(6)",
                               T.DecimalType(20, 4),
                               T.TimestampNTZType(), "c")
    assert conv(Decimal("20240305010203.2500")) == \
        datetime.datetime(2024, 3, 5, 1, 2, 3, 250000)
    # datetime(6) → datetime(2): fsp narrowing rounds half-up
    conv = W._retype_converter("datetime(6)", "datetime(2)",
                               T.TimestampNTZType(),
                               T.TimestampNTZType(), "c")
    assert conv(dtv) == datetime.datetime(2024, 3, 5, 23, 59, 59, 600000)
    assert conv(datetime.datetime(2024, 1, 1, 0, 0, 0, 128000)) == \
        datetime.datetime(2024, 1, 1, 0, 0, 0, 130000)


def test_enum_set_label_retypes():
    """ENUM/SET MODIFY converts by LABEL: reordered/extended sets keep
    values, dropped labels raise (strict mode), SET members
    re-canonicalize to the new definition order."""
    import pytest

    from pyspark.sql import types as T

    conv = W._retype_converter(
        "enum('red','green','blue')", "enum('blue','red','green','gray')",
        T.StringType(), T.StringType(), "c")
    assert conv("red") == "red"
    assert conv("blue") == "blue"
    assert conv("") == ""
    conv = W._retype_converter(
        "enum('red','green','blue')", "enum('red','green')",
        T.StringType(), T.StringType(), "c")
    with pytest.raises(ValueError, match="blue"):
        conv("blue")
    # identical label sets need no converter at all
    assert W._retype_converter(
        "enum('a','b')", "enum('a','b')",
        T.StringType(), T.StringType(), "c") is None
    # SET: members validate and re-canonicalize to the NEW order
    conv = W._retype_converter(
        "set('a','b','c')", "set('c','b','a','d')",
        T.StringType(), T.StringType(), "c")
    assert conv("a,c") == "c,a"
    assert conv("") == ""
    with pytest.raises(ValueError, match="absent"):
        W._retype_converter(
            "set('a','b','c')", "set('a','b')",
            T.StringType(), T.StringType(), "c")("a,c")
    # VARCHAR → ENUM validates membership too
    conv = W._retype_converter(
        "varchar(8)", "enum('x','y')",
        T.StringType(), T.StringType(), "c")
    assert conv("x") == "x"
    with pytest.raises(ValueError):
        conv("z")


def test_decode_events_reports_no_checksum_alg_for_pre_checksum_fde():
    """r12 review: a pre-5.6.1 FDE has no alg byte — checksum_alg must
    be None, never the last post-header-table width byte."""
    import struct as _struct

    sv = b"5.5.30-log".ljust(50, b"\x00")
    payload = (_struct.pack("<H", 4) + sv + _struct.pack("<I", 0)
               + bytes([W.HEADER_LEN]) + bytes([13, 8, 84, 0, 8, 2]))
    header = _struct.pack(
        "<IBIIIH", 0, W.FORMAT_DESCRIPTION_EVENT, 1,
        W.HEADER_LEN + len(payload), 0, 0)
    evs = W.decode_events(header + payload, verify_crc=True)
    assert evs[0]["checksum_alg"] is None


def test_decode_events_tolerates_garbage_fde_alg_at_torn_tail():
    """r12 review: a crashed file's garbage tail that parses as an
    in-bounds 'FDE' with a nonsense alg byte must BREAK under
    tolerate_truncation, not raise."""
    import pytest

    good = W.encode_fde() + W.encode_xid(3)
    # craft a garbage pseudo-FDE tail: valid header length, random body
    fde = bytearray(W.encode_fde())
    fde[-W.CHECKSUM_LEN - 1] = 0x77  # nonsense alg
    torn = good + bytes(fde)
    evs = W.decode_events(torn, verify_crc=True, tolerate_truncation=True)
    assert any(e["type"] == W.XID_EVENT and e["xid"] == 3 for e in evs)
    with pytest.raises(ValueError, match="unsupported FDE checksum_alg"):
        W.decode_events(torn, verify_crc=True)


# --- hostile frames: torn, bit-flipped and inflated-length wire files -------
# strict decode may only succeed on an untouched prefix that ends on an
# event boundary, and must otherwise raise ValueError; tolerant decode
# stops cleanly at a tear and may raise only ValueError elsewhere.


def _crc_chain() -> bytes:
    """A 40-transaction CRC32 wire file: per transaction a GCN, BEGIN,
    TABLE_MAP, an INSERT, UPDATE and DELETE, and the XID; every 8th
    transaction travels compressed in a TRANSACTION_PAYLOAD."""
    td = W.TableDef.from_mysql_types("shop", "t", ["varchar(64)", "double"])
    evs = [W.encode_fde()]
    for i in range(40):
        k = f"k{i}"
        txn = [
            W.encode_query("shop", "BEGIN"),
            W.encode_table_map(7, td),
            W.encode_rows_event(W.WRITE_ROWS_EVENT, 7, td, [[k, i + 0.5]]),
            W.encode_rows_event(W.UPDATE_ROWS_EVENT, 7, td,
                                [([k, i + 0.5], [k, i + 1.5])]),
            W.encode_rows_event(W.DELETE_ROWS_EVENT, 7, td, [[k, i + 1.5]]),
            W.encode_xid(i),
        ]
        evs.append(W.encode_gcn(1000 + i))
        evs += [W.encode_transaction_payload(txn)] if i % 8 == 7 else txn
    return W.MAGIC + b"".join(evs)


_CHAIN = _crc_chain()
_EVENT_OFFSETS = []
_off = 4
while _off < len(_CHAIN):
    _EVENT_OFFSETS.append(_off)
    _off += int.from_bytes(_CHAIN[_off + 9:_off + 13], "little")
#: byte lengths at which a prefix of _CHAIN ends on an event boundary
_BOUNDARIES = frozenset(_EVENT_OFFSETS + [len(_CHAIN)])
_FULL = W.wire_frame_cols("binlog.000001", _CHAIN)
#: the FDE's server_version field: a flip that lowers it below 5.6.1
#: turns checksums off for the whole file (no alg byte, no trailers), so
#: later corruption can go undetected — a no-checksum stream
_SERVER_VERSION = slice(4 + W.HEADER_LEN + 2, 4 + W.HEADER_LEN + 52)


def _version_flip(i: int, bit: int) -> bytes:
    buf = bytearray(_CHAIN)
    buf[_SERVER_VERSION.start + i] ^= 1 << bit
    return bytes(buf)


@st.composite
def _hostile(draw):
    buf = bytearray(_CHAIN)
    kind = draw(st.sampled_from(["truncate", "flip", "inflate"]))
    if kind == "truncate":
        return kind, bytes(buf[:draw(st.integers(0, len(buf) - 1))])
    if kind == "flip":
        for _ in range(draw(st.integers(1, 3))):
            i = draw(st.integers(0, len(buf) - 1))
            buf[i] ^= 1 << draw(st.integers(0, 7))
        return kind, bytes(buf)
    off = draw(st.sampled_from(_EVENT_OFFSETS))
    elen = int.from_bytes(buf[off + 9:off + 13], "little")
    buf[off + 9:off + 13] = draw(st.integers(elen + 1, 0xFFFFFFFF)).to_bytes(
        4, "little")
    return kind, bytes(buf)


def _clean_or_value_error(fn) -> bool:
    """True when ``fn`` returns, False when it raises ValueError; any other
    exception fails the test."""
    try:
        fn()
    except ValueError:
        return False
    return True


@given(_hostile())
@example(("flip", _version_flip(0, 0)))  # "5.7.0" -> "4.7.0"
@example(("flip", _version_flip(2, 2)))  # "5.7.0" -> "5.3.0"
@settings(max_examples=300, deadline=2000, derandomize=True)
def test_hostile_wire_frames_raise_only_value_error(case):
    """Truncations, bit flips and inflated event_size fields over a
    CRC32 chain, through `wire_frame_cols` (strict and tolerant) and
    `binlog_to_events`' partition function (strict, bare stream).
    A flip in the FDE's server_version may turn checksums off, after
    which strict decode may also return: only ValueError is required of
    it (checksum-less streams are the open no-checksum hardening item)."""
    import pandas as pd

    kind, buf = case
    name = "binlog.000001"
    clean_file = buf == _CHAIN[:len(buf)] and len(buf) in _BOUNDARIES
    unchecked = (kind == "flip"
                 and buf[_SERVER_VERSION] != _CHAIN[_SERVER_VERSION])
    returned = _clean_or_value_error(lambda: W.wire_frame_cols(name, buf))
    assert returned == clean_file or unchecked

    if kind == "truncate":
        # a torn tail stops cleanly at the last whole event
        tol = W.wire_frame_cols(name, buf, tolerate_truncation=True)
        n = len(tol["kind"])
        assert all(tol[k] == _FULL[k][:n] for k in _FULL)
    else:
        _clean_or_value_error(
            lambda: W.wire_frame_cols(name, buf, tolerate_truncation=True))

    class _Capture:
        def mapInPandas(self, fn, schema):
            return fn

    bare = buf[4:]
    clean_bare = (_CHAIN[4:].startswith(bare)
                  and len(bare) + 4 in _BOUNDARIES)
    decode = W.binlog_to_events(_Capture())
    batch = pd.DataFrame({"payload": [bare]})
    returned = _clean_or_value_error(lambda: list(decode(iter([batch]))))
    assert returned == clean_bare or unchecked
