"""Hostile flat tables through the distributed columnar fold: NaN/inf,
const and integral-float columns, all-null columns, format-shaped strings,
small enums, fractional timestamps and doubles at the int64 edge.
``infer_dataframe`` at 1 and 4 partitions must equal the sequential
``SchemaInferrer`` oracle byte for byte, and the two partitionings must
fold to the same state."""

import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as hst
from pyspark.sql import functions as F

from jsonschema_infer_spark.operators.infer_spark import infer_dataframe

from test_spark_infer import SF, local_oracle_rows


def _norm_state(st):
    if st is None:
        return None
    out = {}
    for k, v in st.items():
        if k == "props":
            out[k] = {name: _norm_state(c) for name, c in v.items()}
        elif k == "items":
            out[k] = _norm_state(v)
        elif k == "distinct":
            if v is None:
                out[k] = None
            else:
                out[k] = sorted(repr((t, x)) for t, x in v)
        elif k == "types":
            out[k] = {t: n for t, n in v.items() if n}
        elif k == "const" and v is not None:
            t, x = v
            out[k] = (t, "nan") if isinstance(x, float) and math.isnan(x) else v
        else:
            out[k] = v
    return out


def _infer_or_error(df, nparts):
    """(result, None) or (None, error): a const NaN/inf column makes the
    renderer raise, exactly like Go's json.Marshal."""
    try:
        return infer_dataframe(df, num_partitions=nparts), None
    except ValueError as e:
        return None, e


def _oracle_or_error(table):
    try:
        return local_oracle_rows(table), None
    except ValueError as e:
        return None, e


def assert_matches_oracle(df, table):
    """``df`` (Spark) and ``table`` (Arrow, same rows) must infer the same
    schema: distributed at 1 and 4 partitions vs the sequential oracle.
    Build ``table`` with ``pa.Table.from_pylist``, not through pandas,
    which turns NaN into null."""
    want, want_err = _oracle_or_error(table)
    got = {n: _infer_or_error(df, n) for n in (1, 4)}
    for nparts, (res, err) in got.items():
        assert (err is None) == (want_err is None), (nparts, err, want_err)
        if res is not None:
            assert res.schema_json == want, nparts
            assert res.total_rows == table.num_rows
    if got[1][0] is not None:
        assert _norm_state(got[1][0].state) == _norm_state(got[4][0].state)


def _assert_parquet_matches(spark, path):
    assert_matches_oracle(spark.read.parquet(path), pq.read_table(path))


def test_transcripts_clean(spark, tx_paths):
    _assert_parquet_matches(spark, tx_paths["clean"])


def test_transcripts_violated(spark, tx_paths):
    _assert_parquet_matches(spark, tx_paths["viol"])


def test_events_table(spark):
    _assert_parquet_matches(spark, f"{SF}/events.parquet")


_EDGE_SCHEMA = pa.schema(
    [
        ("id", pa.int64()),
        ("c_int", pa.int64()),
        ("c_float", pa.float64()),
        ("with_nan", pa.float64()),
        ("with_inf", pa.float64()),
        ("uuid_col", pa.string()),
        ("email_col", pa.string()),
        ("texty", pa.string()),
        ("nul", pa.string()),
        ("flag", pa.bool_()),
        ("enum3", pa.string()),
    ]
)


def test_edge_columns(spark):
    rows = []
    for i in range(300):
        rows.append(
            (
                i,
                42,  # const int
                2.0,  # integral const float -> integer
                float("nan") if i == 7 else float(i) / 3.0,
                float("inf") if i == 3 else float(i),
                f"550e8400-e29b-41d4-a716-44665544{i % 100:04d}"[:36],
                f"user{i}@example.com",
                "" if i % 50 == 0 else f"text value {i % 5}",
                None,  # all-null string
                i % 2 == 0,
                "red" if i % 3 == 0 else ("green" if i % 3 == 1 else "blue"),
            )
        )
    df = spark.createDataFrame(
        rows,
        "id long, c_int long, c_float double, with_nan double, with_inf double, "
        "uuid_col string, email_col string, texty string, nul string, "
        "flag boolean, enum3 string",
    )
    table = pa.Table.from_pylist(
        [dict(zip(_EDGE_SCHEMA.names, r)) for r in rows], schema=_EDGE_SCHEMA
    )
    assert_matches_oracle(df, table)


def test_timestamp_fractions(spark):
    df = spark.sql(
        """
        SELECT * FROM VALUES
          (TIMESTAMP'2026-01-01 00:00:00'),
          (TIMESTAMP'2026-01-01 00:00:00.5'),
          (TIMESTAMP'2026-01-01 00:00:00.123'),
          (TIMESTAMP'2026-01-01 00:00:00.123456'),
          (CAST(NULL AS TIMESTAMP))
        AS t(ts)
        """
    )
    # the oracle reads naive UTC datetimes; Spark's Arrow export carries
    # the session time zone
    table = df.toArrow().cast(pa.schema([("ts", pa.timestamp("us"))]))
    assert_matches_oracle(df, table)


def test_adaptive_rejects_nested(spark, tmp_path):
    """Only the columnar and json folds exist: any other mode, including
    the retired "adaptive" and "auto", raises instead of quietly running
    the columnar fold."""
    from jsonschema_infer_spark.checkpoint import infer_with_checkpoint

    df = spark.range(3).select(F.struct("id").alias("s"))
    for mode in ("adaptive", "auto", "Columnar"):
        with pytest.raises(ValueError, match="mode must be"):
            infer_dataframe(df, mode=mode)
        with pytest.raises(ValueError, match="mode must be"):
            infer_with_checkpoint(df, str(tmp_path / "ck"), mode=mode)
    assert infer_dataframe(df).total_rows == 3


def test_huge_double_demotion(spark):
    # Go's int64 round-trip rule (node.go:296-301): |v| >= 2^63 integral
    # floats are "number"; -2^63 is exactly representable -> "integer"
    rows = [
        (1e19,),
        (-3.4028e38,),
        (float(2**63),),
        (float(-(2**63)),),
        (5.0,),
        (2.5,),
    ]
    df = spark.createDataFrame(rows, "d double")
    assert_matches_oracle(
        df, pa.Table.from_pylist([{"d": r[0]} for r in rows])
    )
    classic = infer_dataframe(df, num_partitions=2)
    st = classic.state["props"]["d"]
    assert st["types"] == {"number": 4, "integer": 2}
    tags = dict((v, t) for t, v in st["distinct"])
    assert tags[5] == "integer" and tags[2.5] == "number"
    assert tags[1e19] == "number" and tags[float(2**63)] == "number"
    assert tags[-(2**63)] == "integer"


def test_timestamp_render_len_columnar(spark):
    # the columnar fold's closed-form length table must equal the actual
    # trimmed RFC 3339 rendering (frac .5 -> ".5", 2 extra chars)
    df = spark.sql("SELECT TIMESTAMP'2026-01-01 00:00:00.5' AS ts")
    res = infer_dataframe(df, num_partitions=1)
    st = res.state["props"]["ts"]
    assert st["const"] == ("string", "2026-01-01T00:00:00.5Z")
    assert st["len_min"] == st["len_max"] == len("2026-01-01T00:00:00.5Z")


@pytest.mark.parametrize(
    "values", [[-0.0], [-0.0, 0.0], [0.0, -0.0], [None, -0.0, -0.0]]
)
def test_signed_zero_const(spark, values):
    """A zero-only double column latches its first value's sign, as Go's
    first-sample const does: -0.0 renders "-0"."""
    rows = [(v,) for v in values]
    df = spark.createDataFrame(rows, "d double")
    table = pa.Table.from_pylist(
        [{"d": v} for v in values], schema=pa.schema([("d", pa.float64())])
    )
    assert_matches_oracle(df, table)


_strings = hst.one_of(
    hst.text(alphabet="ab@. ", min_size=0, max_size=8),
    hst.just("user@example.com"),
    hst.just("550e8400-e29b-41d4-a716-446655440000"),
    hst.just("x"),
)
_doubles = hst.one_of(
    hst.just(float("nan")),
    hst.just(float("inf")),
    hst.just(2.0),
    hst.floats(allow_nan=False, allow_infinity=False, width=32),
)
_rows = hst.lists(
    hst.tuples(
        hst.one_of(hst.none(), hst.integers(-(2**31), 2**31 - 1)),
        hst.one_of(hst.none(), _doubles),
        hst.one_of(hst.none(), _strings),
        hst.one_of(hst.none(), hst.booleans()),
    ),
    min_size=1,
    max_size=30,
)
_FUZZ_SCHEMA = pa.schema(
    [("i", pa.int64()), ("d", pa.float64()), ("s", pa.string()),
     ("b", pa.bool_())]
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(rows=_rows)
def test_columnar_matches_oracle_on_random_tables(spark, rows):
    """Random flat tables (nulls, NaN/inf, near-const and format-shaped
    strings): both partitionings equal the oracle, or all three raise."""
    df = spark.createDataFrame(rows, "i long, d double, s string, b boolean")
    table = pa.Table.from_pylist(
        [dict(zip(_FUZZ_SCHEMA.names, r)) for r in rows], schema=_FUZZ_SCHEMA
    )
    assert_matches_oracle(df, table)
