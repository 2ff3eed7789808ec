"""Feature-signature formatters + window_split family goldens
(ref: feature_signature_def.cc, feature_zero_def.cc:591-668)."""

import pytest
from pyspark.sql import functions as F

from openmldb_spark.functions import aggregates as A
from openmldb_spark.functions import feature_signature as FS
from openmldb_spark.operators.window import WindowDef, window_agg
from openmldb_spark.sql import sql


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        (1, 1.5, "red", 1, None),
        (2, 2.0, "blue", 0, 3.25),
        (3, None, None, 1, 7.0),
    ]
    return spark.createDataFrame(
        rows, "id int, f1 double, f2 string, label int, f3 double"
    )


def test_csv_format(spark, df):
    out = df.select(
        "id",
        FS.csv_format(
            FS.binary_label(F.col("label")),
            FS.continuous(F.col("f1")),
            FS.continuous(F.col("f3")),
        ).alias("inst"),
    )
    got = {r["id"]: r["inst"] for r in out.collect()}
    assert got[1] == "1,1.500000,"
    assert got[2] == "0,2.000000,3.250000"
    assert got[3] == "1,,7.000000"


def test_libsvm_format(spark, df):
    out = df.select(
        "id",
        FS.libsvm(
            FS.binary_label(F.col("label")),
            FS.continuous(F.col("f1")),
            FS.continuous(F.col("f3")),
        ).alias("inst"),
    )
    got = {r["id"]: r["inst"] for r in out.collect()}
    # null features are skipped but keep their slot number
    assert got[1] == "1 1:1.500000"
    assert got[2] == "0 1:2.000000 2:3.250000"
    assert got[3] == "1 2:7.000000"


def _sql_inst(spark, df, call):
    out = sql(spark, f"SELECT id, {call} AS inst FROM t", {"t": df})
    return {r["id"]: r["inst"] for r in out.collect()}


def test_sql_csv_and_libsvm_match_dataframe_api(spark, df):
    """The SQL lowering and the DataFrame API share slot numbering and
    value formatting."""
    api = df.select(
        "id",
        FS.csv_format(FS.binary_label(F.col("label")), FS.continuous(F.col("f1")),
                      FS.continuous(F.col("f3"))).alias("csv"),
        FS.libsvm(FS.binary_label(F.col("label")), FS.continuous(F.col("f1")),
                  FS.continuous(F.col("f3"))).alias("svm"),
    ).collect()
    args = "binary_label(label), continuous(f1), continuous(f3)"
    assert _sql_inst(spark, df, f"csv({args})") == {r["id"]: r["csv"] for r in api}
    assert _sql_inst(spark, df, f"libsvm({args})") == {r["id"]: r["svm"] for r in api}


def test_libsvm_bucketed_discrete(spark, df):
    """A bucketed discrete occupies slots 1..10 (slot 1 + pmod(hash, 10),
    value 1); the continuous after it lands at slot 11."""
    got = _sql_inst(
        spark, df, "libsvm(binary_label(label), discrete(f2, 10), continuous(f3))"
    )
    h = {r["id"]: r["h"] for r in
         df.select("id", F.pmod(F.xxhash64("f2"), F.lit(10)).alias("h")).collect()}
    assert got[2] == f"0 {1 + h[2]}:1 11:3.250000"
    assert got[1] == f"1 {1 + h[1]}:1"


def test_gcformat_shape(spark, df):
    """'<label> <index>| slot:hash(slot):value ...' for continuous and
    'slot:hash(value)' for discrete; a NULL continuous drops its feature
    but keeps its slot."""
    got = _sql_inst(
        spark, df,
        "gcformat(multiclass_label(label), gcformat_index(id), "
        "continuous(f1), discrete(f2))",
    )
    hv = {r["id"]: (r["s1"], r["d"]) for r in df.select(
        "id", F.xxhash64(F.lit(1).cast("long")).alias("s1"),
        F.xxhash64("f2").alias("d"),
    ).collect()}
    s1, d2 = hv[2]
    assert got[2] == f"0 2| 1:{s1}:2.000000 2:{d2}"
    assert got[3] == f"1 3| 2:{hv[3][1]}"
    for r in got.values():
        label, rest = r.split(" ", 1)
        idx, _ = rest.split("| ")
        assert label in ("0", "1") and idx.strip().isdigit()


def test_window_split(spark):
    rows = [
        (1, "A", "a,b", 10),
        (2, "A", "c", 20),
        (3, "A", None, 30),
        (4, "B", "x:1|y:2", 10),
        (5, "B", "z:3", 20),
    ]
    t = spark.createDataFrame(rows, "id int, pk string, s string, ts long")
    wd = WindowDef(partition_by=["pk"], order_by="ts", unbounded=True)
    out = window_agg(
        t,
        wd,
        {
            "sp": A.window_split("s", ","),
            "ks": A.window_split_by_key("s", "|", ":"),
            "vs": A.window_split_by_value("s", "|", ":"),
        },
    )
    got = {r["id"]: (r["sp"], r["ks"], r["vs"]) for r in out.collect()}
    # element order = reference window iteration: rows ts-DESC, pieces
    # within a row left-to-right (feature_zero corpus goldens, r8)
    assert got[2][0] == ["c", "a", "b"]
    assert got[3][0] == ["c", "a", "b"]          # null row contributes nothing
    assert got[5][1] == ["z", "x", "y"]
    assert got[5][2] == ["3", "1", "2"]


def test_window_split_via_sql(spark):
    rows = [(1, "A", "a,b", 10), (2, "A", "c", 20)]
    t = spark.createDataFrame(rows, "id int, pk string, s string, ts long")
    out = sql(
        spark,
        "SELECT id, window_split(s, ',') OVER w1 AS parts FROM t WINDOW w1 AS "
        "(PARTITION BY pk ORDER BY ts ROWS BETWEEN 10 PRECEDING AND CURRENT ROW)",
        {"t": t},
    )
    assert {r["id"]: r["parts"] for r in out.collect()}[2] == ["c", "a", "b"]
