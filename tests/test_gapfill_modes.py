"""locf()/interpolate() gap-fill modes vs a hand-computed golden."""

from pyspark.sql import functions as F

from dtaianomaly_spark.rollup.tiers import gap_fill, gap_fill_modes, rollup_relational


def test_gap_fill_modes_golden(spark):
    # one series, 4-tick buckets over n=24 -> grid buckets 0..5;
    # points only in buckets 0 (values 1..4), 3 (values 10,20,30,40),
    # 5 (values 8,8,8,8): gaps at 1, 2, 4
    rows = []
    for pos, v in enumerate([1, 2, 3, 4]):
        rows.append(("s", pos, v))
    for i, v in enumerate([10, 20, 30, 40]):
        rows.append(("s", 12 + i, v))
    for i, v in enumerate([8, 8, 8, 8]):
        rows.append(("s", 20 + i, v))
    lf = spark.createDataFrame(rows, "doc_id string, pos long, value long")
    rolled = rollup_relational(lf, 4, "raw").drop("tier")
    series_n = spark.createDataFrame([("s", 24)], "doc_id string, n long")
    out = {
        r["bucket"]: r
        for r in gap_fill_modes(rolled, series_n, 4).collect()
    }
    assert sorted(out) == [0, 1, 2, 3, 4, 5]
    # observed buckets keep their own mean in every mode
    assert out[0]["locf_mean"] == out[0]["interp_mean"] == 2.5
    assert out[3]["locf_mean"] == out[3]["interp_mean"] == 25.0
    assert out[5]["interp_mean"] == 8.0
    # locf carries bucket 0's stats through the 1-2 gap
    assert out[1]["locf_mean"] == 2.5 and out[2]["locf_mean"] == 2.5
    assert out[1]["locf_last"] == 4 and out[4]["locf_last"] == 40
    # linear interpolation between (0, 2.5) and (3, 25.0)
    assert out[1]["interp_mean"] == 2.5 + (25.0 - 2.5) * (1 / 3)
    assert out[2]["interp_mean"] == 2.5 + (25.0 - 2.5) * (2 / 3)
    # and between (3, 25.0) and (5, 8.0)
    assert out[4]["interp_mean"] == 25.0 + (8.0 - 25.0) * 0.5
    assert [out[b]["filled"] for b in range(6)] == [0, 1, 1, 0, 1, 0]


def test_gap_fill_modes_edges_stay_null(spark):
    # gap BEFORE the first observed bucket and AFTER the last one:
    # interp has no anchor, locf has none before the first
    lf = spark.createDataFrame(
        [("s", 4 + i, 7) for i in range(4)], "doc_id string, pos long, value long"
    )
    rolled = rollup_relational(lf, 4, "raw").drop("tier")
    series_n = spark.createDataFrame([("s", 12)], "doc_id string, n long")
    out = {r["bucket"]: r for r in gap_fill_modes(rolled, series_n, 4).collect()}
    assert out[0]["locf_mean"] is None and out[0]["interp_mean"] is None
    assert out[2]["locf_mean"] == 7.0  # locf fills trailing gaps
    assert out[2]["interp_mean"] is None  # interpolate does not


def test_gap_fill_empty_series_has_no_grid(spark):
    # an n = 0 series has no buckets; sequence(0, -1) would count down
    lf = spark.createDataFrame(
        [("s", i, 7) for i in range(8)], "doc_id string, pos long, value long"
    )
    rolled = rollup_relational(lf, 4, "raw").drop("tier")
    series_n = spark.createDataFrame([("s", 8), ("e", 0)], "doc_id string, n long")
    for filled in (gap_fill(rolled, series_n, 4), gap_fill_modes(rolled, series_n, 4)):
        got = sorted((r["doc_id"], r["bucket"]) for r in filled.collect())
        assert got == [("s", 0), ("s", 1)]
