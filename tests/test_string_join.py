"""End-to-end fuzzy_string_join tests, ported from the reference's
tests/testthat/test_fozzie_string_{inner,left,anti,semi}_join.R goldens.
Results are compared as sorted sets (row order is not part of the
contract, SURVEY.md §2.6 #7)."""

import pytest

from fozzie_spark import fuzzy_string_join


def pairs_of(df, dist=None):
    cols = ["`Name.x`", "`Name.y`"] + ([f"`{dist}`"] if dist else [])
    return sorted(tuple(r) for r in df.select(*cols).collect())


# test_fozzie_string_inner_join.R:26-57
def test_inner_lv(test_df, whoops):
    out = fuzzy_string_join(
        test_df, whoops, by={"Name": "Name"}, method="lv", how="inner",
        max_distance=1, distance_col="mydist",
    )
    assert pairs_of(out, "mydist") == sorted([
        ("Oliver", "Olive", 1.0),
        ("James", "Jams", 1.0),
        ("Emma", "Emma", 0.0),
        ("Amelia", "Smelia", 1.0),
    ])
    # carried columns survive with original types/values
    row = out.filter(out["`Name.x`"] == "Emma").first()
    assert row["int_col"] is None and row["real_col"] == 7.0


# test_fozzie_string_inner_join.R:231-246
def test_inner_jw(test_df, whoops):
    out = fuzzy_string_join(
        test_df, whoops, by={"Name": "Name"}, method="jw", how="inner", max_distance=0.2
    )
    assert pairs_of(out) == sorted([
        ("Liam", "Laim"),
        ("Noah", "No, ahhh"),
        ("Oliver", "Olive"),
        ("James", "Jams"),
        ("Olivia", "Olive"),
        ("Emma", "Emma"),
        ("Amelia", "Smelia"),
    ])


# test_fozzie_string_inner_join.R:197-227
def test_inner_jaccard(test_df, whoops):
    out = fuzzy_string_join(
        test_df, whoops, by={"Name": "Name"}, method="jaccard", how="inner",
        max_distance=0.9, q=3, distance_col="mydist",
    )
    got = pairs_of(out, "mydist")
    expected = sorted([
        ("Oliver", "Olive", 0.25),
        ("Oliver", "Oliv HEE-YAH", 5 / 6),
        ("James", "Jams", 0.75),
        ("Olivia", "Olive", 0.6),
        ("Olivia", "Oliv HEE-YAH", 5 / 6),
        ("Emma", "Emma", 0.0),
        ("Amelia", "Smelia", 0.4),
    ])
    assert [g[:2] for g in got] == [e[:2] for e in expected]
    for g, e in zip(got, expected):
        assert g[2] == pytest.approx(e[2], abs=1e-12)


# test_fozzie_string_inner_join.R:126-155
def test_inner_qgram(test_df, whoops):
    out = fuzzy_string_join(
        test_df, whoops, by={"Name": "Name"}, method="qgram", how="inner",
        max_distance=1, q=2, distance_col="d",
    )
    assert pairs_of(out, "d") == sorted([("Oliver", "Olive", 1.0), ("Emma", "Emma", 0.0)])


# test_fozzie_string_inner_join.R:62-92
def test_inner_hamming(test_df, whoops):
    out = fuzzy_string_join(
        test_df, whoops, by={"Name": "Name"}, method="hamming", how="inner",
        max_distance=1, distance_col="d",
    )
    assert pairs_of(out, "d") == sorted([("Emma", "Emma", 0.0), ("Amelia", "Smelia", 1.0)])


# test_fozzie_string_inner_join.R:300-331 (multi-key + distance matrix naming)
def test_multi_key(spark):
    left = spark.createDataFrame(
        [("Oliver", "Sparky"), ("James", "Spike"), ("Emma", "Fido"), ("Amelia", "Bingo")],
        "Name string, Pet string",
    )
    right = spark.createDataFrame(
        [("Olive", "Sparky"), ("Jams", "Spike"), ("Emma", "Fuselage"), ("Smelia", "Bongo")],
        "Name string, Pet string",
    )
    out = fuzzy_string_join(
        left, right, by={"Name": "Name", "Pet": "Pet"}, method="lv", how="inner",
        max_distance=1, distance_col="mydist",
    )
    rows = sorted(
        tuple(r)
        for r in out.select(
            "`Name.x`", "`Pet.x`", "`Name.y`", "`Pet.y`",
            "mydist_Name_Name", "mydist_Pet_Pet",
        ).collect()
    )
    assert rows == sorted([
        ("Oliver", "Sparky", "Olive", "Sparky", 1.0, 0.0),
        ("James", "Spike", "Jams", "Spike", 1.0, 0.0),
        ("Amelia", "Bingo", "Smelia", "Bongo", 1.0, 1.0),
    ])


# test_fozzie_string_soundex_join.R:3-51
def test_soundex_join(spark):
    df1 = spark.createDataFrame(
        [("Smith",), ("VanDeusen",), ("De La Cruz",), (None,)], "name string"
    )
    df2 = spark.createDataFrame(
        [("Smythe",), ("Deusen",), ("Cruz",), (None,)], "name string"
    )
    out = fuzzy_string_join(df1, df2, by={"name": "name"}, method="soundex", how="inner")
    got = sorted(tuple(r) for r in out.select("`name.x`", "`name.y`").collect())
    assert got == sorted([
        ("Smith", "Smythe"),
        ("VanDeusen", "Deusen"),
        ("De La Cruz", "Cruz"),
    ])


def test_join_modes(test_df, whoops):
    kw = dict(by={"Name": "Name"}, method="lv", max_distance=1, distance_col="d")
    matched_left = {"Oliver", "James", "Emma", "Amelia"}
    matched_right = {"Olive", "Jams", "Emma", "Smelia"}

    semi = fuzzy_string_join(test_df, whoops, how="semi", **kw)
    assert {r["Name"] for r in semi.collect()} == matched_left
    assert semi.columns == test_df.columns  # no distance/right cols

    anti = fuzzy_string_join(test_df, whoops, how="anti", **kw)
    assert {r["Name"] for r in anti.collect()} == {
        "Liam", "Noah", "Theodore", "Olivia", "Charlotte", "Mia",
    }

    left = fuzzy_string_join(test_df, whoops, how="left", **kw)
    assert left.count() == 10  # 4 matched + 6 padded
    pad = left.filter(left["`Name.y`"].isNull())
    assert pad.count() == 6
    assert all(r["d"] is None for r in pad.collect())

    right = fuzzy_string_join(test_df, whoops, how="right", **kw)
    # 4 matched + 7 unmatched right rows (incl. the NULL name row)
    assert right.count() == 11
    assert right.filter(right["`Name.x`"].isNull()).count() == 7

    full = fuzzy_string_join(test_df, whoops, how="full", **kw)
    assert full.count() == 4 + 6 + 7


def test_null_never_matches(spark, test_df):
    probe = spark.createDataFrame([(None,), ("Emma",)], "Name string")
    out = fuzzy_string_join(test_df, probe, by="Name", method="lv", how="inner", max_distance=2)
    assert all(r[0] is not None for r in out.select("`Name.y`").collect())


def test_invalid_args(test_df, whoops):
    with pytest.raises(ValueError):
        fuzzy_string_join(test_df, whoops, by={"Name": "Name"}, method="nope")
    with pytest.raises(ValueError):
        fuzzy_string_join(test_df, whoops, by={"DoesNotExist": "Name"}, method="lv")
    with pytest.raises(TypeError):
        fuzzy_string_join(test_df, whoops, by={"int_col": "Name"}, method="lv")
    with pytest.raises(ValueError):
        fuzzy_string_join(test_df, whoops, by={"Name": "Name"}, method="lv", how="sideways")


def test_special_column_names_all_modes(spark):
    # join and carried columns whose names hold a dot, a space and a
    # backtick give the same rows as plain names, in every join mode
    from fozzie_spark.merge import HOW_MODES

    rows_l = [("Liam", 1), ("Noah", 2), ("Olivia", 3), (None, 4)]
    rows_r = [("Laim", 10), ("Noha", 20), ("Emma", 30)]
    plain_l = spark.createDataFrame(rows_l, "name string, v int")
    plain_r = spark.createDataFrame(rows_r, "name string, v int")
    odd = "a.b c`d"
    odd_l, odd_r = plain_l.toDF(odd, "v.`1"), plain_r.toDF(odd, "v.`1")
    for how in HOW_MODES:
        want = fuzzy_string_join(plain_l, plain_r, by="name", method="osa", how=how,
                                    max_distance=2, distance_col="d").collect()
        got = fuzzy_string_join(odd_l, odd_r, by=odd, method="osa", how=how,
                                   max_distance=2, distance_col="d`.x").collect()
        assert sorted(map(tuple, got), key=repr) == sorted(map(tuple, want), key=repr), how
        assert want, how
