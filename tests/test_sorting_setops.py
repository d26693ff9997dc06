"""Sort collations, slicing, reindex, unique_index, concat/stack/
repeat/diff/equality (reference: sortation.py, base.py, diff.py)."""

import pytest
from pyspark.sql import functions as F

from tablite_spark.operators.setops import (
    concat, frames_equal, repeat, stack, table_diff,
)
from tablite_spark.operators.sorting import (
    is_sorted, reindex, slice_rows, sort, unique_index, with_row_index,
)


@pytest.fixture()
def nums(spark):
    return spark.createDataFrame(
        [(3, "c"), (1, "a"), (2, "b"), (None, "z")], "n int, s string")


def test_sort_excel_nulls_last(nums):
    out = sort(nums, {"n": False}, "excel").collect()
    assert [r["n"] for r in out] == [1, 2, 3, None]


def test_sort_unix_nulls_first(nums):
    out = sort(nums, {"n": False}, "unix").collect()
    assert [r["n"] for r in out] == [None, 1, 2, 3]


def test_sort_reverse(nums):
    out = sort(nums, {"n": True}, "unix").collect()
    assert [r["n"] for r in out] == [3, 2, 1, None]


def test_sort_mixed_column_excel(spark):
    """Cross-type collation on a string-coded mixed column:
    numeric < text < bool < None (sort_utils.py:152-173)."""
    df = spark.createDataFrame(
        [("banana",), ("10",), ("true",), (None,), ("2",), ("apple",)],
        "v string")
    out = sort(df, {"v": False}, "excel", mixed_columns={"v"}).collect()
    assert [r["v"] for r in out] == ["2", "10", "apple", "banana", "true", None]


def test_sort_mixed_column_unix(spark):
    df = spark.createDataFrame(
        [("banana",), ("10",), ("true",), (None,), ("2",)], "v string")
    out = sort(df, {"v": False}, "unix", mixed_columns={"v"}).collect()
    assert [r["v"] for r in out] == [None, "true", "2", "10", "banana"]


def test_sort_mixed_autodetect(spark):
    """mixed_columns omitted → derived from a content census, like the
    reference derives mixedness from its dtype census."""
    df = spark.createDataFrame(
        [("banana",), ("10",), ("true",), (None,), ("2",), ("apple",)],
        "v string")
    out = sort(df, {"v": False}, "excel").collect()
    assert [r["v"] for r in out] == ["2", "10", "apple", "banana", "true", None]


def test_sort_pure_text_not_flagged_mixed(spark):
    from tablite_spark.operators.sorting import detect_mixed_columns
    df = spark.createDataFrame([("b",), ("a",), ("7",)], "v string")
    # all-text and all-numeric string columns are NOT mixed
    assert detect_mixed_columns(df.filter(F.col("v") != "7"), ["v"]) == set()
    df_num = spark.createDataFrame([("1",), ("2",)], "v string")
    assert detect_mixed_columns(df_num, ["v"]) == set()
    assert detect_mixed_columns(df, ["v"]) == {"v"}


def test_is_sorted(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "x int").coalesce(1)
    assert is_sorted(df, {"x": False})
    df2 = spark.createDataFrame([(2,), (1,), (3,)], "x int").coalesce(1)
    assert not is_sorted(df2, {"x": False})


def test_is_sorted_multikey_desc_nulls(spark):
    """Comparator parity with sort(): desc second key, excel null
    placement (nulls last on asc / first on desc)."""
    rows = [(1, 9), (1, 5), (2, None), (2, 7), (3, 1)]
    df = spark.createDataFrame(rows, "a int, b int").coalesce(1)
    assert is_sorted(df, {"a": False, "b": True}, "excel")
    assert not is_sorted(df, {"a": False, "b": False}, "excel")
    # ties never flag
    df2 = spark.createDataFrame([(1, 1), (1, 1)], "a int, b int").coalesce(1)
    assert is_sorted(df2, {"a": False, "b": False})
    # unix mode: nulls first on asc
    df3 = spark.createDataFrame([(None,), (1,), (2,)], "a int").coalesce(1)
    assert is_sorted(df3, {"a": False}, "unix")
    assert not is_sorted(df3, {"a": False}, "excel")


def test_slice_rows(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "x int")
    out = slice_rows(df, 10, 50, 7, order_by=["x"])
    assert sorted(r["x"] for r in out.collect()) == list(range(10, 50, 7))


def test_slice_head(spark):
    df = spark.createDataFrame([(i,) for i in range(100)], "x int")
    assert slice_rows(df, 0, 5).count() == 5


@pytest.mark.parametrize("start,stop,step", [
    (-10, None, 1), (0, -3, 1), (-30, -5, 3), (None, None, -1),
    (-1, None, -1), (50, 10, -7), (-5, -30, -2), (90, None, 4),
    (0, 200, 9), (-200, 150, 11),
])
def test_slice_python_list_parity(spark, start, stop, step):
    """t[start:stop:step] must match python list slicing exactly,
    including negative bounds and steps (reference
    tests/test_slice_rules.py)."""
    data = list(range(60))
    df = spark.createDataFrame([(i,) for i in data], "x int")
    out = slice_rows(df, start, stop, step, order_by=["x"])
    expect = data[slice(start, stop, step)]
    assert [r["x"] for r in out.collect()] == expect


@pytest.mark.parametrize("start,stop,step", [
    (None, None, 7), (10, 50, 7), (-10, None, 1), (0, -3, 1),
    (None, None, -1), (50, 10, -7), (90, None, 4), (5, 5, 1),
])
def test_slice_rows_indexed_parity(spark, start, stop, step):
    """index_col fast path (persisted row index, no ranking pass) must
    return exactly what the generic path returns — python slice
    semantics included."""
    data = list(range(60))
    df = spark.createDataFrame([(i, i * 10) for i in data],
                               "__row_id__ long, x int").repartition(5)
    out = slice_rows(df, start, stop, step, index_col="__row_id__")
    expect = data[slice(start, stop, step)]
    got = [r["x"] for r in out.collect()]
    if step is not None and step < 0:
        assert got == [v * 10 for v in expect]
    else:
        assert sorted(got) == sorted(v * 10 for v in expect)


def test_sort_unicode_collation(spark):
    """collation='UNICODE' orders by the UCA root collation (ICU,
    JVM-side) instead of binary UTF-8 — accents/case interleave the
    way pyUCA orders them in the reference."""
    from tablite_spark.operators.sorting import sort
    df = spark.createDataFrame(
        [("Zebra",), ("apple",), ("Äpfel",), ("éclair",), ("eclair",)],
        "s string")
    uca = [r["s"] for r in sort(df, {"s": False},
                                collation="UNICODE").collect()]
    assert uca == ["Äpfel", "apple", "eclair", "éclair", "Zebra"]
    binary = [r["s"] for r in sort(df, {"s": False}).collect()]
    assert binary == ["Zebra", "apple", "eclair", "Äpfel", "éclair"]
    # non-string keys pass through untouched (collation applies only
    # to string sort keys)
    mixed = spark.createDataFrame([(2, "b"), (1, "a")], "k int, s string")
    assert [r["k"] for r in sort(mixed, {"k": False},
                                 collation="UNICODE").collect()] == [1, 2]


def test_with_row_index_order(spark):
    df = spark.createDataFrame([(i,) for i in range(50)], "x int")
    out = with_row_index(df, "rid", order_by=["x"]).collect()
    assert all(r["rid"] == r["x"] for r in out)


def test_reindex(spark):
    df = spark.createDataFrame([(10,), (20,), (30,)], "x int")
    out = reindex(df, [2, 0, -1], order_by=["x"]).collect()
    assert [r["x"] for r in out] == [30, 10, None]


def test_unique_index(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id int, k string")
    out = unique_index(df, ["k"], order_by=["id"])
    assert sorted(r["id"] for r in out.collect()) == [1, 3]


def test_concat_requires_same_columns(spark):
    a = spark.createDataFrame([(1,)], "x int")
    b = spark.createDataFrame([(2,)], "y int")
    with pytest.raises(ValueError):
        concat(a, b)
    c = concat(a, spark.createDataFrame([(5,)], "x int"))
    assert c.count() == 2


def test_stack_fills_missing(spark):
    a = spark.createDataFrame([(1, "p")], "x int, s string")
    b = spark.createDataFrame([(2,)], "x int")
    out = stack(a, b)
    rows = sorted(out.collect(), key=lambda r: r["x"])
    assert rows[1]["s"] is None


def test_repeat(spark):
    df = spark.createDataFrame([(1,), (2,)], "x int")
    assert repeat(df, 3).count() == 6
    assert repeat(df, 0).count() == 0


def test_diff_markers(spark):
    a = spark.createDataFrame([(1,), (2,), (2,), (3,)], "x int")
    b = spark.createDataFrame([(2,), (3,), (4,)], "x int")
    out = table_diff(a, b)
    marks = sorted((r["marker"], r["x"]) for r in out.collect())
    assert marks == [("+", 4), ("-", 1), ("-", 2), ("=", 2), ("=", 3)]


def test_frames_equal(spark):
    a = spark.createDataFrame([(1, "x"), (2, "y")], "n int, s string")
    b = spark.createDataFrame([(2, "y"), (1, "x")], "n int, s string")
    assert frames_equal(a, b)
    c = spark.createDataFrame([(1, "x")], "n int, s string")
    assert not frames_equal(a, c)


def test_table_diff_lcs_markers(spark):
    """Reference marker semantics (tablite/diff.py:8-88): equal '=',
    replace 'r' (second table's rows), insert ('-','+'), delete
    ('+','-'), in opcode order."""
    from tablite_spark.operators.setops import table_diff_lcs
    a = spark.createDataFrame([(1, "a"), (2, "b"), (4, "d")],
                              "k int, v string")
    b = spark.createDataFrame([(1, "a"), (2, "X"), (4, "d"), (5, "e")],
                              "k int, v string")
    out = table_diff_lcs(a, b)
    assert out.columns == ["k", "v", "1st", "2nd"]
    got = [tuple(r) for r in out.collect()]
    assert got == [
        (1, "a", "=", "="),
        (2, "X", "r", "r"),   # replace: emits b's row only
        (4, "d", "=", "="),
        (5, "e", "-", "+"),   # insert from b
    ]
    # delete: rows only in the first table carry ('+', '-')
    out2 = table_diff_lcs(b, a)
    got2 = [tuple(r) for r in out2.collect()]
    assert (5, "e", "+", "-") in got2


def test_table_diff_lcs_guard(spark):
    from tablite_spark.operators.setops import table_diff_lcs
    a = spark.range(100).withColumnRenamed("id", "k")
    with pytest.raises(ValueError, match="max_rows"):
        table_diff_lcs(a, a, max_rows=10)
