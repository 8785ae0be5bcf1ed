"""The catalog's oracle comparison: same rows in any order."""

import pandas as pd

from vbench.catalog import compare


def test_row_and_column_order_do_not_matter():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    b = pd.DataFrame({"v": [1.5, 0.5], "k": [2, 1]})
    assert compare(a, b) is None


def test_differences_are_reported():
    a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert "rows" in compare(a, a.iloc[:1])
    assert "columns" in compare(a, a.rename(columns={"v": "w"}))
    assert "row 1" in compare(a, pd.DataFrame({"k": [1, 2], "v": [0.5, 1.6]}))
    assert "row 0" in compare(pd.DataFrame({"s": ["x"]}), pd.DataFrame({"s": ["y"]}))


def test_floats_match_to_rounding_noise():
    a = pd.DataFrame({"v": [0.1 + 0.2]})
    assert compare(a, pd.DataFrame({"v": [0.3]})) is None
