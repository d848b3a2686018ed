"""tools/parity_check.py row ordering — pure Python, no Spark."""

from tools.parity_check import _key


def test_sort_key_orders_nested_nulls():
    # NULLs inside a struct/array (normalized to tuples) sort first at
    # their own nesting level instead of raising TypeError against ints
    rows = [(1, (3, None)), (1, (None, 2)), (None, (3, 4)), (1, (3, 1))]
    assert sorted(rows, key=_key) == [
        (None, (3, 4)),
        (1, (None, 2)),
        (1, (3, None)),
        (1, (3, 1)),
    ]
