"""The in-array pair explode behind every join-free pair generator."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def ordered_pairs(arr: Column, left: str = "a", right: str = "b") -> Column:
    """All ordered pairs (i < j) of an array column, as an array of
    ``{left, right}`` structs: element i zips with the suffix slice
    after it. On a sorted, distinct array every pair has left < right.
    Grouping members into one array per key and exploding this costs
    ONE shuffle and evaluates the upstream once, where a self-join on
    the key evaluates it once per side."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + F.lit(2), F.size(arr)),
                lambda y: F.struct(x.alias(left), y.alias(right)),
            ),
        )
    )
