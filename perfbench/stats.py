"""The benchmark's one percentile definition: nearest rank.

The p-th percentile of n values is the value at 1-based rank
ceil(p * n / 100) of the sorted values (rank 1 when p * n / 100 <= 1).
Every percentile and median the benchmark reports goes through
`nearest_rank`; it never uses the program's own percentile helpers.
"""
import math


def nearest_rank(values, p):
    if not values:
        raise ValueError("percentile of no values")
    if not 0 < p <= 100:
        raise ValueError(f"percentile out of range: {p}")
    s = sorted(values)
    rank = max(1, math.ceil(p * len(s) / 100))
    return s[rank - 1]


def median(values):
    return nearest_rank(values, 50)
