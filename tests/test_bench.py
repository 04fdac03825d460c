"""bench.py's N -> 4N core sets come from the granted CPUs, never from a
fixed mask that taskset would silently narrow (Spark-free)."""

import pytest

from bench import cpu_list, scaling_pair


@pytest.mark.parametrize(
    "granted, want",
    [
        (list(range(4)), ("0", "0,1,2,3")),
        (list(range(8)), ("0,1", "0,1,2,3,4,5,6,7")),
        (list(range(32)), ("0,1", "0,1,2,3,4,5,6,7")),
        ([2, 3, 6, 7], ("2", "2,3,6,7")),
    ],
    ids=["0-3", "0-7", "0-31", "2,3,6,7"],
)
def test_scaling_pair_from_granted_cpus(granted, want):
    lo, hi = scaling_pair(granted)
    assert len(hi) == 4 * len(lo)
    assert set(hi) <= set(granted)
    assert (cpu_list(lo), cpu_list(hi)) == want


def test_scaling_pair_skipped_below_four_cpus():
    assert scaling_pair([0, 1]) is None
