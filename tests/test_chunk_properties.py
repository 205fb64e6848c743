"""Property-based tests for the chunk grid semantics of the codegen
plan (plans/training.py:doc_chunks). The grid logic is pure arithmetic —
hypothesis drives it over arbitrary token counts without touching
Spark; the doc_chunks oracle row pins the Spark plumbing."""

from __future__ import annotations

from hypothesis import given
from hypothesis import strategies as st

from comperhensive_bigdata_analysis__spark.plans.training import (
    CHUNK_SIZE,
    CHUNK_STRIDE,
)


def chunk_grid(n_tokens: int, size: int = CHUNK_SIZE, stride: int = CHUNK_STRIDE):
    """Reference implementation of the grid the plan must follow:
    starts at 1, 1+stride, ... up to max(n,1); chunk i covers
    [start, min(start+size-1, n)]."""
    n = max(n_tokens, 1)
    return [
        (i, s, min(s + size - 1, n_tokens))
        for i, s in enumerate(range(1, n + 1, stride))
    ]


@given(st.integers(min_value=0, max_value=5000))
def test_every_token_is_covered(n):
    grid = chunk_grid(n)
    covered = set()
    for _, s, e in grid:
        covered.update(range(s, e + 1))
    assert covered == set(range(1, n + 1))  # no token dropped, none invented


@given(st.integers(min_value=CHUNK_SIZE, max_value=5000))
def test_consecutive_chunks_overlap_exactly(n):
    grid = chunk_grid(n)
    for (_, s1, e1), (_, s2, _) in zip(grid, grid[1:]):
        assert s2 - s1 == CHUNK_STRIDE
        # overlap of a full chunk with its successor = size - stride
        if e1 - s1 + 1 == CHUNK_SIZE:
            assert e1 - s2 + 1 == CHUNK_SIZE - CHUNK_STRIDE


@given(st.integers(min_value=0, max_value=5000))
def test_chunk_count_formula(n):
    import math

    grid = chunk_grid(n)
    expected = max(1, math.ceil(max(n, 1) / CHUNK_STRIDE))
    # starts are 1, 1+stride, ... <= max(n,1)
    assert len(grid) == ((max(n, 1) - 1) // CHUNK_STRIDE) + 1
    assert len(grid) <= expected + 1


@given(st.integers(min_value=1, max_value=5000))
def test_chunk_sizes_non_increasing_and_bounded(n):
    # With stride < size, several TRAILING chunks overlap the text end
    # and shrink — "only the last chunk is short" is false. The true
    # invariants: first chunk is min(size, n); sizes never grow; every
    # chunk is non-empty.
    grid = chunk_grid(n)
    sizes = [e - s + 1 for _, s, e in grid]
    assert sizes[0] == min(CHUNK_SIZE, n)
    assert all(a >= b for a, b in zip(sizes, sizes[1:]))
    assert all(1 <= sz <= CHUNK_SIZE for sz in sizes)
