"""Property test for the multi-index blocking invariant, engine-free.

The Spark tests lock blocking == all-pairs on the synth corpus; this
locks the underlying combinatorial guarantee for ARBITRARY signatures
and widths, so a future edit to the chunk geometry cannot silently
break recall on a distribution the corpus does not exercise: for any
two signatures within the Hamming budget, some chunk pair must differ
by at most n_flips bits, and that difference must be one of the
broadcast masks the expanded side emits.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st


def geometry(max_hamming: int, bits: int):
    # Mirrors ops/dedup.simhash_near_pairs (kept in lockstep by the
    # cross-check test below).
    if max_hamming <= 8:
        n_chunks, n_flips = 3, 2
    else:
        n_chunks, n_flips = 5, 1
    chunk = -(-bits // n_chunks)
    masks = [0] + [1 << j for j in range(chunk)]
    if n_flips == 2:
        masks += [(1 << j) | (1 << k) for j in range(chunk) for k in range(j + 1, chunk)]
    return n_chunks, chunk, masks


def chunks_of(sig: int, n_chunks: int, chunk: int):
    return [(sig >> (i * chunk)) & ((1 << chunk) - 1) for i in range(n_chunks)]


@settings(max_examples=300, deadline=None)
@given(
    bits=st.sampled_from([24, 32, 40, 48, 60]),
    max_hamming=st.integers(min_value=0, max_value=9),
    sig=st.integers(min_value=0),
    flip_positions=st.lists(st.integers(min_value=0, max_value=59), max_size=9),
)
def test_within_budget_pair_always_shares_a_masked_key(
    bits, max_hamming, sig, flip_positions
):
    sig_a = sig & ((1 << bits) - 1)
    sig_b = sig_a
    for p in flip_positions[:max_hamming]:
        sig_b ^= 1 << (p % bits)
    assert bin(sig_a ^ sig_b).count("1") <= max_hamming

    n_chunks, chunk, masks = geometry(max_hamming, bits)
    mask_set = set(masks)
    ca, cb = chunks_of(sig_a, n_chunks, chunk), chunks_of(sig_b, n_chunks, chunk)
    # The equi-join matches on key == exact_a[i] and key == exact_b[i]
    # XOR mask; a pair is found iff some chunk's difference is a mask.
    assert any((a ^ b) in mask_set for a, b in zip(ca, cb)), (
        f"pair at distance {bin(sig_a ^ sig_b).count('1')} <= {max_hamming} "
        f"missed by {n_chunks}x{chunk} blocking"
    )


def test_geometry_matches_engine_source():
    # Lockstep guard: if simhash_near_pairs' chunk scheme changes, this
    # file's mirror must change with it.
    import inspect

    from transkribusdu_spark.ops import dedup

    # the blocking join lives in the private half that also returns the
    # persisted signatures (simhash_near_pairs returns its pairs)
    src = inspect.getsource(dedup._simhash_near_pairs)
    for fragment in (
        "n_chunks, n_flips = 3, 2",
        "n_chunks, n_flips = 5, 1",
        "chunk = -(-bits // n_chunks)",
    ):
        assert fragment in src, f"engine chunk geometry drifted: {fragment!r} gone"