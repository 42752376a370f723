"""Property-based tests (hypothesis) for the pure-Python cores — the
invariants that golden tests can't sweep: random CIGARs, random interval
sets, random trees, random alignment inputs, random BGZF payloads.

All JVM-free (driver-side logic only), so this module runs in seconds.
"""

from __future__ import annotations

import gzip
import io

from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_miint_spark.functions.cigar import cigar_reference_span, parse_cigar
from duckdb_miint_spark.functions.intervals import merge_intervals_py
from duckdb_miint_spark.functions.pairwise import align_pair, reconstruct_aligned
from duckdb_miint_spark.operators.rype import (
    minimizer_set,
    reverse_complement,
    ry_kmer_hashes,
    strand_minimizers,
)
from duckdb_miint_spark.sinks.bam_sink import BGZF_EOF, bgzf_blocks
from duckdb_miint_spark.sources.newick import parse_newick

cigar_ops = st.lists(
    st.tuples(st.integers(1, 500), st.sampled_from("MIDNSHP=X")), min_size=1, max_size=20
)
dna = st.text(alphabet="ACGT", min_size=0, max_size=40)


@given(cigar_ops)
def test_cigar_parse_consistency(ops):
    cigar = "".join(f"{n}{op}" for n, op in ops)
    st_ = parse_cigar(cigar)
    # query length = M + I + S (+H); reference span = M + D + N (+=/X in both)
    m = sum(n for n, op in ops if op in "M=X")
    ins = sum(n for n, op in ops if op == "I")
    dels = sum(n for n, op in ops if op == "D")
    skips = sum(n for n, op in ops if op == "N")
    soft = sum(n for n, op in ops if op == "S")
    hard = sum(n for n, op in ops if op == "H")
    assert st_.matches == m and st_.insertions == ins and st_.deletions == dels
    assert st_.soft_clips == soft and st_.hard_clips == hard
    assert cigar_reference_span(cigar) == m + dels + skips


@given(
    st.lists(
        st.tuples(st.integers(0, 1000), st.integers(0, 1000)), min_size=0, max_size=50
    )
)
def test_interval_merge_properties(pairs):
    merged = merge_intervals_py(pairs)
    # sorted, non-touching, and covering exactly the union of inputs
    for a, b in zip(merged, merged[1:]):
        assert a[1] < b[0]
    covered = set()
    for s, e in merged:
        covered.update(range(s, e + 1))
    expected = set()
    for a, b in pairs:
        lo, hi = (a, b) if a <= b else (b, a)
        expected.update(range(lo, hi + 1))
    assert covered == expected


@given(dna, dna)
@settings(max_examples=60, deadline=None)
def test_pairwise_alignment_properties(q, s):
    score, cigar = align_pair(q, s)
    assert score >= 0
    if q == s:
        assert score == 0
    qa, sa = reconstruct_aligned(q, s, cigar)
    # gapped strings reproduce the inputs and have equal length
    assert qa.replace("-", "") == q
    assert sa.replace("-", "") == s
    assert len(qa) == len(sa)
    # symmetry: swapping inputs swaps I<->D but not the score
    score2, _c2 = align_pair(s, q)
    assert score2 == score


@given(st.text(alphabet="ACGT", min_size=0, max_size=100), st.sampled_from([16, 32, 64]), st.integers(1, 12))
@settings(max_examples=60, deadline=None)
def test_minimizer_properties(seq, k, w):
    ms = minimizer_set(seq, k, w, 6148914691236517205)
    hashes = ry_kmer_hashes(seq, k, 6148914691236517205)
    if len(seq) < k:
        assert ms == []
        return
    assert ms == sorted(set(ms))  # sorted dedup
    assert set(ms) <= set(hashes)  # minima come from the k-mer hashes
    assert min(hashes) in ms  # the global minimum always survives windowing
    hs, ps = strand_minimizers(seq, k, w, 6148914691236517205)
    assert len(hs) == len(ps)
    assert set(hs) == set(ms)  # positional variant covers the same set
    for h, p in zip(hs, ps):
        assert hashes[p] == h  # positions point at their hash


@given(dna)
def test_reverse_complement_involution(seq):
    assert reverse_complement(reverse_complement(seq)) == seq


@given(st.binary(min_size=0, max_size=300_000))
@settings(max_examples=30, deadline=None)
def test_bgzf_roundtrip(payload):
    """BGZF output must decompress to the input through plain gzip
    (multi-member) regardless of block boundaries."""
    bio = io.BytesIO()
    bio.writelines(bgzf_blocks([payload], level=4, block_size=7_000))
    bio.write(BGZF_EOF)
    blob = bio.getvalue()
    assert blob.endswith(BGZF_EOF)
    assert gzip.decompress(blob) == payload


_name = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")), min_size=1, max_size=8
)


@st.composite
def newick_trees(draw, depth=0):
    if depth >= 3 or draw(st.booleans()):
        label = draw(_name)
        bl = draw(st.one_of(st.none(), st.floats(0, 10, allow_nan=False)))
        return f"{label}" + (f":{bl!r}" if bl is not None else "")
    n = draw(st.integers(2, 3))
    children = [draw(newick_trees(depth=depth + 1)) for _ in range(n)]
    label = draw(st.one_of(st.just(""), _name))
    return "(" + ",".join(children) + ")" + label


@given(newick_trees())
@settings(max_examples=60, deadline=None)
def test_newick_parse_structure(tree_str):
    rows = parse_newick(tree_str + ";")
    # exactly one root, every parent index valid and after its child
    roots = [r for r in rows if r[4] is None]
    assert len(roots) == 1
    for idx, _n, _bl, _e, parent, is_tip in rows:
        if parent is not None:
            assert parent > idx  # post-order: parents created after children
    # tip count equals leaf labels in the source (every leaf has a name here)
    n_tips = sum(1 for r in rows if r[5])
    assert n_tips >= 1


def test_xx_band_cutoff_false_negative_bound():
    """Recall-margin bound for the xx_band_stream candidate prune
    (VERDICT r13 #6). near_dup_pairs keeps a candidate pair only if it
    collides in >= cutoff = floor(num_perm*t/2) of the num_perm r=1
    bands, and its oracle is the EXACT all-pairs Jaccard — so the
    prune's false-negative probability is load-bearing for correctness.
    xx_band_stream derives band pairs (2g, 2g+1) from the two halves of
    ONE xxhash64 digest, so the 16 bands are only pairwise independent:
    the classical Binom(num_perm, s) miss bound assumes more
    independence than the construction provides. This test pins the
    WORST-CASE dependence model — both halves of a digest match or miss
    together, i.e. matches = 2*Binom(num_perm/2, s) — and asserts the
    miss bound at the verify threshold stays negligible there too, so
    no future num_perm/threshold/cutoff change can silently thin the
    tail past the gate. (Empirical counterpart:
    tests/test_pipeline.py::test_xx_band_candidate_recall_vs_exact.)"""
    from math import comb

    num_perm, t = 16, 0.9  # near_dup_pairs defaults (DEFAULT_NUM_PERM)
    cutoff = max(1, int(num_perm * t / 2))  # the min_band_matches prune

    def binom_cdf(n: int, p: float, k: int) -> float:
        return sum(comb(n, j) * p**j * (1 - p) ** (n - j) for j in range(k + 1))

    # fully-independent model: miss iff Binom(num_perm, s) < cutoff
    indep_miss = binom_cdf(num_perm, t, cutoff - 1)
    # worst-case correlated-halves model: miss iff 2*Binom(num_perm/2, s)
    # < cutoff, i.e. Binom(num_perm/2, s) <= ceil(cutoff/2) - 1
    half_miss = binom_cdf(num_perm // 2, t, (cutoff - 1) // 2)
    assert indep_miss < 1e-6, indep_miss
    assert half_miss < 1e-3, half_miss
    # and the cutoff itself must sit BELOW the expected match count at
    # the threshold with real slack (E = num_perm*t), else the bounds
    # above are vacuous
    assert cutoff <= num_perm * t - 2 * (num_perm * t * (1 - t)) ** 0.5
