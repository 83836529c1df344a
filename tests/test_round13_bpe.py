"""Round-13 BPE batched-round referee (fast tier).

``bpe_train`` now applies a PROOF-GUARDED prefix of the per-round
top-K pair list in one Arrow pass (``_safe_prefix``) instead of one
merge per round.  The merge list must be BYTE-IDENTICAL to the
sequential algorithm's — these tests pin that against a pure-python
one-merge-per-round referee on tie- and collision-heavy corpora, plus
unit-pin the guard rules themselves (no Spark needed for those).
"""

import random

import pytest

from nomad_event_streamer_spark.operators import bpe


def _ref_train(word_counts, num_merges, min_pair_count=2):
    """Pure-python ONE-merge-per-round BPE — the sequential semantics
    the batched trainer must reproduce exactly (count desc, l, r asc
    tie-break; greedy left-to-right fuse)."""
    words = [(list(w) + [bpe.END], c) for w, c in word_counts]
    merges = []
    for _ in range(num_merges):
        counts = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        if not counts:
            break
        (l, r), c = min(
            counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )
        if c < min_pair_count:
            break
        merges.append((l, r))
        words = [(bpe._fuse(syms, l, r), cnt) for syms, cnt in words]
    return merges


def _batched_train(word_counts, num_merges, min_pair_count=2, batch_k=12):
    """Pure-python copy of ``bpe_train``'s driver loop: the exact top-k
    list Spark collects (count desc, l, r asc), ``_safe_prefix`` to pick
    the batch, then one batch of fuse passes.  Lets the sweeps below
    cover thousands of corpora without a Spark job per round."""
    words = [(list(w) + [bpe.END], c) for w, c in word_counts]
    merges = []
    known = {bpe.END}
    while len(merges) < num_merges:
        counts = {}
        for syms, c in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + c
        top = [
            {"l": l, "r": r, "c": c}
            for (l, r), c in sorted(
                counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )[:batch_k]
        ]
        if not top or top[0]["c"] < min_pair_count:
            break
        accepted, done = bpe._safe_prefix(
            top, batch_k, min_pair_count, num_merges - len(merges), known
        )
        merges.extend(accepted)
        if done:
            break
        for l, r in accepted:
            words = [(bpe._fuse(syms, l, r), cnt) for syms, cnt in words]
    return merges


def _corpus_df(spark, word_counts):
    text = " ".join(w for w, c in word_counts for _ in range(c))
    return spark.createDataFrame([(0, text)], ["doc_id", "text"])


def _rand_word_counts(seed):
    rng = random.Random(seed)
    alpha = "ab" if seed % 2 else "abc"
    words = {}
    for _ in range(rng.randint(12, 30)):
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 7)))
        words[w] = words.get(w, 0) + rng.randint(1, 6)
    return sorted(words.items())


@pytest.mark.parametrize("seed", [1, 2, 3, 7])
def test_batched_equals_sequential_random(spark, seed):
    wc = _rand_word_counts(seed)
    got = bpe.bpe_train(_corpus_df(spark, wc), num_merges=12)
    assert got == _ref_train(wc, 12)


def test_batched_equals_sequential_tie_heavy(spark):
    # every word count equal -> maximal ties, lexicographic breaks only
    wc = [("abab", 3), ("baba", 3), ("aabb", 3), ("bbaa", 3), ("ab", 3)]
    got = bpe.bpe_train(_corpus_df(spark, wc), num_merges=10)
    assert got == _ref_train(wc, 10)


# Self-merge counterexample: after (l, l) fuses, (ll, l) has count 8 and
# outranks (e, f) at 7, but its only bound is (l, l) itself, which the
# shadow scan skips as accepted.  Without the l == r stop the batch took
# [(l, l), (e, f)] and the merge list came out [(l,l), (e,f), (ll,l), ...].
SELF_MERGE_CORPUS = [("llla", 4), ("lllb", 4), ("ef", 7)]


def test_batched_equals_sequential_self_merge(spark):
    want = _ref_train(SELF_MERGE_CORPUS, 6)
    assert want[:3] == [("l", "l"), ("ll", "l"), ("e", "f")]
    assert bpe.bpe_train(_corpus_df(spark, SELF_MERGE_CORPUS), num_merges=6) == want


def _repeated_letter_word_counts(seed, alpha):
    rng = random.Random(seed)
    words = {}
    for _ in range(rng.randint(4, 12)):
        w = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 8)))
        words[w] = words.get(w, 0) + rng.randint(1, 12)
    return sorted(words.items())


@pytest.mark.parametrize("alpha", ["aab", "aaab"])
def test_batched_equals_sequential_repeated_letters(alpha):
    # a letter drawn with repeats makes runs like "aaaa" common, so
    # batches reach past a self-merge; without the l == r stop 9 ("aab")
    # and 11 ("aaab") of these 3,000 corpora gave a different merge list
    for seed in range(3000):
        wc = _repeated_letter_word_counts(seed, alpha)
        n = 8 + seed % 12
        assert _batched_train(wc, n) == _ref_train(wc, n), (alpha, seed, wc)


def test_batched_respects_min_pair_count(spark):
    wc = [("ab", 5), ("cd", 1)]  # (c,d) count 1 < min 2
    got = bpe.bpe_train(_corpus_df(spark, wc), num_merges=8, min_pair_count=2)
    assert got == _ref_train(wc, 8, 2)


# ---- _safe_prefix unit pins (pure python) --------------------------------


def _rows(*triples):
    return [{"l": l, "r": r, "c": c} for l, r, c in triples]


def test_safe_prefix_accepts_disjoint_strictly_separated():
    top = _rows(("a", "b", 10), ("c", "d", 8), ("e", "f", 6))
    acc, done = bpe._safe_prefix(top, 12, 2, 99, {bpe.END})
    assert acc == [("a", "b"), ("c", "d"), ("e", "f")] and not done


def test_safe_prefix_stops_at_overlap():
    # (b,c) shares b with accepted (a,b): unknown post-merge count
    top = _rows(("a", "b", 10), ("b", "c", 8), ("e", "f", 6))
    acc, _ = bpe._safe_prefix(top, 12, 2, 99, {bpe.END})
    assert acc == [("a", "b")]


def test_safe_prefix_stops_at_boundary():
    # list truncated at k=3: pairs outside may tie (e,f)'s count 6
    top = _rows(("a", "b", 10), ("c", "d", 8), ("e", "f", 6))
    acc, _ = bpe._safe_prefix(top, 3, 2, 99, {bpe.END})
    assert acc == [("a", "b"), ("c", "d")]


def test_safe_prefix_stops_at_tie_shadow():
    # (b,z) ties (c,d) at 8 and overlaps accepted (a,b): after the merge
    # a new pair bounded by count(b,z)=8 could tie-and-outsort (c,d)
    top = _rows(("a", "b", 10), ("c", "d", 8), ("b", "z", 8))
    acc, _ = bpe._safe_prefix(top, 12, 2, 99, {bpe.END})
    assert acc == [("a", "b")]


def test_safe_prefix_stops_after_collision():
    # fused "ab" already a known symbol: pairs involving it may GAIN
    # occurrences, so nothing after this merge is provable
    top = _rows(("a", "b", 10), ("c", "d", 8))
    acc, _ = bpe._safe_prefix(top, 12, 2, 99, {bpe.END, "ab"})
    assert acc == [("a", "b")]


def test_safe_prefix_done_below_min_count():
    # (c,d) passes every guard and is the PROVEN next argmax at count 1
    # < min_pair_count -> training may stop without another round
    top = _rows(("a", "b", 10), ("c", "d", 1))
    acc, done = bpe._safe_prefix(top, 12, 2, 99, {bpe.END})
    assert acc == [("a", "b")] and done


def test_safe_prefix_respects_budget():
    top = _rows(("a", "b", 10), ("c", "d", 8), ("e", "f", 6))
    acc, _ = bpe._safe_prefix(top, 12, 2, 2, {bpe.END})
    assert acc == [("a", "b"), ("c", "d")]


def test_safe_prefix_stops_after_self_merge():
    # (l, l) tops the list; the guards see nothing wrong with (e, f),
    # yet the new pair (ll, l) may outrank it
    top = _rows(("l", "l", 16), ("e", "f", 7), ("l", "a", 4), ("l", "b", 4))
    acc, _ = bpe._safe_prefix(top, 12, 2, 99, {bpe.END})
    assert acc == [("l", "l")]
