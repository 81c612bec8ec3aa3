"""Decoder/voter/synchronizer unit tests against the reference's own
weight-free fixtures (FIXTURES.md §4):

- synchronize(["AbcdEfG","cdEFG"])    reference: text_synchronizer.py:147-149
- greedy CTC on the 3x5 matrix        reference: default_ctc_decoder.py:35-48
- token passing [[0.4,0,0.6]x2]       reference: token_passing_ctc_decoder.py:182-192
"""

import numpy as np
import pytest

from calamari_spark.operators.ctc import (
    _segment_maxes,
    find_alternatives,
    greedy_decode,
    greedy_labels,
    prefix_beam_decode,
    PrefixTree,
    token_passing_decode,
)
from calamari_spark.operators.predtypes import Prediction, PredPos, PredChar
from calamari_spark.operators.synchronize import synchronize
from calamari_spark.operators.vote import (
    confidence_vote_prediction,
    sequence_vote_text,
    vote_prediction,
    make_out_to_in,
    map_global_positions,
)


def test_synchronize_reference_fixture():
    texts = ["AbcdEfG", "cdEFG"]
    segs = synchronize(texts)
    rendered = [seg.get_text(texts) for seg in segs]
    # LCS "cdE"; flanks: ("Ab","") before, then ("f","F") mismatch, ("G","G")
    assert rendered == [["Ab", ""], ["cdE", "cdE"], ["f", "F"], ["G", "G"]]
    assert [s.match for s in segs] == [False, True, False, True]


def test_synchronize_identical_and_empty():
    t = ["same", "same"]
    segs = synchronize(t)
    assert [s.get_text(t) for s in segs] == [["same", "same"]]
    assert synchronize(["", ""]) == []


def _ref_matrix():
    # reference: default_ctc_decoder.py:35-48 (transpose of 3 class rows)
    return np.transpose(
        np.array(
            [
                [0.8, 0, 0.7, 0.2, 0.1],
                [0.1, 0.4, 0.2, 0.7, 0.8],
                [0.1, 0.6, 0.1, 0.1, 0.1],
            ]
        )
    )


def test_greedy_labels_reference_matrix():
    probs = _ref_matrix()
    assert greedy_labels(probs, blank=0) == [(2, 1, 2), (1, 3, 5)]


def test_find_alternatives_reference_matrix():
    probs = _ref_matrix()
    pred = greedy_decode(probs)
    assert pred.labels == [2, 1]
    p0, p1 = pred.positions
    assert [c.label for c in p0.chars] == [2, 1]  # 0.6, 0.4; label 0 has p=0
    assert [c.label for c in p1.chars] == [1, 0, 2]  # 0.8, 0.2, 0.1
    assert pred.avg_char_probability == pytest.approx((0.6 + 0.8) / 2)
    assert (p0.local_start, p0.local_end) == (1, 2)
    assert (p1.local_start, p1.local_end) == (3, 5)


def test_segment_maxes_empty_sentence():
    probs = _ref_matrix().astype(np.float32)
    out = _segment_maxes(probs, [])
    assert out.shape == (0, probs.shape[1]) and out.dtype == np.float32
    np.testing.assert_array_equal(
        _segment_maxes(probs, [(2, 1, 2), (1, 3, 5)]), [probs[1], probs[3:5].max(axis=0)]
    )


def test_greedy_repeat_collapse_blank_separation():
    # a a blank a -> "aa" becomes two entries only across the blank
    probs = np.array(
        [[0.1, 0.9], [0.1, 0.9], [0.9, 0.1], [0.1, 0.9]]
    )
    assert greedy_labels(probs, blank=0) == [(1, 0, 2), (1, 3, 4)]


def test_token_passing_reference_fixture():
    mat = np.array([[0.4, 0, 0.6], [0.4, 0, 0.6]])
    out = token_passing_decode(mat, list("ab"), ["a", "b", "ab", "ba"], blank=-1)
    assert out == "a"


def test_prefix_beam_matches_greedy_on_clean_input():
    probs = _ref_matrix()
    assert prefix_beam_decode(probs, blank=0) == [2, 1]


def test_prefix_beam_dictionary_constrained():
    # charset: blank=0, a=1, b=2; frames favor "ab" but dictionary only
    # contains "aa" and "b" -> constrained decode must pick a dictionary word
    probs = np.array(
        [
            [0.1, 0.8, 0.1],
            [0.3, 0.2, 0.5],
            [0.1, 0.45, 0.45],
        ]
    )
    tree = PrefixTree()
    tree.add([1, 1])  # "aa"
    tree.add([2])     # "b"
    out = prefix_beam_decode(probs, blank=0, prefix_tree=tree)
    node = tree
    for l in out:
        node = node.children[l]
    assert node.is_word


def test_sequence_vote_majority():
    assert sequence_vote_text(["hello", "hello", "hellp"]) == "hello"
    assert sequence_vote_text(["abc", "abc"]) == "abc"


def test_sequence_vote_disagreeing_lengths():
    # two voters insert a char, one misses it: plurality keeps it
    assert sequence_vote_text(["worlds", "worlds", "words"]) == "worlds"


def _mk_pred(chars_probs, starts=None):
    """chars_probs: list of dict char->p (first item = top)."""
    pred = Prediction()
    for i, d in enumerate(chars_probs):
        pos = PredPos(
            global_start=10 * i, global_end=10 * i + 8,
            global_start_ext=10 * i - 1 if i else 0, global_end_ext=10 * i + 9,
        )
        for ch, p in d.items():
            pos.chars.append(PredChar(char=ch, probability=p))
        pred.positions.append(pos)
    pred.sentence = "".join(next(iter(d)) for d in chars_probs)
    return pred


def test_confidence_vote_unanimous():
    p1 = _mk_pred([{"a": 0.9, "o": 0.1}, {"b": 0.8}])
    p2 = _mk_pred([{"a": 0.7, "o": 0.3}, {"b": 0.9}])
    voted = confidence_vote_prediction([p1, p2], [list("ab"), list("ab")])
    assert voted.sentence == "ab"
    # merged p for 'a' = (0.9 + 0.7)/2
    assert voted.positions[0].chars[0].probability == pytest.approx(0.8)


def test_confidence_vote_majority_flips_char():
    # voter1 says 'x' confidently, voters 2+3 say 'y' moderately
    p1 = _mk_pred([{"x": 0.9, "y": 0.05}])
    p2 = _mk_pred([{"y": 0.6, "x": 0.2}])
    p3 = _mk_pred([{"y": 0.7, "x": 0.1}])
    voted = confidence_vote_prediction(
        [p1, p2, p3], [["x"], ["y"], ["y"]]
    )
    # merged: x = (0.9+0.2+0.1)/3 = 0.4; y = (0.05+0.6+0.7)/3 = 0.45
    assert voted.sentence == "y"
    assert voted.positions[0].chars[0].probability == pytest.approx(0.45)


def test_vote_prediction_single_passthrough():
    p = _mk_pred([{"a": 0.9}])
    out = vote_prediction([p], [["a"]])
    assert out.sentence == "a" and not out.is_voted_result


def test_vote_prediction_postproc_disagreement_revote():
    p1 = _mk_pred([{"a": 0.9}, {"b": 0.9}, {"c": 0.9}])
    p2 = _mk_pred([{"a": 0.9}, {"b": 0.9}, {"c": 0.9}])
    posts = [lambda s: s + "!", lambda s: s + "!", ]
    out = vote_prediction([p1, p2], [list("abc"), list("abc")], posts)
    assert out.sentence == "abc!"
    posts = [lambda s: s + "!", lambda s: s]
    out = vote_prediction([p1, p2], [list("abc"), list("abc")], posts)
    # disagreement -> sequence re-vote over {"abc!", "abc"} -> "abc" + tie on '!'
    assert out.sentence.startswith("abc")


def test_out_to_in_chain_and_extents():
    # meta: pad 16, padded_width 132, m1=1, m2=0.5, line_width 250
    meta = {"pad": 16, "padded_width": 132, "m1": 1.0, "m2": 0.5, "line_width": 250}
    f = make_out_to_in(meta, model_factor=4.0)
    # x=5 frames -> *4=20 -> -pad=4 -> /0.5=8 -> clamp ok
    assert f(5) == 8.0
    pred = Prediction(
        positions=[
            PredPos(chars=[PredChar(char="h", probability=0.9)], local_start=5, local_end=6),
            PredPos(chars=[PredChar(char="i", probability=0.8)], local_start=8, local_end=9),
        ]
    )
    avg = map_global_positions(pred, f, out_len=25, code2char={})
    assert pred.sentence == "hi"
    assert avg == pytest.approx(0.85)
    p0, p1 = pred.positions
    assert p0.global_start == 8 and p0.global_end == 16
    assert p1.global_start == 32 and p1.global_end == 40
    # neighbor midpoint: start_ext of p1 == (32+16)//2 == end_ext of p0
    assert p1.global_start_ext == 24 and p0.global_end_ext == 24


def test_tokenpass_dictionary_topk_selection():
    from calamari_spark.plans.extraction import tokenpass_dictionary

    counts = {"cat": 5, "dog": 9, "ant": 5, "bee": 1}
    # None and k >= |vocab| keep the exact full-vocabulary behavior
    assert tokenpass_dictionary(counts) == ["ant", "bee", "cat", "dog"]
    assert tokenpass_dictionary(counts, 4) == ["ant", "bee", "cat", "dog"]
    assert tokenpass_dictionary(counts, 99) == ["ant", "bee", "cat", "dog"]
    # top-k by count desc, lexicographic tiebreak (ant before cat at n=5)
    assert tokenpass_dictionary(counts, 2) == ["ant", "dog"]
    assert tokenpass_dictionary(counts, 3) == ["ant", "cat", "dog"]


def test_tokenpass_bounded_dictionary_identical_decode_and_bounded_cost():
    """The at-scale mode: decoding against the top-k dictionary returns the
    identical sentence when the true words are frequent, and the DP cost is
    bounded by k, not |vocab| (Graves DP is O(words x states x frames))."""
    import time

    from calamari_spark.plans.extraction import tokenpass_dictionary

    rng = np.random.default_rng(7)
    charset = list("abcdefgh")
    # a clean two-word line: "fad" then "dab" (no separator in the DP)
    def frames_for(word, reps=2):
        rows = []
        for ch in word:
            for _ in range(reps):
                row = np.full(len(charset) + 1, 0.01)
                row[charset.index(ch)] = 0.9
                rows.append(row)
            blank = np.full(len(charset) + 1, 0.01)
            blank[-1] = 0.9
            rows.append(blank)
        return rows

    mat = np.array(frames_for("fad") + frames_for("dab"))
    mat /= mat.sum(axis=1, keepdims=True)

    counts = {"fad": 50, "dab": 40}
    filler = ["".join(rng.choice(charset, size=4)) for _ in range(400)]
    counts.update({w: 1 for w in filler if w not in counts})

    full = tokenpass_dictionary(counts)
    topk = tokenpass_dictionary(counts, 8)
    assert len(topk) == 8 and {"fad", "dab"} <= set(topk)

    t0 = time.perf_counter()
    out_full = token_passing_decode(mat, charset, full, blank=-1)
    t_full = time.perf_counter() - t0
    t0 = time.perf_counter()
    out_topk = token_passing_decode(mat, charset, topk, blank=-1)
    t_topk = time.perf_counter() - t0

    assert out_full == out_topk == "fad dab"
    # ~50x fewer dictionary words must be at least a few times faster even
    # on a noisy box (generous margin; the work ratio is linear in |dict|)
    assert t_topk * 3 < t_full


def test_top1_prediction_matches_greedy_decode_top1():
    """top1_prediction is the alternatives-free fast path of greedy_decode
    (r6: the unanimous-ensemble extraction path uses it): its labels,
    chars[0] (label, probability — including the ties-to-higher-label
    order), local extents and avg_char_probability must equal
    greedy_decode's exactly, on random matrices AND exact-tie rows."""
    from calamari_spark.operators.ctc import greedy_decode, top1_prediction

    rng = np.random.RandomState(7)
    mats = [rng.dirichlet(np.ones(6), size=20) for _ in range(5)]
    # exact ties: two labels share the max probability in every frame
    tie = np.zeros((8, 6))
    tie[:, 2] = tie[:, 4] = 0.35
    tie[:, 0] = 0.30
    mats.append(tie)
    mats.append(np.zeros((0, 6)))  # empty input
    for m in mats:
        full, fast = greedy_decode(m), top1_prediction(m)
        assert fast.labels == full.labels
        assert len(fast.positions) == len(full.positions)
        for a, b in zip(fast.positions, full.positions):
            assert (a.local_start, a.local_end) == (b.local_start, b.local_end)
            assert a.chars[0].label == b.chars[0].label
            assert a.chars[0].probability == b.chars[0].probability
        assert fast.avg_char_probability == full.avg_char_probability
