"""CTC decoders: greedy, alternatives extraction, prefix beam search,
and Graves token passing.

Semantics re-derived from the reference decoders
(reference: calamari_ocr/ocr/model/ctcdecoder/default_ctc_decoder.py:13-28,
ctc_decoder.py:87-137, token_passing_ctc_decoder.py:92-179,
ctcwordbeamsearchdecoder.py + thirdparty/ctcwordbeamsearch). The blank
label is index 0 throughout (reference convention, codec.py:120-129).

All of these run per line *inside* Arrow-batched pandas UDFs; the numpy
work is vectorized per call (argmax / run-length collapse over the whole
probability matrix at once).
"""

from __future__ import annotations

import math
from collections import defaultdict
from typing import Dict, List, Optional, Sequence, Tuple

import numpy as np

from calamari_spark.operators.predtypes import PredChar, PredPos, Prediction

DEFAULT_THRESHOLD = 1e-4


def _segment_maxes(probabilities: np.ndarray, sentence) -> np.ndarray:
    """[len(sentence), classes] frame-range max per decoded position — ONE
    np.maximum.reduceat over interleaved [s0,e0,s1,e1,...] boundaries
    instead of a Python loop of per-position slice maxes (the loop was
    ~10% of the text-only kernel). Bit-identical: max over the same
    elements in any association. Even-indexed reduceat segments are the
    [s,e) char ranges; odd ones are the inter-char gaps (discarded — when
    e_i == s_{i+1} the empty gap segment yields a[e_i] per reduceat's
    contract, also discarded). A trailing boundary equal to len(a) must be
    dropped (reduceat indices are exclusive of len): the final segment
    then runs [s_last, len) which IS the last char's range because
    e_last == len there. An empty sentence gives an empty (0, C) array."""
    if not len(sentence):
        return np.empty((0, probabilities.shape[1]), dtype=probabilities.dtype)
    bounds = np.empty(2 * len(sentence), dtype=np.int64)
    for i, (_, s, e) in enumerate(sentence):
        bounds[2 * i] = s
        bounds[2 * i + 1] = e
    if bounds[-1] == len(probabilities):
        bounds = bounds[:-1]
    return np.maximum.reduceat(probabilities, bounds, axis=0)[::2]


def greedy_labels(probabilities: np.ndarray, blank: int = 0) -> List[Tuple[int, int, int]]:
    """Per-frame argmax, collapse adjacent repeats, drop blanks; returns
    [(label, start_frame, end_frame_exclusive)]
    (reference: default_ctc_decoder.py:13-28). Vectorized: run boundaries
    via np.diff instead of a per-frame Python loop."""
    if probabilities.size == 0:
        return []
    chars = np.argmax(probabilities, axis=1)
    # run-length encode
    boundaries = np.flatnonzero(np.diff(chars)) + 1
    starts = np.concatenate(([0], boundaries))
    ends = np.concatenate((boundaries, [len(chars)]))
    out = []
    for s, e in zip(starts, ends):
        c = int(chars[s])
        if c != blank:
            out.append((c, int(s), int(e)))
    return out


def find_alternatives(
    probabilities: np.ndarray,
    sentence: List[Tuple[int, int, int]],
    threshold: float = DEFAULT_THRESHOLD,
) -> Prediction:
    """Per decoded char, max softmax over its frame range; attach all
    alternative labels with p >= threshold, sorted by p descending (ties:
    higher label first — matching the reference's reversed stable sort,
    ctc_decoder.py:118-128); avg_char_probability = mean top-char p
    (reference: ctc_decoder.py:100-137)."""
    pred = Prediction()
    pred.labels = [c for c, _, _ in sentence]
    pred.logits = probabilities
    pred.avg_char_probability = 0.0
    if sentence:
        # vectorized over all decoded positions: frame-range max + one
        # argsort per position (stable mergesort on -p ties like the
        # reference's reversed stable sort: higher label first on ties)
        pmax = _segment_maxes(probabilities, sentence)
        # stable argsort over the label-reversed array: p descending with
        # ties going to the higher label, exactly the reference order
        C = pmax.shape[1]
        order = (C - 1) - np.argsort(-pmax[:, ::-1], axis=1, kind="stable")
    for i, (c, start, end) in enumerate(sentence):
        p = pmax[i]
        pos = PredPos(local_start=start, local_end=end)
        pred.positions.append(pos)
        for label in order[i]:
            if p[label] < threshold and len(pos.chars) > 0:
                break
            pos.chars.append(PredChar(label=int(label), probability=float(p[label])))
        if pos.chars:
            pred.avg_char_probability += pos.chars[0].probability
    pred.avg_char_probability /= len(pred.positions) if pred.positions else 1
    return pred


def greedy_decode(
    probabilities: np.ndarray, blank: int = 0, threshold: float = 0.0
) -> Prediction:
    """Greedy decode + alternatives (the reference's DefaultCTCDecoder)."""
    thr = threshold if threshold > 0 else DEFAULT_THRESHOLD
    return find_alternatives(probabilities, greedy_labels(probabilities, blank), thr)


def top1_prediction(probabilities: np.ndarray, blank: int = 0) -> Prediction:
    """Greedy decode keeping only the TOP character per position — the
    alternative ranking (find_alternatives' per-position stable argsort +
    PredChar list) skipped. chars[0] and avg_char_probability are
    value-identical to find_alternatives' (same frame-range max; argmax
    over the label-reversed row = first max = ties to the HIGHER label,
    exactly order[0] of the reference's reversed stable sort — asserted in
    tests). For consumers that never read alternatives (the text-only
    extraction fast path) this halves the per-fold decode cost."""
    sentence = greedy_labels(probabilities, blank)
    pred = Prediction()
    pred.labels = [c for c, _, _ in sentence]
    pred.logits = probabilities
    pred.avg_char_probability = 0.0
    if not sentence:
        return pred
    pmax = _segment_maxes(probabilities, sentence)
    C = pmax.shape[1]
    top = (C - 1) - np.argmax(pmax[:, ::-1], axis=1)
    for i, (c, start, end) in enumerate(sentence):
        pos = PredPos(local_start=start, local_end=end)
        pos.chars.append(
            PredChar(label=int(top[i]), probability=float(pmax[i, top[i]]))
        )
        pred.positions.append(pos)
        pred.avg_char_probability += pos.chars[0].probability
    pred.avg_char_probability /= len(pred.positions)
    return pred


# ---------------------------------------------------------------------------
# Prefix beam search (optionally dictionary-constrained via a prefix tree)
# ---------------------------------------------------------------------------

class PrefixTree:
    """Minimal prefix tree over label sequences for constrained decoding
    (reference analog: thirdparty/ctcwordbeamsearch/PrefixTree.py).
    ``n_below``/``pr_below`` are annotated by WordLM._build: word count and
    unigram-probability mass of the subtree — they turn the per-extension
    completion-mass sums of the word beam from O(subtree) walks into O(1)
    lookups (at a 50k-word vocabulary the walks made WBS ~linear in vocab
    size: 1.54 s/line, vs 0.04 s at 1k — scripts/dictscale_evidence.py)."""

    __slots__ = ("children", "is_word", "n_below", "pr_below")

    def __init__(self):
        self.children: Dict[int, "PrefixTree"] = {}
        self.is_word = False
        self.n_below = 0
        self.pr_below = 0.0

    def add(self, labels: Sequence[int]) -> None:
        node = self
        for l in labels:
            node = node.children.setdefault(l, PrefixTree())
        node.is_word = True

    def node_at(self, labels: Sequence[int]) -> Optional["PrefixTree"]:
        node = self
        for l in labels:
            node = node.children.get(l)
            if node is None:
                return None
        return node

    def next_labels(self, labels: Sequence[int]) -> Optional[set]:
        node = self.node_at(labels)
        return set(node.children.keys()) if node is not None else set()

    def words_below(self, labels: Sequence[int]) -> List[Tuple[int, ...]]:
        """Every complete word under the given prefix (prefix included when
        it is itself a word), in sorted label order — the tree walk serving
        WordLM.next_words, replacing an O(vocab) linear scan per prefix."""
        node = self
        for l in labels:
            node = node.children.get(l)
            if node is None:
                return []
        out: List[Tuple[int, ...]] = []

        def dfs(n: "PrefixTree", path: Tuple[int, ...]) -> None:
            if n.is_word:
                out.append(path)
            for l in sorted(n.children):
                dfs(n.children[l], path + (l,))

        dfs(node, tuple(labels))
        return out


def prefix_beam_decode(
    probabilities: np.ndarray,
    blank: int = 0,
    beam_width: int = 25,
    prefix_tree: Optional[PrefixTree] = None,
    word_separator_label: Optional[int] = None,
) -> List[int]:
    """Standard CTC prefix beam search (Hannun et al. 2014; the reference
    wraps the word-beam-search variant, ctcwordbeamsearchdecoder.py:9-26).
    With a prefix_tree, only labels extending a dictionary word (or the
    word separator after a complete word) may be appended. Returns the best
    label sequence."""
    T, C = probabilities.shape
    # beams: prefix tuple -> (p_blank, p_non_blank)
    beams: Dict[Tuple[int, ...], Tuple[float, float]] = {(): (1.0, 0.0)}
    for t in range(T):
        row = probabilities[t]
        new: Dict[Tuple[int, ...], List[float]] = defaultdict(lambda: [0.0, 0.0])
        for prefix, (pb, pnb) in beams.items():
            ptot = pb + pnb
            # extend by blank
            new[prefix][0] += row[blank] * ptot
            # repeat last label (stays same prefix, non-blank path)
            if prefix:
                new[prefix][1] += row[prefix[-1]] * pnb
            # allowed extensions
            if prefix_tree is not None:
                cur_word_start = 0
                if word_separator_label is not None:
                    for i in range(len(prefix) - 1, -1, -1):
                        if prefix[i] == word_separator_label:
                            cur_word_start = i + 1
                            break
                cur_word = prefix[cur_word_start:]
                allowed = prefix_tree.next_labels(cur_word)
                node = prefix_tree
                complete = True
                for l in cur_word:
                    node = node.children.get(l)
                    if node is None:
                        complete = False
                        break
                if complete and node.is_word and word_separator_label is not None:
                    allowed = set(allowed) | {word_separator_label}
            else:
                allowed = None
            for c in range(C):
                if c == blank:
                    continue
                if allowed is not None and c not in allowed:
                    continue
                ext = prefix + (c,)
                if prefix and c == prefix[-1]:
                    # same label: only via the blank path
                    new[ext][1] += row[c] * pb
                else:
                    new[ext][1] += row[c] * ptot
        beams = dict(
            sorted(new.items(), key=lambda kv: -(kv[1][0] + kv[1][1]))[:beam_width]
        )
        beams = {k: (v[0], v[1]) for k, v in beams.items()}
    def word_complete(prefix: Tuple[int, ...]) -> bool:
        if prefix_tree is None:
            return True
        start = 0
        if word_separator_label is not None:
            for i in range(len(prefix) - 1, -1, -1):
                if prefix[i] == word_separator_label:
                    start = i + 1
                    break
        cur = prefix[start:]
        if not cur:
            return True
        node = prefix_tree
        for l in cur:
            node = node.children.get(l)
            if node is None:
                return False
        return node.is_word

    # termination: prefer beams ending on a complete dictionary word
    # (the word-constrained semantics of the reference's WordBeamSearch)
    complete = {k: v for k, v in beams.items() if word_complete(k)}
    pool = complete or beams
    best = max(pool.items(), key=lambda kv: kv[1][0] + kv[1][1])[0]
    return list(best)


# ---------------------------------------------------------------------------
# Word-beam search with a unigram/bigram word LM
# (reference: thirdparty/ctcwordbeamsearch/{LanguageModel,Beam,WordBeamSearch}.py,
#  wrapper ocr/model/ctcdecoder/ctcwordbeamsearchdecoder.py:9-26)
# ---------------------------------------------------------------------------

class WordLM:
    """Unigram/bigram word LM with add-k smoothing over a training corpus
    string — probability semantics match the reference LM
    (LanguageModel.py:9-109) so its inline fixtures hold:
    unigram(w) = count(w)/N; bigram counts get +k and normalize over
    (unique_words*k + counts); unseen-bigram fallback
    k / (unigram(w1)*U + U); unseen words score 0."""

    def __init__(self, corpus: str, chars: str, word_chars: str, add_k: float = 1.0):
        import re as _re

        word_re = "[" + _re.escape(word_chars) + "]+"
        words = _re.findall(word_re, corpus)
        uni: Dict[str, float] = {}
        for w in words:
            uni[w] = uni.get(w, 0.0) + 1.0
        big: Dict[Tuple[str, str], float] = {}
        for w1, w2 in zip(words, words[1:]):
            big[(w1, w2)] = big.get((w1, w2), 0.0) + 1.0
        self._build(uni, big, chars, word_chars, add_k)

    @classmethod
    def from_counts(
        cls,
        unigram_counts: Dict[str, float],
        chars: str,
        word_chars: str,
        bigram_counts: Optional[Dict[Tuple[str, str], float]] = None,
        add_k: float = 1.0,
    ) -> "WordLM":
        """Build the LM directly from (word -> count) tables — the scale
        path. A real vocabulary ships as aggregated counts (vocab.json model
        constant); expanding counts into a repeated-word corpus string just
        so ``__init__`` can re-tokenize and re-count it is O(total_count)
        memory per executor and quantizes the distribution if capped. This
        constructor is count-exact and O(|vocab|). The corpus-string
        ``__init__`` remains for reference-fixture parity (it now feeds the
        same builder with counts it tallies itself)."""
        lm = cls.__new__(cls)
        lm._build(dict(unigram_counts), dict(bigram_counts or {}), chars, word_chars, add_k)
        return lm

    def _build(
        self,
        unigram_counts: Dict[str, float],
        bigram_counts: Dict[Tuple[str, str], float],
        chars: str,
        word_chars: str,
        add_k: float,
    ) -> None:
        self.chars = chars
        self.word_chars = word_chars
        self.n_words = int(sum(unigram_counts.values()))
        uniq = sorted(unigram_counts)
        self.n_unique = len(uniq)
        self.add_k = add_k

        self.unigrams: Dict[str, float] = defaultdict(float)
        for w, n in unigram_counts.items():
            self.unigrams[w.lower()] += n / self.n_words

        counts: Dict[str, Dict[str, float]] = {}
        for (w1, w2), n in sorted(bigram_counts.items()):
            d = counts.setdefault(w1.lower(), {})
            # first sighting seeds the +k smoothing mass (reference quirk:
            # LanguageModel.py:40-41 adds k once, then 1 per occurrence)
            d[w2.lower()] = d.get(w2.lower(), self.add_k) + n
        self.bigrams: Dict[str, Dict[str, float]] = {}
        for w1, d in counts.items():
            total = self.n_unique * self.add_k + sum(d.values())
            self.bigrams[w1] = {w2: c / total for w2, c in d.items()}

        self._tree = PrefixTree()
        self._vocab = uniq
        for w in uniq:
            self._tree.add([ord(c) for c in w])
        # annotate subtree word counts + unigram mass (same own-word-first,
        # sorted-children accumulation order as words_below, so the O(1)
        # sums replace the walk sums value-for-value up to float assoc.)
        self._mixed_case = any(w != w.lower() for w in uniq)

        def _annotate(node: PrefixTree, path: str) -> None:
            n, pr = 0, 0.0
            if node.is_word:
                n, pr = 1, self.unigram(path)
            for l in sorted(node.children):
                ch = node.children[l]
                _annotate(ch, path + chr(l))
                n += ch.n_below
                pr += ch.pr_below
            node.n_below, node.pr_below = n, pr

        _annotate(self._tree, "")
        self.non_word_chars = "".join(
            sorted(set(chars) - set(word_chars))
        )

    def unigram(self, w: str) -> float:
        return self.unigrams.get(w.lower(), 0.0)

    def bigram(self, w1: str, w2: str) -> float:
        d = self.bigrams.get(w1.lower())
        if d is None:
            return 0.0
        v = d.get(w2.lower())
        if v is not None:
            return v
        return self.add_k / (self.unigram(w1) * self.n_unique + self.n_unique)

    def is_word(self, text: str) -> bool:
        node = self._tree
        for c in text:
            node = node.children.get(ord(c))
            if node is None:
                return False
        return node.is_word

    def next_chars(self, prefix: str) -> str:
        labels = self._tree.next_labels([ord(c) for c in prefix])
        out = "".join(sorted(chr(l) for l in labels))
        if prefix == "" or self.is_word(prefix):
            out += self.non_word_chars
        return out

    def next_words(self, prefix: str) -> List[str]:
        """Dictionary words extending ``prefix``, served from the prefix
        tree (subtree walk, no vocab-wide scan, no unbounded memo — at a
        real-corpus vocabulary the linear scan per new prefix was the
        executor-side hot spot)."""
        return [
            "".join(chr(l) for l in labels)
            for labels in self._tree.words_below([ord(c) for c in prefix])
        ]

    def unigram_prefix_sum(self, prefix: str) -> float:
        """sum(unigram(w) for w in next_words(prefix)) as an O(len(prefix))
        lookup: the mass was pre-accumulated per node at build time. This
        is the word beam's per-char-extension cost for the FIRST word; the
        subtree walk it replaces made WBS linear in vocabulary size."""
        node = self._tree.node_at([ord(c) for c in prefix])
        return node.pr_below if node is not None else 0.0

    def bigram_prefix_sum(self, w1: str, prefix: str) -> float:
        """sum(bigram(w1, w) for w in next_words(prefix)) without the full
        subtree walk: seen successors of w1 contribute their table mass,
        every other subtree word the constant smoothing fallback — so the
        cost is min(|seen successors|, |subtree|), independent of |vocab|.
        A mixed-case vocabulary falls back to the exact walk (the seen
        table is lowercased; matching it against original-case subtree
        membership would need a per-node case map nobody's corpus pays
        for)."""
        node = self._tree.node_at([ord(c) for c in prefix])
        if node is None or node.n_below == 0:
            return 0.0
        d = self.bigrams.get(w1.lower())
        if d is None:
            return 0.0  # bigram() is 0 for every w2 under an unseen w1
        if self._mixed_case or node.n_below <= len(d):
            return sum(self.bigram(w1, w) for w in self.next_words(prefix))
        fallback = self.add_k / (self.unigram(w1) * self.n_unique + self.n_unique)
        seen_sum, n_seen = 0.0, 0
        for w2, p in d.items():
            if w2.startswith(prefix) and self.is_word(w2):
                seen_sum += p
                n_seen += 1
        return seen_sum + (node.n_below - n_seen) * fallback


class _WBeam:
    """One word-beam: optical (p_blank, p_non_blank) + textual LM state."""

    __slots__ = ("text", "pb", "pnb", "word_hist", "word_dev", "pr_unnorm", "pr_lm")

    def __init__(self, text=""):
        self.text = text
        self.pb, self.pnb = 0.0, 0.0
        self.word_hist: Tuple[str, ...] = ()
        self.word_dev = ""
        self.pr_unnorm = 1.0
        self.pr_lm = 1.0

    def score(self) -> float:
        return (self.pb + self.pnb) * self.pr_lm


def _wbeam_child(beam: _WBeam, lm: WordLM, ch: str, use_ngrams: bool) -> _WBeam:
    """Extend a beam's textual state by one char (Beam.py:63-123 semantics)."""
    b = _WBeam(beam.text + ch)
    b.word_hist, b.word_dev = beam.word_hist, beam.word_dev
    b.pr_unnorm, b.pr_lm = beam.pr_unnorm, beam.pr_lm
    if ch == "":
        return b
    if not use_ngrams:
        b.word_dev = b.word_dev + ch if ch in lm.word_chars else ""
        return b
    if ch in lm.word_chars:
        b.word_dev += ch
        # developing word: score optimistically with the total probability
        # mass of every dictionary word this prefix can still become —
        # served as precomputed subtree sums, NOT a subtree walk (the walk
        # made each beam extension O(|vocab|/sigma^|prefix|): ~linear in
        # vocabulary size overall, 37x slower at 50k words than 1k)
        if not b.word_hist:
            pr_sum = lm.unigram_prefix_sum(b.word_dev)
        else:
            pr_sum = lm.bigram_prefix_sum(b.word_hist[-1], b.word_dev)
        b.pr_lm = b.pr_unnorm * pr_sum
        n = len(b.word_hist)
        if n >= 1:
            b.pr_lm = b.pr_lm ** (1.0 / (n + 1))
    else:
        if b.word_dev:
            b.word_hist = b.word_hist + (b.word_dev,)
            b.word_dev = ""
            n = len(b.word_hist)
            if n == 1:
                b.pr_unnorm *= lm.unigram(b.word_hist[-1])
                b.pr_lm = b.pr_unnorm
            else:
                b.pr_unnorm *= lm.bigram(b.word_hist[-2], b.word_hist[-1])
                b.pr_lm = b.pr_unnorm ** (1.0 / n)
    return b


def word_beam_decode(
    probabilities: np.ndarray,
    charset: Sequence[str],
    lm: WordLM,
    beam_width: int = 25,
    use_ngrams: bool = True,
    allow_word_to_word: bool = False,
    initial_words: Sequence[str] = (),
) -> str:
    """Word-beam search: dictionary-constrained beams, rescored by the word
    LM (unigram for the first word, bigram after; in-progress words score
    by the summed probability of their possible completions). Matches the
    reference algorithm (WordBeamSearch.py:7-64) on its inline fixtures.
    allow_word_to_word lets a completed word chain straight into a new
    word's first char with no separator (WordBeamSearch.py:51-56 — the
    space-less corpora option). Blank is the LAST matrix column (reference
    convention for this decoder; the caller rolls our blank-first
    softmax)."""
    T = probabilities.shape[0]
    blank = len(charset)
    col = {c: i for i, c in enumerate(charset)}
    start_chars = sorted({w[0] for w in lm._vocab}) if allow_word_to_word else []

    genesis = _WBeam()
    genesis.pb = 1.0
    # mid-line decoding: seed the textual state with the words already
    # decoded to the left, so the FIRST word of this slice is scored by
    # bigram(initial_words[-1], .) instead of its unigram — the LM state a
    # full-line beam would carry at this point
    genesis.word_hist = tuple(initial_words)
    last: Dict[str, _WBeam] = {"": genesis}

    def add(pool: Dict[str, _WBeam], b: _WBeam) -> None:
        cur = pool.get(b.text)
        if cur is None:
            pool[b.text] = b
        else:  # merge optical mass; first-in textual state wins
            cur.pb += b.pb
            cur.pnb += b.pnb

    for t in range(T):
        row = probabilities[t]
        cur: Dict[str, _WBeam] = {}
        best = sorted(last.values(), key=lambda b: -b.score())[:beam_width]
        for beam in best:
            ptot = beam.pb + beam.pnb
            # stay on the same text: blank, or repeat of the last char
            stay = _wbeam_child(beam, lm, "", use_ngrams)
            stay.pb = ptot * row[blank]
            if beam.text:
                stay.pnb = beam.pnb * row[col[beam.text[-1]]]
            add(cur, stay)
            for c in lm.next_chars(beam.word_dev):
                ext = _wbeam_child(beam, lm, c, use_ngrams)
                base = beam.pb if (beam.text and beam.text[-1] == c) else ptot
                ext.pnb = row[col[c]] * base
                add(cur, ext)
            if allow_word_to_word and lm.is_word(beam.word_dev):
                for c in start_chars:
                    ext = _wbeam_child(beam, lm, c, use_ngrams)
                    ext.word_dev = c  # new word starts here
                    base = beam.pb if (beam.text and beam.text[-1] == c) else ptot
                    ext.pnb = row[col[c]] * base
                    add(cur, ext)
        last = cur

    # complete dangling prefixes that have exactly one dictionary completion
    for b in last.values():
        if b.word_dev and not lm.is_word(b.word_dev):
            cands = lm.next_words(b.word_dev)
            if len(cands) == 1:
                b.text += cands[0][len(b.word_dev):]
    return max(last.values(), key=lambda b: b.score()).text


# ---------------------------------------------------------------------------
# Graves token passing (dictionary decoding)
# ---------------------------------------------------------------------------

def _log(v: float) -> float:
    return math.log(v) if v > 0 else float("-inf")


def token_passing_decode(
    probabilities: np.ndarray,
    charset: Sequence[str],
    dictionary: Sequence[str],
    blank: int = -1,
    word_separator: str = " ",
) -> str:
    """Graves token-passing DP over words x states x time (Graves
    dissertation pp. 67-69; reference: token_passing_ctc_decoder.py:92-179).
    Returns the best word sequence joined by ``word_separator``."""
    if blank < 0:
        blank = len(charset)
    T = probabilities.shape[0]
    words = []
    for w in dictionary:
        try:
            words.append([charset.index(c) for c in w])
        except ValueError:
            words.append(None)
    prime = [None if w is None else _with_blanks(w, blank) for w in words]
    NEG = (float("-inf"), ())
    # tok[w][s] at current/previous t; s in 0..len(prime_w); -1 == end
    n_words = len(words)

    prev: List[Dict[int, Tuple[float, tuple]]] = [dict() for _ in range(n_words)]
    for wi, w in enumerate(words):
        if w is None:
            continue
        d = {s: NEG for s in range(0, len(prime[wi]) + 1)}
        d[-1] = NEG
        d[1] = (_log(probabilities[0, blank]), (wi,))
        d[2] = (_log(probabilities[0, w[0]]), (wi,))
        if len(w) == 1:
            d[-1] = d[2]
        prev[wi] = d

    for t in range(1, T):
        order = sorted(range(n_words), key=lambda wi: prev[wi].get(-1, NEG)[0])
        best_wi = order[-1]
        best_end = prev[best_wi].get(-1, NEG)
        best_prime = prime[best_wi]
        cur: List[Dict[int, Tuple[float, tuple]]] = [dict() for _ in range(n_words)]
        for wi in order:
            if words[wi] is None:
                continue
            wp = prime[wi]
            d = {}
            d[0] = (best_end[0], best_end[1] + (wi,))
            for s in range(1, len(wp) + 1):
                if s == 1:
                    cands = [prev[wi].get(1, NEG), d[0]]
                else:
                    cands = [prev[wi].get(s, NEG), prev[wi].get(s - 1, NEG)]
                    if s == 2 and best_prime is not None and best_prime[-2] != wp[1]:
                        cands.append(d[0])
                if wp[s - 1] != blank and s > 2 and wp[s - 3] != wp[s - 1]:
                    cands.append(prev[wi].get(s - 2, NEG))
                best = max(cands, key=lambda x: x[0])
                d[s] = (best[0] + _log(probabilities[t, wp[s - 1]]), best[1])
            d[-1] = max((d[len(wp)], d[len(wp) - 1]), key=lambda x: x[0])
            cur[wi] = d
        prev = cur

    # tie-break to the largest word index (the reference's stable ascending
    # sort + take-last, token_passing_ctc_decoder.py:170-171)
    best_wi = max(range(n_words), key=lambda wi: (prev[wi].get(-1, NEG)[0], wi))
    history = prev[best_wi].get(-1, NEG)[1]
    return word_separator.join(dictionary[i] for i in history)


def _with_blanks(labels: Sequence[int], blank: int) -> List[int]:
    out = [blank]
    for l in labels:
        out.extend((l, blank))
    return out
