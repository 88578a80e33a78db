"""Seeded word-count corpus for the benchmark.

``corpus`` writes a directory of plain-text files, a pure function of
the seed (same seed, same bytes), and returns the generator's own tally
of every surviving word.

The corpus exercises the reference tokenizer's edge cases: mixed case,
trailing punctuation (``hello,`` -> ``hello``, ``co-op`` -> ``co``),
digit-leading and punctuation-leading tokens (dropped), apostrophes
(``don't`` kept) and the bracket characters 91-96 (kept). Word ids are
drawn from a Zipf law with exponent ``ZIPF_S`` = 1.05, close to the
exponent of 1 that Zipf's law gives for word frequencies in English
text. The default vocabulary of 40,000 words sits in the range Heaps'
law (V = K n^b, K 10-100, b 0.4-0.6) gives for a text of a million
tokens, so map-side combine leaves a long tail for the exchange.
"""
import os

import numpy as np

ZIPF_S = 1.05

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))
_KEPT_MARKS = ["'", "[", "\\", "]", "^", "_", "`"]  # apostrophe + ASCII 91-96
_SUFFIXES = [",", ".", ";", ":", "!", "?", ")", '"', "-op", "-in", "123",
             "2nd"]
_JUNK = ["42nd", "1999", "3d", "7", "--", "...", "(see", "*", "#tag",
         "&", "0x1F", "été", "-", "\"quoted"]
# token kinds: lower, Capitalized, UPPER, mIxEd, word + suffix, junk
_KIND_P = [0.62, 0.12, 0.04, 0.03, 0.15, 0.04]


def _vocabulary(rng, size):
    """``size`` distinct lowercase words; some carry an apostrophe or a
    bracket char inside, so those characters survive the cleaner."""
    words, seen = [], set()
    while len(words) < size:
        length = int(rng.integers(2, 11))
        w = "".join(_LETTERS[rng.integers(0, 26, length)])
        if rng.random() < 0.04:
            cut = int(rng.integers(1, length))
            w = w[:cut] + _KEPT_MARKS[int(rng.integers(0, 7))] + w[cut:]
        if w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _mixed(w):
    return "".join(c.upper() if i % 2 else c for i, c in enumerate(w))


def corpus(seed, out_dir, files, tokens_per_file, vocab=40000):
    """Write ``files`` text files under ``out_dir``; return the tally.

    The tally maps each surviving (cleaned, lowercased) word to its count,
    derived from how the tokens were built rather than by re-tokenizing.
    """
    rng = np.random.Generator(np.random.PCG64([seed, 7]))
    os.makedirs(out_dir, exist_ok=True)
    words = _vocabulary(rng, vocab)
    n_suffix = len(_SUFFIXES)
    # surface table: per word, kinds 0-3 then one column per suffix
    surface = np.empty((vocab, 4 + n_suffix), dtype=object)
    for i, w in enumerate(words):
        surface[i, 0] = w
        surface[i, 1] = w[:1].upper() + w[1:]
        surface[i, 2] = w.upper()
        surface[i, 3] = _mixed(w)
        for j, s in enumerate(_SUFFIXES):
            surface[i, 4 + j] = w + s
    junk = np.array(_JUNK, dtype=object)
    cdf = np.cumsum(1.0 / np.arange(1, vocab + 1) ** ZIPF_S)
    cdf /= cdf[-1]
    # the rank -> word map is shuffled so frequent words are spread over
    # the alphabet (and over the sink's hash shards)
    rank_word = rng.permutation(vocab)
    counts = np.zeros(vocab, dtype=np.int64)
    for f in range(files):
        n = tokens_per_file
        ids = rank_word[np.searchsorted(cdf, rng.random(n), side="right")
                        .clip(0, vocab - 1)]
        kinds = rng.choice(6, n, p=_KIND_P)
        sfx = rng.integers(0, n_suffix, n)
        col = np.where(kinds == 4, 4 + sfx, np.minimum(kinds, 3))
        toks = surface[ids, col]
        is_junk = kinds == 5
        toks[is_junk] = junk[rng.integers(0, len(junk), int(is_junk.sum()))]
        counts += np.bincount(ids[~is_junk], minlength=vocab)
        line_len = rng.integers(6, 19, n // 6 + 1)
        cuts = np.cumsum(line_len)
        cuts = cuts[cuts < n]
        seps = rng.random(len(cuts) + 1)
        lines = []
        for k, part in enumerate(np.split(toks, cuts)):
            if seps[k] < 0.05:
                lines.append("\t".join(part))
            elif seps[k] < 0.08:
                lines.append("  " + "  ".join(part))
            else:
                lines.append(" ".join(part))
        with open(f"{out_dir}/part-{f:05d}.txt", "w", encoding="utf-8",
                  newline="\n") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
    return {words[i]: int(c) for i, c in enumerate(counts) if c}
