"""Seeded text corpus for the ``mapreduce_jobs`` workload.

A line-oriented text directory in the reference's input shape (FIXTURES.md
§1): words drawn with Zipf frequencies from a fixed vocabulary, a
capitalised first word on some lines, some hyphenated words and some runs
of two spaces (whitespace tokenisation must never emit empty tokens).

The vocabulary is the same for every seed; the seed picks which words are
frequent, the line lengths and the punctuation. So every seed gives the same
number of lines and nearly the same token and distinct-word counts
(``TOLERANCE``), and a held-out seed measures the same workload.
"""

from __future__ import annotations

import collections
from pathlib import Path

import numpy as np

# Largest relative difference in token count and distinct-word count
# between two seeds at the benchmark's corpus size (pinned by the tests).
TOLERANCE = 0.05

_ONSETS = "b c d f g h j k l m n p r s t v w z br ch st tr".split()
_VOWELS = "a e i o u ai ea ou".split()


def vocabulary(size: int) -> list[str]:
    """``size`` distinct lowercase words, 2 to ~12 letters, seed-independent."""
    words = []
    for i in range(size):
        syllables = []
        n = i
        while True:
            n, onset = divmod(n, len(_ONSETS))
            n, vowel = divmod(n, len(_VOWELS))
            syllables.append(_ONSETS[onset] + _VOWELS[vowel])
            if n == 0:
                break
            n -= 1
        words.append("".join(syllables))
    return words


def generate_lines(seed: int, lines: int, vocab_size: int, zipf_s: float,
                   min_words: int, max_words: int) -> list[str]:
    rng = np.random.default_rng(seed)
    vocab = np.array(vocabulary(vocab_size), dtype=object)
    # Zipf over ranks; the seed decides which word holds which rank
    weights = 1.0 / np.arange(1, vocab_size + 1) ** zipf_s
    ranked = vocab[rng.permutation(vocab_size)]
    counts = rng.integers(min_words, max_words + 1, lines)
    tokens = ranked[rng.choice(vocab_size, int(counts.sum()), p=weights / weights.sum())]
    hyphen = rng.random(len(tokens)) < 0.0005
    double_space = rng.random(lines) < 0.05
    capital = rng.random(lines) < 0.02
    out = []
    pos = 0
    for i, n in enumerate(counts):
        words = [
            f"{w}-{tokens[pos + j - 1]}" if hyphen[pos + j] and j else w
            for j, w in enumerate(tokens[pos:pos + n])
        ]
        pos += n
        if capital[i]:
            words[0] = words[0].capitalize()
        out.append(("  " if double_space[i] else " ").join(words))
    return out


def write_corpus(out_dir: Path, seed: int, lines: int, files: int, vocab_size: int,
                 zipf_s: float, min_words: int, max_words: int) -> list[str]:
    """Write ``files`` text files under ``out_dir``; return all lines in order."""
    all_lines = generate_lines(seed, lines, vocab_size, zipf_s, min_words, max_words)
    out_dir.mkdir(parents=True, exist_ok=True)
    per_file = -(-lines // files)
    for f in range(files):
        chunk = all_lines[f * per_file:(f + 1) * per_file]
        (out_dir / f"part-{f:05d}.txt").write_text("".join(line + "\n" for line in chunk))
    return all_lines


def golden(lines: list[str]) -> tuple[collections.Counter, collections.Counter]:
    """WordCount and WordLength answers by ``collections.Counter`` (FIXTURES.md §1)."""
    words = collections.Counter(w for line in lines for w in line.split())
    lengths = collections.Counter()
    for w, c in words.items():
        lengths[len(w)] += c
    return words, lengths
