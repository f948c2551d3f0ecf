"""The corpus generator is deterministic, and seeds differ only in detail."""

import json
from pathlib import Path

import corpus

SETTINGS = json.loads((Path(__file__).resolve().parents[1] / "settings.json").read_text())
CFG = SETTINGS["workloads"]["mapreduce_jobs"]["corpus"]


def _files(d: Path) -> dict[str, bytes]:
    return {p.name: p.read_bytes() for p in sorted(d.iterdir())}


def test_same_seed_gives_byte_identical_files(tmp_path):
    corpus.write_corpus(tmp_path / "a", 7, **CFG)
    corpus.write_corpus(tmp_path / "b", 7, **CFG)
    a, b = _files(tmp_path / "a"), _files(tmp_path / "b")
    assert len(a) == CFG["files"]
    assert a == b


def test_other_seeds_measure_the_same_workload():
    stats = []
    for seed in (1, 2, 3, 1001):
        lines = corpus.generate_lines(seed, **{k: v for k, v in CFG.items() if k != "files"})
        words, _ = corpus.golden(lines)
        stats.append((len(lines), sum(words.values()), len(words)))
    assert len({n for n, _, _ in stats}) == 1
    assert stats[0][0] == CFG["lines"]
    for _, tokens, distinct in stats[1:]:
        assert abs(tokens - stats[0][1]) <= corpus.TOLERANCE * stats[0][1]
        assert abs(distinct - stats[0][2]) <= corpus.TOLERANCE * stats[0][2]
    assert len({s for s in stats}) == len(stats)  # the seeds do give different corpora


def test_golden_follows_whitespace_tokenisation():
    words, lengths = corpus.golden(["a  bb-c a", "Dd"])
    assert words == {"a": 2, "bb-c": 1, "Dd": 1}
    assert lengths == {1: 2, 4: 1, 2: 1}
