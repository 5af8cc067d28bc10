"""The generator is a pure function of (workload, seed)."""

import os

import corpus as C


def _parquet_bytes(corpus, path):
    C.write_parquet(corpus, path)
    out = []
    for name in sorted(os.listdir(path)):
        with open(os.path.join(path, name), "rb") as f:
            out.append(f.read())
    return out


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    for workload in C.SIZES:
        a, b = C.generate(workload, 7), C.generate(workload, 7)
        assert a.rows == b.rows
        assert a.digest() == b.digest()
        assert a.truth_pairs == b.truth_pairs
        assert _parquet_bytes(a, tmp_path / f"{workload}-a") == _parquet_bytes(
            b, tmp_path / f"{workload}-b")


def test_different_seed_gives_different_corpus():
    for workload in C.SIZES:
        assert C.generate(workload, 7).digest() != C.generate(workload, 8).digest()


def test_planted_truth_is_graded_at_the_threshold():
    corpus = C.generate("incremental_ingest", 3)
    content = {r[:3]: r[4] for r in corpus.rows}
    family_of = {k: f for f, keys in corpus.families.items() for k in keys}
    below = 0
    for f, keys in corpus.families.items():
        for i, a in enumerate(keys):
            for b in keys[i + 1:]:
                j = C.jaccard(C.shingles(content[a]), C.shingles(content[b]))
                assert (frozenset((a, b)) in corpus.truth_pairs) == (j >= C.THRESHOLD)
                below += j < C.THRESHOLD
    assert corpus.truth_pairs and below  # pairs on both sides of the threshold
    assert all(family_of[a] == family_of[b] for a, b in map(tuple, corpus.truth_pairs))


def test_keys_are_unique():
    for workload in C.SIZES:
        rows = C.generate(workload, 1).rows
        assert len({r[:3] for r in rows}) == len(rows)
