"""Seeded corpus generators for the benchmark workloads.

The generator lives beside the harness, not in the package, so a
change to the program can never move the inputs it is measured on.
Every workload is a list of ``files`` rows ``(repo, path, commit,
lang, content)`` plus the planted truth the correctness gate scores
against. The same ``(workload, seed)`` always yields the same rows,
byte for byte.

Both workloads share one shape, at their own sizes (``SIZES``; see
README.md for why): mostly distinct documents, graded-Jaccard near-dup
families, a same-length collision bucket (survives the size stage of
the exact funnel, dies at the prefix stage), a shared boilerplate
header on a slice of the documents so band and block buckets go over
their width caps, a few exact copies, and a small mirrored slice
(whole trees copied into other repos) so duplicate directories exist.
``incremental_ingest`` is split into micro-batches by the harness.
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass, field

SHINGLE_K = 5  # must match the engine's SignatureConfig.shingle_k
THRESHOLD = 0.7  # the engine's jaccard_threshold the truth is graded at

KEYWORDS = (
    "def return if else for while import from class self None True False "
    "try except raise with as yield lambda pass break continue in not and or "
    "int str list dict len range print assert"
).split()

SIZES = {
    "near_families": dict(
        n_distinct=700, n_families=40, variants=(3, 6), n_collision=60,
        header_share=0.45, header_tokens=90, n_exact_copies=10,
        mirror_bases=2, mirror_files=16, mirrors=2,
    ),
    "incremental_ingest": dict(
        n_distinct=440, n_families=24, variants=(3, 5), n_collision=30,
        header_share=0.45, header_tokens=90, n_exact_copies=6,
        mirror_bases=1, mirror_files=12, mirrors=2,
    ),
}


@dataclass
class Corpus:
    """Generated rows plus the planted truth.

    ``families``: near-dup family id -> list of row keys (distinct
    contents planted as variants of one base document).
    ``truth_pairs``: unordered key pairs from one family whose actual
    shingle Jaccard is at or above ``THRESHOLD``.
    """

    workload: str
    seed: int
    rows: list[tuple[str, str, str, str, str]]
    families: dict[int, list[tuple[str, str, str]]] = field(default_factory=dict)
    truth_pairs: set = field(default_factory=set)

    @property
    def input_bytes(self) -> int:
        return sum(len(r[4].encode()) for r in self.rows)

    def subset(self, rows: list) -> "Corpus":
        """The corpus restricted to ``rows`` (what a stream has seen)."""
        keys = {r[:3] for r in rows}
        families = {f: [k for k in ks if k in keys] for f, ks in self.families.items()}
        truth = {p for p in self.truth_pairs if p <= keys}
        return Corpus(self.workload, self.seed, rows, families, truth)

    def digest(self) -> str:
        """sha256 over a canonical serialisation of every row."""
        h = hashlib.sha256()
        for row in self.rows:
            for v in row:
                h.update(v.encode())
                h.update(b"\x00")
            h.update(b"\x01")
        return h.hexdigest()


def _rng(workload: str, seed: int) -> random.Random:
    key = hashlib.sha256(f"{workload}:{seed}".encode()).digest()
    return random.Random(int.from_bytes(key[:8], "big"))


class _Writer:
    """Source-code-like token documents over a seeded vocabulary."""

    def __init__(self, rng: random.Random, vocab_size: int = 6000):
        self.rng = rng
        stems = ["buf", "node", "idx", "val", "ctx", "req", "res", "cfg", "tmp",
                 "key", "item", "row", "col", "obj", "ptr", "err", "msg", "out"]
        self.vocab = KEYWORDS + [
            f"{rng.choice(stems)}_{rng.randrange(100000):05d}" for _ in range(vocab_size)
        ]

    def tokens(self, n: int) -> list[str]:
        return [self.rng.choice(self.vocab) for _ in range(n)]

    @staticmethod
    def render(tokens: list[str]) -> str:
        lines, i, depth = [], 0, 0
        while i < len(tokens):
            w = 3 + (len(tokens[i]) + i) % 6
            lines.append("    " * depth + " ".join(tokens[i:i + w]))
            depth = (depth + (1 if tokens[i] in ("def", "if", "for") else 0)) % 3
            i += w
        return "\n".join(lines) + "\n"

    def mutate(self, tokens: list[str], n_edits: int) -> list[str]:
        """``n_edits`` scattered block edits: each replaces, inserts or
        deletes a run of 1-3 tokens."""
        out = list(tokens)
        for _ in range(n_edits):
            pos = self.rng.randrange(len(out))
            run = self.rng.randint(1, 3)
            op = self.rng.random()
            if op < 0.5:
                out[pos:pos + run] = self.tokens(run)
            elif op < 0.75:
                out[pos:pos] = self.tokens(run)
            elif len(out) > SHINGLE_K + run:
                del out[pos:pos + run]
        return out


def shingles(content: str, k: int = SHINGLE_K) -> set:
    """The engine's shingle definition, recomputed independently:
    k consecutive whitespace tokens; a doc shorter than k is one
    whole-doc shingle."""
    toks = content.split()
    if len(toks) < k:
        return {tuple(toks)} if toks else set()
    return {tuple(toks[i:i + k]) for i in range(len(toks) - k + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a or b else 1.0


def _plant_family(w: _Writer, base: list[str], n_variants: int):
    """A base doc plus variants at graded edit intensity, so the
    family's pairwise Jaccard spans both sides of the threshold."""
    docs = [base]
    for v in range(n_variants):
        rate = (0.004, 0.012, 0.025, 0.04, 0.06, 0.08)[v % 6]
        docs.append(w.mutate(base, max(1, round(rate * len(base)))))
    return [w.render(d) for d in docs]


def _truth(families: dict, content_of: dict) -> set:
    pairs = set()
    for keys in families.values():
        sh = {k: shingles(content_of[k]) for k in keys}
        for i, a in enumerate(keys):
            for b in keys[i + 1:]:
                if jaccard(sh[a], sh[b]) >= THRESHOLD:
                    pairs.add(frozenset((a, b)))
    return pairs


def _finish(workload: str, seed: int, rows: list, families: dict) -> Corpus:
    content_of = {r[:3]: r[4] for r in rows}
    return Corpus(workload, seed, rows, families, _truth(families, content_of))


def _generate(workload: str, seed: int) -> Corpus:
    s = SIZES[workload]
    rng = _rng(workload, seed)
    w = _Writer(rng)
    header = w.tokens(s["header_tokens"])
    commit = f"{rng.randrange(16**12):012x}"
    rows: list = []
    n_repos = 24

    def key(i: int, name: str) -> tuple[str, str, str]:
        return (f"repo{i % n_repos}", f"pkg{i % 7}/{name}.py", commit)

    distinct = []
    for i in range(s["n_distinct"]):
        toks = w.tokens(rng.randint(60, 200))
        if rng.random() < s["header_share"]:
            toks = header + toks
        k = key(i, f"d{i}")
        c = w.render(toks)
        rows.append((*k, "python", c))
        distinct.append((k, c))

    families: dict = {}
    for fam in range(s["n_families"]):
        base = w.tokens(rng.randint(100, 240))
        docs = _plant_family(w, base, rng.randint(*s["variants"]))
        keys = []
        for v, c in enumerate(docs):
            k = key(fam * 13 + v, f"f{fam}_{v}")
            rows.append((*k, "python", c))
            keys.append(k)
        families[fam] = keys

    # same byte length, distinct content: survives the size stage
    length = 1200
    for i in range(s["n_collision"]):
        c = w.render(w.tokens(260))[:length - 1] + "\n"
        rows.append((*key(i, f"c{i}"), "python", c))

    for i in range(s["n_exact_copies"]):
        (_, path, _), c = distinct[rng.randrange(len(distinct))]
        rows.append((f"fork{i}", path, commit, "python", c))

    # a small mirrored slice: whole trees copied into other repos, so
    # duplicate directories and multi-member exact clusters exist
    for b in range(s["mirror_bases"]):
        tree = [(f"{('src', 'src/core', 'tests')[f % 3]}/m{b}_{f}.py",
                 w.render(w.tokens(rng.randint(40, 200)))) for f in range(s["mirror_files"])]
        for m in range(s["mirrors"] + 1):
            rows += [(f"tree{b}_{m}", p, commit, "python", c) for p, c in tree]
    rows.sort()
    return _finish(workload, seed, rows, families)


def generate(workload: str, seed: int) -> Corpus:
    if workload not in SIZES:
        raise ValueError(f"unknown workload {workload!r}")
    return _generate(workload, seed)


def write_parquet(corpus: Corpus, path: str, n_files: int = 4) -> None:
    """Write the ``files`` table as ``n_files`` parquet parts."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    names = ["repo", "path", "commit", "lang", "content"]
    step = -(-len(corpus.rows) // n_files)
    for i in range(n_files):
        part = corpus.rows[i * step:(i + 1) * step]
        cols = [pa.array([r[j] for r in part], pa.string()) for j in range(5)]
        pq.write_table(pa.Table.from_arrays(cols, names=names),
                       os.path.join(path, f"part-{i:05d}.parquet"))
