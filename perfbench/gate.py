"""Correctness gate: every output the jobs write is checked against the
generated corpus, independently of Spark.

- Exact clusters must equal a ``hashlib`` grouping of the corpus.
- Duplicate directories must equal a plain-Python rollup of the same
  rule (a directory is the multiset of its files' digests; only
  maximal matched directories are reported).
- Near clusters must be well formed (sizes, one original each, exact
  twins inside one cluster); recall and precision are scored against
  the planted truth.
- Incremental folds must sign exactly the never-seen contents of each
  micro-batch, each refresh must be well formed over what the stream
  has seen, and compaction must keep every store's rows.

Each ``check_*`` returns a list of error strings; empty means correct.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
from collections import Counter, defaultdict

from corpus import Corpus


def sha256(content: str) -> str:
    return hashlib.sha256(content.encode()).hexdigest()


def read_json_lines(path: str) -> list[dict]:
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            rows += [json.loads(line) for line in f if line.strip()]
    return rows


def read_parquet_rows(path: str) -> list[dict]:
    import pyarrow.parquet as pq

    return pq.read_table(path).to_pylist()


def read_outputs(out_dir: str) -> dict[str, list[dict]]:
    return {
        "exact": read_json_lines(os.path.join(out_dir, "exact")),
        "near": read_parquet_rows(os.path.join(out_dir, "near")),
        "dirs": read_json_lines(os.path.join(out_dir, "dirs")),
    }


def canonical(outputs: dict[str, list[dict]]) -> dict[str, list[str]]:
    """Order-free form of the outputs, for run-to-run equality."""
    return {k: sorted(json.dumps(r, sort_keys=True) for r in rows) for k, rows in outputs.items()}


def diff_outputs(reference: dict[str, list[str]], canon: dict[str, list[str]]) -> list[str]:
    """One error per output whose canonical rows differ from the
    reference's, naming the rows only one side holds."""
    errors = []
    for name in sorted(reference.keys() | canon.keys()):
        ref, got = Counter(reference.get(name, [])), Counter(canon.get(name, []))
        if ref != got:
            missing, extra = ref - got, got - ref
            errors.append(f"batch: {name} differs from the first job's "
                          f"({missing.total()} rows only there, {extra.total()} only here; "
                          f"first missing: {min(missing, default='-')})")
    return errors


def exact_groups(corpus: Corpus) -> dict[str, set]:
    """sha256 -> keys, for every content held by two or more rows."""
    by_sha = defaultdict(set)
    for repo, path, commit, _lang, content in corpus.rows:
        if content:
            by_sha[sha256(content)].add((repo, path, commit))
    return {sha: keys for sha, keys in by_sha.items() if len(keys) >= 2}


def _clusters(rows: list[dict]) -> dict[str, list[dict]]:
    out = defaultdict(list)
    for r in rows:
        out[r["cluster_id"]].append(r)
    return out


def _well_formed(rows: list[dict], what: str) -> list[str]:
    errors = []
    for cid, members in _clusters(rows).items():
        if len(members) < 2:
            errors.append(f"{what}: cluster {cid} has {len(members)} member")
        if any(m["cluster_size"] != len(members) for m in members):
            errors.append(f"{what}: cluster {cid} reports a wrong size")
        if sum(bool(m["is_original"]) for m in members) != 1:
            errors.append(f"{what}: cluster {cid} lacks exactly one original")
    return errors


def _key(r: dict) -> tuple[str, str, str]:
    return (r["repo"], r["path"], r["commit"])


def check_exact(rows: list[dict], corpus: Corpus) -> list[str]:
    errors = []
    content = {r[:3]: r[4] for r in corpus.rows}
    for r in rows:
        k = _key(r)
        if k not in content or r["checksum"] != sha256(content[k]):
            errors.append(f"exact: {k} carries a wrong checksum")
        if r["size"] != len(content.get(k, "")):
            errors.append(f"exact: {k} carries a wrong size")
    errors += _well_formed([{**r, "cluster_size": r["twins"] + 1} for r in rows], "exact")
    got = {frozenset(_key(m) for m in ms) for ms in _clusters(rows).values()}
    want = {frozenset(keys) for keys in exact_groups(corpus).values()}
    if got != want:
        errors.append(f"exact: {len(want - got)} hashlib groups missing, "
                      f"{len(got - want)} clusters not in the hashlib grouping")
    return errors


def expected_dirs(corpus: Corpus) -> set:
    """Maximal duplicate directories: the treemerge rule in plain
    Python. Every file counts toward each ancestor directory ('' is the
    repo root); two directories match when their digest multisets do."""
    members = defaultdict(list)
    for repo, path, _commit, _lang, content in corpus.rows:
        parts = path.split("/")
        for i in range(len(parts)):
            members[(repo, "/".join(parts[:i]))].append(sha256(content))

    def groups(dirs):
        by_set = defaultdict(set)
        for d in dirs:
            by_set[tuple(sorted(members[d]))].add(d)
        return [g for g in by_set.values() if len(g) >= 2]

    matched = {d for g in groups(members) for d in g}
    maximal = {
        (repo, d) for repo, d in matched
        if not any((repo, p) in matched for p in _ancestors(d))
    }
    return {frozenset(g) for g in groups(maximal)}


def _ancestors(d: str) -> list[str]:
    if d == "":
        return []
    parts = d.split("/")
    return [""] + ["/".join(parts[:i]) for i in range(1, len(parts))]


def check_dirs(rows: list[dict], corpus: Corpus) -> list[str]:
    errors = []
    for cid, ms in _clusters(rows).items():
        if sum(bool(m["is_original"]) for m in ms) != 1:
            errors.append(f"dirs: cluster {cid} lacks exactly one original")
    got = {frozenset((m["repo"], m["path"]) for m in ms) for ms in _clusters(rows).values()}
    want = expected_dirs(corpus)
    if got != want:
        errors.append(f"dirs: {len(want - got)} expected clusters missing, "
                      f"{len(got - want)} unexpected")
    return errors


def check_near(rows: list[dict], corpus: Corpus, what: str = "near") -> list[str]:
    """Structure only; quality is ``score_near``."""
    errors = _well_formed(rows, what)
    cluster_of = {_key(r): r["cluster_id"] for r in rows}
    if len(cluster_of) != len(rows):
        errors.append(f"{what}: a file is in more than one cluster")
    for keys in exact_groups(corpus).values():
        ids = {cluster_of.get(k) for k in keys}
        if len(ids) != 1 or None in ids:
            errors.append(f"{what}: exact twins {sorted(keys)[0]} split or unclustered")
    return errors


def score_near(rows: list[dict], corpus: Corpus) -> tuple[float, float]:
    """(recall, precision) against the planted truth.

    recall: share of planted pairs at or above the threshold that end
    up in one cluster. precision: share of clustered pairs of distinct
    contents whose two contents were planted in the same family."""
    cluster_of = {_key(r): r["cluster_id"] for r in rows}
    hit = 0
    for a, b in map(tuple, corpus.truth_pairs):
        hit += a in cluster_of and cluster_of.get(a) == cluster_of.get(b)
    recall = hit / len(corpus.truth_pairs) if corpus.truth_pairs else 1.0

    content = {r[:3]: r[4] for r in corpus.rows}
    family_of = {sha256(content[k]): fam for fam, keys in corpus.families.items() for k in keys}
    pairs = supported = 0
    for ms in _clusters(rows).values():
        shas = sorted({sha256(content[_key(m)]) for m in ms})
        for i, a in enumerate(shas):
            for b in shas[i + 1:]:
                pairs += 1
                fa = family_of.get(a)
                supported += fa is not None and fa == family_of.get(b)
    precision = supported / pairs if pairs else 1.0
    return recall, precision


def expected_new_shas(batches: list[list[tuple]]) -> list[int]:
    """Per micro-batch: distinct non-empty contents not in any earlier
    batch -- what a fold must sign."""
    seen, out = set(), []
    for rows in batches:
        shas = {sha256(r[4]) for r in rows if r[4]}
        out.append(len(shas - seen))
        seen |= shas
    return out


def check_compact(res: dict, n_rows: int) -> list[str]:
    errors = []
    if res["before"] != res["after"]:
        errors.append(f"compact: store rows changed {res['before']} -> {res['after']}")
    if res["after"].get("index") != n_rows:
        errors.append("compact: the index store does not hold every ingested row")
    return errors
