"""The gate accepts outputs built from the planted truth and refuses a
planted wrong answer."""

import copy
from collections import defaultdict

import pytest

import corpus as C
import gate


@pytest.fixture(scope="module")
def corpus():
    return C.generate("incremental_ingest", 5)


def _exact_rows(corpus):
    content = {r[:3]: r[4] for r in corpus.rows}
    rows = []
    for sha, keys in gate.exact_groups(corpus).items():
        for i, k in enumerate(sorted(keys)):
            rows.append(dict(repo=k[0], path=k[1], commit=k[2], size=len(content[k]),
                             checksum=sha, cluster_id=sha, is_original=i == 0,
                             twins=len(keys) - 1))
    return rows


def _dir_rows(corpus):
    rows = []
    for n, cluster in enumerate(gate.expected_dirs(corpus)):
        for i, (repo, d) in enumerate(sorted(cluster)):
            rows.append(dict(repo=repo, path=d, cluster_id=str(n), is_original=i == 0))
    return rows


def _near_rows(corpus):
    """One cluster per planted family, plus one per exact group."""
    groups = defaultdict(set)
    for f, keys in corpus.families.items():
        groups[f"f{f}"] |= set(keys)
    for sha, keys in gate.exact_groups(corpus).items():
        groups[sha] |= keys
    rows = []
    for cid, keys in groups.items():
        for i, k in enumerate(sorted(keys)):
            rows.append(dict(repo=k[0], path=k[1], commit=k[2], cluster_id=cid,
                             cluster_size=len(keys), is_original=i == 0))
    return rows


def test_truthful_outputs_pass(corpus):
    assert gate.exact_groups(corpus) and gate.expected_dirs(corpus)
    assert gate.check_exact(_exact_rows(corpus), corpus) == []
    assert gate.check_dirs(_dir_rows(corpus), corpus) == []
    assert gate.check_near(_near_rows(corpus), corpus) == []
    assert gate.score_near(_near_rows(corpus), corpus) == (1.0, 1.0)


def test_dropped_exact_member_fails(corpus):
    rows = _exact_rows(corpus)
    victim = next(r for r in rows if r["twins"] >= 1 and not r["is_original"])
    rows.remove(victim)
    assert gate.check_exact(rows, corpus)


def test_wrong_checksum_fails(corpus):
    rows = copy.deepcopy(_exact_rows(corpus))
    rows[0]["checksum"] = "0" * 64
    assert any("checksum" in e for e in gate.check_exact(rows, corpus))


def test_dropped_dir_member_fails(corpus):
    rows = _dir_rows(corpus)
    rows.remove(next(r for r in rows if not r["is_original"]))
    assert gate.check_dirs(rows, corpus)


def test_dropped_near_member_fails_and_costs_recall(corpus):
    rows = _near_rows(corpus)
    fam_keys = max(corpus.families.values(), key=len)
    victim = next(r for r in rows if (r["repo"], r["path"], r["commit"]) == fam_keys[0])
    rows.remove(victim)
    assert gate.check_near(rows, corpus)  # the cluster's size is now wrong
    recall, precision = gate.score_near(rows, corpus)
    assert recall < 1.0 and precision == 1.0


def test_merged_families_cost_precision(corpus):
    rows = _near_rows(corpus)
    for r in rows:
        if r["cluster_id"] in ("f0", "f1"):
            r["cluster_id"] = "f0"
    recall, precision = gate.score_near(rows, corpus)
    assert recall == 1.0 and precision < 1.0


def test_new_shas_counts_only_unseen_contents():
    rows = [("r", "a", "c", "py", "x"), ("r", "b", "c", "py", "x"), ("r", "d", "c", "py", "y")]
    assert gate.expected_new_shas([rows[:2], rows[1:]]) == [1, 1]


def test_repeat_that_drops_a_member_is_named(corpus):
    """A later job whose near clusters are well formed but lost one
    member of a family still fails: it differs from the first job."""
    first = {"exact": _exact_rows(corpus), "near": _near_rows(corpus), "dirs": _dir_rows(corpus)}
    later = copy.deepcopy(first)
    fam = max(corpus.families.values(), key=len)
    cid = next(r["cluster_id"] for r in later["near"] if gate._key(r) == fam[-1])
    later["near"] = [r for r in later["near"] if gate._key(r) != fam[-1]]
    for r in later["near"]:
        if r["cluster_id"] == cid:
            r["cluster_size"] -= 1
    assert gate.check_near(later["near"], corpus) == []
    errors = gate.diff_outputs(gate.canonical(first), gate.canonical(later))
    assert len(errors) == 1 and errors[0].startswith("batch: near differs")
    assert gate.diff_outputs(gate.canonical(first), gate.canonical(first)) == []
    doubled = {**first, "dirs": first["dirs"] + first["dirs"][:1]}
    assert gate.diff_outputs(gate.canonical(first), gate.canonical(doubled))
