"""Output checks computed by the benchmark alone: pairwise precision/
recall against the benchmark's truth, order-independent digests, and
structural checks. Nothing here imports the program."""

from __future__ import annotations

import hashlib
from collections import Counter
from collections.abc import Container, Iterable, Mapping


def prf(tp: int, fp: int, fn: int) -> tuple[float, float, float]:
    """(precision, recall, f1); an empty denominator gives 0.0."""
    p = tp / (tp + fp) if tp + fp else 0.0
    r = tp / (tp + fn) if tp + fn else 0.0
    f1 = 2 * p * r / (p + r) if p + r else 0.0
    return p, r, f1


def labeled_pair_counts(
    labels: Mapping[str, int], labeled: Mapping[tuple[str, str], bool]
) -> tuple[int, int, int]:
    """(tp, fp, fn) over labeled record pairs: a pair is predicted to
    match when both records share a cluster in ``labels`` (record ->
    cluster; unlabeled records are singletons)."""
    tp = fp = fn = 0
    for (a, b), match in labeled.items():
        same = a in labels and labels.get(b) == labels[a]
        tp += same and match
        fp += same and not match
        fn += match and not same
    return tp, fp, fn


def pair_set_counts(pred: set[tuple], truth: set[tuple]) -> tuple[int, int, int]:
    tp = len(pred & truth)
    return tp, len(pred) - tp, len(truth) - tp


def digest(rows: Iterable[tuple]) -> str:
    """sha256 over the sorted rows: equal outputs give equal digests
    whatever order the program produced them in."""
    h = hashlib.sha256()
    for row in sorted(rows):
        h.update(("\t".join(str(v) for v in row) + "\n").encode("utf-8"))
    return h.hexdigest()


def label_problems(
    record_ids: list[str], cluster_ids: list[int], known: Container[str]
) -> list[str]:
    """Structural problems of a cluster labeling: a record in two
    clusters, or a record the input never held."""
    problems = []
    dup = [r for r, n in Counter(record_ids).items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} records in more than one cluster (e.g. {dup[0]})")
    unknown = [r for r in record_ids if r not in known]
    if unknown:
        problems.append(f"{len(unknown)} labeled records not in the input (e.g. {unknown[0]})")
    if len(cluster_ids) != len(record_ids):
        problems.append("labels have unequal record and cluster columns")
    return problems


def pair_problems(pairs: list[tuple]) -> list[str]:
    """Structural problems of a pair list: id1 >= id2, or a pair twice."""
    problems = []
    bad = [p for p in pairs if not p[0] < p[1]]
    if bad:
        problems.append(f"{len(bad)} pairs without id1 < id2 (e.g. {bad[0]})")
    dup = [p for p, n in Counter(pairs).items() if n > 1]
    if dup:
        problems.append(f"{len(dup)} pairs listed more than once (e.g. {dup[0]})")
    return problems
