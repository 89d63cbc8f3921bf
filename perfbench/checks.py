"""Output checks for every timed run, and the quality figures they carry.

Each check takes plain Python values collected from one run (no Spark
objects), so the checks themselves are testable without a session.
A check returns a list of problems; an empty list means the run's
output is correct. ``Reference`` pins the first run's fingerprint and
counts so later runs of the same seed must reproduce them exactly.
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass, field

MIN_F1 = 0.99  # the er_resolve quality gate


def fingerprint(rows) -> str:
    """Order-insensitive digest of an iterable of tuples."""
    h = hashlib.sha256()
    for r in sorted(tuple(x) for x in rows):
        h.update(repr(r).encode())
    return h.hexdigest()


@dataclass
class Reference:
    """What the first checked run of a seed produced."""

    values: dict = field(default_factory=dict)

    def same(self, key: str, value) -> list[str]:
        """Pin ``value`` on first sight; afterwards report any change."""
        if key not in self.values:
            self.values[key] = value
            return []
        if self.values[key] != value:
            return [f"{key} changed between runs of one seed"]
        return []


def pairwise_f1(predicted: set, truth: set) -> float:
    """Pairwise F1 of predicted ``(id_a, id_b)`` pairs against truth."""
    tp = len(predicted & truth)
    if not tp:
        return 0.0
    prec, rec = tp / len(predicted), tp / len(truth)
    return 2 * prec * rec / (prec + rec)


def check_er(n_docs: int, n_records: int, labels, matches, truth: set,
             ref: Reference) -> tuple[list[str], float]:
    """``resolve_entities`` output: every doc labelled once, F1 at least
    ``MIN_F1``, identical cluster labels across runs of one seed.

    ``labels`` is ``[(id, cluster_id)]``; ``matches`` is
    ``[(id_a, id_b)]``. Returns ``(problems, f1)``."""
    problems = []
    if n_records != n_docs:
        problems.append(f"n_records {n_records} != n_docs {n_docs}")
    ids = [i for i, _ in labels]
    if len(ids) != len(set(ids)) or len(ids) != n_docs:
        problems.append(f"{len(ids)} labels for {n_docs} docs, "
                        f"{len(set(ids))} distinct")
    f1 = pairwise_f1({tuple(m) for m in matches}, truth)
    if f1 < MIN_F1:
        problems.append(f"pairwise F1 {f1:.4f} < {MIN_F1}")
    problems += ref.same("cluster_labels", fingerprint(labels))
    return problems, f1


def check_link(best, threshold: float, source: dict, texts: dict,
               ref: Reference) -> tuple[list[str], float]:
    """``link_records`` best-per-right output: every ``sim`` at or above
    the threshold, at most one row per right record, and a stable
    ``n_linked``. ``best`` is ``[(id_l, id_r, sim)]``; ``source`` maps
    right id to the left id it was copied from; ``texts`` maps left id
    to text. Returns ``(problems, link_recall)``: the share of right
    records whose best partner is their source, or a left record with
    the same text as the source."""
    problems = []
    low = [r for r in best if not r[2] >= threshold]
    if low:
        problems.append(f"{len(low)} best links below sim {threshold}")
    rights = [r[1] for r in best]
    if len(rights) != len(set(rights)):
        problems.append("a right record has more than one best link")
    problems += ref.same("n_linked", len(best))
    hits = sum(
        1 for id_l, id_r, _ in best
        if id_r in source and texts.get(id_l) == texts[source[id_r]]
    )
    return problems, hits / len(source)


def check_dedup(pairs, threshold: float, planted, ref: Reference
                ) -> tuple[list[str], float]:
    """``minhash_lsh_duplicates`` output: every pair ``id_a < id_b`` with
    ``jaccard`` at or above the threshold, and an identical pair set
    across runs of one seed. ``pairs`` is ``[(id_a, id_b, jaccard)]``.
    Returns ``(problems, dedup_recall)``: the share of planted pairs
    found."""
    problems = []
    unordered = [p for p in pairs if not p[0] < p[1]]
    if unordered:
        problems.append(f"{len(unordered)} pairs not id_a < id_b")
    low = [p for p in pairs if not p[2] >= threshold]
    if low:
        problems.append(f"{len(low)} pairs below jaccard {threshold}")
    problems += ref.same("pair_set", fingerprint((a, b) for a, b, _ in pairs))
    found = {(a, b) for a, b, _ in pairs}
    return problems, sum(1 for p in planted if tuple(p) in found) / len(planted)


def check_released(before: int, after: int) -> list[str]:
    """The run released every cache it made: the count of persisted RDDs
    is back to its pre-run value."""
    if after != before:
        return [f"{after - before} persisted RDDs leaked by the run"]
    return []
