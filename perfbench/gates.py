"""Correctness gates: each takes the program's collected output as plain
Python data and returns ``(ok, detail)``. No Spark here, so the self-test
can feed every gate a corrupted output without starting a session."""

from __future__ import annotations

from inputs import DONT_CARE, JACCARD_THRESHOLD

Verdict = tuple[bool, str]

JACCARD_TOL = 1.5e-6  # q20 rounds to 6 decimals; the reference is unrounded


def mr_text(lines: list[str], expected: list[str]) -> Verdict:
    """The sorted union of the part files equals the sequential run."""
    got = sorted(lines)
    if got == expected:
        return True, f"{len(got)} lines"
    missing = sorted(set(expected) - set(got))[:3]
    extra = sorted(set(got) - set(expected))[:3]
    return False, (
        f"{len(got)} lines vs {len(expected)} expected; "
        f"missing {missing}, unexpected {extra}"
    )


def reference_pairs(pair_jaccard: dict[tuple[int, int], float]):
    """(pairs at or above the threshold, pairs too close to it to judge)."""
    want = {p for p, j in pair_jaccard.items() if j >= JACCARD_THRESHOLD}
    either = {p for p, j in pair_jaccard.items() if abs(j - JACCARD_THRESHOLD) < DONT_CARE}
    return want, either


def jaccard_pairs(
    rows: list[tuple[int, int, float]], pair_jaccard: dict[tuple[int, int], float]
) -> Verdict:
    """q20: exactly the pairs at or above the threshold, each with its
    Jaccard; pairs within DONT_CARE of the threshold may go either way."""
    want, either = reference_pairs(pair_jaccard)
    got = {(int(a), int(b)): float(j) for a, b, j in rows}
    if len(got) != len(rows):
        return False, "duplicate pairs in output"
    if set(got) - either != want - either:
        missing = sorted(want - either - set(got))[:3]
        extra = sorted(set(got) - either - want)[:3]
        return False, f"pair sets differ; missing {missing}, unexpected {extra}"
    for p, j in got.items():
        if abs(j - pair_jaccard[p]) > JACCARD_TOL:
            return False, f"pair {p}: jaccard {j} vs {pair_jaccard[p]}"
    return True, f"{len(got)} pairs"


def components(pairs: set[tuple[int, int]]) -> list[tuple[int, int, str]]:
    """Connected components in q41's row shape, by union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    members: dict[int, list[int]] = {}
    for x in list(parent):
        members.setdefault(find(x), []).append(x)
    return sorted(
        (min(ms), len(ms), ",".join(sorted(str(m) for m in ms)))
        for ms in members.values()
    )


def dedup_clusters(
    rows: list[tuple[int, int, str]], pair_jaccard: dict[tuple[int, int], float]
) -> Verdict:
    """q41: connected components of the q20 pair graph as
    (min member, size, members sorted as strings)."""
    want, either = reference_pairs(pair_jaccard)
    got = sorted((int(c), int(n), str(m)) for c, n, m in rows)
    if got in (components(want | either), components(want - either)):
        return True, f"{len(got)} clusters"
    return False, f"{len(got)} clusters vs {len(components(want))} expected"


def oracle_frame(spark_pdf, oracle_pdf) -> Verdict:
    """The comparison of testing/compare.py: sorted columns, rows sorted on
    type-preserving cell reprs, cell-for-cell equality."""
    from mapreduce_paper_implementation_spark.testing.compare import canonize

    sc, sv = canonize(spark_pdf)
    oc, ov = canonize(oracle_pdf)
    if sc != oc:
        return False, f"columns {sc} vs {oc}"
    if sv != ov:
        diffs = [(a, b) for a, b in zip(sv, ov) if a != b][:2]
        return False, f"{len(sv)} rows vs {len(ov)}; first diffs {diffs}"
    return True, f"{len(sv)} rows"


def served_state(views: dict[str, tuple], state_ids: set[int], ref_ids: set[int]) -> Verdict:
    """ingest: the maintained postings hold exactly the distinct docs
    ingested so far (every exact replay dropped by the seen-keys gate), and
    each served view (view -> (served frame, oracle frame)) equals the
    oracle of its batch query over the same docs."""
    if state_ids != ref_ids:
        return False, (
            f"state docs differ: {len(state_ids - ref_ids)} unexpected, "
            f"{len(ref_ids - state_ids)} missing"
        )
    details = [f"{len(state_ids)} docs"]
    for name, (served, oracle) in views.items():
        ok, detail = oracle_frame(served, oracle)
        if not ok:
            return False, f"{name}: {detail}"
        details.append(f"{name} {detail}")
    return True, ", ".join(details)


def dedup_ratios(
    rows: list[tuple[int, int, float]], planted: set[tuple[int, int]]
) -> tuple[float, float]:
    """(recall, precision) of output pairs against the planted truth."""
    got = {(int(a), int(b)) for a, b, _ in rows}
    hit = len(got & planted)
    return hit / max(1, len(planted)), hit / max(1, len(got))
