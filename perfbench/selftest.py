"""Shows that every correctness gate accepts the true output and rejects a
deliberately corrupted one. No Spark session: the true outputs come from
the same references the gates check against, built from a small seeded
input.

    python3 perfbench/selftest.py
"""

from __future__ import annotations

import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import pandas as pd  # noqa: E402

import gates  # noqa: E402
import inputs  # noqa: E402


def expect(name: str, verdict: tuple[bool, str], want: bool) -> bool:
    ok = verdict[0] == want
    print(f"{'ok  ' if ok else 'FAIL'} {name}: {'accepted' if verdict[0] else 'rejected'} ({verdict[1]})")
    return ok


def main() -> int:
    results = []
    with tempfile.TemporaryDirectory(dir=HERE) as work:
        # mr-text: the sequential run's own lines pass; one changed count fails
        mr = inputs.make_mr_text(work, seed=5)
        wc = mr.expected["wc"]
        bad = list(wc)
        key, count = bad[0].rsplit(" ", 1)
        bad[0] = f"{key} {int(count) + 1}"
        results.append(expect("mr-text wc, true output", gates.mr_text(list(reversed(wc)), wc), True))
        results.append(expect("mr-text wc, one count off", gates.mr_text(bad, wc), False))
        results.append(expect("mr-text wc, one line lost", gates.mr_text(wc[1:], wc), False))

        # curation: q20 pairs and q41 clusters from the exact reference
        texts = {i: t for i, t in enumerate(_docs())}
        ref = inputs.shingle_jaccard(texts)
        want, _either = gates.reference_pairs(ref)
        pairs = [(a, b, round(ref[(a, b)], 6)) for a, b in sorted(want)]
        if not pairs:
            raise RuntimeError("self-test corpus has no near-dup pairs to corrupt")
        drifted = [(a, b, j + 1e-3) if i == 0 else (a, b, j) for i, (a, b, j) in enumerate(pairs)]
        results.append(expect("q20, true output", gates.jaccard_pairs(pairs, ref), True))
        results.append(expect("q20, one pair dropped", gates.jaccard_pairs(pairs[1:], ref), False))
        results.append(expect("q20, one jaccard off", gates.jaccard_pairs(drifted, ref), False))
        clusters = gates.components(want)
        merged = [(c, n + 1, m + ",999999") if i == 0 else (c, n, m) for i, (c, n, m) in enumerate(clusters)]
        results.append(expect("q41, true output", gates.dedup_clusters(clusters, ref), True))
        results.append(expect("q41, foreign member", gates.dedup_clusters(merged, ref), False))

        # oracle-gated queries and the ingest views: one cell changed fails
        oracle = pd.DataFrame({"doc_id": [3, 1, 2], "score": [0.5, 0.25, 0.125]})
        served = oracle.iloc[::-1].reset_index(drop=True)
        off = served.copy()
        off.loc[0, "score"] = 0.75
        results.append(expect("oracle frame, true output", gates.oracle_frame(served, oracle), True))
        results.append(expect("oracle frame, one cell off", gates.oracle_frame(off, oracle), False))
        ids = {1, 2, 3}
        views = {"bm25": (served, oracle)}
        results.append(expect("ingest, true state", gates.served_state(views, ids, ids), True))
        results.append(expect("ingest, replay kept", gates.served_state(views, ids | {7}, ids), False))
        results.append(expect("ingest, served view off", gates.served_state({"bm25": (off, oracle)}, ids, ids), False))

    failed = results.count(False)
    print(f"{len(results) - failed} of {len(results)} gate checks behaved")
    return 1 if failed else 0


def _docs() -> list[str]:
    gs = inputs.load_gen_scale()
    docs, *_ = gs.gen_documents(200, 5)
    return docs.column("text").to_pylist()


if __name__ == "__main__":
    sys.exit(main())
