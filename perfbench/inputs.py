"""Seeded inputs for the three benchmark workloads, plus their references.

Everything here is pure Python (NumPy/pyarrow/DuckDB) and runs before the
Spark session exists, so none of it is timed. The same seed always yields
byte-identical inputs. The corpus generator is ``scripts/gen_scale.py``,
loaded from its file without modification; its planted near-duplicate
truth is what the dedup recall and precision are scored against.

The program only ever sees the files written under the run's work
directory. Directory names never look like ``sf<N>``: the credit-fixture
helper parses such names as scale factors and would write into the
repository.
"""

from __future__ import annotations

import importlib.util
import os
import re
from collections import defaultdict
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# mr-text: 16 whole-file splits of ~0.1 MB each plus 4 credit CSVs.
MR_TEXT_DOCS = 2400
MR_TEXT_FILES = 16
MR_CREDIT_FILES = 4
MR_CREDIT_ROWS = 8_000
# curation: one relational-free corpus directory (documents only).
CURATION_DOCS = 800
# ingest: equal interleaved doc-id batches plus planted exact replays.
INGEST_DOCS = 400
INGEST_BATCHES = 2
INGEST_REPLAY_FRAC = 0.05

CREDIT_AGENCIES = ("Equifax", "Experian", "TransUnion", "Yellow Banana")


def load_gen_scale():
    """Import scripts/gen_scale.py by path (it is a script, not a package)."""
    path = os.path.join(REPO_ROOT, "scripts", "gen_scale.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_scale", path)
    if spec is None or spec.loader is None:
        raise ImportError(f"cannot load the corpus generator at {path}")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def file_sizes(root: str) -> dict[str, int]:
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                out[p] = os.path.getsize(p)
            except OSError:
                pass  # removed while walking (a vacuum)
    return out


def dir_bytes(path: str) -> int:
    return sum(file_sizes(path).values())


# --- mr-text ---------------------------------------------------------------


@dataclass
class MrTextInputs:
    text_glob: str
    credit_glob: str
    input_bytes: int
    # app name -> sorted '"key value"' lines a sequential run produces
    expected: dict[str, list[str]]


def _credit_csv(rng: np.random.Generator, n: int, first_uid: int) -> str:
    """Same shape as sources/credit_fixture.py: header, then rows with a
    deterministic ~1% of malformed lines (short row, bad year, bad score)."""
    agency = rng.integers(0, len(CREDIT_AGENCIES), size=n)
    year = rng.integers(2019, 2025, size=n)
    score = rng.integers(300, 851, size=n)
    bad = (
        "{uid},Equifax",
        "{uid},Experian,not_a_year,512",
        "{uid},TransUnion,2023,not_a_score",
    )
    lines = ["user_id,agency,year,credit_score"]
    for i in range(n):
        uid = first_uid + i
        lines.append(f"{uid},{CREDIT_AGENCIES[agency[i]]},{year[i]},{score[i]}")
        if i % 100 == 99:
            lines.append(bad[(i // 100) % 3].format(uid=900_000_000 + uid))
    return "\n".join(lines) + "\n"


def sequential_mr(mapf, reducef, paths: list[str]) -> list[str]:
    """The mrsequential analog: one process, every file through mapf, group
    by key, reducef per key, '"key value"' lines, sorted."""
    groups: dict[str, list[str]] = defaultdict(list)
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            contents = fh.read()
        for k, v in mapf(os.path.basename(p), contents):
            groups[k].append(v)
    return sorted(f"{k} {reducef(k, vs)}" for k, vs in groups.items())


def make_mr_text(work: str, seed: int) -> MrTextInputs:
    from mapreduce_paper_implementation_spark.apps import APPS

    gs = load_gen_scale()
    docs, *_ = gs.gen_documents(MR_TEXT_DOCS, seed)
    texts = docs.column("text").to_pylist()
    text_dir = os.path.join(work, "mr_text_in")
    credit_dir = os.path.join(work, "mr_credit_in")
    os.makedirs(text_dir)
    os.makedirs(credit_dir)
    per_file = len(texts) // MR_TEXT_FILES
    text_paths = []
    for i in range(MR_TEXT_FILES):
        p = os.path.join(text_dir, f"pg-{i:03d}.txt")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write("\n".join(texts[i * per_file : (i + 1) * per_file]) + "\n")
        text_paths.append(p)
    rng = np.random.default_rng(seed)
    credit_paths = []
    for i in range(MR_CREDIT_FILES):
        p = os.path.join(credit_dir, f"credit-{i:02d}.csv")
        with open(p, "w", encoding="utf-8") as fh:
            fh.write(_credit_csv(rng, MR_CREDIT_ROWS, 1 + i * MR_CREDIT_ROWS))
        credit_paths.append(p)
    expected = {
        name: sequential_mr(*APPS[name], credit_paths if name == "credit" else text_paths)
        for name in ("wc", "indexer", "credit")
    }
    # wc and indexer each read the text files once per pass, credit the CSVs
    input_bytes = 2 * dir_bytes(text_dir) + dir_bytes(credit_dir)
    return MrTextInputs(
        os.path.join(text_dir, "pg-*.txt"),
        os.path.join(credit_dir, "credit-*.csv"),
        input_bytes,
        expected,
    )


# --- curation --------------------------------------------------------------

# Ops of one curation pass, in order. q20/q41 are gated against an exact
# pure-Python similarity join over the generated corpus (their DuckDB
# oracles are all-pairs and take a minute even at this size); q115 against
# its DuckDB oracle, computed once per run.
CURATION_QUERIES = (
    "q20_ngram_jaccard",
    "q41_dedup_clusters",
    "q115_bpe_train",
)
JACCARD_THRESHOLD = 0.1  # the threshold q20 and q41 are registered with
DONT_CARE = 1e-4  # pairs this close to the threshold may fall either way


@dataclass
class CurationInputs:
    data_dir: str
    input_bytes: int
    # pair -> exact Jaccard for every pair sharing a shingle (the reference)
    pair_jaccard: dict[tuple[int, int], float]
    # planted near-dup pairs with Jaccard >= the threshold (gen_scale truth)
    planted: set[tuple[int, int]]
    # query -> DuckDB oracle result as a pandas frame
    oracle: dict[str, object] = field(default_factory=dict)


def _tokens(text: str) -> list[str]:
    return [t for t in re.split(r"[^A-Za-z]+", text) if t]


def shingle_jaccard(texts: dict[int, str]) -> dict[tuple[int, int], float]:
    """Exact 3-gram-shingle Jaccard for every doc pair sharing a shingle —
    the definition q20 implements (docs with < 3 tokens have no shingles)."""
    sh: dict[int, frozenset] = {}
    for i, t in texts.items():
        toks = _tokens(t)
        if len(toks) >= 3:
            sh[i] = frozenset(" ".join(toks[j : j + 3]) for j in range(len(toks) - 2))
    inv: dict[str, list[int]] = defaultdict(list)
    for i in sorted(sh):
        for s in sh[i]:
            inv[s].append(i)
    inter: dict[tuple[int, int], int] = defaultdict(int)
    for ids in inv.values():
        for x in range(len(ids)):
            for y in range(x + 1, len(ids)):
                inter[(ids[x], ids[y])] += 1
    return {
        (a, b): c / (len(sh[a]) + len(sh[b]) - c) for (a, b), c in inter.items()
    }


def make_curation(work: str, seed: int) -> CurationInputs:
    import duckdb

    from mapreduce_paper_implementation_spark.operators.dedup import (
        DEFAULT_MAX_SHINGLE_DF,
    )
    from mapreduce_paper_implementation_spark.plans.queries import ORACLES

    # The reference join skips q20's hot-shingle cut; no shingle can exceed
    # the cut's document frequency in a corpus this small.
    if CURATION_DOCS > DEFAULT_MAX_SHINGLE_DF:
        raise ValueError("curation corpus outgrew the reference's no-cut assumption")
    gs = load_gen_scale()
    docs, _clusters, doc_pairs, *_ = gs.gen_documents(CURATION_DOCS, seed)
    data_dir = os.path.join(work, "curation_in")
    os.makedirs(data_dir)
    path = os.path.join(data_dir, "documents.parquet")
    pq.write_table(docs, path)
    texts = dict(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    planted = {(a, b) for a, b, j in doc_pairs if j >= JACCARD_THRESHOLD + DONT_CARE}
    # every query scans documents once per pass
    input_bytes = len(CURATION_QUERIES) * os.path.getsize(path)
    inputs = CurationInputs(data_dir, input_bytes, shingle_jaccard(texts), planted)
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        inputs.oracle["q115_bpe_train"] = con.execute(ORACLES["q115_bpe_train"]).df()
    finally:
        con.close()
    return inputs


# --- ingest ----------------------------------------------------------------


@dataclass
class IngestInputs:
    batch_paths: list[str]
    input_bytes: int
    # per batch: ids of the distinct docs ingested up to and including it,
    # which is what the maintained postings must hold after that batch
    prefix_ids: list[set[int]]
    # served view -> DuckDB oracle of its batch query (q111 for the BM25
    # view, q103 for the threshold view) over every distinct doc
    oracle: dict[str, object] = field(default_factory=dict)


def make_ingest(work: str, seed: int) -> IngestInputs:
    import duckdb

    from mapreduce_paper_implementation_spark.plans.queries import ORACLES

    gs = load_gen_scale()
    docs, *_ = gs.gen_documents(INGEST_DOCS, seed)
    # A variant whose substitutions drew the original words is an exact
    # copy; keep the first so every reference doc is distinct content.
    seen_text: set[str] = set()
    keep = []
    for t in docs.column("text").to_pylist():
        keep.append(t not in seen_text)
        seen_text.add(t)
    docs = docs.filter(pa.array(keep))

    # Interleaved batches (doc_id mod n), so consecutive-id planted clusters
    # straddle batches and the near-dup index has cross-batch work to do.
    # Each later batch re-sends a few earlier docs under fresh ids: exact
    # replays the seen-keys gate must drop before the postings see them.
    rng = np.random.default_rng(seed + 17)
    ids = np.asarray(docs.column("doc_id").to_pylist())
    next_id = int(ids.max()) + 1
    batch_dir = os.path.join(work, "ingest_batches")
    os.makedirs(batch_dir)
    inputs = IngestInputs([], 0, [])
    for b in range(INGEST_BATCHES):
        part = docs.filter(pa.array(ids % INGEST_BATCHES == b))
        if b:
            earlier = docs.filter(pa.array(ids % INGEST_BATCHES < b))
            n_rep = max(1, int(part.num_rows * INGEST_REPLAY_FRAC))
            pick = np.sort(rng.choice(earlier.num_rows, size=n_rep, replace=False))
            rep = earlier.take(pa.array(pick))
            new_ids = pa.array(range(next_id, next_id + n_rep), pa.int64())
            next_id += n_rep
            part = pa.concat_tables([part, rep.set_column(0, "doc_id", new_ids)])
        path = os.path.join(batch_dir, f"batch-{b:03d}.parquet")
        pq.write_table(part, path)
        inputs.batch_paths.append(path)
        inputs.prefix_ids.append({int(i) for i in ids[ids % INGEST_BATCHES <= b]})
    inputs.input_bytes = dir_bytes(batch_dir)
    con = duckdb.connect()
    try:
        con.register("documents", docs)
        for view, q in (("bm25", "q111_bm25_topk"), ("thresholds", "q103_adaptive_quality")):
            inputs.oracle[view] = con.execute(ORACLES[q]).df()
    finally:
        con.close()
    return inputs
