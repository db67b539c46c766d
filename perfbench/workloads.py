"""Workload definitions, input generation and the correctness gate.

Every input is generated from the run's ``--seed``; the program only sees
the generated parquet tables. Correctness is checked off the clock against
``corpus.make_golden`` (span-sequence equality) and, for seeds listed in
``frozen_digests.json``, against an output digest frozen with the benchmark:
``make_golden`` shares the kernel under test, so only the frozen digest
catches a kernel change that alters recognized text (see ``Gate``).
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing
from collections import Counter
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent
FROZEN_PATH = HERE / "frozen_digests.json"

# The cold slice every run pays once inside set-up: fixed size and seed, so
# set-up time does not depend on --seed.
SLICE_DOCS = 40
SLICE_SEED = 0
TINY_DOCS = 50


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    corpus: dict
    why: str


# Sizes are chosen so that one run (set-up, about ten seconds of timed
# passes, correctness check) fits the benchmark's total time budget on a
# 4-core host; the proportions (distinct refs per span, PDF share, skew) follow
# the larger probes the workloads were designed from.
WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "ocr_mixed",
            n_docs=1000,
            corpus={"pdf_fraction": 0.1},
            why="default corpus shape with a PDF share: the image kernel is the largest layer, "
            "about half of each pass",
        ),
        Workload(
            "shared_refs_skewed",
            n_docs=6000,
            # 80 distinct images behind ~58k media spans; 20% heavy docs.
            corpus={"media_pool_per_doc": 80 / 6000, "skew_fraction": 0.2, "pdf_fraction": 0.1},
            why="80 distinct images behind ~58k media spans: dedup skips the kernel; explode, "
            "text UDF, join-back and salted reassembly remain",
        ),
    )
}


def make_inputs(wl: Workload, seed: int, n_docs: int):
    from ocr_text_recognition_spark import corpus

    return corpus.make_corpus(n_docs, seed=seed, **wl.corpus)


def make_slice(wl: Workload):
    from ocr_text_recognition_spark import corpus

    return corpus.make_corpus(SLICE_DOCS, seed=SLICE_SEED, **wl.corpus)


def write_inputs(docs, media, out_dir: Path) -> None:
    from ocr_text_recognition_spark.io_pandas import write_corpus_parquet

    out_dir.mkdir(parents=True, exist_ok=True)
    write_corpus_parquet(docs, media, str(out_dir))


def _span_tuples(spans) -> list:
    return [[s["kind"], s["text"], s["media_ref"], int(s["offset"])] for s in spans]


def _golden_chunk(docs, media) -> dict:
    from ocr_text_recognition_spark import corpus

    gold = corpus.make_golden(docs, media)
    return {r["doc_id"]: _span_tuples(r["spans"]) for _, r in gold.iterrows()}


def golden(docs, media, procs: int) -> dict:
    """doc_id -> golden span list, from ``corpus.make_golden`` run on
    ``procs`` doc chunks in parallel (each chunk gets the media it refers to)."""
    procs = max(1, min(procs, len(docs)))
    chunks = []
    for i in range(procs):
        part = docs.iloc[i::procs]
        refs = {s["media_ref"] for spans in part["spans"] for s in spans}
        chunks.append((part, media[media["media_ref"].isin(refs)]))
    if procs == 1:
        return _golden_chunk(*chunks[0])
    pool = multiprocessing.get_context("spawn").Pool(procs)
    try:
        parts = pool.starmap(_golden_chunk, chunks)
    finally:
        pool.close()
        pool.join()
    out: dict = {}
    for p in parts:
        out.update(p)
    return out


def rows_of(df) -> list:
    """Collected (doc_id, spans) rows -> [(doc_id, span list)]."""
    return [(r["doc_id"], _span_tuples(r["spans"])) for r in df.collect()]


def digest(by_doc: dict) -> str:
    h = hashlib.sha256()
    for doc_id in sorted(by_doc):
        h.update(json.dumps([doc_id, by_doc[doc_id]], ensure_ascii=False).encode())
        h.update(b"\n")
    return h.hexdigest()


def frozen_digest(workload: str, seed: int) -> str | None:
    if not FROZEN_PATH.exists():
        return None
    return json.loads(FROZEN_PATH.read_text()).get(workload, {}).get(str(seed))


class Gate:
    """The correctness gate for one generated corpus.

    When the seed has a frozen digest and the output holds every document
    exactly once with that digest, the output equals the golden frozen
    with the benchmark, span for span. Only otherwise (no frozen digest, or
    a mismatch to count) is ``make_golden`` run and compared per document.
    """

    def __init__(self, docs, media, frozen: str | None, procs: int):
        self._docs, self._media, self._procs = docs, media, procs
        self.frozen = frozen
        self._ids = set(docs["doc_id"])
        self._want: dict | None = None

    def want(self) -> dict:
        if self._want is None:
            self._want = golden(self._docs, self._media, self._procs)
        return self._want

    def check(self, rows: list) -> tuple[int, int]:
        """(attempted, failed) for one output."""
        ids = [doc_id for doc_id, _ in rows]
        if (self.frozen is not None and len(ids) == len(self._ids) and set(ids) == self._ids
                and digest(dict(rows)) == self.frozen):
            return len(ids) + 1, 0
        return check_rows(rows, self.want(), self.frozen)


def check_rows(rows: list, want: dict, frozen: str | None) -> tuple[int, int]:
    """(attempted, failed) for one output: every golden doc must appear
    exactly once with an identical span sequence; extra docs fail; the
    frozen digest, when known for this seed, counts as one more check."""
    seen = Counter(doc_id for doc_id, _ in rows)
    got = dict(rows)
    extra = [d for d in seen if d not in want]
    failed = len(extra) + sum(1 for d, spans in want.items() if seen[d] != 1 or got[d] != spans)
    attempted = len(want) + len(extra)
    if frozen is not None:
        attempted += 1
        failed += digest(got) != frozen
    return attempted, failed
