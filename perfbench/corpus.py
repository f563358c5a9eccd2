"""corpus_pipeline: a batch LLM-data pass over a seeded corpus.

Set-up generates ``N_DOCS`` documents with fixed planted rates of exact
and near duplicates (see ``gen.corpus``). Each cycle is one pass, timed
as one write from submit to commit: ``dedup_exact``, ``dedup_minhash``,
the quality / language / Gopher filter, ``redact_pii`` and
``chunk_documents``, whose chunks are committed to a DUPLICATE-KEY
table with one labeled ``sources.stream_load``. ``PROBES`` seeded
``similarity_topk`` queries over the corpus embeddings follow, each
timed as one read.

Checks, untimed: every planted exact duplicate is gone after
``dedup_exact``; ``dedup_minhash`` keeps exactly the documents that no
lower-id document matches at Jaccard >= 0.8 (computed here within the
planted duplicate groups); kept and chunk counts are identical on
every pass; each probe's ids match a NumPy brute-force top-k.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow.parquet as pq

import gen
from harness import Bench, noop_sink

N_DOCS = 1_200
PROBES = 12
#: passes per block: every run reports the median of at least three
BLOCK = 3
TOPK = 10
MINHASH_THRESHOLD = 0.8
SHINGLE_K = 5


def _shingles(text: str) -> set[str]:
    t = " ".join(text.strip().lower().split())
    return {t[i:i + SHINGLE_K] for i in range(max(1, len(t) - SHINGLE_K + 1))}


def expected_counts(docs, group: list[int]) -> tuple[int, int]:
    """(kept by dedup_exact, kept by dedup_minhash), from the planted
    duplicate groups: exact copies keep their lowest id; a survivor is
    dropped by MinHash when a lower-id survivor of its group is at
    Jaccard >= threshold (single-hop, as the operator documents).
    Documents of different groups are independent word soup, far below
    the threshold."""
    first: dict[str, int] = {}
    for i, t in enumerate(docs.column("text").to_pylist()):
        first.setdefault(" ".join(t.lower().split()), i)
    members: dict[int, list[tuple[int, set[str]]]] = {}
    for t, i in sorted(first.items(), key=lambda kv: kv[1]):
        members.setdefault(group[i], []).append((i, _shingles(t)))
    dropped = 0
    for docs_of_group in members.values():
        for a, (_ia, sa) in enumerate(docs_of_group):
            if any(
                len(sa & sb) / len(sa | sb) >= MINHASH_THRESHOLD
                for _ib, sb in docs_of_group[:a]
            ):
                dropped += 1
    return len(first), len(first) - dropped


def _topk_reference(emb: np.ndarray, q: np.ndarray, k: int) -> tuple[list[int], np.ndarray]:
    e = emb.astype(np.float64)
    qq = q.astype(np.float64)
    scores = e @ qq / (np.linalg.norm(e, axis=1) * np.linalg.norm(qq))
    order = np.lexsort((np.arange(len(scores)), -scores))
    return [int(i) for i in order[:k]], scores


# ------------------------------------------------------------- workload

def setup_round(bench: Bench, r: int) -> dict:
    from palo_spark.operators.dedup import minhash_signature, shingles
    from palo_spark.tables import Table

    inp = os.path.join(bench.run_dir, "corpus")
    n_docs = max(200, int(N_DOCS * bench.scale))
    if r == 0:
        os.makedirs(inp, exist_ok=True)
        docs, emb, planted = gen.corpus(bench.seed, n_docs)
        pq.write_table(docs, os.path.join(inp, "documents.parquet"), compression="snappy")
        pq.write_table(emb, os.path.join(inp, "embeddings.parquet"), compression="snappy")
        bench.inputs["expect"] = expected_counts(docs, planted["group"])
        bench.inputs["emb"] = np.array(emb.column("embedding").to_pylist(), dtype=np.float32)
    spark = bench.start_session()
    docs_df = spark.read.parquet(os.path.join(inp, "documents.parquet"))
    emb_df = spark.read.parquet(os.path.join(inp, "embeddings.parquet"))
    # the first pandas-UDF job of a session starts its Python workers
    t0 = time.perf_counter()
    spark.createDataFrame([("warm up the python workers",)], "text string").select(
        minhash_signature(shingles("text"), 8)
    ).collect()
    bench.mark("py_worker_warm", time.perf_counter() - t0)
    sink = Table(spark, "clean_chunks", "DUPLICATE", ["doc_id"],
                 location=os.path.join(bench.run_dir, f"wh{r}", "clean_chunks"))
    return {
        "docs": docs_df, "emb": emb_df, "sink": sink, "n_docs": n_docs,
        "rng": gen.rng_for(bench.seed, "corpus-probes"),
        "passes": [],
    }


def pipeline(docs):
    """One pass's lazy output: chunks of the kept, filtered, redacted docs,
    plus the intermediate frames the checks count."""
    from palo_spark.operators.dedup import dedup_exact, dedup_minhash
    from palo_spark.operators.text import (
        chunk_documents, gopher_rules, lang_id, quality_score, redact_pii,
    )

    ex = dedup_exact(docs)
    mh = dedup_minhash(ex, threshold=MINHASH_THRESHOLD)
    scored = mh.select("doc_id", "text", quality_score("text"), lang_id("text").alias("lid"))
    kept = gopher_rules(scored, min_words=10).filter("keep AND quality >= 0.3")
    red = redact_pii(kept.select("doc_id", "text"))
    chunks = chunk_documents(red, text_col="text_redacted", chunk_size=32, overlap=8)
    return chunks, ex, mh


def warm(bench: Bench, state: dict) -> None:
    """One full untimed pass and a few probes: the first pass of a
    session runs ~40% slower than later ones, even after a small one."""
    from palo_spark import sources

    chunks, _ex, _mh = pipeline(state["docs"])
    sources.stream_load(state["sink"], chunks, label="warm")
    for _ in range(PROBES // 3):
        _probe(bench, state, timed=False)


def _probe(bench: Bench, state: dict, timed: bool = True) -> None:
    from palo_spark.operators.similarity import similarity_topk

    q = state["rng"].standard_normal(64).astype(np.float32)
    box = {}

    def run():
        df = similarity_topk(state["emb"], [float(x) for x in q], TOPK)
        t1 = time.perf_counter()
        noop_sink(df)
        box["exec_s"] = time.perf_counter() - t1
        return df

    if not timed:
        run()
        return
    df, op = bench.op("read", run)
    op.info.update(box)
    if df is None:
        return
    with bench.untimed():
        got = [(int(r[0]), float(r[1])) for r in df.collect()]
        op.rows = len(got)
        want, scores = _topk_reference(bench.inputs["emb"], q, TOPK)
        bench.checks += 1
        ids = [g[0] for g in got]
        # a differing id is only acceptable at a score tie within float
        # rounding of the k-th score
        kth = scores[want[-1]]
        if len(ids) != TOPK or any(
            i not in want and abs(scores[i] - kth) > 1e-6 for i in ids
        ):
            op.info["wrong"] = True
            bench.fail(f"similarity_topk ids {ids} differ from reference {want}")


def _pass(bench: Bench, state: dict) -> None:
    from palo_spark import sources

    label = f"pass-{bench.seed}-{len(state['passes'])}"
    box = {}

    def run():
        chunks, ex, mh = pipeline(state["docs"])
        v = sources.stream_load(state["sink"], chunks, label=label)
        if v < 0:
            raise RuntimeError(f"label {label} rejected as already applied")
        box.update(ex=ex, mh=mh)
        return v

    v, op = bench.op("write", run, docs=state["n_docs"])
    if v is None:
        return
    with bench.untimed():
        sink = state["sink"]
        rowset = sink.meta.rowsets[-1]["path"]
        n_chunks = bench.spark.read.parquet(rowset).count()
        counts = (box["ex"].count(), box["mh"].count(), n_chunks)
        op.rows = n_chunks
        state["passes"].append(counts)
        bench.checks += 1
        exp = bench.inputs["expect"]
        if counts[:2] != exp or counts != state["passes"][0]:
            op.info["wrong"] = True
            bench.fail(f"pass kept (exact, minhash, chunks) = {counts}; expected "
                       f"{exp} and the first pass's {state['passes'][0]}")


def cycle(bench: Bench, state: dict) -> None:
    _pass(bench, state)
    for _ in range(PROBES):
        _probe(bench, state)


def finish(bench: Bench, state: dict) -> None:
    bench.layer_extra = {"passes": state["passes"], "n_docs": state["n_docs"]}
