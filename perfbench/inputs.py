"""Benchmark inputs: the workloads' corpora and their sequential-oracle
digests, generated from the seed and cached on disk.

Generation and the oracle run before any timing, in a pool of spawned
worker processes that is closed again before Spark starts. The corpus
rows come from the repo's own generators (``corpus.doc_record`` and
``corpus.media_record``, the per-row functions that
``synthesize_docs``/``synthesize_media`` map over); the oracle is
``reference_path.extract_doc``. Only the parquet files reach the
program under test.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time
from dataclasses import dataclass
from pathlib import Path

# fixed chunking, so the files a seed produces do not depend on the host
DOC_FILES = 8
ROW_SEP, FIELD_SEP = "\x1e", "\x1f"
# cached corpora kept per workload; a decode_heavy store is ~100 MB
KEEP_PER_WORKLOAD = 3


@dataclass(frozen=True)
class Workload:
    name: str
    n_docs: int
    heavy_frac: float
    media_pool: int | None  # None: the generator default, 2 x n_docs
    media_files: int


WORKLOADS = {
    # most media spans are a distinct decode: decode dominates. No
    # media-heavy docs: at 1% of 1,000 docs their count moved a pass's
    # spans by up to 40% from seed to seed (shared_media keeps them)
    "decode_heavy": Workload("decode_heavy", 1300, 0.0, None, 16),
    # many docs over 64 shared media: explode, join and ordering dominate
    "shared_media": Workload("shared_media", 10000, 0.05, 64, 8),
}


@dataclass(frozen=True)
class Inputs:
    docs_path: str
    media_path: str
    n_docs: int
    n_media: int
    n_spans: int
    oracle: dict  # doc_id -> digest of its ordered span rows ("" = none)


def doc_digest(rows) -> str:
    """Digest of one doc's output rows ``(kind, text, media_ref, order)``
    in order; ``spark_doc_digests`` computes the same string in Spark."""
    s = ROW_SEP.join(FIELD_SEP.join((k, t, m, str(o)))
                     for k, t, m, o in rows)
    return hashlib.sha1(s.encode("utf-8")).hexdigest()


def spark_doc_digests(out_df) -> dict:
    """doc_id -> digest of the pipeline's ordered output rows."""
    from pyspark.sql import functions as F

    rows = (out_df.groupBy("doc_id")
            .agg(F.array_sort(F.collect_list(F.struct(
                "order", "kind", "text", "media_ref"))).alias("r"))
            .select("doc_id", F.sha1(F.array_join(F.transform(
                "r", lambda x: F.concat_ws(
                    FIELD_SEP, x["kind"], x["text"], x["media_ref"],
                    x["order"].cast("string"))), ROW_SEP)).alias("d"))
            .collect())
    return {r.doc_id: r.d for r in rows}


def mismatched_docs(got: dict, oracle: dict) -> int:
    """Docs whose output differs from the oracle, is missing, or was
    never in the input."""
    bad = sum(1 for d, want in oracle.items() if got.get(d, "") != want)
    return bad + sum(1 for d in got if d not in oracle)


def _source_hash(root: Path) -> str:
    """Hash of the code that generates inputs and the oracle, so a
    cached corpus is never reused after that code changes."""
    h = hashlib.sha1()
    files = sorted((root / "paddleocr_spark").rglob("*.py"))
    for f in [*files, Path(__file__)]:
        h.update(str(f.relative_to(root)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()[:12]


def _chunks(n: int, k: int):
    step = -(-n // k)
    return [(i, min(n, i + step)) for i in range(0, n, step)]


def _docs(w: Workload, seed: int, lo: int, hi: int):
    from paddleocr_spark.corpus import doc_record

    pool = w.media_pool if w.media_pool is not None else max(16, 2 * w.n_docs)
    return [doc_record(i, seed, w.heavy_frac, pool) for i in range(lo, hi)]


def _write(rows, schema, path: str):
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    pq.write_table(pa.Table.from_pylist(rows, schema=to_arrow_schema(schema)),
                   path)


def _gen_docs(args):
    """Pool task: write one docs file; return its media refs and span count."""
    from paddleocr_spark.corpus import docs_schema

    w, seed, lo, hi, path = args
    docs = _docs(w, seed, lo, hi)
    _write(docs, docs_schema(), path)
    refs = {s["media_ref"] for d in docs for s in d["spans"]
            if s["kind"] == "media"}
    return refs, sum(len(d["spans"]) for d in docs)


def _gen_media(args):
    """Pool task: write one media file; return each ref's decoded fragments."""
    from paddleocr_spark.corpus import media_record, media_schema
    from paddleocr_spark.extract_core import decode_media_row

    seed, refs, path = args
    rows = [media_record(r, seed) for r in refs]
    _write(rows, media_schema(), path)
    return {r["media_ref"]: [{k: f[k] for k in ("out_kind", "out_text", "conf")}
                             for f in decode_media_row(r)] for r in rows}


def _oracle(args):
    """Pool task: ``reference_path.extract_doc`` over a range of docs.

    ``decode_media_row`` is a pure function of the media row, so the
    oracle looks each ref's fragments up instead of decoding the same
    media once per span; ``extract_doc`` itself runs unchanged."""
    from paddleocr_spark import reference_path

    w, seed, lo, hi, frags = args
    reference_path.decode_media_row = lambda row: frags[row["media_ref"]]
    out = {}
    for d in _docs(w, seed, lo, hi):
        rows = reference_path.extract_doc(d, lambda ref: {"media_ref": ref})
        out[d["doc_id"]] = doc_digest(
            (r["kind"], r["text"], r["media_ref"], r["order"])
            for r in rows) if rows else ""
    return out


def _generate(w: Workload, seed: int, dst: Path, procs: int) -> dict:
    import gc
    import multiprocessing as mp
    from multiprocessing import resource_tracker

    (dst / "docs").mkdir(parents=True)
    (dst / "media").mkdir()
    doc_ranges = _chunks(w.n_docs, DOC_FILES)
    pool = mp.get_context("spawn").Pool(procs)
    try:
        got = pool.map(_gen_docs, [
            (w, seed, lo, hi, str(dst / "docs" / f"part-{i:05d}.parquet"))
            for i, (lo, hi) in enumerate(doc_ranges)])
        refs = sorted(set().union(*(r for r, _ in got)))
        media_ranges = _chunks(len(refs), w.media_files)
        frags = {}
        for part in pool.map(_gen_media, [
                (seed, refs[lo:hi], str(dst / "media" / f"part-{i:05d}.parquet"))
                for i, (lo, hi) in enumerate(media_ranges)]):
            frags.update(part)
        oracle = {}
        for part in pool.map(_oracle, [(w, seed, lo, hi, frags)
                                       for lo, hi in doc_ranges]):
            oracle.update(part)
        pool.close()
    finally:
        pool.terminate()
        pool.join()
    # free the pool's semaphores, then stop the resource-tracker process
    # the spawn context started, so no process outlives the generation
    del pool
    gc.collect()
    tracker = getattr(resource_tracker, "_resource_tracker", None)
    if hasattr(tracker, "_stop"):
        tracker._stop()
    return {"n_media": len(refs), "n_spans": sum(n for _, n in got),
            "oracle": oracle}


def load_inputs(w: Workload, seed: int, root: Path, cache: Path,
                procs: int) -> tuple[Inputs, float, bool]:
    """Return (inputs, seconds spent, cache hit) for ``w`` at ``seed``,
    generating them under ``cache`` on a miss."""
    t0 = time.perf_counter()
    key = f"{w.name}-s{seed}-n{w.n_docs}-{_source_hash(root)}"
    final = cache / key
    hit = (final / "meta.json").exists()
    if not hit:
        tmp = cache / f".tmp-{key}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        meta = _generate(w, seed, tmp, procs)
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(final, ignore_errors=True)
        os.rename(tmp, final)
        old = sorted((p for p in cache.glob(f"{w.name}-*") if p != final),
                     key=lambda p: p.stat().st_mtime)
        for p in old[:max(0, len(old) - (KEEP_PER_WORKLOAD - 1))]:
            shutil.rmtree(p, ignore_errors=True)
    os.utime(final)
    meta = json.loads((final / "meta.json").read_text())
    inputs = Inputs(str(final / "docs"), str(final / "media"), w.n_docs,
                    meta["n_media"], meta["n_spans"], meta["oracle"])
    return inputs, time.perf_counter() - t0, hit
