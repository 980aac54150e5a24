"""Arrow-batched UDFs for the extraction stages.

The hot path is ``decode_media_store``: one ``mapInPandas`` stage that
runs det (DB binarize + box post-process, ``toddleocr/postprocess/db.py``),
reading-order sort (``utils/utility.py:170-192``), cls decode
(``postprocess/cls.py``), CTC rec decode (``postprocess/rec.py``) and
table-structure decode + match (``postprocess/table.py``,
``postprocess/matcher.py``) per distinct media item, emitting one row
per output fragment (a UDTF in Spark terms: 1 media row → N fragment
rows, like the reference's one-image→many-boxes det stage).

Doing all stages in ONE Python crossing (instead of det / cls / rec as
separate UDF stages, as a literal port would) halves Arrow serialization
traffic and keeps the fat tensor columns from ever entering a shuffle:
only small string fragments leave this stage.
"""

from __future__ import annotations

__all__ = ["MEDIA_FRAGMENT_SCHEMA", "ERROR_KIND", "decode_media_store",
           "decode_errors", "write_store_manifest", "manifest_path"]

# out_kind of quarantined poison rows (decode raised); never a real
# layout label, filtered out of span assembly
ERROR_KIND = "__error__"

MEDIA_FRAGMENT_SCHEMA = (
    "media_ref string, frag_idx int, box_idx int, out_kind string, "
    "out_text string, conf double, cls_label string, cls_score double, "
    "aux string"
)

_MEDIA_COLS = [
    "media_ref", "cand_boxes", "cand_scores", "det_map", "det_h", "det_w",
    "shape_list", "rec_logits", "rec_t", "rec_c", "cls_probs",
    "structure_probs", "struct_t", "struct_v", "loc_preds",
]

_FRAG_COLS = ["frag_idx", "box_idx", "out_kind", "out_text", "conf",
              "cls_label", "cls_score", "aux"]


def _make_decode_batches(bundle_bc=None):
    """Build the mapInPandas body, closing over an optional
    ``sc.broadcast(MODEL_BUNDLE)`` handle — the charset/drop_score
    "weights" ship to each executor once via the broadcast machinery
    (torrent-style at cluster scale), not once per task in the
    serialized closure, mirroring the reference's load-model-once-per-
    process (toddleocr/engine.py:317-324)."""

    def _decode_batches(batches):
        # import inside the worker so only executors pay the import
        import pandas as pd

        from paddleocr_spark.extract_core import decode_media_row

        bundle = bundle_bc.value if bundle_bc is not None else None
        for pdf in batches:
            out = {c: [] for c in ["media_ref", *_FRAG_COLS]}
            for row in pdf.itertuples(index=False):
                d = row._asdict()
                try:
                    frags = decode_media_row(d, bundle)
                except Exception as exc:  # poison-row quarantine:
                    # at 10^12 docs one corrupt media row must not
                    # kill the job (the reference resamples on parse
                    # error, simple.py:78-84); it becomes an ERROR_KIND
                    # fragment — excluded from spans, countable via
                    # decode_errors()
                    frags = [{
                        "frag_idx": -1, "box_idx": -1,
                        "out_kind": ERROR_KIND, "out_text": "",
                        "conf": 0.0, "cls_label": "", "cls_score": 0.0,
                        "aux": f"{type(exc).__name__}: {exc}"[:200],
                    }]
                for frag in frags:
                    out["media_ref"].append(d["media_ref"])
                    for c in _FRAG_COLS:
                        out[c].append(frag[c])
            yield pd.DataFrame(out)

    return _decode_batches


# default body (module-level defaults; used where no SparkContext is
# at hand, e.g. direct tests of the batch function)
_decode_batches = _make_decode_batches(None)


def _broadcast_bundle(spark):
    from paddleocr_spark.extract_core import MODEL_BUNDLE

    return spark.sparkContext.broadcast(MODEL_BUNDLE)


# ---------------------------------------------------------------------------
# Pointer-passing media decode: the only way media reaches the UDF.
#
# Shipping ~60 KB of tensor bytes per row from the JVM to Python through
# the Arrow python-runner measures at ~8 MB/s/core (the row-to-Arrow
# copy of large binaries dominates; a passthrough mapInPandas over the
# fat columns costs 68 s for 540 MB at local[8] while the actual decode
# is 32 core-seconds). The reference never ships pixels either — it
# passes image PATHS and reads executor-side (toddleocr/datasets/
# simple.py:68). We do the same: the driver plans over FILE POINTERS
# (at production scale, Iceberg manifest entries) and each task reads
# its parquet split directly with pyarrow — vectorized, no JVM copy.

MANIFEST_SUFFIX = "_manifest"
MANIFEST_SCHEMA = "file string, n_rows long, n_bytes long"


def manifest_path(store_path: str) -> str:
    """Sibling dir ``<store>_manifest``: Spark's FileIndex hides
    ``_``-prefixed children, so it can't live INSIDE the store, and a
    plain-named subdir would break the store's partition discovery."""
    return store_path.rstrip("/") + MANIFEST_SUFFIX


def write_store_manifest(spark, store_path: str):
    """Write the store's file-level manifest table — the self-managed
    stand-in for an Iceberg manifest (no iceberg-spark-runtime jar
    ships in this image and there is no network to fetch one; probed,
    see BENCH/BASELINE.md). One row per data file: (file [relative
    name, so the store relocates], n_rows, n_bytes from the parquet
    footer). Written ONCE at store creation — the build-index-once
    pattern of the reference's LMDB dataset index
    (toddleocr/datasets/lmdb.py:51-65) — so query planning reads a
    table instead of listing the filesystem. The driver-side listing
    below runs only here, at write time (the Iceberg-commit analogue);
    footers are read executor-side. Planning reads this table back on
    the driver (``_store_files_df``)."""
    import os as _os

    names = [_os.path.basename(f) for f in _list_store_files(store_path)]
    # an empty store still writes an empty manifest rather than
    # crashing repartition(0)
    root = _store_root(store_path)

    def footer(batches):
        import os as _os2

        import pandas as pd
        import pyarrow.parquet as pq

        for pdf in batches:
            files, rows, bts = [], [], []
            for name in pdf["file"]:
                full = _os2.path.join(root, name)
                files.append(name)
                rows.append(pq.ParquetFile(full).metadata.num_rows)
                bts.append(_os2.path.getsize(full))
            yield pd.DataFrame(
                {"file": files, "n_rows": rows, "n_bytes": bts})

    (spark.createDataFrame([(n,) for n in names], "file string")
     .repartition(max(1, min(len(names),
                             spark.sparkContext.defaultParallelism)))
     .mapInPandas(footer, schema=MANIFEST_SCHEMA)
     .write.mode("overwrite").parquet(manifest_path(store_path)))


def _store_root(store_path: str) -> str:
    """Directory the manifest's relative file names resolve against: a
    single parquet FILE is a valid store, so its root is its parent."""
    import os as _os

    return (_os.path.dirname(store_path) if _os.path.isfile(store_path)
            else store_path).rstrip("/")


def _list_store_files(path: str) -> list[str]:
    """The store's data files, listed once by write_store_manifest."""
    import glob as _glob
    import os as _os

    if _os.path.isfile(path):
        return [path]
    return sorted(_glob.glob(_os.path.join(path, "*.parquet")))


def _store_files_df(spark, store_path: str, n_tasks: int):
    """DataFrame of data-file paths, packed into byte-balanced tasks.

    The driver reads the manifest table with pyarrow, walks the files
    in name order and gives each the task ``cum_bytes * n_tasks //
    total_bytes`` of its start offset, so every task holds a contiguous
    byte range and a skewed file-size distribution still packs evenly.
    Each task's paths become exactly one partition of the returned
    DataFrame: planning runs no Spark job and adds no Exchange.

    Packing on the driver is enough because a store holds 8-256 data
    files, one manifest row each; Iceberg's Spark scan also plans its
    file tasks from manifest entries on the driver. A store without a
    manifest raises rather than falling back to listing the filesystem.
    """
    import os as _os

    import pyarrow.parquet as pq

    man = manifest_path(store_path)
    if not _os.path.exists(_os.path.join(man, "_SUCCESS")):
        raise ValueError(
            f"media store {store_path!r} has no manifest at {man!r}; "
            "write one with write_store_manifest(spark, store_path)")
    table = pq.read_table(man, columns=["file", "n_bytes"])
    files = sorted(zip(table.column("file").to_pylist(),
                       table.column("n_bytes").to_pylist()))
    total = max(1, sum(n for _, n in files))
    root = _store_root(store_path)
    tasks = [[] for _ in range(n_tasks)]
    cum = 0
    for name, n_bytes in files:
        tasks[cum * n_tasks // total].append((f"{root}/{name}",))
        cum += n_bytes
    tasks = [t for t in tasks if t]
    # an RDD, not a literal over spark.range: a relation with a known
    # tiny size would let the planner broadcast the decode output in
    # the fragments join
    rdd = (spark.sparkContext.parallelize(tasks, max(1, len(tasks)))
           .flatMap(lambda t: t))
    return spark.createDataFrame(rdd, "path string")


def map_media_store(spark, store_path: str, batch_fn, schema,
                    columns: list[str] | None = None):
    """Run ``batch_fn(iter_of_pandas)`` over the media store with
    executor-side pyarrow reads, planned from the store's manifest
    table (write_store_manifest): one input row per data file, packed
    into ~2 byte-balanced tasks/core — fewer task boundaries than
    one-task-per-file, still enough for stragglers to rebalance."""
    n_tasks = spark.sparkContext.defaultParallelism * 2
    files_df = _store_files_df(spark, store_path, n_tasks)
    cols = columns

    def per_file(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            for path in pdf["path"]:
                # stream row-group batches instead of whole-file
                # to_pandas: bounds per-task transient memory to ~tens
                # of MB regardless of file size (whole-file pandas at
                # full task concurrency caused reclaim stalls), and
                # use_threads=False so workers don't each spin up
                # Arrow's cpu_count-wide pool (~32x oversubscription)
                pf = pq.ParquetFile(path)
                for rb in pf.iter_batches(batch_size=512, columns=cols,
                                          use_threads=False):
                    yield from batch_fn(iter([rb.to_pandas()]))

    return files_df.mapInPandas(per_file, schema=schema)


def decode_media_store(spark, store_path: str):
    """media store directory → fragment DataFrame (fast path)."""
    return map_media_store(spark, store_path,
                           _make_decode_batches(_broadcast_bundle(spark)),
                           MEDIA_FRAGMENT_SCHEMA, columns=_MEDIA_COLS)


# TableMaster variant: same det+rec, 3-rule cascade match instead of
# TableMatch (config.py:846-851); one row per table-bearing media.

_MASTER_COLS = [c for c in _MEDIA_COLS if c != "cls_probs"]


def _master_html_batches(batches):
    import pandas as pd

    from paddleocr_spark.extract_core import master_html_for_row

    for pdf in batches:
        refs, htmls = [], []
        for row in pdf.itertuples(index=False):
            d = row._asdict()
            html = master_html_for_row(d)
            if html is not None:
                refs.append(d["media_ref"])
                htmls.append(html)
        yield pd.DataFrame({"media_ref": refs, "master_html": htmls})


def master_html_store(spark, store_path: str):
    return map_media_store(spark, store_path, _master_html_batches,
                           "media_ref string, master_html string",
                           columns=_MASTER_COLS)


def decode_errors(fragments_df):
    """Quarantined decode failures: (media_ref, error). Zero rows on a
    healthy corpus; at scale this is the per-run data-quality report
    the lineage/checkpoint rows point at."""
    from pyspark.sql import functions as F

    return (fragments_df.where(F.col("out_kind") == ERROR_KIND)
            .select("media_ref", F.col("aux").alias("error")))
