"""Benchmark of the flagship extract (docs + media store -> ordered spans).

    python3 perfbench/run.py --workload decode_heavy --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones. See perfbench/README.md for the workloads
and for which layer metric should move which end-to-end metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"
SETUPS = 2
# untimed passes between the set-ups and the timed window; the first
# passes after start-up still run 10-30% slower while the JIT warms up
WARM_PASSES = 2
# one HostCal repeat on a quiet 4-vCPU Xeon KVM guest (Sapphire Rapids
# class); docs_per_ref_s is docs/s as it would read on that host
CAL_REF_S = 0.023
CAL_REPS = 5
DRIVER_MEM = "4g"
WINDOW_WARN = b"No Partition Defined for Window operation"


def _require_program():
    sys.path.insert(0, str(ROOT))
    try:
        import paddleocr_spark.operators.checkpoint  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        sys.exit(f"perfbench: cannot import the program under test: {e}")


def _configure(cores: int):
    """Process environment shared by the driver JVM and its Python
    workers: the checkout on PYTHONPATH (workers start outside it),
    one thread per worker (local[cores] already uses every core), and
    every temporary file inside the checkout."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT), *filter(None, [os.environ.get("PYTHONPATH")])])
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ[var] = "1"
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM: no perf-data file under /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    tempfile.tempdir = str(tmp)


def _spark_conf(trace: bool) -> dict:
    tmp = WORK / "tmp"
    return {
        "spark.local.dir": str(WORK / "spark-local"),
        # a fixed, pre-touched heap: G1's heap growth otherwise makes the
        # JVM's resident set, and so peak_rss_mb, differ from run to run
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
            f" -Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
        # the REST endpoint the traced run reads stage metrics from
        "spark.ui.enabled": "true" if trace else "false",
        "spark.ui.port": "0",
    }


class Session:
    """The driver JVM (pyspark's gateway) and the SparkContexts made in it.

    The JVM's stdout and stderr go to ``log`` so the run can count the
    warnings Spark logs during a pass."""

    def __init__(self, cores: int, conf: dict, log: Path):
        self.cores, self.conf, self.log = cores, conf, log
        self.spark = None
        sys.stdout.flush()
        sys.stderr.flush()
        saved = [os.dup(1), os.dup(2)]
        fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        try:
            os.dup2(fd, 1)
            os.dup2(fd, 2)
            self.start()
        finally:
            os.dup2(saved[0], 1)
            os.dup2(saved[1], 2)
            for f in (fd, *saved):
                os.close(f)
        from pyspark import SparkContext

        self.jvm = SparkContext._gateway.proc

    def start(self):
        from paddleocr_spark.session import get_spark

        self.spark = get_spark("perfbench", master=f"local[{self.cores}]",
                               **self.conf)

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self):
        """Stop the context, then the JVM, and wait for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        gw.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        SparkContext._gateway = SparkContext._jvm = None

    def log_count(self, needle: bytes) -> int:
        return self.log.read_bytes().count(needle)


def warm_workers(spark, cores: int):
    """Pre-fork the Python workers and pay their heavy imports."""

    def warm(batches):
        import pandas  # noqa: F401

        import paddleocr_spark.extract_core  # noqa: F401

        yield from batches

    (spark.range(cores * 4).repartition(cores * 4)
     .mapInPandas(warm, schema="id long")
     .write.mode("overwrite").format("noop").save())


def noop(df):
    df.write.mode("overwrite").format("noop").save()


def extract(spark, inputs):
    from paddleocr_spark.operators.extract import extract_spans

    return extract_spans(spark.read.parquet(inputs.docs_path),
                         inputs.media_path)


_CAL_DATA = []


def _cal_work(reps: int) -> list[float]:
    """Seconds each of ``reps`` repeats of a fixed piece of work takes:
    an interpreter loop plus a NumPy sort of 8 MB."""
    import numpy as np

    if not _CAL_DATA:
        _CAL_DATA.append(np.random.default_rng(0).random(1 << 20))
    data, out = _CAL_DATA[0], []
    for _ in range(reps):
        t0 = time.perf_counter()
        acc = 0
        for i in range(150_000):
            acc += i * i % 7
        np.sort(data)
        out.append(time.perf_counter() - t0)
    return out


class HostCal:
    """Times the same fixed work in one process per core at once.

    It runs between passes, while Spark is idle, and uses nothing of the
    program under test, so it tracks only how fast the host runs with
    every core busy, as during a pass. The host is shared: on one 4-vCPU
    guest a pure-Python loop took from 1x to 2.5x its quiet time within
    a few minutes, with nothing else running in the guest. The
    processes are forked before the JVM starts and wait idle between
    readings."""

    def __init__(self, procs: int):
        import multiprocessing as mp

        self.procs = procs
        self.pool = mp.get_context("fork").Pool(procs)

    def __call__(self) -> list[float]:
        return [t for ts in self.pool.map(_cal_work, [CAL_REPS] * self.procs,
                                          chunksize=1) for t in ts]

    def close(self):
        self.pool.terminate()
        self.pool.join()


def full_pass(spark, inputs) -> float:
    t0 = time.perf_counter()
    noop(extract(spark, inputs))
    return time.perf_counter() - t0


def setups(sess: Session, inputs, tracer=None) -> list[dict]:
    """SETUPS set-ups, each a new SparkContext, pre-forked workers and
    one warm-up pass; the session of the last one is left running."""
    out = []
    for i in range(SETUPS):
        sess.stop()
        t0 = time.perf_counter()
        sess.start()
        t1 = time.perf_counter()
        warm_workers(sess.spark, sess.cores)
        t2 = time.perf_counter()
        full_pass(sess.spark, inputs)
        t3 = time.perf_counter()
        out.append({"get_spark_s": t1 - t0, "warm_workers_s": t2 - t1,
                    "warmup_pass_s": t3 - t2, "setup_s": t3 - t0})
        if tracer is not None:
            tracer.pass_id = f"setup{i}"
            for name, a, b in (("session.get_spark", t0, t1),
                               ("session.warm_workers", t1, t2),
                               ("warmup_pass", t2, t3)):
                tracer.spans.append([name, a, b, None, tracer.workload,
                                     tracer.pass_id])
    return out


def timed_passes(spark, inputs, seconds: float,
                 cal: HostCal) -> tuple[list, list]:
    """WARM_PASSES untimed passes, then full passes until ``seconds``
    have passed (at least one), with a ``cal`` reading before each and
    after the last. Returns the pass times and all calibration repeats."""
    for _ in range(WARM_PASSES):
        full_pass(spark, inputs)
    times, cals = [], cal()
    t_end = time.perf_counter() + seconds
    while not times or time.perf_counter() < t_end:
        times.append(full_pass(spark, inputs))
        cals += cal()
    return times, cals


def docs_per_ref_s(n_docs: int, times: list, cals: list) -> float:
    """The median pass's docs/s, scaled by the host's speed over the
    timed window: the median calibration repeat over CAL_REF_S.

    A single repeat is noisy (the host's speed moves by a fifth from
    second to second), so the scale is taken over the whole window
    rather than pass by pass."""
    return n_docs / statistics.median(times) * (
        statistics.median(cals) / CAL_REF_S)


def verify(out_df, inputs) -> int:
    from inputs import mismatched_docs, spark_doc_digests

    return mismatched_docs(spark_doc_digests(out_df), inputs.oracle)


def traced_layers(sess: Session, inputs, tracer, untraced_dps: float,
                  work: Path) -> tuple[dict, int, int]:
    """Per-layer metrics; returns (metrics, docs checked, mismatches)."""
    from pyspark.sql import functions as F

    import tracing as tr
    from paddleocr_spark import __version__
    from paddleocr_spark.corpus import media_schema
    from paddleocr_spark.functions import udfs
    from paddleocr_spark.operators import checkpoint
    from paddleocr_spark.operators.extract import (
        clean_text_col,
        explode_spans,
        extract_spans,
    )

    spark = sess.spark
    sc = spark.sparkContext
    m = {}

    def timed(name, fn):
        tracer.pass_id = name
        sc.setJobGroup(name, name)
        with tracer.span(name):
            out = fn()
        return out, tracer.durations(name)[-1]

    warns0 = sess.log_count(WINDOW_WARN)
    _, dt = timed("pass.traced", lambda: noop(extract(spark, inputs)))
    m["udfs.window_single_partition_warns"] = (
        sess.log_count(WINDOW_WARN) - warns0)
    m.update(tr.spark_counts(spark, "pass.traced"))
    m["trace.docs_per_s"] = inputs.n_docs / dt
    m["trace.overhead_frac"] = 1 - m["trace.docs_per_s"] / untraced_dps

    # decode layer: read only (identity batch function), then full decode
    def identity(batches):
        yield from batches

    cols = [f for f in media_schema().fields if f.name in udfs._MEDIA_COLS]
    schema = media_schema().__class__(cols)
    _, m["udfs.map_media_store.read_s"] = timed(
        "udfs.map_media_store.read", lambda: noop(udfs.map_media_store(
            spark, inputs.media_path, identity, schema,
            columns=[f.name for f in cols])))
    _, m["udfs.decode_media_store_s"] = timed(
        "udfs.decode_media_store",
        lambda: noop(udfs.decode_media_store(spark, inputs.media_path)))
    counts, _ = timed("udfs.decode.counts", lambda: udfs.decode_media_store(
        spark, inputs.media_path).agg(
            F.count("*").alias("frags"),
            F.sum((F.col("out_kind") == udfs.ERROR_KIND).cast("int"))
            .alias("errors")).collect()[0])
    m["udfs.decode.media_in"] = inputs.n_media
    m["udfs.decode.frags_out"] = counts["frags"]
    m["udfs.decode.errors"] = counts["errors"] or 0

    # text branch and join + ordering, each measured directly
    docs = spark.read.parquet(inputs.docs_path)
    _, m["extract.text_branch_s"] = timed(
        "extract.text_branch", lambda: noop(
            explode_spans(docs).select(clean_text_col(F.col("text")))))
    frags = udfs.decode_media_store(spark, inputs.media_path).persist()
    frags.count()
    _, m["extract.join_order_s"] = timed(
        "extract.join_order", lambda: noop(extract_spans(
            docs, inputs.media_path, fragments_df=frags)))
    frags.unpersist(blocking=True)

    tracer.pass_id = "decode_profile"
    m.update(tr.decode_profile(tracer, inputs.media_path, 1024))

    # checkpointed write into parquet buckets, then resume on it
    out_dir = str(work)
    shutil.rmtree(out_dir, ignore_errors=True)
    run_id = "perfbench"
    _, dt = timed("checkpoint.run", lambda: checkpoint.run_with_checkpoint(
        spark, docs, inputs.media_path, out_dir, run_id, n_buckets=4))
    m["checkpoint.docs_per_s"] = inputs.n_docs / dt
    resumes = []
    for i in range(5):
        done, t = timed(f"checkpoint.resume{i}",
                        lambda: checkpoint.run_with_checkpoint(
                            spark, docs, inputs.media_path, out_dir, run_id,
                            n_buckets=4))
        if done:
            raise RuntimeError(f"resume of a finished run processed {done}")
        resumes.append(t)
    m["checkpoint.resume_s"] = statistics.median(resumes)
    m["checkpoint.completed_buckets_s"] = statistics.median(
        timed(f"checkpoint.completed_buckets{i}",
              lambda: checkpoint.completed_buckets(
                  spark, out_dir, run_id, 4, input_snapshot="synthetic",
                  code_version=__version__))[1] for i in range(3))
    walls = [r.wall_ms for r in spark.read.parquet(
        os.path.join(out_dir, "checkpoint")).select("wall_ms").collect()]
    m["checkpoint.bucket_wall_ms_p50"] = statistics.median(walls)
    m["checkpoint.bucket_wall_ms_max"] = max(walls)
    spans_dir = Path(out_dir) / "spans"
    m["checkpoint.bytes_written_per_doc"] = sum(
        f.stat().st_size for f in spans_dir.rglob("*") if f.is_file()
    ) / inputs.n_docs
    m["checkpoint.files_written"] = sum(
        1 for f in Path(out_dir).rglob("*") if f.is_file())
    bad = verify(checkpoint.read_output(spark, out_dir), inputs)
    shutil.rmtree(out_dir, ignore_errors=True)
    return m, inputs.n_docs, bad


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    _require_program()

    from inputs import WORKLOADS, load_inputs

    if args.workload not in WORKLOADS:
        sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                 f"choose from {sorted(WORKLOADS)}")
    w = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))
    _configure(cores)
    inputs, gen_s, hit = load_inputs(w, args.seed, ROOT, WORK / "cache", cores)

    import tracing as tr

    tracer = tr.Tracer(w.name) if args.trace else None
    run_dir = WORK / "runs"
    run_dir.mkdir(parents=True, exist_ok=True)
    tag = f"{w.name}-s{args.seed}-t{args.trace}-{os.getpid()}"
    load_before = os.getloadavg()
    # forked before the JVM starts, so no gateway thread is copied
    cal = HostCal(cores)
    # launch the JVM and write the store's manifest table (part of making
    # the input). Rewriting it on every run gives each run the same
    # first, cold Spark job before the measured set-ups.
    t0 = time.perf_counter()
    try:
        sess = Session(cores, _spark_conf(bool(args.trace)),
                       run_dir / f"{tag}.jvm.log")
    except BaseException:
        cal.close()
        raise
    try:
        from paddleocr_spark.functions.udfs import write_store_manifest

        write_store_manifest(sess.spark, inputs.media_path)
        jvm_s = time.perf_counter() - t0
        setup = setups(sess, inputs, tracer)
        spark = sess.spark
        tr.reset_peak_rss(sess.jvm.pid)
        passes, cals = timed_passes(spark, inputs, args.seconds, cal)
        rss = tr.peak_rss_mb(sess.jvm.pid)
        load_after = os.getloadavg()
        dps = inputs.n_docs / statistics.median(passes)
        dps_ref = docs_per_ref_s(inputs.n_docs, passes, cals)
        bad = verify(extract(spark, inputs), inputs)
        attempted = inputs.n_docs
        if args.trace:
            layers, n, bad_ckpt = traced_layers(sess, inputs, tracer, dps,
                                                WORK / "work" / tag)
            attempted, bad = attempted + n, bad + bad_ckpt
    finally:
        try:
            sess.close()
        finally:
            cal.close()

    setup_med = {k: statistics.median(s[k] for s in setup) for k in setup[0]}
    contended = max(load_before[0], load_after[0]) > cores
    record = {
        "workload": w.name, "seed": args.seed, "cores": cores,
        "docs": inputs.n_docs, "media": inputs.n_media,
        "spans": inputs.n_spans, "inputs_s": gen_s, "inputs_cached": hit,
        "jvm_start_s": jvm_s, "setups": setup, "passes_s": passes,
        "host_cal_s": cals, "docs_per_s": dps,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "contended": contended, "doc_mismatch_frac": bad / attempted,
    }
    if args.trace:
        metrics = {"session.get_spark_s": setup_med["get_spark_s"],
                   "session.warm_workers_s": setup_med["warm_workers_s"],
                   "pass.docs_per_s": dps,
                   "host.cal_ms": 1e3 * statistics.median(cals),
                   **layers}
        tracer.save(run_dir / f"{tag}.spans.json")
    else:
        metrics = {"docs_per_ref_s": dps_ref,
                   "setup_s": setup_med["setup_s"], "peak_rss_mb": rss}
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    if set(units) != set(metrics):
        raise RuntimeError("metrics differ from BENCHMARK.json: "
                           f"{sorted(set(units) ^ set(metrics))}")
    record["metrics"] = metrics
    (run_dir / f"{tag}.json").write_text(json.dumps(record, indent=1))
    print(f"# {w.name} seed={args.seed} docs={inputs.n_docs} "
          f"media={inputs.n_media} spans={inputs.n_spans} "
          f"passes={[round(p, 3) for p in passes]} "
          f"cal_ms={1e3 * statistics.median(cals):.1f} "
          f"docs_per_s={dps:.1f} docs_per_ref_s={dps_ref:.1f} "
          f"setups={[round(s['setup_s'], 2) for s in setup]} "
          f"jvm_start_s={jvm_s:.2f} inputs_s={gen_s:.1f} cached={hit} "
          f"load={load_before[0]:.2f}->{load_after[0]:.2f} "
          f"contended={contended} doc_mismatch_frac={bad / attempted}")
    print(json.dumps({
        "correct": bad == 0, "attempted": attempted, "failed": bad,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if bad == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
