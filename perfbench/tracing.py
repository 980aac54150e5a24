"""Tracing for the benchmark's traced run: in-memory spans, Spark
counts per job group, process memory, and an in-process decode profile.

Every span is recorded around the benchmark's own call into a module's
public function; nothing inside ``paddleocr_spark`` is changed. The
in-process profile swaps the functions ``extract_core`` looks up at
call time for timing wrappers, and restores them afterwards.
"""

from __future__ import annotations

import json
import statistics
import time
import urllib.request
from contextlib import contextmanager
from pathlib import Path

# functions decode_media_row looks up in extract_core's namespace
KERNELS = ["select_regions", "dequantize_map", "dequantize_logits",
           "db_postprocess", "sorted_boxes", "batched_ctc_decode",
           "cls_decode", "table_decode", "filter_ocr_result",
           "match_result", "get_pred_html"]


class Tracer:
    """Spans as (name, start, end, parent, workload, pass id)."""

    def __init__(self, workload: str):
        self.workload = workload
        self.pass_id = None
        self.spans: list[list] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent,
                           self.workload, self.pass_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def self_times(self, name: str) -> list[float]:
        """Each ``name`` span's duration minus that of its direct children."""
        child = {}
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] = child.get(s[3], 0.0) + s[2] - s[1]
        return [s[2] - s[1] - child.get(i, 0.0)
                for i, s in enumerate(self.spans) if s[0] == name]

    def save(self, path: Path):
        cols = ["name", "start", "end", "parent", "workload", "pass_id"]
        path.write_text(json.dumps([dict(zip(cols, s)) for s in self.spans]))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.loads(r.read())


def spark_counts(spark, group: str) -> dict:
    """Jobs, stages and tasks of one job group from ``statusTracker``;
    shuffle bytes, CPU, GC and task times from the local UI's REST API."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = st.getJobInfo(j)
        stage_ids.update(info.stageIds if info else [])
    base = "http://127.0.0.1:" + sc.uiWebUrl.rsplit(":", 1)[1]
    base += f"/api/v1/applications/{sc.applicationId}"
    # the UI store is filled by an asynchronous listener: wait until
    # every stage of the group that ran has been recorded as finished
    deadline = time.time() + 20
    while True:
        stages = [s for s in _get(base + "/stages")
                  if s["stageId"] in stage_ids]
        if (all(s["status"] in ("COMPLETE", "FAILED", "SKIPPED")
                for s in stages) or time.time() > deadline):
            break
        time.sleep(0.2)
    ran = [s for s in stages if s["status"] != "SKIPPED"]
    task_s = []
    for s in ran:
        tasks = _get(f"{base}/stages/{s['stageId']}/{s['attemptId']}"
                     "/taskList?length=1000000")
        task_s += [t["duration"] / 1e3 for t in tasks if "duration" in t]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(ran),
        "spark.tasks": sum(s["numCompleteTasks"] for s in ran),
        "spark.failed_tasks": sum(s["numFailedTasks"] for s in ran),
        "spark.shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in ran),
        "spark.shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in ran),
        "spark.executor_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
        "spark.gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
        "spark.task_s_p50": statistics.median(task_s) if task_s else 0.0,
        "spark.task_s_max": max(task_s, default=0.0),
    }


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    parent = {}
    for d in Path("/proc").iterdir():
        if d.name.isdigit():
            try:
                stat = (d / "stat").read_text()
            except OSError:
                continue
            parent[int(d.name)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = [pid], [pid]
    while frontier:
        frontier = [c for c, p in parent.items() if p in frontier]
        tree += frontier
    return tree


def reset_peak_rss(pid: int):
    for p in process_tree(pid):
        try:
            Path(f"/proc/{p}/clear_refs").write_text("5")
        except OSError:
            pass


def peak_rss_mb(pid: int) -> float:
    """Sum of the peak resident sets (VmHWM) of ``pid`` and its
    descendants since the last ``reset_peak_rss``."""
    total = 0
    for p in process_tree(pid):
        try:
            for line in Path(f"/proc/{p}/status").read_text().splitlines():
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
        except OSError:
            pass
    return total / 1024


def decode_profile(tracer: Tracer, media_path: str, max_media: int) -> dict:
    """Run ``udfs._decode_batches`` in this process over up to
    ``max_media`` store rows and time it, ``decode_media_row`` and each
    kernel in KERNELS by spans around their calls."""
    import pyarrow.parquet as pq

    from paddleocr_spark import extract_core
    from paddleocr_spark.functions import udfs

    batches, n = [], 0
    for f in sorted(Path(media_path).glob("*.parquet")):
        for rb in pq.ParquetFile(f).iter_batches(
                batch_size=512, columns=udfs._MEDIA_COLS):
            rb = rb.slice(0, max_media - n)
            batches.append(rb.to_pandas())
            n += rb.num_rows
            if n >= max_media:
                break
        if n >= max_media:
            break

    saved = {k: getattr(extract_core, k) for k in [*KERNELS, "decode_media_row"]}
    names = {k: f"{fn.__module__.removeprefix('paddleocr_spark.')}.{k}"
             for k, fn in saved.items()}
    boxes = []

    def count_boxes(fn):
        def counted(*a, **kw):
            out = fn(*a, **kw)
            boxes.append(len(out))
            return out
        return counted

    try:
        for k, fn in saved.items():
            if k == "db_postprocess":
                fn = count_boxes(fn)
            setattr(extract_core, k, tracer.wrap(names[k], fn))
        with tracer.span("udfs._decode_batches"):
            frags = sum(len(pdf) for pdf in udfs._decode_batches(iter(batches)))
    finally:
        for k, fn in saved.items():
            setattr(extract_core, k, fn)

    row_ms = sorted(1e3 * d for d in tracer.durations(names["decode_media_row"]))
    p99 = row_ms[min(len(row_ms) - 1, int(0.99 * len(row_ms)))]
    out = {
        "extract_core.decode_media_row.n": n,
        "extract_core.decode_media_row.ms_p50": statistics.median(row_ms),
        "extract_core.decode_media_row.ms_p99": p99,
        "extract_core.frags_per_box": frags / max(1, sum(boxes)),
        "udfs.decode_batches.self_ms_per_media":
            1e3 * sum(tracer.self_times("udfs._decode_batches")) / n,
    }
    for k in KERNELS:
        out[f"{names[k]}.ms_per_media"] = 1e3 * sum(tracer.self_times(names[k])) / n
        out[f"{names[k]}.calls"] = len(tracer.durations(names[k]))
    return out
