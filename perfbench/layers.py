"""Per-layer measurement for the traced run.

Nothing here reaches inside the program: spans wrap the benchmark's own
calls into each module's public functions, Spark stage times come from the
event log of the benchmark's own session, and worker memory is read from
``/proc``.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path


class Trace:
    """In-memory span recorder; a disabled trace records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        self.spans.append(
            {"id": len(self.spans), "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id}
        )
        return len(self.spans) - 1

    @contextmanager
    def span(self, name: str, on: bool = True):
        if not (self.enabled and on):
            yield None
            return
        sid = self.add(name, time.time(), None, self._stack[-1] if self._stack else None)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_times(self) -> dict[str, float]:
        """Seconds per span name: duration minus the part its children cover."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered = union_length(clip(kids.get(s["id"], []), s["start"], s["end"]))
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
        return out


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# ------------------------------------------------------------------ /proc


def parent_pid(pid: str) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[1])
    except (OSError, IndexError, ValueError):
        return None


def worker_peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of the largest PySpark Python worker below this
    process, in MiB. Raises if no worker is alive."""
    parents = {pid: parent_pid(pid) for pid in os.listdir("/proc") if pid.isdigit()}
    mine, frontier = set(), {os.getpid()}
    while frontier:
        frontier = {int(p) for p, pp in parents.items() if pp in frontier} - mine
        mine |= frontier
    peaks = []
    for pid in mine:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peaks.append(int(line.split()[1]) / 1024)
        except OSError:
            continue
    if not peaks:
        raise RuntimeError("no PySpark Python worker found below this process")
    return max(peaks)


# ------------------------------------------------------------- event log


def read_event_log(event_dir: Path) -> dict:
    """Parse the session's event log -> {stage id: stage}.

    Each stage carries its job group, submission/completion (epoch s),
    RDD scope names, shuffle bytes written, its pipeline layer and its
    tasks: launch/finish (epoch s), executor run time (s), shuffle records
    read and pipeline layer."""
    # Spark 4 writes eventlog_v2_<app>/events_<n>_<app> next to an empty
    # appstatus marker; older layouts write one file named after the app.
    files = sorted(p for p in event_dir.rglob("*") if p.is_file() and not p.name.startswith((".", "appstatus")))
    job_group, stage_job, stages, tasks = {}, {}, {}, {}
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.strip():
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job_group[ev["Job ID"]] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = ev["Job ID"]
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    if "Submission Time" not in si or "Completion Time" not in si:
                        continue
                    scopes = []
                    for rdd in si.get("RDD Info", []):
                        if rdd.get("Scope"):
                            name = json.loads(rdd["Scope"]).get("name", "")
                            if name not in scopes:
                                scopes.append(name)
                    acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                    stages[si["Stage ID"]] = {
                        "start": si["Submission Time"] / 1000,
                        "end": si["Completion Time"] / 1000,
                        "scopes": scopes,
                        "shuffle_bytes": int(acc.get("internal.metrics.shuffle.write.bytesWritten") or 0),
                    }
                elif kind == "SparkListenerTaskEnd":
                    ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "start": ti["Launch Time"] / 1000,
                        "end": ti["Finish Time"] / 1000,
                        "run_s": (tm.get("Executor Run Time") or 0) / 1000,
                        "shuffle_records": (tm.get("Shuffle Read Metrics") or {}).get("Total Records Read") or 0,
                    })
    for sid, st in stages.items():
        st["group"] = job_group.get(stage_job.get(sid))
        st["layer"] = layer_of(st["scopes"])
        st["tasks"] = tasks.get(sid, [])
        for t in st["tasks"]:
            t["layer"] = task_layer(st["layer"], t)
    return stages


def layer_of(scopes: list[str]) -> str:
    """Map a stage to a pipeline layer by the plan nodes it runs."""
    s = set(scopes)
    if "ArrowEvalPython" in s:
        # The stage that unions both branches runs the text UDF.
        return "union" if "Union" in s else "ref_branch"
    if "ObjectHashAggregate" in s and not any(x.startswith("Scan") for x in s):
        return "reassemble"
    return "explode"


def task_layer(stage_layer: str, task: dict) -> str:
    """The union adds no exchange, so one stage runs both of its inputs:
    tasks over the documents scan (the text branch) and tasks that read
    the shuffled media/pdf spans (the join-back of ref results). Both also
    run the partial aggregate of reassembly over their rows."""
    if stage_layer != "union":
        return stage_layer
    return "join_back" if task["shuffle_records"] else "text_branch"


PIPELINE_LAYERS = ("explode", "text_branch", "ref_branch", "join_back", "reassemble")


def pipeline_layers(stages: dict, passes: list[dict], trace: Trace) -> dict:
    """Per-pass layer wall (union of its task intervals), time no task ran,
    shuffle and kernel-stage task figures, averaged over the timed passes.
    On a traced pass each stage's tasks of one layer become a child span of
    the pass span, so the pass span's self time is the time no task ran."""
    per_pass = []
    for p in passes:
        mine = [st for st in stages.values() if st["group"] == p["group"]]
        tasks = [t for st in mine for t in st["tasks"]]
        if p["span"] is not None:
            for st in mine:
                for layer in sorted({t["layer"] for t in st["tasks"]}):
                    ts = [t for t in st["tasks"] if t["layer"] == layer]
                    trace.add(f"stage.{layer}", min(t["start"] for t in ts), max(t["end"] for t in ts), p["span"])
        wall = p["end"] - p["start"]
        row = {
            f"{layer}_s": union_length(clip([(t["start"], t["end"]) for t in tasks if t["layer"] == layer],
                                            p["start"], p["end"]))
            for layer in PIPELINE_LAYERS
        }
        ref_tasks = [t for t in tasks if t["layer"] == "ref_branch"]
        row.update(
            stage_gap_s=wall - union_length(clip([(t["start"], t["end"]) for t in tasks], p["start"], p["end"])),
            ref_branch_share=row["ref_branch_s"] / wall,
            shuffle_write_mb=sum(st["shuffle_bytes"] for st in mine) / 2**20,
            ref_run_s=sum(t["run_s"] for t in ref_tasks),
            text_run_s=sum(t["run_s"] for t in tasks if t["layer"] == "text_branch"),
            kernel_task_skew=(max(t["end"] - t["start"] for t in ref_tasks)
                              / statistics.median(t["end"] - t["start"] for t in ref_tasks)) if ref_tasks else 0.0,
            stages=len(mine),
        )
        per_pass.append(row)
    return {k: statistics.mean(r[k] for r in per_pass) for k in per_pass[0]}


def ref_udf_calls(stages: dict, group: str) -> int:
    """Rows the ref-UDF stages of a job group read: one per ref-UDF call."""
    return sum(t["shuffle_records"] for st in stages.values()
               if st["group"] == group for t in st["tasks"] if t["layer"] == "ref_branch")


# ------------------------------------------------- standalone module calls

# Standalone samples: enough calls for a stable mean, few enough that the
# traced run stays well inside its time limit.
REF_SAMPLE = 300
TEXT_SAMPLE = 500


def _timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return out, time.perf_counter() - t0


def standalone_layers(docs, media, trace: Trace) -> dict:
    """Time each module's public functions outside Spark on this workload's
    own inputs, over an evenly strided sample of the distinct refs (media
    and PDF refs keep their corpus proportions). Per-op kernel times run
    the default chain of ``reference_kernel.preprocess_image`` op by op on
    the same images ``reference_kernel.ms_per_img`` is taken over."""
    from ocr_text_recognition_spark.extraction import html, pdflayout
    from ocr_text_recognition_spark.kernel import (
        imageops, imgcodec, recognize, reference_kernel, segment, tableparse,
    )

    payload = dict(zip(media["media_ref"], media["content"]))
    refs = sorted({(s["kind"], s["media_ref"]) for spans in docs["spans"]
                   for s in spans if s["kind"] in ("media", "pdf")})
    sample = refs[:: max(1, len(refs) // REF_SAMPLE)]
    texts = [s["text"] for spans in docs["spans"] for s in spans if s["kind"] == "text"]

    reference_kernel.recognize_media_bytes(payload[next(r for k, r in refs if k == "media")])
    ref_s = {"media": [], "pdf": []}
    with trace.span("standalone.refs"):
        for kind, ref in sample:
            fn = reference_kernel.recognize_media_bytes if kind == "media" else pdflayout.extract_pdf_text
            with trace.span(f"{fn.__module__.rsplit('.', 1)[1]}.{fn.__name__}"):
                ref_s[kind].append(_timed(fn, payload[ref])[1])

    prep = (
        ("imgcodec.decode_ms", "imgcodec.decode_image", imgcodec.decode_image),
        ("imageops.to_grayscale_ms", "imageops.to_grayscale", imageops.to_grayscale),
        ("imageops.blur_ms", "imageops.gaussian_blur", imageops.gaussian_blur),
        ("imageops.otsu_ms", "imageops.otsu_binarize", imageops.otsu_binarize),
        ("imageops.median3_ms", "imageops.median3", imageops.median3),
        ("imageops.deskew_ms", "imageops.deskew", imageops.deskew),
        ("segment.remove_specks_ms", "segment.remove_specks", segment.remove_specks),
    )
    op_s = {metric: [] for metric, _, _ in prep}
    op_s["tableparse.extract_table_ms"], op_s["recognize.recognize_text_ms"] = [], []
    images = [r for k, r in sample if k == "media"]
    with trace.span("standalone.kernel_ops"):
        for ref in images:
            with trace.span("kernel.image"):
                mask = bytes(payload[ref])
                for metric, name, fn in prep:
                    with trace.span(name):
                        mask, dt = _timed(fn, mask)
                    op_s[metric].append(dt)
                with trace.span("tableparse.extract_table"):
                    table, dt = _timed(tableparse.extract_table, mask)
                op_s["tableparse.extract_table_ms"].append(dt)
                if table is None:
                    with trace.span("recognize.recognize_text"):
                        op_s["recognize.recognize_text_ms"].append(_timed(recognize.recognize_text, mask)[1])

    html_s = []
    with trace.span("standalone.text"):
        for t in texts[:TEXT_SAMPLE]:
            with trace.span("html.extract_main_text"):
                html_s.append(_timed(html.extract_main_text, t)[1])

    def mean_ms(xs):
        return 1000 * statistics.mean(xs) if xs else 0.0

    ms_per_img = mean_ms(ref_s["media"])
    ops_ms_per_img = 1000 * sum(map(sum, op_s.values())) / max(len(images), 1)
    out = {metric: mean_ms(xs) for metric, xs in op_s.items()}
    out.update({
        "tableparse.table_hit_ratio": 1 - len(op_s["recognize.recognize_text_ms"]) / max(len(images), 1),
        "reference_kernel.ms_per_img": ms_per_img,
        "kernel.op_coverage": ops_ms_per_img / ms_per_img if ms_per_img else 0.0,
        "html.extract_main_text_us": 1000 * mean_ms(html_s),
        "pdflayout.extract_pdf_text_us": 1000 * mean_ms(ref_s["pdf"]),
        "_standalone_ms_per_ref": mean_ms(ref_s["media"] + ref_s["pdf"]),
        "_n_refs": len(refs),
        "_n_text_spans": len(texts),
    })
    return out
