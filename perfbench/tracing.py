"""Spans, Spark stage metrics, single-core kernel timings and the
per-layer report of the traced run.

Spans are recorded from the benchmark's side, around calls into the
package's public functions; the package itself is not instrumented.
Each span runs its Spark jobs under its own job group, so the status
store attributes every stage to exactly one span.
"""

from __future__ import annotations

import base64
import json
import os
import statistics
import time
from contextlib import contextmanager

import numpy as np

MB = 1024 * 1024

# layer metric -> (end-to-end metric it should move, workload where it
# does the work, workload predicted not to change)
_EXTRACTION = ("mix_fresh", "corpus_ops")
LAYER_MAP = {
    "pdf.*": ("pass_cpu_s (turns_per_s)", *_EXTRACTION),
    "html.*": ("pass_cpu_s (turns_per_s)", *_EXTRACTION),
    "payload.*": ("pass_cpu_s (turns_per_s), py_worker_peak_rss_mb", *_EXTRACTION),
    "textnorm.*": ("pass_cpu_s (turns_per_s)", *_EXTRACTION),
    "extract.*": ("pass_cpu_s (turns_per_s)", *_EXTRACTION),
    "checkpoint.*": (
        "pass_cpu_s (turns_per_s, sink_bytes_per_turn, redo_turn_frac)",
        *_EXTRACTION,
    ),
    "functions.*": ("pass_cpu_s (ops_s)", "corpus_ops", "mix_fresh"),
    "setup.*": ("setup_s", "all", "-"),
    "datagen.*": ("setup_s", "all", "-"),
}

# ROADMAP baseline: single-core extract_turn cost per turn by payload
# kind on the 20k-turn bench mix, 4-core machine
ROADMAP_US = {"pdf": 543.0, "html": 105.0, "text": 10.0}


class Tracer:
    """Keeps spans in memory; ``enabled=False`` makes every span free."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        group = f"perfbench-span-{sid}"
        sc.setJobGroup(group, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(
                    f"perfbench-span-{self._stack[-1]}",
                    self.spans[self._stack[-1]]["name"],
                )
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            rec["stages"] = group_stages(self.spark, group)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        t0 = self.spans[0]["start"] if self.spans else 0.0
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0}
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, **extra}, f, indent=1)


def group_stages(spark, group: str) -> list[dict]:
    """Completed stages of every job run under ``group``, read from the
    application status store (works with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ids = set()
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is not None:
            ids.update(info.stageIds)
    if not ids:
        return []
    jvm = spark._jvm
    store = sc._jsc.sc().statusStore()
    stages = store.stageList(
        jvm.java.util.ArrayList(),
        False,
        False,
        sc._gateway.new_array(jvm.double, 0),
        jvm.java.util.ArrayList(),
    )
    quantiles = sc._gateway.new_array(jvm.double, 2)
    quantiles[0] = 0.5
    quantiles[1] = 1.0
    out = []
    for i in range(stages.length()):
        s = stages.apply(i)
        if s.stageId() not in ids or str(s.status()) != "COMPLETE":
            continue
        med = mx = 0.0
        summary = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
        if summary.isDefined():
            run = summary.get().executorRunTime()
            med, mx = float(run.apply(0)), float(run.apply(1))
        out.append(
            {
                "stage": s.stageId(),
                "tasks": s.numTasks(),
                "run_s": s.executorRunTime() / 1e3,
                "cpu_s": s.executorCpuTime() / 1e9,
                "shuffle_read_mb": s.shuffleReadBytes() / MB,
                "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                "output_mb": s.outputBytes() / MB,
                "spill_mb": (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB,
                "task_median_ms": med,
                "task_max_ms": mx,
            }
        )
    return out


def stage_sum(stages: list[dict], key: str) -> float:
    return float(sum(s[key] for s in stages))


def py_worker_peak_rss_mb() -> float:
    """Highest ``VmHWM`` among the PySpark Python workers descended
    from this process, read from ``/proc``."""
    peak_kb = 0
    for pid in descendant_pids():
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" not in f.read():
                    continue
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        peak_kb = max(peak_kb, int(line.split()[1]))
        except OSError:
            continue
    return peak_kb / 1024.0


def tree_cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) used so
    far by this process and every process descended from it: the
    driver, the JVM and the Python workers. Unlike wall time, it does
    not count time the machine gave to other tenants."""
    ticks = 0
    for pid in descendant_pids() | {os.getpid()}:
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(b")") + 2 :].split()
        ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def descendant_pids() -> set[int]:
    """Every live process descended from this one."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, []))
    return out


def _us(fn, *args):
    t = time.perf_counter()
    r = fn(*args)
    return r, (time.perf_counter() - t) * 1e6


def kernel_layers(payloads: list, seed: int, per_kind: int = 120) -> dict:
    """Single-core kernel costs in this process.

    ``payload.kernel_cpu_s`` times ``extract_turn`` over every payload of
    the workload's input: the single-threaded baseline of the whole
    extraction. The sub-layer figures come from a fixed sample of up to
    ``per_kind`` payloads per sniffed kind."""
    from service1_text_extraction_spark.kernels import html, pdf, textnorm
    from service1_text_extraction_spark.kernels.payload import (
        extract_turn,
        sniff_payload,
    )

    m: dict[str, float] = {}
    by_method: dict[str, list[float]] = {}
    kinds: dict[str, list[int]] = {"pdf": [], "html": [], "text": []}
    sniff_us = []
    for i, p in enumerate(payloads):
        r, us = _us(extract_turn, p)
        by_method.setdefault(r.method, []).append(us)
        if isinstance(p, str) and p.strip():
            k, us = _us(sniff_payload, p)
            sniff_us.append(us)
            kinds[k].append(i)
    m["payload.kernel_cpu_s"] = sum(map(sum, by_method.values())) / 1e6
    m["payload.sniff_us"] = _mean(sniff_us)
    for meth in ("pdf", "html", "text", "failed"):
        m[f"payload.extract_us.{meth}"] = _mean(by_method.get(meth, []))

    rng = np.random.default_rng(seed + 104729)

    def pick(idx):
        if len(idx) <= per_kind:
            return idx
        return sorted(rng.choice(idx, per_kind, replace=False).tolist())

    opens, res, interp, asm, objs = [], [], [], [], []
    for i in pick(kinds["pdf"]):
        try:
            raw = base64.b64decode("".join(payloads[i].split()), validate=True)
            doc, us = _us(pdf.PdfDocument, raw)
        except (ValueError, pdf.PdfError):
            continue
        opens.append(us)
        objs.append(len(doc.objects))
        r_us = i_us = a_us = 0.0
        for page in doc.pages():
            t = time.perf_counter()
            content = doc.page_content(page)
            fonts = doc.page_fonts(page)
            forms = doc.load_forms(page)
            r_us += (time.perf_counter() - t) * 1e6
            runs, us = _us(pdf.interpret_content, content, fonts, forms)
            i_us += us
            _, us = _us(pdf.assemble_page, runs)
            a_us += us
        res.append(r_us)
        interp.append(i_us)
        asm.append(a_us)
    m["pdf.open_us"] = _mean(opens)
    m["pdf.page_resources_us"] = _mean(res)
    m["pdf.interpret_us"] = _mean(interp)
    m["pdf.assemble_us"] = _mean(asm)
    m["pdf.objects_parsed"] = _mean(objs)

    html_us, garbage_us, clean_us = [], [], []
    for i in pick(kinds["html"]):
        r, us = _us(html.extract_html, payloads[i])
        html_us.append(us)
        if r.text:
            garbage_us.append(_us(textnorm.is_garbage, r.text)[1])
    for i in pick(kinds["text"]):
        cleaned, us = _us(textnorm.clean_unicode, payloads[i])
        clean_us.append(us)
        if cleaned.strip():
            garbage_us.append(_us(textnorm.is_garbage, cleaned.strip())[1])
    m["html.extract_us"] = _mean(html_us)
    m["textnorm.is_garbage_us"] = _mean(garbage_us)
    m["textnorm.clean_unicode_us"] = _mean(clean_us)
    return m


def _mean(xs) -> float:
    return float(statistics.fmean(xs)) if xs else 0.0


def print_report(workload: str, metrics: dict, units: dict, cores: int) -> None:
    """One table per workload: every per-layer metric with the
    end-to-end metric it should move and where."""
    print(f"\n== per-layer report: {workload} ==")
    print(
        f"{'metric':40} {'value':>14} {'unit':8}  "
        "moves / where / predicted no change"
    )
    for name in sorted(metrics):
        key = name if name in LAYER_MAP else name.split(".")[0] + ".*"
        moves, where, still = LAYER_MAP.get(key, ("-", "-", "-"))
        print(
            f"{name:40} {metrics[name]:14.4f} {units[name]:8}  "
            f"{moves} / {where} / {still}"
        )
    noop = metrics.get("extract.noop_s", 0.0)
    sink = metrics.get("checkpoint.sink_s", 0.0)
    kernel = metrics.get("payload.kernel_cpu_s", 0.0) / cores
    total = noop + sink
    if total > 0 and kernel > 0:
        print(
            f"\nsplit of one committed run ({total:.3f} s = noop + sink): "
            f"kernel {kernel:.3f} s ({kernel / total:.1%}), "
            f"UDF/window outside the kernel {noop - kernel:.3f} s "
            f"({(noop - kernel) / total:.1%}), sink {sink:.3f} s "
            f"({sink / total:.1%})"
        )
    for kind, base in ROADMAP_US.items():
        v = metrics.get(f"payload.extract_us.{kind}", 0.0)
        if v > 0:
            print(
                f"extract_turn {kind:4}: {v:8.1f} us/turn vs ROADMAP {base:.0f} us "
                f"({v / base:.2f}x)"
            )

