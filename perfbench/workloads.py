"""The benchmark's workloads.

Each run is a closed loop: one driver thread submits one Spark job at a
time on ``local[cores]``. After set-up (Spark start, input generation,
load, and a warm-up through the same calls the timed phase makes) the
timed phase repeats one *pass* until ``--seconds`` have elapsed; the
run reports the median pass. Outputs are checked after timing.

The gated pass figure is the CPU seconds of the whole process tree, not
wall time: on a shared machine, wall time also counts the time the
machine gave to others. A change that only moves parallelism or task
skew (the same CPU, spread differently over the cores) is therefore not
gated; the traced run reports wall time (``workload.pass_s``,
``workload.turns_per_s``) beside it.

- ``mix_fresh``: the repo's 60/25/10/5 HTML/PDF/plain/adversarial
  transcript mix; one pass is a full ``run_with_resume`` into empty
  output and marker dirs. It runs every extraction kernel and the
  UDF, window exchange, partitioned sink and marker write.
- ``corpus_ops``: five ``functions`` operators over a generated corpus,
  each into a noop sink; one pass runs each operator once. No
  extraction runs here and ``mix_fresh`` calls no operator, so each
  workload is the other's "should not move" control.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import pyarrow.parquet as pq

from . import gate, gen, tracing

N_FILES = 8  # input parquet files (2 x the 4 local cores)
WARM_FILES = 2  # the warm-up slice: this many of the input files
MIX_BUCKETS = 8
CRASH_BUCKETS = MIX_BUCKETS // 2
RERUNS = 5  # warm no-op reruns timed by the traced run
# warm-up passes before timing; per-pass CPU keeps falling for the first
# few passes of a fresh JVM (JIT, Python worker start)
MIX_WARM_PASSES = 2  # the first one on the warm-up slice
CORPUS_WARM_PASSES = 2

# operators behind the ROADMAP's strategy switches (fingerprint, MinHash,
# SimHash) and its as-of-join regression, plus the per-user windows that
# the generated heavy user skews (sessionize, asof_join_salted). At this
# corpus size an operator's cost is mostly per-job overhead, and the
# MinHash dup graph (a few thousand edges) stays under
# DRIVER_CC_MAX_EDGES, so dedup_minhash_cc takes the driver union-find
# path: its localCheckpoint fixpoint loop is not measured here.
CORPUS_OPS = (
    "dedup_minhash_cc",
    "dedup_simhash_neardup",
    "doc_fingerprint",
    "asof_join_salted",
    "sessionize",
)


class Run:
    """State shared by the phases of one benchmark invocation."""

    def __init__(self, spark, work: str, seed: int, cores: int, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.cores = cores
        self.tracer = tracer
        self.layer: dict[str, float] = {}  # per-layer metrics
        self.figures: dict[str, float] = {}  # workload-level figures

    def timed(self, name: str, fn):
        """Run ``fn`` under a span; return (result, wall seconds)."""
        with self.tracer.span(name):
            t = time.perf_counter()
            r = fn()
            return r, time.perf_counter() - t

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def timed_loop(seconds: float, one_pass, min_passes: int = 1) -> list[float]:
    """Call ``one_pass(i)`` (which returns its own timed seconds) until
    ``seconds`` of wall time have passed and at least ``min_passes``
    passes ran."""
    times: list[float] = []
    end = time.perf_counter() + seconds
    while len(times) < min_passes or time.perf_counter() < end:
        times.append(one_pass(len(times)))
    return times


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(base, f))
            for f in files
            if f.endswith(".parquet")
        )
    return total


class MixFresh:
    """Fresh extraction runs over the mixed-payload transcripts."""

    def __init__(self, run: Run):
        self.run = run
        self.last_dirs: tuple[str, str] | None = None
        self.processed: list[int] = []
        self.resume_problems: list[str] = []

    def setup(self) -> None:
        from service1_text_extraction_spark.pipeline.extract import with_bucket

        r = self.run
        self.inp, r.layer["datagen.generate_s"] = r.timed(
            "pipeline.datagen", lambda: gen.mix_transcripts(r.seed)
        )

        def load():
            gen.write_parquet(self.inp, r.path("input"), N_FILES)
            df = r.spark.read.parquet(r.path("input"))
            df.count()
            return df

        self.df, r.layer["setup.load_s"] = r.timed("setup.load", load)
        warm = r.spark.read.parquet(
            *[r.path("input", f"part-{k:05d}.parquet") for k in range(WARM_FILES)]
        )
        # a cold pass on the slice, then passes on the whole input
        _, r.layer["setup.warmup_s"] = r.timed(
            "setup.warmup",
            lambda: [
                self.one_pass(f"warm{k}", warm if k == 0 else None)
                for k in range(MIX_WARM_PASSES)
            ],
        )
        self.processed.clear()
        self.present = (
            with_bucket(self.df, MIX_BUCKETS).select("bucket_id").distinct().count()
        )

    def fresh_dirs(self, tag) -> tuple[str, str]:
        """Empty output and marker dirs; the previous pass's are removed."""
        if self.last_dirs:
            for d in self.last_dirs:
                shutil.rmtree(d, ignore_errors=True)
        self.last_dirs = (self.run.path(f"out-{tag}"), self.run.path(f"markers-{tag}"))
        return self.last_dirs

    def one_pass(self, tag, df=None) -> float:
        """One fresh ``run_with_resume`` over ``df`` (default: the input)."""
        from service1_text_extraction_spark.pipeline.checkpoint import (
            run_with_resume,
        )

        r = self.run
        df = self.df if df is None else df
        out, mk = self.fresh_dirs(tag)
        stats, dt = r.timed(
            "pipeline.checkpoint.run_with_resume",
            lambda: run_with_resume(r.spark, df, out, mk, n_buckets=MIX_BUCKETS),
        )
        self.processed.append(stats["buckets_processed"])
        return dt

    def verify(self) -> list[str]:
        r = self.run
        out_dir = self.last_dirs[0]
        out = pq.read_table(out_dir).to_pandas()
        n = len(self.inp)
        r.figures["turns_per_s"] = n / r.figures["pass_s"]
        r.figures["failed_turn_frac"] = float((out["method"] == "failed").sum()) / n
        r.figures["sink_bytes_per_turn"] = _dir_bytes(out_dir) / n
        problems = gate.check_extraction(
            self.inp, out, gate.sample_positions(n, r.seed)
        )
        bad = [p for p in self.processed if p != self.present]
        if bad:
            problems.append(f"fresh runs processed {bad} of {self.present} buckets")
        return problems + self.resume_problems

    def trace_layers(self, fresh_s: float) -> None:
        """Traced-run extras: the noop extraction, a crash -> resume ->
        rerun sequence, the marker reads and the single-core kernels."""
        from service1_text_extraction_spark.pipeline.checkpoint import (
            compute_markers,
            filter_pending,
            read_markers,
            run_with_resume,
        )
        from service1_text_extraction_spark.pipeline.extract import (
            run_extraction,
            with_bucket,
        )

        r = self.run
        spark = r.spark
        L = r.layer
        L["checkpoint.fresh_s"] = fresh_s
        L["checkpoint.output_mb"] = _dir_bytes(self.last_dirs[0]) / tracing.MB

        with r.tracer.span("pipeline.extract.run_extraction") as sp:
            t = time.perf_counter()
            _noop(run_extraction(spark, self.df, n_buckets=MIX_BUCKETS))
            noop_s = time.perf_counter() - t
        stages = sp["stages"]
        udf = [s for s in stages if s["shuffle_write_mb"] > 0]
        win = [s for s in stages if s["shuffle_read_mb"] > 0]
        L["extract.noop_s"] = noop_s
        L["extract.udf_stage_run_s"] = tracing.stage_sum(udf, "run_s")
        L["extract.udf_stage_cpu_s"] = tracing.stage_sum(udf, "cpu_s")
        L["extract.window_shuffle_write_mb"] = tracing.stage_sum(
            udf, "shuffle_write_mb"
        )
        if win and win[0]["task_median_ms"] > 0:
            L["extract.window_task_max_over_median"] = (
                win[0]["task_max_ms"] / win[0]["task_median_ms"]
            )
        L["extract.spill_mb"] = tracing.stage_sum(stages, "spill_mb")
        L["checkpoint.sink_s"] = fresh_s - noop_s

        # crash after half the buckets, resume, then warm no-op reruns,
        # in dirs of their own (the last fresh output is still to be
        # gated); the gate checks this sequence too
        n = len(self.inp)
        out, mk = r.path("out-resume"), r.path("markers-resume")

        def job(limit=None):
            return run_with_resume(
                spark, self.df, out, mk, n_buckets=MIX_BUCKETS, fail_after_buckets=limit
            )

        crash, L["checkpoint.crash_s"] = r.timed(
            "pipeline.checkpoint.run_with_resume.crash", lambda: job(CRASH_BUCKETS)
        )
        resume, L["checkpoint.resume_s"] = r.timed(
            "pipeline.checkpoint.run_with_resume.resume", job
        )
        reruns = [
            r.timed("pipeline.checkpoint.run_with_resume.rerun", job)
            for _ in range(RERUNS)
        ]
        L["checkpoint.rerun_noop_s"] = statistics.median(dt for _, dt in reruns)
        markers = pq.read_table(mk).to_pandas()
        r.figures["redo_turn_frac"] = markers["n_turns"].sum() / n - 1.0
        done = [crash["buckets_processed"], resume["buckets_processed"]]
        self.resume_problems = gate.check_resume(
            n,
            self.present,
            CRASH_BUCKETS,
            [done + [s["buckets_processed"]] for s, _ in reruns],
            markers,
        )

        def pending_scan():
            bucketed = with_bucket(self.df, MIX_BUCKETS)
            _noop(filter_pending(bucketed, read_markers(spark, mk)))

        _, L["checkpoint.pending_scan_s"] = r.timed(
            "pipeline.checkpoint.filter_pending", pending_scan
        )
        _, L["checkpoint.compute_markers_s"] = r.timed(
            "pipeline.checkpoint.compute_markers",
            lambda: _noop(compute_markers(spark.read.parquet(out), "trace")),
        )

        with r.tracer.span("kernels"):
            L.update(tracing.kernel_layers(list(self.inp["text"]), r.seed))
        kernel_s = L["payload.kernel_cpu_s"] / r.cores
        L["extract.non_kernel_frac"] = 1.0 - kernel_s / noop_s


class CorpusOps:
    """``functions`` operators over a generated documents/events corpus."""

    def __init__(self, run: Run):
        self.run = run
        self.op_times: dict[str, list[float]] = {op: [] for op in CORPUS_OPS}
        self.op_shuffle: dict[str, float] = {}

    def setup(self) -> None:
        import __spark_entry__

        r = self.run
        self.queries = __spark_entry__.queries()
        self.tables, r.layer["datagen.generate_s"] = r.timed(
            "pipeline.datagen", lambda: gen.corpus_tables(r.seed)
        )

        def load():
            os.makedirs(r.path("corpus"))
            for name, df in self.tables.items():
                gen.write_table_file(df, r.path("corpus", f"{name}.parquet"))

        _, r.layer["setup.load_s"] = r.timed("setup.load", load)
        # operator cost at this corpus size is mostly per-job, so the
        # warm-up runs whole passes over the corpus itself
        _, r.layer["setup.warmup_s"] = r.timed(
            "setup.warmup",
            lambda: [self.one_pass(-1 - k) for k in range(CORPUS_WARM_PASSES)],
        )
        for times in self.op_times.values():
            times.clear()

    def one_pass(self, i) -> float:
        r = self.run
        total = 0.0
        for op in CORPUS_OPS:
            with r.tracer.span(f"functions.{op}") as sp:
                t = time.perf_counter()
                _noop(self.queries[op](r.spark, r.path("corpus")))
                dt = time.perf_counter() - t
            self.op_times[op].append(dt)
            if sp is not None:
                self.op_shuffle[op] = tracing.stage_sum(
                    sp["stages"], "shuffle_write_mb"
                )
            total += dt
        return total

    def verify(self) -> list[str]:
        """Each operator's result digest must equal its DuckDB oracle's."""
        import duckdb

        import __spark_entry__

        r = self.run
        r.figures["ops_s"] = r.figures["pass_s"]
        oracles = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        failed = []
        try:
            for name in self.tables:
                path = r.path("corpus", f"{name}.parquet")
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
            for op in CORPUS_OPS:
                sdf = self.queries[op](r.spark, r.path("corpus"))
                got = gate.digest([tuple(x) for x in sdf.collect()], sdf.columns)
                res = con.execute(oracles[op])
                want = gate.digest(res.fetchall(), [d[0] for d in res.description])
                if got != want:
                    failed.append(f"{op}: spark {got[:24]} != duckdb {want[:24]}")
        finally:
            con.close()
        r.figures["failed_op_frac"] = len(failed) / len(CORPUS_OPS)
        return failed

    def trace_layers(self, traced_pass_s: float) -> None:
        for op in CORPUS_OPS:
            self.run.layer[f"functions.{op}_s"] = statistics.median(self.op_times[op])
            self.run.layer[f"functions.{op}_shuffle_mb"] = self.op_shuffle.get(op, 0.0)


WORKLOADS = {"mix_fresh": MixFresh, "corpus_ops": CorpusOps}
