"""The four workloads: one pass each, its output check, and its traced pass.

Every workload drives only the library's public functions over the staged
inputs.  ``run_pass`` is the measured pass (tracing off).  ``traced_pass``
runs the same pass inside spans, plus *probe* actions — cumulative prefixes
of the pass ending in a ``noop`` sink — whose wall differences give each
lazy layer's self time.  Probe walls are left out of the traced pass wall.
"""

from __future__ import annotations

import glob
import os
import statistics
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

import checks
from eventlog import TraceView, union_length
from stage import INCREMENTAL_SINKS as SINKS, N_BUCKETS_INCREMENTAL

ROUTES = [
    {"match": {"text": "^ERROR "}, "forward": ["errors"]},
    {"match": {"text": "^<"}, "forward": ["syslog"]},
    {"match": {"text": "^DEBUG "}, "drop": True},
    {"forward": ["archive"]},
]
MIX = {"en": 0.8, "de": 0.6, "fr": 0.6}
NEAR_DUP_THRESHOLD = 0.5


def noop(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def file_bytes(pattern: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files matching a recursive glob."""
    files = glob.glob(pattern, recursive=True)
    return len(files), sum(os.path.getsize(f) for f in files)


def pattern_spec(patterns) -> list[tuple[str, str, list[str]]]:
    return [(p.name, p.pattern, sorted(g for g, t in p.casts.items() if t == "int"))
            for p in patterns]


def pinned_mb(spark) -> float:
    """Storage memory held by cached / checkpointed blocks right now."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() for i in infos) / 1e6


class Workload:
    name = ""
    # per-layer metrics that are self times: with pass.unattributed_s they
    # add up to the traced pass wall
    SELF: tuple[str, ...] = ()
    # untimed passes at the end of set-up.  One cold pass (JIT, code
    # generation, Python workers) takes 3-4x a warm one; the next is still
    # ~10 % slow, and would be the tail pass of most runs
    WARMUP_PASSES = 2
    # pass ids that check_final found wrong, for checks that can tell passes
    # apart; None means its verdict holds for every pass
    failed_passes: set[int] | None = None

    def __init__(self, spark, manifest: dict, work: str, tracer, client_threads: int):
        self.spark = spark
        self.man = manifest
        self.work = work
        self.tracer = tracer
        self.threads = client_threads
        self.out_bytes = 0

    def run_pass(self, pass_id: int) -> int:
        raise NotImplementedError

    def check_pass(self, pass_id: int) -> list[str]:
        return []

    def check_final(self) -> list[str]:
        return []

    def traced_pass(self, pass_id: int) -> None:
        raise NotImplementedError

    def layer_metrics(self, view: TraceView, pass_id: int) -> dict[str, float]:
        raise NotImplementedError

    def exhausted(self) -> bool:
        return False

    def bytes_per_row(self, pass_ids: set[int]) -> float:
        """Output bytes per input row of one pass."""
        return self.out_bytes / self.rows

    def span(self, name: str, pass_id: int, probe: bool = False, parent: str | None = None):
        return self.tracer.span(name, pass_id, probe=probe, parent=parent)

    def _sinks_concurrently(self, sinks: dict, pass_id: int, action=noop) -> dict:
        """Run ``action`` (a noop write by default) on each sink frame, at
        most ``client_threads`` at once; returns its results by sink."""
        parent = self.tracer.current()

        def one(name, df):
            with self.span(f"sink.{name}", pass_id, parent=parent):
                return action(df)

        with ThreadPoolExecutor(max_workers=min(self.threads, len(sinks))) as ex:
            futures = {name: ex.submit(one, name, df) for name, df in sinks.items()}
            return {name: f.result() for name, f in futures.items()}


# -- transcripts: ship_batch and parse_heavy -------------------------------------------
class _Transcripts(Workload):
    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.path = self.man["files"]["transcripts"]
        self.glob = os.path.join(self.path, "*.parquet")
        self.rows = self.man["input_rows"]

    def _table(self):
        return self.spark.read.parquet(self.path)

    def _aggregate_sinks(self, t, parsed) -> dict:
        from logshipper_spark.operators import aggregate as agg

        return {
            "turns_per_role": agg.turns_per_role(t),
            "tool_invocations": agg.tool_invocations(t),
            "events_per_minute": agg.events_per_minute(t),
            "timer_percentiles": agg.timer_percentiles(parsed, "duration_ms", "level", approx=True),
        }

    def _collect_aggregates(self, sinks: dict) -> tuple[dict, int]:
        """Sink values for the check, and their Arrow size in bytes.  The
        sinks are collected concurrently, as the passes run them."""
        if "events_per_minute" in sinks:
            sinks = dict(sinks, events_per_minute=sinks["events_per_minute"].select(
                F.unix_timestamp("minute").alias("minute"), "n_events"))
        tables = self._sinks_concurrently(sinks, -1, action=lambda df: df.toArrow())
        got = {name: [tuple(r.values()) for r in tbl.to_pylist()] for name, tbl in tables.items()}
        return got, sum(tbl.nbytes for tbl in tables.values())


class ShipBatch(_Transcripts):
    """scan → grok_native (4 patterns) → enrich ×2 → compiled routing →
    fan-out parquet write; then 4 aggregate sinks as concurrent noop writes."""

    name = "ship_batch"
    SELF = ("scan.wall_s", "parse.wall_s", "enrich.wall_s", "route.wall_s", "route.plan_s",
            "fanout_write.wall_s", "aggregate.wall_s")

    def __init__(self, *a, **kw):
        from logshipper_spark.operators.parse import TRANSCRIPT_PATTERNS

        super().__init__(*a, **kw)
        self.out = os.path.join(self.work, "out")
        self.patterns = pattern_spec(TRANSCRIPT_PATTERNS)
        # same sizing rule as the repository's bench.run_e2e
        self.n_buckets = max(4, min(64, self.rows // 25_000))
        self._ref = None
        self.match_ratio: float | None = None

    def _plan(self):
        from logshipper_spark.operators.enrich import enrich
        from logshipper_spark.operators.parse import grok_native
        from logshipper_spark.plans.spec import compile_pipeline
        from logshipper_spark.sources.transcripts import role_dim, tool_dim

        t = self._table()
        parsed = grok_native(t)
        enriched = enrich(enrich(parsed, role_dim(self.spark), on="role"),
                          tool_dim(self.spark), on="tool")
        routed = compile_pipeline(ROUTES).routed(enriched)
        return t, parsed, enriched, routed

    def _write(self, routed) -> None:
        from logshipper_spark.operators.route import write_fanout_explode

        write_fanout_explode(routed, self.out, n_buckets=self.n_buckets)

    def run_pass(self, pass_id: int) -> int:
        t, parsed, _enriched, routed = self._plan()
        self._write(routed)
        self._sinks_concurrently(self._aggregate_sinks(t, parsed), pass_id)
        return self.rows

    def check_pass(self, pass_id: int) -> list[str]:
        con = checks.connect()
        if self._ref is None:
            self._ref = checks.routed_parse_reference(con, self.glob, ROUTES, self.patterns)
        got = checks.written_digest(con, os.path.join(self.out, "sink=*/**/*.parquet"),
                                    self.patterns)
        self.out_bytes = file_bytes(os.path.join(self.out, "**/*.parquet"))[1]
        self.routed_rows = sum(v[0] for v in got.values())
        return checks.compare("routed", got, self._ref)

    def check_final(self) -> list[str]:
        t, parsed, _e, _r = self._plan()
        got, _ = self._collect_aggregates(self._aggregate_sinks(t, parsed))
        return checks.check_aggregates(checks.connect(), self.glob, self.patterns, got)

    def traced_pass(self, pass_id: int) -> None:
        from logshipper_spark.operators.parse import big_pattern_pack, grok_native, grok_pandas

        self.pack32 = big_pattern_pack(28)
        t, parsed, enriched, routed = self._plan()
        with self.span("pass", pass_id):
            with self.span("scan", pass_id, probe=True):
                noop(t)
            with self.span("parse", pass_id, probe=True):
                noop(parsed)
            with self.span("enrich", pass_id, probe=True):
                noop(enriched)
            with self.span("route", pass_id, probe=True):
                noop(routed)
            # the parse strategies on the 32-pattern pack (ROADMAP E's
            # question), as scan+parse prefixes like the probes above
            with self.span("native32", pass_id, probe=True):
                noop(grok_native(t, patterns=self.pack32))
            with self.span("pandas32", pass_id, probe=True):
                noop(grok_pandas(t, patterns=self.pack32))
            with self.span("plan", pass_id):
                t, parsed, _enriched, routed = self._plan()
            with self.span("fanout_write", pass_id):
                self._write(routed)
            with self.span("aggregate", pass_id):
                self._sinks_concurrently(self._aggregate_sinks(t, parsed), pass_id)
            self.pins = pinned_mb(self.spark)
        self.out_files = file_bytes(os.path.join(self.out, "**/*.parquet"))[0]
        if self.match_ratio is None:
            from logshipper_spark.operators.parse import grok_native

            matched = grok_native(self._table()).where(F.col("pattern_name").isNotNull()).count()
            self.match_ratio = matched / self.rows

    def layer_metrics(self, v: TraceView, p: int) -> dict[str, float]:
        scan, parse, enrich_, route = (v.one(p, n) for n in ("scan", "parse", "enrich", "route"))
        plan, write, aggs = (v.one(p, n) for n in ("plan", "fanout_write", "aggregate"))
        ws, wst = write.wall - route.wall, v.stat(write)
        ags = v.stat(aggs)
        native, pandas = v.one(p, "native32"), v.one(p, "pandas32")
        return {
            "parse.native32_wall_s": native.wall - scan.wall,
            "parse.pandas32_wall_s": pandas.wall - scan.wall,
            "scan.wall_s": scan.wall,
            "scan.input_mb": v.stat(scan).in_mb,
            "parse.wall_s": parse.wall - scan.wall,
            "parse.cpu_s": (v.stat(parse).cpu_s + parse.py_cpu_s)
                           - (v.stat(scan).cpu_s + scan.py_cpu_s),
            "parse.match_ratio": self.match_ratio,
            "enrich.wall_s": enrich_.wall - parse.wall,
            "route.wall_s": route.wall - enrich_.wall,
            "route.plan_s": plan.wall,
            "route.fanout_ratio": self.routed_rows / self.rows,
            "fanout_write.wall_s": ws,
            "fanout_write.cpu_s": (wst.cpu_s + write.py_cpu_s)
                                  - (v.stat(route).cpu_s + route.py_cpu_s),
            "fanout_write.gc_s": wst.gc_s,
            "fanout_write.shuffle_write_mb": wst.shuffle_write_mb,
            "fanout_write.spill_mb": wst.spill_mb,
            "fanout_write.out_mb": wst.out_mb,
            "fanout_write.files": self.out_files,
            "fanout_write.task_skew": wst.task_skew,
            "aggregate.wall_s": aggs.wall,
            "aggregate.cpu_s": ags.cpu_s + aggs.py_cpu_s,
            "aggregate.shuffle_write_mb": ags.shuffle_write_mb,
            "pin.mb": self.pins,
        }


class ParseHeavy(_Transcripts):
    """scan → grok_pandas with the 32-pattern pack → 4 aggregate sinks and a
    per-pattern counter, all as concurrent noop writes; no files written."""

    name = "parse_heavy"
    SELF = ("scan.wall_s", "parse.wall_s", "aggregate.wall_s")

    def __init__(self, *a, **kw):
        from logshipper_spark.operators.parse import big_pattern_pack

        super().__init__(*a, **kw)
        self.pack = big_pattern_pack(28)
        self.patterns = pattern_spec(self.pack)
        self.int_fields = sorted({g for _, _, gs in self.patterns for g in gs})

    def _sinks(self):
        from logshipper_spark.operators.parse import grok_pandas

        t = self._table()
        parsed = grok_pandas(t, patterns=self.pack)
        sinks = self._aggregate_sinks(t, parsed)
        sinks["pattern_counts"] = parsed.groupBy("pattern_name").agg(
            F.count(F.lit(1)).alias("n"),
            *[F.sum(F.col(g).cast("long")).alias(f"sum_{g}") for g in self.int_fields])
        return t, parsed, sinks

    def run_pass(self, pass_id: int) -> int:
        self._sinks_concurrently(self._sinks()[2], pass_id)
        return self.rows

    def check_final(self) -> list[str]:
        con = checks.connect()
        got, self.out_bytes = self._collect_aggregates(self._sinks()[2])
        counts = {(r[0],): tuple(int(x) if x is not None else None for x in r[1:])
                  for r in got.pop("pattern_counts")}
        self.match_ratio = 1 - counts.get((None,), (0,))[0] / self.rows
        return (checks.check_parse_counts(con, self.glob, self.patterns, counts)
                + checks.check_aggregates(con, self.glob, self.patterns, got))

    def traced_pass(self, pass_id: int) -> None:
        from logshipper_spark.operators.parse import grok_native

        t, parsed, _ = self._sinks()
        with self.span("pass", pass_id):
            with self.span("scan", pass_id, probe=True):
                noop(t)
            with self.span("native32", pass_id, probe=True):
                noop(grok_native(t, patterns=self.pack))
            with self.span("parse", pass_id, probe=True):
                noop(parsed)
            with self.span("aggregate", pass_id):
                self._sinks_concurrently(self._sinks()[2], pass_id)
            self.pins = pinned_mb(self.spark)

    def layer_metrics(self, v: TraceView, p: int) -> dict[str, float]:
        scan, native, parse = v.one(p, "scan"), v.one(p, "native32"), v.one(p, "parse")
        aggs = v.one(p, "aggregate")
        ags = v.stat(aggs)
        return {
            "scan.wall_s": scan.wall,
            "scan.input_mb": v.stat(scan).in_mb,
            "parse.wall_s": parse.wall - scan.wall,
            "parse.cpu_s": (v.stat(parse).cpu_s + parse.py_cpu_s)
                           - (v.stat(scan).cpu_s + scan.py_cpu_s),
            "parse.match_ratio": self.match_ratio,
            "parse.native32_wall_s": native.wall - scan.wall,
            "parse.pandas32_wall_s": parse.wall - scan.wall,
            # the sinks re-run scan and parse: their self time is what the
            # sink phase (plan building included) adds on top of the
            # scan+parse prefix
            "aggregate.wall_s": aggs.wall - parse.wall,
            "aggregate.cpu_s": ags.cpu_s + aggs.py_cpu_s
                               - (v.stat(parse).cpu_s + parse.py_cpu_s),
            "aggregate.shuffle_write_mb": ags.shuffle_write_mb,
            "pin.mb": self.pins,
        }


# -- ship_incremental --------------------------------------------------------------------
class ShipIncremental(Workload):
    """Append one delta file, then ``CheckpointedRunner.run_incremental``
    with the routing pipeline and its 3 sinks.  The checkpoint starts with
    the staged history of committed deltas; state and output persist across
    passes, as for a long-running job."""

    name = "ship_incremental"
    SELF = ("scan.wall_s", "route.wall_s", "route.plan_s", "runner.wall_s")
    # one, so that the second timed delta compacts _lineage (stage.HISTORY_DELTAS)
    WARMUP_PASSES = 1

    def __init__(self, *a, **kw):
        from logshipper_spark.plans.runner import CheckpointedRunner

        super().__init__(*a, **kw)
        self.pending = list(self.man["files"]["deltas"])
        self.rows_of = dict(zip(self.pending, self.man["delta_rows"]))
        files = self.man["files"]
        self.table, self.ckpt, self.out = files["table"], files["ckpt"], files["sinks"]
        self.done: list[tuple[int, str, str, dict]] = []   # pass, snapshot, file, written
        self.delta_rows: dict[int, int] = {}
        self.state_kb: dict[int, float] = {}
        # 8 buckets, not the runner's default 64: on a 4,000-row delta, 64
        # buckets write ~190 files of ~20 rows, a pass takes 8-14 s instead
        # of 3-6 s, and the runs no longer fit the regression check's time
        # budget (README.md, "Why 8 buckets")
        self.runner = CheckpointedRunner(self.spark, self.ckpt, n_buckets=N_BUCKETS_INCREMENTAL)

    def exhausted(self) -> bool:
        return not self.pending

    def _append(self) -> tuple[str, int]:
        src = self.pending.pop(0)
        dst = os.path.join(self.table, os.path.basename(src))
        os.replace(src, dst)
        return dst, self.rows_of[src]

    def _deliver(self, pass_id: int, path: str) -> None:
        from logshipper_spark.plans.spec import compile_pipeline

        with self.span("plan", pass_id):
            pipe = compile_pipeline(ROUTES)
        with self.span("runner", pass_id):
            rep = self.runner.run_incremental(self.table, pipe, SINKS, self.out)
        self.done.append((pass_id, rep.snapshot_id, path, dict(rep.written)))

    def run_pass(self, pass_id: int) -> int:
        path, rows = self._append()
        self._deliver(pass_id, path)
        self.delta_rows[pass_id] = rows
        return rows

    def bytes_per_row(self, pass_ids: set[int]) -> float:
        rows = sum(self.delta_rows[p] for p in pass_ids if p in self.delta_rows)
        return self.delta_bytes(pass_ids)[1] / max(rows, 1)

    def check_final(self) -> list[str]:
        con = checks.connect()
        per = checks.check_incremental(con, self.out, [(s, f, w) for _, s, f, w in self.done],
                                       ROUTES, SINKS)
        self.failed_passes = {self.done[i][0] for i, e in enumerate(per[:len(self.done)]) if e}
        return [e for errs in per for e in errs]

    def delta_bytes(self, pass_ids: set[int]) -> tuple[int, int]:
        """(files, bytes) the runner wrote for the deltas of ``pass_ids``."""
        files = nbytes = 0
        for p, snap, _f, _w in self.done:
            if p in pass_ids:
                n, b = file_bytes(os.path.join(self.out, f"sink=*/ingest={snap}/**/*.parquet"))
                files, nbytes = files + n, nbytes + b
        return files, nbytes

    def traced_pass(self, pass_id: int) -> None:
        from logshipper_spark.plans.spec import compile_pipeline

        delta = self.spark.read.parquet(self.pending[0])
        routed = compile_pipeline(ROUTES).apply(delta)
        with self.span("pass", pass_id):
            with self.span("scan", pass_id, probe=True):
                noop(delta)
            with self.span("route", pass_id, probe=True):
                noop(routed)
            path, rows = self._append()
            self._deliver(pass_id, path)
            self.pins = pinned_mb(self.spark)
        self.delta_rows[pass_id] = rows
        self.state_kb[pass_id] = os.path.getsize(os.path.join(self.ckpt, "state.json")) / 1024.0

    def layer_metrics(self, v: TraceView, p: int) -> dict[str, float]:
        scan, route, plan, runner = (v.one(p, n) for n in ("scan", "route", "plan", "runner"))
        rst = v.stat(runner)
        files, _ = self.delta_bytes({p})
        written = next(w for q, _s, _f, w in self.done if q == p)
        return {
            "scan.wall_s": scan.wall,
            "scan.input_mb": v.stat(scan).in_mb,
            "route.wall_s": route.wall - scan.wall,
            "route.plan_s": plan.wall,
            "route.fanout_ratio": sum(written.values()) / self.delta_rows[p],
            # the runner re-scans and re-routes the delta inside its jobs
            "runner.wall_s": runner.wall - route.wall,
            "runner.spark_s": rst.job_s,
            "runner.driver_s": runner.wall - union_length(rst.job_intervals),
            "runner.jobs_per_delta": rst.jobs,
            "runner.files_per_delta": files,
            "runner.lineage_s": rst.lineage_s,
            "runner.state_kb": self.state_kb[p],
            "pin.mb": self.pins,
        }


# -- curate_corpus ------------------------------------------------------------------------
class CurateCorpus(Workload):
    """english_score + approxQuantile cutoff → dedup_exact →
    minhash_dedup_pairs (drop the higher id of each pair) →
    contamination_check against the bench slice → stratified_sample, noop."""

    name = "curate_corpus"
    SELF = ("score.wall_s", "dedup_exact.wall_s", "minhash_sig.wall_s", "lsh_candidates.wall_s",
            "jaccard_verify.wall_s", "decontam.wall_s", "mix.wall_s")

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.train_path = self.man["files"]["train"]
        self.bench_path = self.man["files"]["bench"]
        self.rows = self.man["input_rows"]
        self.counts: dict[int, dict[str, int]] = {}
        self.deduped: dict | None = None        # the reference, built by the first check

    def _score(self):
        from logshipper_spark.functions import textstats

        train = self.spark.read.parquet(self.train_path)
        scored = train.withColumn(
            "q_score", textstats.english_score(F.col("text")).cast("double")).localCheckpoint()
        cutoff = scored.stat.approxQuantile("q_score", [0.5], 0.0)[0]
        return scored.where(F.col("q_score") >= cutoff)

    def _dedup(self, kept):
        from logshipper_spark.functions import dedup

        return dedup.dedup_exact(kept).localCheckpoint()

    def _pairs(self, deduped):
        from logshipper_spark.functions import dedup

        return dedup.minhash_dedup_pairs(deduped, threshold=NEAR_DUP_THRESHOLD)

    def _survivors(self, deduped, pairs):
        drop = pairs.select(F.col("id_b").alias("doc_id"))
        return deduped.join(drop, "doc_id", "left_anti")

    def _hits(self, survivors):
        from logshipper_spark.functions import textstats

        bench = self.spark.read.parquet(self.bench_path)
        return textstats.contamination_check(survivors, bench, n=5).select("doc_id")

    def _mix(self, survivors, hits):
        from logshipper_spark.functions import textstats

        clean = survivors.join(hits, "doc_id", "left_anti")
        return textstats.stratified_sample(clean, "lang", MIX).select("doc_id", "lang", "q_score")

    def _frames(self):
        deduped = self._dedup(self._score())
        pairs = self._pairs(deduped)
        survivors = self._survivors(deduped, pairs)
        return deduped, pairs, self._mix(survivors, self._hits(survivors))

    def run_pass(self, pass_id: int) -> int:
        # the pass's frames stay referenced until the next pass, so its
        # check re-reads the pins instead of recomputing the whole chain
        self.last = self._frames()
        noop(self.last[2])
        return self.rows

    def _reference(self) -> None:
        import json

        con = checks.connect()
        self.deduped = checks.curation_deduped(con, os.path.join(self.train_path, "*.parquet"))
        with open(self.man["files"]["truth"]) as f:
            self.truth = json.load(f)
        self.bench = [r[0] for r in con.execute(
            f"SELECT text FROM read_parquet('{self.bench_path}/*.parquet')").fetchall()]
        self.expected: dict[tuple, dict] = {}   # reported pairs -> expected mix

    def check_pass(self, pass_id: int) -> list[str]:
        """The near-duplicate pairs and the curated mix of this pass."""
        if self.deduped is None:
            self._reference()
        _deduped, pairs_df, out_df = self.last
        tables = self._sinks_concurrently({"pairs": pairs_df, "out": out_df}, -1,
                                          action=lambda df: df.toArrow())
        pairs = sorted((int(r["id_a"]), int(r["id_b"]), float(r["jaccard"]))
                       for r in tables["pairs"].to_pylist())
        tbl = tables["out"]
        self.out_bytes = tbl.nbytes
        got = [(r["doc_id"], r["lang"], r["q_score"]) for r in tbl.to_pylist()]
        errs = checks.check_pairs(self.deduped, pairs, self.truth, NEAR_DUP_THRESHOLD)
        key = tuple(pairs)
        if key not in self.expected:
            self.expected[key] = checks.curation_expected(self.deduped, pairs, self.bench, MIX)[0]
        return errs + checks.check_curated(got, self.expected[key])

    def traced_pass(self, pass_id: int) -> None:
        from logshipper_spark.functions import dedup

        c = {}
        with self.span("pass", pass_id):
            with self.span("score", pass_id):
                kept = self._score()
            with self.span("dedup_exact", pass_id):
                deduped = self._dedup(kept)
            with self.span("minhash_sig", pass_id, probe=True):
                noop(dedup.minhash_signatures_pandas(deduped))
            with self.span("lsh_candidates", pass_id, probe=True):
                cands = dedup.minhash_candidates(deduped)
                noop(cands)
            with self.span("minhash", pass_id):
                pairs = self._pairs(deduped)
            with self.span("verify", pass_id, probe=True):
                noop(pairs)
            survivors = self._survivors(deduped, pairs)
            hits = self._hits(survivors)
            with self.span("decontam", pass_id, probe=True):
                noop(hits)
            with self.span("final", pass_id):
                out = self._mix(survivors, hits)
                noop(out)
            self.pins = pinned_mb(self.spark)
        self.last = (deduped, pairs, out)
        c["candidates"] = cands.count()
        c["pairs"] = pairs.count()
        c["survivors"] = survivors.count()
        c["hits"] = hits.count()
        self.counts[pass_id] = c

    def layer_metrics(self, v: TraceView, p: int) -> dict[str, float]:
        names = ("score", "dedup_exact", "minhash_sig", "lsh_candidates", "minhash", "verify",
                 "decontam", "final")
        score, dd, sig, cand, mh, ver, dec, fin = (v.one(p, n) for n in names)
        c = self.counts[p]
        return {
            "score.wall_s": score.wall,
            "dedup_exact.wall_s": dd.wall,
            "minhash_sig.wall_s": sig.wall,
            "minhash_sig.cpu_s": v.stat(sig).cpu_s + sig.py_cpu_s,
            "lsh_candidates.wall_s": cand.wall - sig.wall,
            "lsh_candidates.pairs": c["candidates"],
            "jaccard_verify.wall_s": mh.wall - cand.wall + ver.wall,
            "jaccard_verify.useful_ratio": c["pairs"] / max(c["candidates"], 1),
            "decontam.wall_s": dec.wall - ver.wall,
            "decontam.hit_ratio": c["hits"] / max(c["survivors"], 1),
            "mix.wall_s": fin.wall - dec.wall,
            "pin.mb": self.pins,
        }


WORKLOADS = {w.name: w for w in (ShipBatch, ParseHeavy, ShipIncremental, CurateCorpus)}


def median_metrics(per_pass: list[dict[str, float]]) -> dict[str, float]:
    keys = sorted({k for m in per_pass for k in m})
    return {k: statistics.median(m[k] for m in per_pass if k in m) for k in keys}
