"""Benchmark entry point.

    python3 perfbench/run.py --workload ship_batch --seed 1 --seconds 20 --trace 0

Run from the root of a checkout.  One run:

1. stages the workload's inputs from ``--seed`` in a separate process
   (``stage.py``), under ``.perfbench_work/`` in the checkout, while the
   JVM launches;
2. starts a Spark session (``local[nproc]``, shuffle partitions = nproc),
   prepares the workload and runs its warm-up passes; staging
   plus these steps is the set-up time ``setup_s``;
3. runs passes back to back (closed loop, one client) until ``--seconds``
   of pass wall time are measured and at least ``MIN_PASSES`` ran
   (``MIN_TRACED_PASSES`` traced passes with ``--trace 1``);
4. checks the outputs against independent references (``checks.py``)
   outside the timed regions;
5. prints a summary, writes the full record to ``.perfbench_results/``,
   and prints one JSON object as the last line of standard output.

With ``--trace 1`` the run enables Spark's event log, wraps every call into
the library in spans (``eventlog.py``) and reports per-layer metrics
instead of the end-to-end ones.  Exits non-zero without a result when the
library is missing or a step fails outside a pass.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

MIN_PASSES = 5
# traced passes of a --trace 1 run: per-layer metrics have no bound, and a
# traced pass (probes plus the pass, next to an untraced one) costs 2-3x a pass
MIN_TRACED_PASSES = 2
MAX_PASSES = 200
DRIVER_MEMORY = "2g"
# C1 compilation only, compiling after a tenth of the usual invocation
# counts (with room in the code cache for that), on a heap that starts at
# its maximum size.  With the default tiered C2 and a growing heap the JVM
# keeps speeding up for ten passes and more (ship_batch pass walls
# 5.3 -> 2.9 s over 12 passes), so a pass's wall depends on how many passes
# ran before it; with these options the passes after the warm-up ones are
# flat (README.md, "JIT").  -Xms commits the heap but touches no page, so
# the memory metric is not pinned by it (nothing is pre-touched)
JVM_OPTIONS = ("-XX:TieredStopAtLevel=1 -XX:CompileThresholdScaling=0.1 "
               "-XX:ReservedCodeCacheSize=256m -Xms" + DRIVER_MEMORY)
TAIL_PERCENTILE = 90
# the traced run of a gated workload also traces these workloads, so that
# every layer has per-layer numbers although only two workloads are gated
# (README.md, "Run budget")
COMPANIONS = {"ship_batch": ["ship_incremental"]}

E2E_METRICS = [
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("pass_s_p50", "s"),
    ("pass_s_tail", "s"),
    ("ok_ratio", "ratio"),
    ("peak_rss_mb", "MB"),
    ("out_bytes_per_row", "B/row"),
]

LAYER_METRICS = [
    ("scan.wall_s", "s"), ("scan.input_mb", "MB"),
    ("parse.wall_s", "s"), ("parse.cpu_s", "s"), ("parse.match_ratio", "ratio"),
    ("parse.native32_wall_s", "s"), ("parse.pandas32_wall_s", "s"),
    ("enrich.wall_s", "s"),
    ("route.wall_s", "s"), ("route.plan_s", "s"), ("route.fanout_ratio", "ratio"),
    ("fanout_write.wall_s", "s"), ("fanout_write.cpu_s", "s"), ("fanout_write.gc_s", "s"),
    ("fanout_write.shuffle_write_mb", "MB"), ("fanout_write.spill_mb", "MB"),
    ("fanout_write.out_mb", "MB"), ("fanout_write.files", "count"),
    ("fanout_write.task_skew", "ratio"),
    ("aggregate.wall_s", "s"), ("aggregate.cpu_s", "s"), ("aggregate.shuffle_write_mb", "MB"),
    ("runner.wall_s", "s"), ("runner.spark_s", "s"), ("runner.driver_s", "s"),
    ("runner.jobs_per_delta", "count"), ("runner.files_per_delta", "count"),
    ("runner.lineage_s", "s"), ("runner.state_kb", "KB"),
    ("score.wall_s", "s"), ("decontam.wall_s", "s"), ("decontam.hit_ratio", "ratio"),
    ("mix.wall_s", "s"),
    ("dedup_exact.wall_s", "s"), ("minhash_sig.wall_s", "s"), ("minhash_sig.cpu_s", "s"),
    ("lsh_candidates.wall_s", "s"), ("lsh_candidates.pairs", "count"),
    ("jaccard_verify.wall_s", "s"), ("jaccard_verify.useful_ratio", "ratio"),
    ("pin.mb", "MB"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.cpu_s", "s"), ("spark.gc_s", "s"),
    ("pass.wall_s", "s"), ("pass.unattributed_s", "s"),
    ("trace.overhead_ratio", "ratio"), ("host.steal_pct", "%"),
]


def tail(walls: list[float]) -> tuple[float, float]:
    """(value, percentile): the ``TAIL_PERCENTILE``-th percentile of the
    pass walls, interpolated between the closest ranks."""
    if len(walls) == 1:
        return walls[0], float(TAIL_PERCENTILE)
    cuts = statistics.quantiles(walls, n=100, method="inclusive")
    return cuts[TAIL_PERCENTILE - 1], float(TAIL_PERCENTILE)


def session_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp "
                                         f"-Dderby.system.home={work}/derby {JVM_OPTIONS}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false"})
    return conf


def stop_jvm(spark) -> None:
    """Stop the session, then the py4j gateway JVM, and wait for every
    process this run started to end."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # the gateway may already be gone; the wait below decides
            traceback.print_exc()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait(timeout=10)
    import hostinfo

    deadline = time.time() + 20
    while True:
        left = hostinfo.descendants(os.getpid())
        if not left:
            return
        if time.time() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except OSError:
                    pass
            deadline = time.time() + 5
        time.sleep(0.2)


def run(args, work: str) -> dict:
    import hostinfo
    from eventlog import TraceView, Tracer, merge, span_stats
    from workloads import WORKLOADS, median_metrics

    nproc = hostinfo.cores()
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # the JVM and the Python workers inherit these: all scratch stays in the checkout
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    companions = COMPANIONS.get(args.workload, []) if args.trace else []
    t_setup = time.perf_counter()
    # staging runs in its own processes, concurrently with the JVM launch
    staging = {name: subprocess.Popen(
        [sys.executable, os.path.join(HERE, "stage.py"), "--workload", name,
         "--seed", str(args.seed), "--out", os.path.join(work, "input", name)],
        stdout=subprocess.DEVNULL) for name in [args.workload, *companions]}

    from logshipper_spark.session import get_spark

    conf = session_conf(work, bool(args.trace))
    spark = None
    try:
        spark = get_spark(app_name=f"perfbench_{args.workload}", cores=nproc,
                          shuffle_partitions=nproc, extra_conf=conf)
        session_s = time.perf_counter() - t_setup
        manifests = {}
        for name, proc in staging.items():
            if proc.wait(timeout=120) != 0:
                raise RuntimeError(f"staging {name} failed with exit code {proc.returncode}")
            with open(os.path.join(work, "input", name, "manifest.json")) as f:
                manifests[name] = json.load(f)
        manifest = manifests[args.workload]
        rec: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                     "seconds": args.seconds, "commit": hostinfo.git_commit(ROOT),
                     "src_sha": hostinfo.source_sha(ROOT), "versions": hostinfo.versions(),
                     "cores": nproc, "master": f"local[{nproc}]", "shuffle_partitions": nproc,
                     "client_threads": nproc, "session_conf": conf,
                     "input": {k: manifest.get(k)
                               for k in ("input_rows", "input_bytes", "planted")},
                     "stage_s": manifest["stage_s"], "companions": companions}
        with hostinfo.MemorySampler(spark) as mem:
            tracer = Tracer(spark, enabled=False)
            wl = WORKLOADS[args.workload](spark, manifest, work, tracer, nproc)
            # a traced run warms up with one traced pass, so that its probes
            # (plans no untraced pass runs) are warm too; one, because a
            # traced pass costs 2-3x a pass and per-layer metrics have no bound
            warm = wl.traced_pass if args.trace else wl.run_pass
            n_warm = 1 if args.trace else wl.WARMUP_PASSES
            warmups = [hostinfo.timed(lambda: warm(-1 - k))[0] for k in range(n_warm)]
            setup_s = time.perf_counter() - t_setup
            rec.update(setup_s=setup_s, session_s=session_s, warmup_walls=warmups)

            walls, steals, pass_ids, raised, rows = [], [], [], set(), 0
            check_s = 0.0
            check_failed: set[int] = set()
            errors: list[str] = []
            plain, empty_walls = [], []

            def check(w, pass_id: int) -> None:
                # output checks run between passes, outside the timed region
                nonlocal check_s
                if pass_id in raised:
                    return
                t_check = time.perf_counter()
                errs = w.check_pass(pass_id)
                check_s += time.perf_counter() - t_check
                if errs:
                    check_failed.add(pass_id)
                    errors.extend(errs)

            def check_final(w, ids: list[int]) -> None:
                nonlocal check_s
                t_check = time.perf_counter()
                final = w.check_final()
                check_s += time.perf_counter() - t_check
                if final:
                    errors.extend(final)
                    check_failed.update(set(ids) if w.failed_passes is None
                                        else set(ids) & w.failed_passes)

            def plain_pass(pass_id: int) -> None:
                # untraced passes alternate with traced ones: the base of
                # trace.overhead_ratio, in the same warm-up state
                tracer.enabled = False
                plain.append(hostinfo.timed(lambda: wl.run_pass(pass_id))[0])
                tracer.enabled = True

            i = 0
            min_passes = MIN_TRACED_PASSES if args.trace else MIN_PASSES
            while ((sum(walls) < args.seconds or i < min_passes) and i < MAX_PASSES
                   and not wl.exhausted()):
                if args.trace:
                    plain_pass(-100 - i)
                    # ship_incremental consumes one staged delta per pass
                    if wl.exhausted():
                        break
                j0 = hostinfo.cpu_jiffies()
                t0 = time.perf_counter()
                try:
                    if args.trace:
                        wl.traced_pass(i)
                        n = 0
                    else:
                        n = wl.run_pass(i)
                except Exception:  # a failed pass is counted, reported and survived
                    traceback.print_exc()
                    raised.add(i)
                    n = 0
                walls.append(time.perf_counter() - t0)
                steals.append(hostinfo.steal_pct(j0, hostinfo.cpu_jiffies()))
                if args.trace:
                    with tracer.span("absent", i) as empty:
                        pass
                    empty_walls.append(empty.wall)
                pass_ids.append(i)
                rows += n
                check(wl, i)
                i += 1
            if args.trace and not wl.exhausted():
                plain_pass(-100 - i)
            if not args.trace:
                t_settle = time.perf_counter()
                mem.settle()
                rec["settle_s"] = time.perf_counter() - t_settle
            check_final(wl, pass_ids)

            # companions: a warm-up and MIN_TRACED_PASSES traced passes
            # each, after the workload's own passes; their pass ids start
            # at 1000 x (k + 1)
            traced_companions = []
            for k, name in enumerate(companions):
                cwl = WORKLOADS[name](spark, manifests[name], work, tracer, nproc)
                base = 1000 * (k + 1)
                for w in range(cwl.WARMUP_PASSES):
                    cwl.traced_pass(-base - 1 - w)
                ids = []
                for p in range(base, base + MIN_TRACED_PASSES):
                    if cwl.exhausted():
                        break
                    try:
                        cwl.traced_pass(p)
                    except Exception:  # counted, reported and survived as above
                        traceback.print_exc()
                        raised.add(p)
                    ids.append(p)
                    check(cwl, p)
                check_final(cwl, ids)
                traced_companions.append((cwl, ids))
            rec["check_s"] = check_s
            rec["check_errors"] = errors[:50]
            failed = len(raised | check_failed)
            if not args.trace:
                rec["pass_walls"] = walls
                rec["pass_steal_pct"] = steals
                tail_v, tail_pct = tail(walls)
                rec["pass_s_tail"] = {"value": tail_v, "percentile": tail_pct, "passes": len(walls)}
                values = {
                    "setup_s": setup_s,
                    "rows_per_s": rows / sum(walls),
                    "pass_s_p50": statistics.median(walls),
                    "pass_s_tail": tail_v,
                    "ok_ratio": (len(pass_ids) - failed) / len(pass_ids),
                    "out_bytes_per_row": wl.bytes_per_row(set(pass_ids)),
                    "peak_rss_mb": mem.peak_mb,
                }
                rec["memory"] = mem.record()
        t_stop = time.perf_counter()
        stop_jvm(spark)
        spark = None
        rec["stop_s"] = time.perf_counter() - t_stop
    finally:
        for proc in staging.values():
            if proc.poll() is None:
                proc.kill()
                proc.wait()
        if spark is not None:
            stop_jvm(spark)

    if args.trace:
        stats = span_stats(os.path.join(work, "eventlog"))
        view = TraceView(tracer.spans, stats)
        per = []
        for p, steal in zip(pass_ids, steals):
            if p in raised:
                continue
            m = wl.layer_metrics(view, p)
            root = view.one(p, "pass")
            probes = [s for s in view.spans if s.pass_id == p and s.probe]
            m["pass.wall_s"] = root.wall - sum(s.wall for s in probes)
            m["pass.unattributed_s"] = m["pass.wall_s"] - sum(m[k] for k in wl.SELF)
            probe_ids = {s.span_id for pr in probes for s in view.subtree(pr)}
            real = merge([stats[s.span_id] for s in view.subtree(root)
                          if s.span_id not in probe_ids and s.span_id in stats])
            m.update({"spark.jobs": real.jobs, "spark.stages": real.stages,
                      "spark.tasks": real.tasks, "spark.cpu_s": real.cpu_s,
                      "spark.gc_s": real.gc_s, "host.steal_pct": steal or 0.0})
            per.append(m)
        # a layer this workload never calls has no self time; its timings
        # report the wall of an empty span (the tracing floor, microseconds
        # to milliseconds), other metrics 0
        empty = statistics.median(empty_walls)
        values = {name: empty if unit == "s" else 0.0 for name, unit in LAYER_METRICS}
        # a companion supplies the layers the workload itself does not call
        own = median_metrics(per)
        for cwl, ids in traced_companions:
            cper = [cwl.layer_metrics(view, p) for p in ids if p not in raised]
            values.update({k: v for k, v in median_metrics(cper).items() if k not in own})
            rec[f"layers_per_pass.{cwl.name}"] = cper
        values.update(own)
        values["trace.overhead_ratio"] = values["pass.wall_s"] / statistics.median(plain) - 1
        rec["layers_per_pass"] = per
        rec["plain_pass_walls"] = plain
        rec["traced_pass_walls"] = walls
        rec["self_time_keys"] = list(wl.SELF)
        units = dict(LAYER_METRICS)
    else:
        units = dict(E2E_METRICS)
    rec["attempted"] = len(pass_ids) + sum(len(ids) for _w, ids in traced_companions)
    rec["failed"] = failed
    rec["correct"] = not errors and not raised
    rec["metrics"] = {k: {"value": float(values[k]), "unit": units[k]} for k in units}
    return rec


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description="logshipper_spark benchmark")
    ap.add_argument("--workload", required=True,
                    choices=["ship_batch", "parse_heavy", "ship_incremental", "curate_corpus",
                             "all"],
                    help="'all' runs each workload of BENCHMARK.json in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    if not os.path.isdir(os.path.join(ROOT, "logshipper_spark")):
        print(f"perfbench: no logshipper_spark package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    if args.workload == "all":
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            names = [w["name"] for w in json.load(f)["workloads"]]
        codes = [subprocess.run([sys.executable, __file__, "--workload", name,
                                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                                 "--trace", str(args.trace)]).returncode for name in names]
        return max(codes)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rec = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res_dir = os.path.join(ROOT, ".perfbench_results")
    os.makedirs(res_dir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(res_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json")
    with open(path, "w") as f:
        json.dump(rec, f, indent=1, default=str)
    for e in rec["check_errors"]:
        print(f"CHECK FAILED: {e}")
    for k, m in rec["metrics"].items():
        print(f"{args.workload:16s} {k:30s} {m['value']:14.6g} {m['unit']}")
    print(f"record: {os.path.relpath(path, ROOT)}")
    print(json.dumps({"correct": rec["correct"], "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": rec["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
