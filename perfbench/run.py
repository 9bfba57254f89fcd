"""KG pipeline benchmark: one named workload per invocation, in its own Spark
session, driven only through the package's public entry points.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout.  It prints a table, then as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}.  With
`--trace 0` the metrics are the end-to-end ones; with `--trace 1` they are
the per-layer ones (see perfbench/README.md).  All data lives in a scratch
directory under the checkout that is removed at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit) of the end-to-end metrics, printed by every untraced run
END_TO_END = (
    ("setup_s", "s"),
    ("commit_docs_per_s", "docs/s"),
    ("peak_rss_mb", "MB"),
    ("stored_bytes_per_doc", "B/doc"),
)

# (name, unit, end-to-end metric it should move) of the per-layer metrics
PER_LAYER = (
    ("extract_text.us_per_page", "us", "kg_build/commit_docs_per_s"),
    ("mentions.us_per_page", "us", "kg_build/commit_docs_per_s"),
    ("mentions.per_page", "count", "kg_build/commit_docs_per_s"),
    ("relations.fused_stage_s", "s", "kg_build/commit_docs_per_s"),
    ("relations.fused_text_stage_s", "s", "kg_build/commit_docs_per_s"),
    ("relations.triples_per_page", "count", "kg_build/commit_docs_per_s"),
    ("tables.write_run_triples_s", "s", "kg_build/commit_docs_per_s"),
    ("tables.append_lineage_s", "s", "kg_build/commit_docs_per_s"),
    ("tables.append_metrics_s", "s", "kg_build/commit_docs_per_s"),
    ("tables.files_written", "count", "kg_build/stored_bytes_per_doc"),
    ("tables.read_committed_s", "s", "read_mix.queries_per_s"),
    ("tables.files_scanned", "count", "read_mix.queries_per_s"),
    ("pipeline.self_s", "s", "kg_build/commit_docs_per_s"),
    ("pipeline.resume_antijoin_s", "s", "kg_build/commit_docs_per_s"),
    ("pipeline.resume_skip_ratio", "ratio", "kg_build/commit_docs_per_s"),
    ("curate.gate_s", "s", "shard_ingest/commit_docs_per_s"),
    ("curate.gate_pass_ratio", "ratio", "shard_ingest/commit_docs_per_s"),
    ("dedup.exact_s", "s", "shard_ingest/commit_docs_per_s"),
    ("dedup.exact_drop_ratio", "ratio", "shard_ingest/commit_docs_per_s"),
    ("dedup.intra_clusters_s", "s", "shard_ingest/commit_docs_per_s"),
    ("dedup.intra_dups", "count", "shard_ingest/commit_docs_per_s"),
    ("dedup.probe_s", "s", "shard_ingest/commit_docs_per_s"),
    ("dedup.probe_candidate_pairs", "count", "shard_ingest/commit_docs_per_s"),
    ("dedup.probe_useful_ratio", "ratio", "shard_ingest/commit_docs_per_s"),
    ("dedup.hot_buckets_pruned", "count", "shard_ingest/commit_docs_per_s"),
    ("dedup.index_build_s", "s", "shard_ingest/commit_docs_per_s"),
    ("ingest.write_shard_state_s", "s", "shard_ingest/stored_bytes_per_doc"),
    ("ingest.append_lineage_s", "s", "shard_ingest/commit_docs_per_s"),
    ("ingest.self_s", "s", "shard_ingest/commit_docs_per_s"),
    ("read_mix.queries_per_s", "queries/s", "-"),
    ("relations.distinct_triples_s", "s", "read_mix.queries_per_s"),
    ("graph.top_degree_s", "s", "read_mix.queries_per_s"),
    ("graph.ego_1hop_s", "s", "read_mix.queries_per_s"),
    ("graph.node_types_s", "s", "read_mix.queries_per_s"),
)
# spans whose Spark stages get their own per-layer rows, with what they move
STAGE_OWNERS = {
    "tables.write_run_triples": "kg_build/commit_docs_per_s",
    "tables.read_committed": "read_mix.queries_per_s",
    "dedup.exact": "shard_ingest/commit_docs_per_s",
    "dedup.intra_clusters": "shard_ingest/commit_docs_per_s",
    "dedup.probe": "shard_ingest/commit_docs_per_s",
    "ingest.write_shard_state": "shard_ingest/commit_docs_per_s",
    "relations.distinct_triples": "read_mix.queries_per_s",
}
TRACE_ONLY = (
    ("python_workers.cpu_s", "s", "-"),
    ("trace.coverage", "ratio", "-"),
    ("trace.overhead_ratio", "ratio", "-"),
)
# entry-point spans: their self time is wall that no layer owns yet
ENTRY_SPANS = ("pipeline.run_pipeline", "ingest.ingest_shard")
# per-layer time metrics read straight off a span's median duration
SPAN_TIMES = (
    "relations.fused_stage", "relations.fused_text_stage",
    "tables.write_run_triples", "tables.append_lineage", "tables.append_metrics",
    "tables.read_committed", "pipeline.resume_antijoin", "curate.gate",
    "dedup.exact", "dedup.intra_clusters", "dedup.probe", "dedup.index_build",
    "ingest.write_shard_state", "ingest.append_lineage",
    "relations.distinct_triples", "graph.top_degree", "graph.ego_1hop", "graph.node_types",
)


def per_layer_catalogue():
    """Every per-layer metric as (name, unit, end-to-end metric it moves)."""
    from tracing import STAGE_FIELDS

    rows = list(PER_LAYER)
    for span, moves in STAGE_OWNERS.items():
        rows += [(f"{span}.{field}", unit, moves) for field, unit in STAGE_FIELDS]
    return rows + list(TRACE_ONLY)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size multiplier (the smoke test runs at a few hundred docs)")
    p.add_argument("--check-offset", type=int, default=0,
                   help="add this to an expected committed count; a nonzero value must "
                        "surface as failed operations (self-test of the output checks)")
    return p.parse_args(argv)


def start_session(work: str, slots: int):
    """One Spark session sized below the core count, with every scratch
    directory inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = ROOT + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # every JVM (the launcher too): no hsperfdata file and no temp files in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"])
    )
    from ontology_pipeline_spark.session import get_spark

    spark = get_spark(
        master=f"local[{slots}]",
        app_name="perfbench",
        shuffle_partitions=slots,
        extra_conf={
            "spark.driver.memory": "2g",
            # a pre-touched fixed heap: JVM RSS then tracks off-heap growth
            # (Arrow, Parquet, Netty, code cache), not when G1 grows the heap
            "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _ended(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] in ("Z", "X")
    except OSError:
        return True


def stop_session(spark, timeout: float = 60.0) -> None:
    """Stop Spark and wait until the JVM and every process below it has
    ended: the JVM only exits once its stdin closes, and the Python daemon
    and workers only once the JVM is gone."""
    from pyspark import SparkContext
    from tracing import descendants

    procs = descendants(os.getpid())
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout)
                except Exception:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + timeout
        for sig in (None, signal.SIGTERM, signal.SIGKILL):
            procs = [p for p in procs + descendants(os.getpid()) if not _ended(p)]
            if sig is not None:
                for p in procs:
                    try:
                        os.kill(p, sig)
                    except OSError:
                        pass
                deadline = time.monotonic() + 10
            while procs and time.monotonic() < deadline:
                time.sleep(0.05)
                procs = [p for p in procs if not _ended(p)]
            if not procs:
                return
        print(f"perfbench: processes still running after stop: {procs}", file=sys.stderr)


def settle(spark) -> None:
    """Collect garbage on both sides before an operation, outside its window,
    so the context cleaner drops the previous operation's pinned blocks."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def run(args) -> dict:
    from tracing import (
        Tracer, cpu_seconds, descendants, jvm_pid, median, peak_rss_mb, stage_metrics_by_group,
    )
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    slots = max(1, len(os.sched_getaffinity(0)) - 1)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = None
    try:
        spark = start_session(work, slots)
        tracer = Tracer(spark, enabled=False)
        wl = WORKLOADS[args.workload](spark, work, args.seed, args.scale, args.check_offset)
        print(f"session up at {time.perf_counter() - T_START:.1f} s", file=sys.stderr)
        wl.setup()
        print(f"inputs ready at {time.perf_counter() - T_START:.1f} s", file=sys.stderr)

        attempted = failed = 0
        ops = []  # (traced, result)

        def one_op(i: int, traced: bool, warm: bool = False):
            nonlocal attempted, failed
            settle(spark)
            tracer.enabled = traced
            pids = descendants(jvm_pid(spark)) if traced else []
            cpu0 = cpu_seconds(pids)
            attempted += 1
            try:
                res = wl.run_op(i, tracer, warm)
            except Exception:
                failed += 1
                traceback.print_exc()
                return None
            finally:
                tracer.enabled = False
            res.worker_cpu_s = cpu_seconds(pids) - cpu0
            print(f"op {i}{' traced' if traced else ''}: commit {res.commit_s:.3f} s, "
                  f"read mix {res.query_s:.3f} s", file=sys.stderr, flush=True)
            if res.errors:
                failed += 1
                print(f"op {i} failed its checks: {'; '.join(res.errors)}", file=sys.stderr)
            if i > 0:
                wl.drop_op(i - 1)
            return res

        for i in range(wl.warmups):
            one_op(i, traced=False, warm=True)
        setup_s = time.perf_counter() - T_START

        t0 = time.perf_counter()
        i = wl.warmups
        while True:
            # the traced run alternates untraced and traced operations so the
            # tracing overhead is measured in the same window
            traced = bool(args.trace) and (i - wl.warmups) % 2 == 1
            res = one_op(i, traced)
            if res is not None:
                ops.append((traced, res))
            i += 1
            enough = time.perf_counter() - t0 >= args.seconds
            if enough and (not args.trace or (i - wl.warmups) >= 2):
                break

        timed = [r for t, r in ops if not t]
        result = {
            "slots": slots,
            "ops": len(ops),
            "attempted": attempted,
            "failed": failed,
            "failed_ops_ratio": failed / attempted,
        }
        if args.trace:
            probes = {}
            tracer.enabled = True
            try:
                probes = wl.layer_probes(tracer)
            except Exception:
                failed += 1
                attempted += 1
                traceback.print_exc()
            tracer.enabled = False
            stages = stage_metrics_by_group(spark)
            result["metrics"] = layer_metrics(
                tracer, [r for t, r in ops if t], timed, probes, stages, args.workload
            )
            result["attempted"], result["failed"] = attempted, failed
        else:
            result["metrics"] = {
                "setup_s": setup_s,
                "commit_docs_per_s": median([r.docs / r.commit_s for r in timed]),
                "peak_rss_mb": peak_rss_mb(spark),
                "stored_bytes_per_doc": median([r.stored_bytes / r.docs for r in timed]),
            }
        return result
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another invocation's directory is still there
            pass


def layer_metrics(tracer, traced, untraced, probes, stages, workload) -> dict:
    from tracing import STAGE_FIELDS, median

    out = {name: 0.0 for name, _u, _m in per_layer_catalogue()}
    out.update(probes)
    for span in SPAN_TIMES:
        if tracer.durations(span):
            out[f"{span}_s"] = median(tracer.durations(span))
    out["pipeline.self_s"] = median(tracer.self_times("pipeline.run_pipeline"))
    out["ingest.self_s"] = median(tracer.self_times("ingest.ingest_shard"))
    if workload == "kg_build":
        out["tables.files_written"] = median([float(r.files_written) for r in traced])
    for span in STAGE_OWNERS:
        n = len(tracer.durations(span))
        for field, _unit in STAGE_FIELDS:
            if n:
                out[f"{span}.{field}"] = stages.get(span, {}).get(field, 0.0) / n
    out["read_mix.queries_per_s"] = median([r.n_queries / r.query_s for r in untraced])
    out["python_workers.cpu_s"] = median([r.worker_cpu_s for r in traced])
    out["trace.coverage"] = median([
        tracer.owned_time(r.start, r.end, ENTRY_SPANS) / (r.end - r.start) for r in traced
    ])
    wall = median([r.end - r.start for r in untraced])
    out["trace.overhead_ratio"] = median([r.end - r.start for r in traced]) / wall if wall else 0.0
    return out


def report(args, result) -> None:
    """The human-readable table, then the JSON line (always last)."""
    metrics = result["metrics"]
    print(f"workload {args.workload}  seed {args.seed}  slots local[{result['slots']}]  "
          f"timed ops {result['ops']}  trace {args.trace}")
    if args.trace:
        units = {n: (u, m) for n, u, m in per_layer_catalogue()}
        print(f"{'per-layer metric':<44}{'value':>16}  {'unit':<10}should move")
        for name, value in metrics.items():
            unit, moves = units[name]
            print(f"{name:<44}{value:>16.6g}  {unit:<10}{moves}")
        out = {name: {"value": v, "unit": units[name][0]} for name, v in metrics.items()}
    else:
        units = dict(END_TO_END)
        for name, value in metrics.items():
            print(f"{name:<24}{value:>16.6g}  {units[name]}")
        print(f"{'failed_ops_ratio':<24}{result['failed_ops_ratio']:>16.6g}  ratio")
        out = {name: {"value": v, "unit": units[name]} for name, v in metrics.items()}
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": out,
    }), flush=True)


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


def main(argv=None) -> int:
    # a terminated run still stops Spark and waits for it on the way out
    signal.signal(signal.SIGTERM, _terminate)
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import ontology_pipeline_spark
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(ontology_pipeline_spark.__file__))) != ROOT:
        print(f"perfbench: the package is not the one in {ROOT}", file=sys.stderr)
        return 2
    report(args, run(args))
    return 0


if __name__ == "__main__":
    sys.exit(main())
