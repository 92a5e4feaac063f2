"""KG pipeline benchmark: one command runs one workload and prints every
metric by name with its unit.

    python3 perfbench/run.py --workload kg_openworld --seed 1 \\
        --seconds 5 --trace 0

Run from the root of a checkout. The last line of standard output is one
JSON object {"correct", "attempted", "failed", "metrics"}; progress goes
to standard error. With --trace 0 the metrics are the end-to-end ones
(setup_s, turns_per_s); with --trace 1 they are the per-layer ones, taken
from spans around the pipeline's public calls and from Spark's event log,
and the traced run adds a streaming section (micro-batches through
kgx.spark.streaming.incremental_canon_updater). See perfbench/README.md.

Every file the run writes (generated fixtures, reference results,
warehouses, Spark scratch space, event logs) stays under
.perfbench_cache/ in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
TABLES = ("turns", "tagged", "triples_raw", "mentions", "nodes",
          "lsh_edges", "links", "entity_map", "cc_vertices", "edges",
          "vertices")
SPARK_KEYS = (("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
              ("gc_s", "s"), ("cpu_s", "s"), ("write_bytes", "bytes"),
              ("commit_s", "s"))
PYTHON_KEYS = (("python_s", "s"), ("python_bytes_in", "bytes"),
               ("python_bytes_out", "bytes"))
# Driver heap (get_spark reads KGX_DRIVER_MEM; its default is 8g). Both
# workloads run in 2 GB; with an 8 GB ceiling the heap grew to 3-6 GB
# depending on GC timing, which made peak RSS swing by a third from run
# to run and took memory the host shares with other work.
DRIVER_MEM = "2g"
# The streaming section compacts the updater's logs every second batch,
# so its few batches include compactions.
STREAM_COMPACT_EVERY = 2


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class RssSampler(threading.Thread):
    """Peak resident memory of the processes this one starts (the
    driver JVM and its Python workers): the sum of each descendant's
    high-water mark (VmHWM), which the kernel keeps, so a scan of /proc
    once a second misses no short peak. This process is left out: it
    also generates inputs and computes the reference."""

    def __init__(self, period: float = 1.0):
        super().__init__(daemon=True)
        self.root = os.getpid()
        self.period = period
        self.hwm: dict[int, int] = {}
        self._halt = threading.Event()

    def _tree(self) -> list[int]:
        parent: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
        tree, frontier = [self.root], {self.root}
        while frontier:
            frontier = {p for p, pp in parent.items() if pp in frontier}
            tree.extend(frontier)
        return tree

    def sample(self) -> None:
        for pid in self._tree()[1:]:
            try:
                with open(f"/proc/{pid}/status") as f:
                    kb = next(int(line.split()[1]) for line in f
                              if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                continue
            self.hwm[pid] = max(self.hwm.get(pid, 0), kb * 1024)

    def breakdown(self) -> str:
        """Per-process high-water marks in MiB, largest first."""
        return " ".join(f"{v / 2**20:.0f}"
                        for v in sorted(self.hwm.values(), reverse=True))

    @property
    def peak(self) -> int:
        return sum(self.hwm.values())

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def stop(self) -> None:
        self._halt.set()
        self.join()

    def wait_children_gone(self, timeout: float) -> list[int]:
        deadline = time.monotonic() + timeout
        alive = sorted(self.hwm)
        while alive and time.monotonic() < deadline:
            time.sleep(0.2)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        return alive


def cpu_times() -> list[int]:
    """Host-wide CPU jiffies from /proc/stat (user, nice, system, idle,
    iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def start_spark(work: str, trace: bool):
    from kgx.spark.session import get_spark

    for d in ("spark", "events"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    extra = {
        # the pipeline CLI's default (kgx.spark.run --max-partition-mb)
        "spark.sql.files.maxPartitionBytes": str(16 * 1024 * 1024),
    }
    if trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["KGX_DRIVER_MEM"] = DRIVER_MEM
    cores = len(os.sched_getaffinity(0))
    return get_spark("perfbench", cores=cores, extra=extra), cores


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def install_tracer(tracer, runner_cls) -> None:
    from kgx.spark import stages
    from kgx.spark.run import STAGES

    tracer.wrap(runner_cls, "run", "runner.run")
    for s in STAGES:
        tracer.wrap(runner_cls, f"stage_{s}", f"stage.{s}", group=s)
    tracer.wrap(runner_cls, "flush_metrics", "runner.flush_metrics",
                group="flush")
    tracer.wrap(stages, "connected_components", "canon.cc_loop",
                group="canon/cc")


def install_stream_tracer(tracer) -> None:
    from kgx.spark.io import TableIO

    tracer.wrap(TableIO, "append", "io.append",
                record=lambda m: {"bytes": m["segments"][-1]["bytes"]})
    tracer.wrap(TableIO, "compact", "io.compact")


def run_stream(spark, fixture: str, work: str, tracer) -> tuple:
    """The traced run's streaming section: the fixture's arrival
    micro-batches handed in order to streaming.incremental_canon_updater,
    each commit followed by a streaming.canonical_edges read (a closed
    loop, as Trigger.AvailableNow drains a backlog). Returns one record
    per batch, the final canonical edges and the final entity_map."""
    import gen
    from kgx.spark import streaming
    from kgx.spark.io import TableIO
    from kgx.spark.run import load_dims
    from kgx.spark.udfs import make_tagger_spans_udf

    sdir = os.path.join(fixture, gen.STREAM_DIR)
    dims = load_dims(spark, sdir)
    dict_df = dims["dict_df"]
    wh = os.path.join(work, "wh-stream")
    io = TableIO(wh)
    update = streaming.incremental_canon_updater(
        spark, wh, dict_df, make_tagger_spans_udf(spark, dims["artifact"]),
        patterns_rows=dims["patterns_rows"],
        compact_every=STREAM_COMPACT_EVERY)
    run_id, batches, edges = tracer.run_id, [], []
    for k in range(gen.STREAM_BATCHES):
        batch = spark.read.parquet(
            os.path.join(sdir, "arrivals", f"b{k}.parquet"))
        nodes0 = (io.manifest("nodes") or {}).get("rows", 0)
        tracer.run_id = f"{run_id}/b{k}"
        t0 = time.perf_counter()
        with tracer.span("stream.update", group=f"stream/b{k}"):
            update(batch, k)
        t1 = time.perf_counter()
        with tracer.span("stream.view", group=f"stream/b{k}/view"):
            edges = [list(r) for r in streaming.canonical_edges(
                spark, wh, dict_df).select(
                    "subj_id", "pred", "obj_id", "weight").collect()]
        t2 = time.perf_counter()
        manifests = [io.manifest(t) for t in streaming.CANON_TABLES]
        batches.append({
            "run": tracer.run_id, "update_s": t1 - t0, "view_s": t2 - t1,
            "new_nodes": io.manifest("nodes")["rows"] - nodes0,
            "segments": max(len(m["segments"]) for m in manifests if m),
        })
        log(f"stream batch {k}: update {t1 - t0:.2f} s, view "
            f"{t2 - t1:.2f} s, {batches[-1]['new_nodes']} new nodes")
    tracer.run_id = run_id
    entity_map = {r.node_id: r.canonical_id for r in io.read(
        spark, "entity_map").select("node_id", "canonical_id").collect()}
    return batches, edges, entity_map


def stream_metrics(tracer, folded: dict, batches: list[dict]) -> dict:
    """Per-layer metrics of the streaming section. Batch 0 seeds the
    state by another code path, so the metrics cover the batches after
    it: times, bytes and Spark numbers per batch (mean), new nodes as
    the smallest count of any batch, latencies as median and maximum,
    compactions as the total, segments as the most any log held after
    a batch."""
    inc = batches[1:]
    runs = {b["run"] for b in inc}
    n = len(inc)

    def span_sum(name: str, key: str | None = None) -> float:
        return sum(s[key] if key else s["end"] - s["start"]
                   for s in tracer.spans
                   if s["name"] == name and s["run"] in runs) / n

    groups = {f"stream/b{k}" for k in range(1, len(batches))}

    def group_sum(key: str) -> float:
        return sum(v.get(key, 0.0) for g, v in folded.items()
                   if "/".join(g.split("/")[:2]) in groups) / n

    latency = [b["update_s"] + b["view_s"] for b in inc]
    return {
        "stream.update_s": (statistics.mean(b["update_s"] for b in inc),
                            "s"),
        "stream.view_s": (statistics.mean(b["view_s"] for b in inc), "s"),
        "stream.new_nodes": (min(b["new_nodes"] for b in inc), "count"),
        "stream.batch_latency_p50_s": (statistics.median(latency), "s"),
        "stream.batch_latency_max_s": (max(latency), "s"),
        "io.append_s": (span_sum("io.append"), "s"),
        "io.append_bytes": (span_sum("io.append", "bytes"), "bytes"),
        "io.compact_s": (span_sum("io.compact"), "s"),
        "io.compactions": (sum(1 for s in tracer.spans
                               if s["name"] == "io.compact"
                               and s["run"] in runs), "count"),
        "io.segments_max": (max(b["segments"] for b in batches), "count"),
        "stream.python_s": (group_sum("python_s"), "s"),
        "stream.shuffle_write_bytes": (group_sum("shuffle_write_bytes"),
                                       "bytes"),
        "stream.gc_s": (group_sum("gc_s"), "s"),
    }


def layer_metrics(tracer, folded: dict, events: list[dict], passes: int,
                  turns_per_s: float, peak_rss: int) -> dict:
    """Per-layer metrics of the traced passes. Span and event-log
    totals are averaged over `passes`; the tag probe and per-table
    numbers come from the first pass's Runner events."""
    from kgx.spark.run import STAGES

    m: dict[str, tuple[float, str]] = {}
    spans = {k: {kk: vv / passes for kk, vv in v.items()}
             for k, v in tracer.totals().items()}

    def group_sum(stage: str, key: str) -> float:
        return sum(v.get(key, 0.0) for g, v in folded.items()
                   if g == stage or g.startswith(stage + "/")) / passes

    for s in STAGES:
        m[f"{s}.wall_s"] = (spans[f"stage.{s}"]["wall_s"], "s")
        for key, unit in SPARK_KEYS:
            m[f"{s}.{key}"] = (group_sum(s, key), unit)
    for s in ("tag", "link"):
        for key, unit in PYTHON_KEYS:
            m[f"{s}.{key}"] = (group_sum(s, key), unit)
    m["runner.flush_metrics_s"] = (
        spans["runner.flush_metrics"]["wall_s"], "s")
    # canon's self time: the stage outside its CC loop
    m["canon.self_s"] = (spans["stage.canon"]["self_s"], "s")
    probe = next(e for e in events if e.get("probe") == "dup_rate")
    m["tag.dup_rate"] = (probe["dup_rate"], "ratio")
    m["tag.distinct_path"] = (int(probe["auto_tag_distinct"]), "bool")
    m["tag.probe_s"] = (probe["wall_s"], "s")
    commits = {e["table"]: e for e in events if e.get("content_hash")}
    for t in TABLES:
        m[f"table.{t}.wall_s"] = (commits[t]["wall_s"], "s")
        m[f"table.{t}.rows"] = (commits[t]["rows"], "count")
    m["canon.cc_loop_s"] = (spans["canon.cc_loop"]["wall_s"], "s")
    m["canon.cc_jobs"] = (
        folded.get("canon/cc", {}).get("jobs", 0) / passes, "count")
    m["trace.turns_per_s"] = (turns_per_s, "turns/s")
    m["mem.peak_rss_mb"] = (peak_rss / 2**20, "MiB")
    return m


def count_failures(outcomes: list[tuple], ref: dict,
                   hashes_path: str) -> int:
    """Passes that raised, whose committed outputs differ from the
    reference, or whose per-table content hashes differ from those of
    an earlier correct pass over the same fixture (kept in
    `hashes_path`). Runs after the session has stopped."""
    import reference

    known = None
    if os.path.exists(hashes_path):
        with open(hashes_path) as f:
            known = json.load(f)
    failed = 0
    for i, (io, events, error) in enumerate(outcomes):
        problems = [error] if error else reference.check(io, ref)
        if not problems:
            hashes = {e["table"]: e["content_hash"] for e in events
                      if e.get("content_hash")}
            if known is None:
                known = hashes
                with open(hashes_path, "w") as f:
                    json.dump(hashes, f, indent=1, sort_keys=True)
            elif hashes != known:
                problems.append(
                    "content hashes differ from an earlier pass: "
                    + ", ".join(t for t in sorted(known)
                                if hashes.get(t) != known[t]))
        if problems:
            failed += 1
            log(f"pass {i} incorrect: {problems}")
    return failed


def run(args) -> dict:
    """One benchmark run; every file it writes outside the caches lives
    in a work directory that is removed at the end."""
    work = os.path.join(CACHE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> dict:
    import gen
    import reference
    from kgx.spark.run import (TAG_DISTINCT_AUTO_MIN_RATE_LEXICON, Runner,
                               load_dims)
    from tracing import Tracer, fold_event_log

    fixture, meta = gen.ensure(args.workload, args.seed,
                               os.path.join(CACHE, "fixtures"))
    ref = reference.load(fixture)
    if args.trace:
        stream_ref = reference.load(os.path.join(fixture, gen.STREAM_DIR))
    log(f"{args.workload} seed {args.seed}: {meta['turns']} turns, "
        f"dup rate {meta['dup_rate']}")

    # keep temporary files of this process, the JVM and the Python
    # workers inside the checkout (SPARK_LOCAL_DIRS overrides
    # spark.local.dir when set)
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    # every JVM (the launcher and the driver): temp files in the work
    # dir, and no hsperfdata file in the system temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(work, "tmp"))
    rss = RssSampler()
    rss.start()
    spark, stream, stream_error = None, None, None
    try:
        # -- set-up: session, dims, tagger UDF, one warm-up pass --------
        t0 = time.perf_counter()
        spark, cores = start_spark(work, args.trace)
        load_dims(spark, fixture)
        # the warm-up takes the tag path (per row or distinct) that auto
        # mode will take on the full corpus, so both compile the same plans
        distinct = meta["dup_rate"] >= TAG_DISTINCT_AUTO_MIN_RATE_LEXICON
        Runner(spark, os.path.join(fixture, gen.WARMUP_DIR),
               os.path.join(work, "wh-warmup"), "warmup", buckets=cores,
               tag_distinct=distinct).run()
        first = Runner(spark, fixture, os.path.join(work, "wh-0"), "p0",
                       buckets=cores)
        first.tagger()
        setup_s = time.perf_counter() - t0
        log(f"set-up {setup_s:.2f} s")

        tracer = None
        if args.trace:
            tracer = Tracer(f"{args.workload}-{args.seed}",
                            spark.sparkContext)
            install_tracer(tracer, Runner)

        # -- timed passes: Runner.run() on a cold warehouse -------------
        walls, outcomes = [], []
        cpu0 = cpu_times()
        deadline = time.perf_counter() + args.seconds
        runner = first
        while True:
            t1 = time.perf_counter()
            try:
                events = runner.run()
                walls.append(time.perf_counter() - t1)
                outcomes.append((runner.io, events, None))
            except Exception as exc:  # counted as a failed operation
                log(f"pass {len(outcomes)} failed: {exc!r}")
                outcomes.append((runner.io, None, repr(exc)))
            log(f"pass {len(outcomes) - 1}: "
                f"{time.perf_counter() - t1:.2f} s "
                + " ".join(f"{e['table']}={e['wall_s']}"
                           for e in outcomes[-1][1] or []))
            if time.perf_counter() >= deadline:
                break
            k = len(outcomes)
            runner = Runner(spark, fixture, os.path.join(work, f"wh-{k}"),
                            f"p{k}", buckets=cores)
            runner.tagger()  # as the set-up does for the first pass
        busy = [b - a for a, b in zip(cpu0, cpu_times())]
        log("host CPU during the timed passes: "
            f"{100 * busy[7] / sum(busy):.1f}% steal, "
            f"{100 * busy[3] / sum(busy):.1f}% idle")
        if tracer is not None:
            tracer.unwrap_all()
            install_stream_tracer(tracer)
            try:
                stream = run_stream(spark, fixture, work, tracer)
            except Exception as exc:  # counted as a failed operation
                log(f"streaming section failed: {exc!r}")
                stream_error = repr(exc)
            tracer.unwrap_all()
        rss.sample()
        stop_spark(spark)
        spark = None
    finally:
        if spark is not None:
            stop_spark(spark)
        rss.stop()
    log(f"peak RSS by process (MiB): {rss.breakdown()}")
    lingering = rss.wait_children_gone(60)
    if lingering:
        log(f"child processes still running: {lingering}")

    failed = count_failures(outcomes, ref,
                            os.path.join(fixture, f"hashes-b{cores}.json"))
    attempted = len(outcomes)
    if args.trace:
        # the streaming section is one more operation: its final state
        # must equal the reference on the union of its arrivals
        attempted += 1
        problems = ([stream_error] if stream_error
                    else reference.compare(stream[1], stream[2], stream_ref))
        if problems:
            failed += 1
            log(f"streaming section incorrect: {problems}")
    n_turns = meta["turns"]
    turns_per_s = n_turns / statistics.median(walls) if walls else 0.0
    if args.trace:
        tracer.dump(os.path.join(CACHE, f"spans-{args.workload}-"
                                        f"{args.seed}.json"))
        (log_name,) = os.listdir(os.path.join(work, "events"))
        with open(os.path.join(work, "events", log_name)) as f:
            folded = fold_event_log(f)
        first_events = next(ev for _, ev, err in outcomes if not err)
        metrics = layer_metrics(tracer, folded, first_events,
                                len(outcomes), turns_per_s, rss.peak)
        if not stream_error:
            metrics.update(stream_metrics(tracer, folded, stream[0]))
    else:
        metrics = {
            "setup_s": (setup_s, "s"),
            "turns_per_s": (turns_per_s, "turns/s"),
        }
    return {
        "correct": failed == 0 and bool(walls),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    import kgx

    if os.path.dirname(os.path.dirname(os.path.abspath(kgx.__file__))) != ROOT:
        raise SystemExit(f"kgx imported from {kgx.__file__}, not from the "
                         f"checkout at {ROOT}")
    import gen

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.PARAMS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    print(json.dumps(run(ap.parse_args(argv))))
    return 0


if __name__ == "__main__":
    sys.exit(main())
