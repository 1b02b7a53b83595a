#!/usr/bin/env python3
"""Benchmark of the KG-construction pipeline.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 10 --trace 0

Workloads (see README.md for why each was chosen):

* kg_build   - fresh `Pipeline.run` over a parquet source of the seeded
               synthetic corpus;
* kg_publish - `serialize_graphs` + `export_title_info` over a graph table
               built during set-up.

Run from the repository root.  The process is one local[4] Spark driver;
the load is generated by the same process, one operation at a time (a
closed loop with one client).  `--trace 0` times operations for
`--seconds` and reports the end-to-end metrics of BENCHMARK.json;
`--trace 1` makes the traced run instead and reports its per-layer
metrics.  Every operation's output is checked; the last line of stdout is
one JSON object, and the exit code is 1 when a check failed.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import sys
import time
from pathlib import Path
from statistics import median

import ops
import tables
import tracing

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
WORKLOADS = ("kg_build", "kg_publish")
# A full-size build outlasts --seconds, so a kg_build run times one build.
# A second would add 10-18 s to every kg_build run, and the runs of both
# workloads would no longer fit their hour on a slow host.
MIN_OPS = 1


class Corpus:
    """One seeded source table; with `build`, also a build of it, checked
    against the outputs pinned for its seed, whose graph table the
    publish passes read."""

    def __init__(self, r: Runner, n: int, build: bool):
        self.n = n
        self.pinned = ops.pins(n, r.corpus)
        self.src_path = r.work / f"src{n}"
        with r.spans.span("sources.write_src"):
            ops.write_src(r.spark, self.src_path, n, r.corpus)
        self.open(r.spark)
        if build:
            out = r.work / f"graph{n}"
            with r.spans.span("warmup.build"):
                lineage = ops.build(r.spark, self.src, out)
            r.record(ops.check_build(lineage, self.pinned))
            self.graph_path = out / "graph"

    def open(self, spark) -> None:
        self.src = ops.read_src(spark, self.src_path)


class Runner:
    """One benchmark process: its scratch directory, its Spark session,
    its corpus seed and the count of checked operations."""

    def __init__(self, workload: str, seed: int, work: Path, spans):
        self.workload = workload
        self.corpus = ops.corpus_seed(seed)
        self.work = work
        self.spans = spans
        self.spark = None
        self.errors: list[str] = []
        self.attempted = self.failed = 0

    def start(self, event_log: Path | None = None) -> float:
        """Start the session; -> seconds since the process started."""
        with self.spans.span("session.start"):
            self.spark = ops.start_session(self.work, event_log=event_log)
        return tracing.process_age_s()

    def record(self, errs: list[str]) -> bool:
        """Count one checked operation; True when it passed."""
        self.attempted += 1
        self.failed += bool(errs)
        self.errors.extend(errs)
        return not errs

    # ------------------------------------------------------------ operations

    def publish(self, c: Corpus) -> tuple[tuple, float, float]:
        """One publish pass -> (result, serialize seconds, export seconds)."""
        sc = self.spark.sparkContext
        t0 = time.perf_counter()
        sc.setJobGroup("perfbench:serialize", "perfbench:serialize")
        with self.spans.span("kg.serialize"):
            ser = ops.serialize(self.spark, c.graph_path)
        t1 = time.perf_counter()
        sc.setJobGroup("perfbench:exports", "perfbench:exports")
        with self.spans.span("plans.exports"):
            exp = ops.export_titles(self.spark, c.graph_path)
        t2 = time.perf_counter()
        sc.setJobGroup("perfbench", "perfbench")
        return ser + exp, t1 - t0, t2 - t1

    def warm_publish(self, c: Corpus, passes: int) -> None:
        """Checked publish passes before any timed one: passes keep getting
        faster for a few rounds."""
        with self.spans.span("warmup.publish"):
            for _ in range(passes):
                self.record(ops.check_publish(self.publish(c)[0], c.pinned))

    def build_op(self, c: Corpus, i) -> tuple[float, list[str], dict]:
        """One fresh fused build into op<i>/ -> (seconds, check errors, lineage)."""
        out = self.work / f"op{i}"
        ops.use_src(self.spark, c.src_path)
        t0 = time.perf_counter()
        with self.spans.span("pipeline.run"):
            lineage = ops.build(self.spark, c.src, out)
        wall = time.perf_counter() - t0
        return wall, ops.check_build(lineage, c.pinned), lineage

    def publish_op(self, c: Corpus) -> tuple[float, list[str], tuple]:
        """One publish pass -> (seconds, check errors, (result, serialize s, export s))."""
        result, ser_s, exp_s = self.publish(c)
        errs = ops.check_publish(result, c.pinned)
        return ser_s + exp_s, errs, (result, ser_s, exp_s)

    def op(self, c: Corpus, i) -> tuple[float, list[str]]:
        """One timed operation of the workload -> (seconds, check errors)."""
        if self.workload == "kg_build":
            wall, errs, _ = self.build_op(c, i)
            shutil.rmtree(self.work / f"op{i}", ignore_errors=True)
            return wall, errs
        return self.publish_op(c)[:2]

    def measure(self, c: Corpus, seconds: float) -> list[float]:
        """Operations, one after another, started while less than `seconds`
        have passed; at least MIN_OPS.  -> the walls of the passing ones."""
        walls, i = [], 0
        deadline = time.perf_counter() + seconds
        while i < MIN_OPS or time.perf_counter() < deadline:
            i += 1
            try:
                wall, errs = self.op(c, i)
            except Exception as exc:  # noqa: BLE001 - a failed operation is counted, not fatal
                wall, errs = None, [f"op {i}: {exc!r}"]
            if self.record(errs):
                walls.append(wall)
        return walls


def host_controls() -> dict:
    """tools/cpu_control.py's single-core and memory-bandwidth controls:
    context for comparing runs, not gated metrics."""
    from tools.cpu_control import parallel, single

    return {"host_ctl_s": single(),
            "mem_ctl_s": parallel(4, mem=True, small=True)["mean"]}


# ---------------------------------------------------------------- timed run


def timed_run(r: Runner, seconds: int) -> tuple[dict, dict]:
    """Set-up, then timed operations.  The set-up starts the session,
    writes the sources and builds kg_publish's corpus: kg_publish's input,
    and kg_build's warm-up, which leaves the JVM and the Python workers
    warm for the timed builds at a third of the cost of a full-size one.
    kg_publish adds two warm-up passes."""
    session_s = r.start()
    small = Corpus(r, ops.RECORDS["kg_publish"], build=True)
    if r.workload == "kg_publish":
        c = small
        r.warm_publish(c, passes=2)
    else:
        c = Corpus(r, ops.RECORDS["kg_build"], build=False)
    setup_s = tracing.process_age_s()
    walls = r.measure(c, seconds)
    ops.stop_jvm(r.spark)
    r.spark = None
    if not walls:
        raise RuntimeError(f"no operation passed its check: {r.errors}")
    wall = median(walls)
    rows = c.pinned["build"]["graph"][0]
    metrics = {"setup_s": setup_s, "wall_s": wall, "triples_per_s": rows / wall}
    record = {"session_s": session_s, "setup_s": setup_s, "op_walls_s": walls,
              "graph_rows": rows, "records": c.n}
    return metrics, record


# ---------------------------------------------------------------- traced run

PIPELINE_STAGES = ("graphs_ckpt", "graph", "errors", "dangling", "conflicts")
STAGE_KEYS = ("task_s", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
              "spill_bytes", "skew")


def traced_run(r: Runner) -> tuple[dict, dict]:
    """Every layer once, with Spark's event log on; the same for both
    workloads but for the scaling legs.

    1. kg_publish's corpus and its build (the warm-up, as in a timed run),
       then kg_build's source and the traced build of it.
    2. A warm-up publish pass over kg_publish's graph and the traced pass.
    3. The headline queries over seeded tables, each checked against the
       row count of its DuckDB oracle.
    Then, with the event log off, the workload's operation in new Spark
    contexts on the same JVM: once at local[1] and once at local[4] (the
    scaling legs), each as warm as the traced one: the first build of
    kg_build's corpus in its context, or the second publish pass."""
    span = r.spans.span
    event_dir = r.work / "eventlog"
    session_s = r.start(event_log=event_dir)
    r.spark.sparkContext.setJobGroup("perfbench", "perfbench")

    small = Corpus(r, ops.RECORDS["kg_publish"], build=True)
    big = Corpus(r, ops.RECORDS["kg_build"], build=False)
    build_wall, errs, lineage = r.build_op(big, "traced")
    r.record(errs)
    graphs = (r.spark.read.parquet(str(r.work / "optraced" / "parsed"))
              .filter("stream = 'triple'").select("graph").distinct().count())

    r.warm_publish(small, passes=1)
    publish_wall, errs, (pub, ser_s, exp_s) = r.publish_op(small)
    r.record(errs)

    query_walls = run_queries(r)
    traced = build_wall if r.workload == "kg_build" else publish_wall
    r.spark.stop()  # closes the event log; the JVM stays up

    execs = tracing.fold_events(tracing.read_events(event_dir))
    m = fold_trace(r, execs, lineage, graphs)
    m["session.start_s"] = session_s
    m.update({"serialize.wall_s": ser_s, "serialize.graphs": pub[0],
              "exports.wall_s": exp_s, "exports.rows": pub[3]})
    for name, wall in query_walls.items():
        qm = tracing.layer_metrics(r.spans.within(f"query.{name}", execs.values()))
        m[f"query.{name}.wall_s"] = wall
        m[f"query.{name}.shuffle_bytes"] = qm["shuffle_write_bytes"]
    m["query.total_wall_s"] = sum(query_walls.values())

    c = big if r.workload == "kg_build" else small
    walls = {}
    for name, cores in (("local1", 1), ("local4", ops.CORES)):
        r.spark = ops.start_session(r.work, cores=cores)
        c.open(r.spark)
        if r.workload == "kg_publish":
            # the traced pass was its context's second one
            r.warm_publish(c, passes=1)
        with span(f"scaling.{name}"):
            walls[name], errs = r.op(c, name)
        r.record(errs)
        r.spark.stop()
    t1, t4 = walls["local1"], walls["local4"]
    m.update({
        "session.trace_overhead_pct": 100 * (traced - t4) / t4,
        "scaling.t1_s": t1, "scaling.t4_s": t4, "scaling.eff_1to4": (t1 / t4) / ops.CORES,
    })
    record = {"session_s": session_s, "traced_wall_s": traced, "plain_walls_s": walls,
              "query_walls_s": query_walls, "spans": r.spans.done}
    return m, record


def run_queries(r: Runner) -> dict[str, float]:
    """Each headline query once, forced with the noop sink, over tables
    made from the corpus seed; -> its seconds.  Its row count must equal
    its oracle's, or be above 0 if it has none."""
    names = ops.headline_queries()
    tdir = r.work / "tables"
    with r.spans.span("tables.write"):
        tables.write_tables(tdir, r.corpus)
        want = ops.oracle_rows(names, tdir)
    # the source's split size would otherwise apply to the tables' scans
    r.spark.conf.unset("spark.sql.files.maxPartitionBytes")
    walls = {}
    for name in names:
        t0 = time.perf_counter()
        try:
            with r.spans.span(f"query.{name}"):
                rows = ops.run_query(r.spark, name, tdir)
            walls[name] = time.perf_counter() - t0
            ok = rows == want[name] if name in want else rows > 0
            errs = [] if ok else [f"query {name}: {rows} rows, oracle {want.get(name)}"]
        except Exception as exc:  # noqa: BLE001 - a failed query is counted, not fatal
            walls[name] = time.perf_counter() - t0
            errs = [f"query {name}: {exc!r}"]
        r.record(errs)
    return walls


def fold_trace(r: Runner, execs: dict, lineage: dict, graphs: int) -> dict:
    """Per-layer metrics of the traced build and publish pass.

    Pipeline executions are told apart by the directory they write; the
    one that writes nothing is the graph-list checkpoint.  The graph stage's
    wall runs from the end of that checkpoint to the end of its own write,
    so it includes building the fused plan (reported alone as `plan_s`)."""
    in_build = r.spans.within("pipeline.run", execs.values())
    by_out = {s: [ex for ex in in_build if ex["out"] == s]
              for s in ("parsed", "graph", "errors", "dangling", "conflicts")}
    by_out["graphs_ckpt"] = [ex for ex in in_build if ex["out"] is None]
    layer = {s: tracing.layer_metrics(v) for s, v in by_out.items()}
    scan = tracing.scan_stage(by_out["parsed"])
    ckpt_end = max(ex["end"] for ex in by_out["graphs_ckpt"])
    graph_ex = by_out["graph"][0]
    m = {
        "sources.records": sum(t["input_records"] for t in scan),
        "sources.scan_bytes": sum(t["input_bytes"] for t in scan),
        "sources.scan_tasks": len(scan),
        "parse.wall_s": lineage["parsed"]["wall_s"],
        "parse.rows": lineage["parsed"]["rows"],
        "parse.tasks": layer["parsed"]["tasks"],
        "pipeline.graphs_ckpt.rows": graphs,
        "pipeline.graphs_ckpt.wall_s": layer["graphs_ckpt"]["exec_wall_s"],
        "pipeline.graph.wall_s": graph_ex["end"] - ckpt_end,
        "pipeline.graph.plan_s": graph_ex["start"] - ckpt_end,
        "pipeline.linked_rows": lineage["linked"]["rows"],
        "pipeline.completed_rows": lineage["completed"]["rows"],
    }
    for k in ("task_s", "cpu_s", "gc_s", "skew"):
        m[f"parse.{k}"] = layer["parsed"][k]
    for stage in PIPELINE_STAGES:
        if stage in ("errors", "dangling", "conflicts"):
            m[f"pipeline.{stage}.wall_s"] = lineage[stage]["wall_s"]
        if stage != "graphs_ckpt":
            m[f"pipeline.{stage}.rows"] = lineage[stage]["rows"]
        for k in STAGE_KEYS:
            m[f"pipeline.{stage}.{k}"] = layer[stage][k]
    # GC time of the small stages is mostly exactly 0, so only these two carry it
    m["pipeline.graph.gc_s"] = layer["graph"]["gc_s"]
    run = r.spans.last("pipeline.run")
    m["pipeline.run_wall_s"] = run["end"] - run["start"]
    critical = m["parse.wall_s"] + m["pipeline.graphs_ckpt.wall_s"] + m["pipeline.graph.wall_s"]
    m["pipeline.critical_path_pct"] = 100 * critical / m["pipeline.run_wall_s"]
    ser = tracing.layer_metrics([ex for ex in r.spans.within("kg.serialize", execs.values())
                                 if "perfbench:serialize" in ex["groups"]])
    for k in ("task_s", "cpu_s", "shuffle_write_bytes", "skew"):
        m[f"serialize.{k}"] = ser[k]
    return m


# ---------------------------------------------------------------- main


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    spec_path = REPO / "BENCHMARK.json"
    if not (REPO / "xmltoldmigration_spark" / "plans" / "pipeline.py").is_file():
        print(f"perfbench: no program sources under {REPO}", file=sys.stderr)
        return 2
    spec = json.loads(spec_path.read_text())
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    sys.path.insert(0, str(REPO))
    base = REPO / ".perfbench_work"
    work = base / f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work.mkdir(parents=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    r = Runner(args.workload, args.seed, work, tracing.Spans(bool(args.trace)))
    try:
        with tracing.StderrCapture(work / "stderr.log") as cap:
            # the sampler walks /proc four times a second: traced runs only
            rss = tracing.RssSampler()
            with rss if args.trace else contextlib.nullcontext():
                try:
                    if args.trace:
                        metrics, record = traced_run(r)
                    else:
                        metrics, record = timed_run(r, args.seconds)
                finally:
                    if r.spark is not None:
                        ops.stop_jvm(r.spark)
            record.update(host_controls())
        errors = tracing.error_lines(cap.text)
        record.update({
            "workload": args.workload, "seed": args.seed, "corpus_seed": r.corpus,
            "trace": args.trace, "driver_memory": ops.driver_memory(),
            "stderr_error_lines": len(errors),
            "check_errors": r.errors,
        })
        if args.trace:
            metrics.update({
                "session.peak_rss_mb": rss.peak / 2**20,
                "session.stderr_error_lines": len(errors),
                "ctl.host_s": record["host_ctl_s"], "ctl.mem_s": record["mem_ctl_s"],
            })
            by_span: dict[str, int] = {}
            for t, _ in errors:
                name = r.spans.innermost_at(t) or "outside any span"
                by_span[name] = by_span.get(name, 0) + 1
            record["error_lines_by_span"] = by_span
            traces = base / "traces"
            traces.mkdir(exist_ok=True)
            (traces / f"{args.workload}-seed{args.seed}.json").write_text(
                json.dumps(record, indent=1, default=str))
            del record["spans"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    correct = r.failed == 0
    out = {}
    for spec_m in wanted:
        out[spec_m["name"]] = {"value": metrics[spec_m["name"]], "unit": spec_m["unit"]}
    shown = " ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in out.items())
    print(f"{args.workload} seed={args.seed}: {shown} "
          f"error_rate={r.failed / r.attempted:.3f} ({r.failed}/{r.attempted})")
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({"correct": correct, "attempted": r.attempted,
                      "failed": r.failed, "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
