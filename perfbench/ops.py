"""The benchmark's calls into the program, and the checks on their outputs.

Everything here goes through the program's public functions:
`session.get_spark`, `sources.corpus.load_synthetic_src`,
`plans.pipeline.Pipeline.run` / `.lineage()`, `kg.serialize.serialize_graphs`,
`plans.exports.export_title_info` and the query registry, whose DuckDB
oracle SQL checks the queries.  No program file is changed.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
from pathlib import Path

CORES = 4
# records in each workload's synthetic corpus.  A build has a fixed cost of
# about 6.5 s on 4 cores whatever its size; at 20,000 records the
# per-record parse and shuffle work is about half of it.  A publish pass
# (3 to 5 s at 1,000 records) repeats several times within one run.
RECORDS = {"kg_build": 20000, "kg_publish": 1000}
# source files: two per core at local[4]; the local[1] leg scans the same
# layout, so the thread count is the only thing the scaling legs change
SRC_FILES = 2 * CORES
# build stages whose row count and content hash the pipeline records
CHECKED_STAGES = ("parsed", "graph", "errors", "dangling", "conflicts")

# Outputs pinned for corpus seeds 0 .. PINNED_SEEDS-1 at both sizes, made
# by pin.py: {records: {seed: {"build": {stage: [rows, value_hash]},
# "publish": [graphs, sha256 fold, text bytes, title rows, title hash]}}}.
# Every run's corpus seed is one of them, so every operation is checked
# against values that do not come from the run itself.
PINNED_SEEDS = 32
PINS_PATH = Path(__file__).resolve().parent / "pins.json"


def corpus_seed(seed: int) -> int:
    """The corpus seed of a benchmark seed: one that has pinned outputs."""
    return seed % PINNED_SEEDS


def pins(n: int, seed: int) -> dict:
    """Pinned outputs of the corpus of `n` records made with `seed`."""
    got = json.loads(PINS_PATH.read_text()).get(str(n), {}).get(str(seed))
    if got is None:
        raise KeyError(f"no pinned outputs for seed {seed} at {n} records")
    return got


def driver_memory() -> str:
    """A quarter of the memory this process may use, at most 16g.

    The program's default heap (16g) exceeds small hosts; the cgroup limit,
    when there is one, is smaller than /proc/meminfo's total."""
    limits = []
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                limits.append(int(line.split()[1]) * 1024)
    try:
        raw = Path("/sys/fs/cgroup/memory.max").read_text().strip()
        if raw.isdigit():
            limits.append(int(raw))
    except OSError:
        pass
    gib = min(limits) // 4 // 2**30
    return f"{max(1, min(16, gib))}g"


def start_session(work: Path, cores: int = CORES, event_log: Path | None = None):
    """A SparkSession at local[cores] whose scratch files stay under `work`."""
    from xmltoldmigration_spark.session import get_spark

    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_memory()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.eventLog.enabled": "false",
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            # Spark 4 compresses event logs with zstd by default
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": str(event_log),
        })
    # the same shuffle width at every core count, so both scaling legs run
    # the same plans
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=CORES, extra_conf=conf,
    )
    spark.range(1).count()
    return spark


def stop_jvm(spark) -> None:
    """Stop Spark and wait for the JVM process to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # the gateway exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def write_src(spark, path: Path, n: int, seed: int) -> None:
    """The seeded synthetic corpus as a parquet table: the pipeline's input."""
    from xmltoldmigration_spark.sources.corpus import load_synthetic_src

    load_synthetic_src(spark, n, seed=seed, num_partitions=SRC_FILES).write.mode(
        "overwrite"
    ).parquet(str(path))


def src_split_bytes(path: Path) -> int:
    """The split size that scans the source with one task per file."""
    total = sum(f.stat().st_size for f in path.glob("*.parquet"))
    return max(total // SRC_FILES, 2**20)


def read_src(spark, path: Path):
    """The source, scanned with one split per file whatever the core count.
    The split size is a session setting, read when a plan runs, so it is
    set again before each operation on this source (`use_src`)."""
    use_src(spark, path)
    return spark.read.parquet(str(path))


def use_src(spark, path: Path) -> None:
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(src_split_bytes(path)))


def build(spark, src, out: Path) -> dict:
    """One fresh pipeline run; returns its lineage keyed by stage."""
    from xmltoldmigration_spark.plans.pipeline import Pipeline

    pipe = Pipeline(spark, str(out))
    pipe.run(src, resume=False)
    return {r["stage"]: r for r in pipe.lineage()}


def build_summary(lineage: dict) -> dict:
    """(rows, value_hash) of each checked stage."""
    return {s: (lineage[s]["rows"], lineage[s]["value_hash"]) for s in CHECKED_STAGES}


def check_build(lineage: dict, pinned: dict) -> list[str]:
    """Mismatches of one build against the pinned outputs of its corpus
    and against the files it wrote."""
    errs = []
    got = build_summary(lineage)
    for stage, (rows, vhash) in pinned["build"].items():
        if got[stage] != (rows, vhash):
            errs.append(f"{stage}: {got[stage]} != pinned {(rows, vhash)}")
    graph = lineage["graph"]
    if not graph.get("truncated"):
        on_disk = sum(p["rows"] for p in graph["partitions"])
        if on_disk != graph["rows"]:
            errs.append(f"graph files hold {on_disk} rows, lineage says {graph['rows']}")
    return errs


def serialize(spark, graph_path: Path) -> tuple[int, int, int]:
    """Serialize every named graph; -> (graphs, sha256 fold, text bytes).

    The fold is order-insensitive: xor of the first 60 bits of each
    graph's sha256."""
    from pyspark.sql import functions as F

    from xmltoldmigration_spark.kg.serialize import serialize_graphs

    row = serialize_graphs(spark.read.parquet(str(graph_path))).agg(
        F.count(F.lit(1)),
        F.bit_xor(F.conv(F.substring("sha256", 1, 15), 16, 10).cast("long")),
        F.sum(F.length("body")),
    ).first()
    return int(row[0]), int(row[1]), int(row[2])


def export_titles(spark, graph_path: Path) -> tuple[int, int]:
    """The title export, sorted as the program returns it, written to the
    noop sink: the whole plan runs and nothing is kept.  -> (rows, content
    hash fold), observed in the same run."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from xmltoldmigration_spark.plans.exports import export_title_info

    seen = Observation("export_titles")
    export_title_info(spark.read.parquet(str(graph_path))).observe(
        seen,
        F.count(F.lit(1)).alias("rows"),
        F.bit_xor(F.xxhash64("wa_rid", "mw_rid", "titles", "creators")).alias("hash"),
    ).write.format("noop").mode("overwrite").save()
    return int(seen.get["rows"]), int(seen.get["hash"] or 0)


def local_sha_fold(spark, graph_path: Path) -> tuple[int, int]:
    """(graphs, sha256 fold) computed in the driver from the raw graph
    table: the distributed grouping and hashing must agree with it before
    a publish result is pinned."""
    from xmltoldmigration_spark.kg.serialize import _PRIORITY, serialize_row

    pdf = spark.read.parquet(str(graph_path)).select(
        "graph", "subject", "predicate", "o_kind", "o_value", "o_lang", "o_datatype"
    ).toPandas()
    fold = graphs = 0
    for _, g in pdf.groupby("graph"):
        keyed = sorted(
            ((r.subject, _PRIORITY.get(r.predicate, 9), r.predicate),
             serialize_row(r.subject, r.predicate, r.o_kind, r.o_value, r.o_lang, r.o_datatype))
            for r in g.itertuples(index=False)
        )
        body = "\n".join(line for _, line in keyed) + "\n"
        fold ^= int(hashlib.sha256(body.encode("utf-8")).hexdigest()[:15], 16)
        graphs += 1
    return graphs, fold


def check_publish(result: tuple, pinned: dict) -> list[str]:
    if list(result) != pinned["publish"]:
        return [f"publish {result} != pinned {tuple(pinned['publish'])}"]
    return []


# ---------------------------------------------------------------- queries


def headline_queries() -> list[str]:
    """bench.py's HEADLINE list: the queries the repository benchmarks."""
    from bench import HEADLINE

    return list(HEADLINE)


def run_query(spark, name: str, tables: Path) -> int:
    """One headline query forced with the noop sink, as bench.py runs it;
    -> its row count, observed in the same run."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from xmltoldmigration_spark.queries import registry

    seen = Observation(f"rows_{name}")
    registry()[name].fn(spark, str(tables)).observe(
        seen, F.count(F.lit(1)).alias("rows")
    ).write.format("noop").mode("overwrite").save()
    return int(seen.get["rows"])


def oracle_rows(names: list[str], tables: Path) -> dict[str, int]:
    """Row counts of the queries' DuckDB oracle SQL over the same tables,
    for the queries that have one."""
    import duckdb

    from xmltoldmigration_spark.queries import registry
    from xmltoldmigration_spark.tables import TABLE_NAMES

    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{tables / (t + '.parquet')}')")
        reg = registry()
        return {n: con.execute(f"SELECT count(*) FROM ({reg[n].oracle})").fetchone()[0]
                for n in names if reg[n].oracle is not None}
    finally:
        con.close()
