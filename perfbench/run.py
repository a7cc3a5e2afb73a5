"""Benchmark of the beacon-data-importer Spark engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  Every run is a fresh process on
``local[nproc]`` with ``nproc`` shuffle partitions, and drives the
engine only through its public entry points: ``cli.main([...])`` for
the import pipeline and ``__spark_entry__.queries()`` for the catalog.
Each timed operation runs once, so it pays what a first ``prepare-calls``
or ``cli query`` in a process pays.

Workloads (see ``BENCHMARK.json`` for why each exists):

* ``etl_import``: ``prepare-contacts`` (stdout to a file), then
  ``prepare-calls -o staging``, then ``run-import --init-contacts`` into
  a fresh db dir, on the fixture call log and GDS CSV amplified
  ``ETL_REPLICAS`` times.
* ``catalog_overhead``: a systematic sample of the whole query registry
  on the sf0.001 tables in ``perfbench/data``, each query built and its
  result collected.

Set-up is timed in ``set_up``: the package import and, for the catalog,
a JIT warm-up on other catalog queries once, then ``SETUP_ROUNDS`` rounds of session
start, the JVM/Arrow warm-up of ``bench.py`` and input generation;
``setup_s`` adds the median round to the one-time costs.  Outputs are
checked after the timed
pass: catalog results against DuckDB on ``oracle_sql()`` with
``tools/check_oracle.frame_digest``, pipeline outputs against
``replicas`` times the fixture's row counts.  ``--trace 1`` wraps each
layer's public functions in spans, reads Spark's REST API after the
pass, prints the per-layer metrics instead of the end-to-end ones and
writes the spans to ``.bench_work/traces/``.

The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
TABLES = HERE / "data" / "sf0.001"

sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
from spans import Tracer, spark_layers, wrap  # noqa: E402

ETL_REPLICAS = 500
#: sampled catalog queries: (text/vector, other).  Checked in traced
#: runs: this sample includes Arrow-worker queries and a consumer of a
#: once-per-session staged frame, so those layers are measured too.
CATALOG_QUERIES = (7, 9)
#: untimed queries run once to warm the JIT: (text/vector, other)
WARMUP_QUERIES = (4, 4)
SETUP_ROUNDS = 3
WORKLOADS = ("etl_import", "catalog_overhead")

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
}
PER_LAYER = {
    "session.start_s": "s",
    "setup.import_s": "s",
    "setup.jit_warm_up_s": "s",
    "jvm.peak_heap_mb": "MB",
    "jvm.retained_heap_mb": "MB",
    "sources.parquet.reads": "count",
    "sources.parquet.read_s": "s",
    "sources.parquet.distinct_ratio": "ratio",
    "catalog.build_s": "s",
    "catalog.build_jobs": "count",
    "catalog.temp_views": "count",
    "plans.staging_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_write_b": "B",
    "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_b": "B",
    "python.worker_run_s": "s",
    "python.worker_start_s": "s",
    "python.bytes_sent_b": "B",
    "sources.csv.read_s": "s",
    "sources.csv.sink_s": "s",
    "sources.csv.sink_jobs_s": "s",
    "sources.csv.sink_rows": "rows",
    "plans.contacts.build_s": "s",
    "plans.calls.build_s": "s",
    "plans.calls.qa_build_s": "s",
    "plans.import_stage.run_s": "s",
    "plans.import_stage.read_staging_s": "s",
    "plans.import_stage.rows_written": "rows",
    "cli.prepare_contacts_s": "s",
    "cli.prepare_calls_s": "s",
    "cli.run_import_s": "s",
    "etl.rows_per_s": "1/s",
    "trace.wall_s": "s",
}


def engine_present() -> bool:
    return (ROOT / "__spark_entry__.py").is_file() and (
        ROOT / "beacon_data_importer_spark" / "cli.py"
    ).is_file()


def prepare_environment(work: Path, nproc: int) -> None:
    """Must run before pyspark launches the JVM: Python workers import
    the package from the checkout, temp files stay inside it, and the
    CLI's own ``get_spark()`` call sees the same core count."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    sys.path.insert(0, str(ROOT))


def start_session(work: Path, nproc: int):
    from beacon_data_importer_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{nproc}]",
        shuffle_partitions=nproc,
        extra_conf={
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'}",
            # keep every job of the pass visible to the REST API
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, queries, arrow: bool) -> None:
    """The JVM/Arrow warm-up of ``bench.py``: one parquet query, and one
    ``mapInArrow`` pass so Python workers have imported numpy/pyarrow
    (skipped for the pipeline, which starts no Python worker)."""
    queries["rename_project"](spark, str(TABLES)).write.format("noop").mode(
        "overwrite"
    ).save()
    if not arrow:
        return

    def _arrow_warm(batches):
        import numpy  # noqa: F401
        import pyarrow  # noqa: F401

        yield from batches

    n = spark.sparkContext.defaultParallelism
    spark.range(0, n, 1, n).mapInArrow(_arrow_warm, "id bigint").write.format(
        "noop"
    ).mode("overwrite").save()


class Heap:
    """Heap of the JVM pyspark launched (in local mode Spark's executors
    run inside it too)."""

    def __init__(self, spark) -> None:
        self.jvm = spark.sparkContext._jvm
        mf = self.jvm.java.lang.management.ManagementFactory
        kind = self.jvm.java.lang.management.MemoryType.HEAP
        self.memory = mf.getMemoryMXBean()
        self.pools = [p for p in mf.getMemoryPoolMXBeans() if p.getType().equals(kind)]
        for p in self.pools:
            p.resetPeakUsage()

    def peak_mb(self) -> float:
        """High-water mark since construction; it moves with the timing
        of young collections, so it is reported but not gated."""
        return sum(p.getPeakUsage().getUsed() for p in self.pools) / 2**20

    def retained_mb(self, spark) -> float:
        """Heap still in use after a full collection: what the session
        keeps once the work is done (staged frames, cached blocks,
        plans, UI history).  Python's collector runs first, so the JVM
        objects behind dead Python frames are released; the listener
        bus is drained, so the UI history of the pass is complete; and
        the smallest of three collections is taken, so blocks the
        context cleaner frees after the first one are not counted."""
        gc.collect()
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        used = []
        for _ in range(3):
            self.jvm.java.lang.System.gc()
            used.append(self.memory.getHeapMemoryUsage().getUsed())
            time.sleep(0.2)
        return min(used) / 2**20


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM pyspark launched (and with it the
    Python workers it forked), and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def set_up(args, work: Path, nproc: int, out: dict) -> None:
    """Everything before the timed pass.

    ``SETUP_ROUNDS`` rounds of session start + warm-up + input
    generation; the first round launches the JVM, the others restart
    the SparkContext inside it.  One-time costs are measured once: the
    package import and, for the catalog, the JIT warm-up (run in the
    first session, so its staged frames and cached blocks go with it).
    The pipeline gets no JIT warm-up: each CLI command is a process of
    its own in real use, so its users pay a cold JVM.  ``setup_s`` =
    import + JIT warm-up + median round.  Results go into ``out``;
    ``out["spark"]`` is always the live session, so the caller can stop
    it even if set-up fails."""
    import __spark_entry__ as entry

    queries, oracles = entry.queries(), entry.oracle_sql()
    out.update(queries=queries, oracles=oracles, rounds=[], starts=[], jit_s=0.0)
    out["import_s"] = time.perf_counter() - T_PROCESS
    spark = first = None
    for i in range(SETUP_ROUNDS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = out["spark"] = start_session(work, nproc)
        out["starts"].append(time.perf_counter() - t0)
        warm_up(spark, queries, arrow=args.workload != "etl_import")
        made = make_inputs(args, work / f"inputs{i}", oracles)
        out["rounds"].append(time.perf_counter() - t0)
        if first is None:
            first = made
        elif made["digest"] != first["digest"]:
            raise RuntimeError("input generation is not deterministic")
        if i == 0 and args.workload != "etl_import":
            t0 = time.perf_counter()
            jit_warm_up(spark, queries, oracles, made["sample"])
            out["jit_s"] = time.perf_counter() - t0
    out["made"] = made
    out["setup_s"] = out["import_s"] + out["jit_s"] + statistics.median(out["rounds"])


def jit_warm_up(spark, queries, oracles, sample) -> None:
    """Run other queries of the registry (the neighbours of the sampled
    ones) on the committed tables, so the JVM has compiled Spark's
    generic paths before the pass.  Without it the first queries of the
    pass absorb seconds of JIT work, which moves from run to run; with
    it every timed query still runs its own plan for the first time.
    A different table directory keeps staged frames and parquet footers
    from being shared with the timed queries."""
    for name in inputs.sample_queries(oracles, WARMUP_QUERIES, offset=1):
        if name in sample:
            continue
        try:
            queries[name](spark, str(TABLES)).toPandas()
        except Exception as ex:  # warm-up only; the pass checks results
            print(f"warm-up {name}: {type(ex).__name__}", file=sys.stderr)
        spark.catalog.clearCache()


def make_inputs(args, out: Path, oracles) -> dict:
    """The seeded inputs of the workload; ``digest`` holds their bytes so
    that set-up rounds can check they are reproducible."""
    if args.workload == "etl_import":
        paths = inputs.write_etl_inputs(ROOT, out, ETL_REPLICAS, args.seed)
        made = {"paths": paths}
    else:
        tables = inputs.write_tables(TABLES, out, args.seed)
        paths = {t.stem: t for t in sorted(tables.glob("*.parquet"))}
        made = {"tables": tables, "sample": inputs.sample_queries(oracles, CATALOG_QUERIES)}
    made["digest"] = [p.read_bytes() for p in paths.values()]
    return made


# --------------------------------------------------------------------------
# timed passes
# --------------------------------------------------------------------------


def run_catalog(spark, queries, sample, tables: Path, tr: Tracer, seconds: float, traced: bool):
    """Build each sampled query and collect its result, as ``cli query``
    and the oracle gate do; stop starting new queries once ``seconds``
    have passed."""
    ops = []
    t0 = time.perf_counter()
    for name in sample:
        if ops and time.perf_counter() - t0 >= seconds:
            break
        tr.op = name
        rec = {"name": name, "result": None, "error": None}
        try:
            with tr.span("op") as op:
                with tr.span("catalog.build"):
                    df = queries[name](spark, str(tables))
                if traced:
                    with tr.span("spark.plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("spark.exec"):
                    rec["result"] = df.toPandas()
        except Exception as ex:  # a failing query is counted, not fatal
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        rec["latency"] = op["end"] - op["start"]
        tr.op = None
        spark.catalog.clearCache()
        ops.append(rec)
    return ops, time.perf_counter() - t0


def check_catalog(oracles, ops) -> None:
    """Row count, column names and order-insensitive value digest of
    each result against DuckDB on the query's oracle SQL.

    The results are compared as unordered sets of rows, which the
    seeded row order of the tables does not change.  So the oracle runs
    on the committed tables, and its answer, which depends only on its
    SQL, those tables and the DuckDB version, is kept in ``.bench_work``
    under a hash of the three and computed once per checkout."""
    import duckdb

    os.environ["SPARK_GRAFT_REPO"] = str(ROOT)
    sys.path.insert(0, str(ROOT / "tools"))
    from check_oracle import frame_digest

    tables = sorted(TABLES.glob("*.parquet"))
    base = hashlib.sha256(duckdb.__version__.encode())
    for t in tables:
        base.update(t.read_bytes())
    cache_path = WORK / "oracle_digests.json"
    cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
    con = None
    for rec in ops:
        if rec["error"]:
            continue
        key = base.copy()
        key.update(oracles[rec["name"]].encode())
        key = key.hexdigest()
        if key not in cache:
            if con is None:
                con = duckdb.connect()
                for t in tables:
                    con.execute(f"CREATE VIEW {t.stem} AS SELECT * FROM '{t}'")
            try:
                want = con.execute(oracles[rec["name"]]).df()
            except Exception as ex:
                rec["error"] = f"oracle: {type(ex).__name__}: {str(ex)[:300]}"
                continue
            cache[key] = [len(want), sorted(want.columns), frame_digest(want)[0]]
        got = rec["result"]
        if [len(got), sorted(got.columns), frame_digest(got)[0]] != cache[key]:
            rec["error"] = (
                f"result differs from DuckDB: rows {len(got)} vs {cache[key][0]}, "
                f"columns {sorted(got.columns)} vs {cache[key][1]}"
            )
    if con is not None:
        con.close()
        tmp = cache_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(cache))
        os.replace(tmp, cache_path)


def run_etl(made, work: Path, tr: Tracer):
    from beacon_data_importer_spark import cli

    paths = made["paths"]
    staging, db = work / "staging", work / "db"
    contacts = work / "contacts.csv"
    log = work / "cli.log"
    commands = [
        ("prepare_contacts", ["prepare-contacts", str(paths["gds"]), "--now", "2020-05-01T12:00:00"], contacts),
        ("prepare_calls", ["prepare-calls", str(paths["calls"]), "-o", str(staging),
                           "-fnu", inputs.USERS[0], "-cnu", inputs.USERS[1],
                           "-snu", inputs.USERS[2], "-clru", inputs.USERS[3]], log),
        ("run_import", ["run-import", "-d", str(db), "-s", str(staging),
                        "--init-contacts", str(contacts)], log),
    ]
    ops = []
    t0 = time.perf_counter()
    for name, argv, stdout in commands:
        tr.op = name
        rec = {"name": name, "error": None}
        t_op = time.perf_counter()
        try:
            with open(stdout, "a") as fh, contextlib.redirect_stdout(fh):
                with tr.span(f"cli.{name}"):
                    rc = cli.main(argv)
            if rc != 0:
                rec["error"] = f"exit code {rc}"
        except Exception as ex:  # a failing command is counted, not fatal
            rec["error"] = f"{type(ex).__name__}: {str(ex)[:300]}"
        rec["latency"] = time.perf_counter() - t_op
        tr.op = None
        ops.append(rec)
    return ops, time.perf_counter() - t0, {"staging": staging, "db": db, "contacts": contacts}


def check_etl(ops, outs) -> dict:
    """Every output must be exactly ``ETL_REPLICAS`` times the fixture's."""
    import duckdb

    want = inputs.expected_etl_counts(ETL_REPLICAS)
    got = {"contacts_csv": None, "staging": {}, "db": {}}
    if outs["contacts"].exists():
        got["contacts_csv"] = inputs.count_csv_rows(outs["contacts"])
    if outs["staging"].is_dir():
        got["staging"] = inputs.staging_counts(outs["staging"])
    con = duckdb.connect()
    for table in want["db"]:
        path = outs["db"] / f"{table}.parquet"
        if path.is_dir():
            got["db"][table] = con.execute(
                f"SELECT count(*) FROM read_parquet('{path}/*.parquet')"
            ).fetchone()[0]
    con.close()
    for rec, key in zip(ops, ("contacts_csv", "staging", "db")):
        if rec["error"] is None and got[key] != want[key]:
            rec["error"] = f"{key}: got {got[key]}, want {want[key]}"
    return got


# --------------------------------------------------------------------------
# tracing
# --------------------------------------------------------------------------


def install_wrappers(tr: Tracer, spark) -> None:
    """Spans around the public functions of each layer (traced run only)."""
    from pyspark.sql.readwriter import DataFrameReader

    from beacon_data_importer_spark.plans import calls, contacts, import_stage
    from beacon_data_importer_spark.sources import csv as csv_source

    paths: set[str] = set()

    def parquet_read(tr, _res, args, _kw):
        tr.add("sources.parquet.reads", 1)
        new = set(map(str, args[1:])) - paths
        paths.update(new)
        tr.add("sources.parquet.paths", len(new))

    wrap(tr, DataFrameReader, "parquet", "sources.parquet.read", parquet_read)
    # the concrete DataFrame class, which overrides the base class methods
    wrap(tr, type(spark.range(0)), "createOrReplaceTempView", "catalog.temp_view",
         lambda tr, *_: tr.add("catalog.temp_views", 1))
    for mod in (calls, contacts):
        wrap(tr, mod, "read_csv_stringly", "sources.csv.read")
    wrap(tr, csv_source, "write_csv_file", "sources.csv.sink")
    wrap(tr, csv_source, "csv_to_stdout", "sources.csv.sink")
    wrap(tr, contacts, "prepare_contacts", "plans.contacts.build")
    wrap(tr, calls, "prepare_calls", "plans.calls.build")
    wrap(tr, calls, "quality_assurance", "plans.calls.qa_build")
    wrap(tr, import_stage, "run_import", "plans.import_stage.run",
         lambda tr, res, *_: tr.add("plans.import_stage.rows_written", sum(res.values())))
    wrap(tr, import_stage, "read_staging", "plans.import_stage.read_staging")


def layer_metrics(spark, tr: Tracer, setup: dict, memory: dict, pass_s: float, etl) -> dict:
    from beacon_data_importer_spark.plans.staging_meter import STAGING_SEC

    m = dict.fromkeys(PER_LAYER, 0.0)
    m.update(spark_layers(spark, tr))
    reads = tr.counts.get("sources.parquet.reads", 0)
    m.update({
        "session.start_s": statistics.median(setup["starts"]),
        "setup.import_s": setup["import_s"],
        "setup.jit_warm_up_s": setup["jit_s"],
        **memory,
        "sources.parquet.reads": reads,
        "sources.parquet.read_s": tr.total("sources.parquet.read"),
        "sources.parquet.distinct_ratio": (
            tr.counts.get("sources.parquet.paths", 0) / reads if reads else 0.0
        ),
        "catalog.build_s": tr.total("catalog.build"),
        "catalog.temp_views": tr.counts.get("catalog.temp_views", 0),
        "plans.staging_s": sum(STAGING_SEC.values()),
        "spark.plan_s": tr.total("spark.plan"),
        "spark.exec_s": tr.total("spark.exec"),
        "sources.csv.read_s": tr.total("sources.csv.read"),
        "sources.csv.sink_s": tr.total("sources.csv.sink"),
        "plans.contacts.build_s": tr.total("plans.contacts.build"),
        "plans.calls.build_s": tr.total("plans.calls.build"),
        "plans.calls.qa_build_s": tr.total("plans.calls.qa_build"),
        "plans.import_stage.run_s": tr.total("plans.import_stage.run"),
        "plans.import_stage.read_staging_s": tr.total("plans.import_stage.read_staging"),
        "plans.import_stage.rows_written": tr.counts.get("plans.import_stage.rows_written", 0),
        "cli.prepare_contacts_s": tr.total("cli.prepare_contacts"),
        "cli.prepare_calls_s": tr.total("cli.prepare_calls"),
        "cli.run_import_s": tr.total("cli.run_import"),
        "trace.wall_s": pass_s,
    })
    if etl is not None:
        m["sources.csv.sink_rows"] = (etl["contacts_csv"] or 0) + sum(etl["staging"].values())
        calls_rows = ETL_REPLICAS * len(inputs.load_fixtures(ROOT).CALLS_ROWS)
        m["etl.rows_per_s"] = calls_rows / pass_s
    return m


# --------------------------------------------------------------------------


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not engine_present():
        print(f"error: no engine sources under {ROOT}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    work = WORK / f"{args.workload}-s{args.seed}-p{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work, nproc)
    setup: dict = {}
    try:
        set_up(args, work, nproc, setup)
        spark, made = setup["spark"], setup["made"]
        queries, oracles = setup["queries"], setup["oracles"]
        tr = Tracer()
        if args.trace:
            install_wrappers(tr, spark)
        heap = Heap(spark)
        if args.workload == "etl_import":
            ops, pass_s, outs = run_etl(made, work, tr)
        else:
            ops, pass_s = run_catalog(
                spark, queries, made["sample"], made["tables"], tr, args.seconds, bool(args.trace)
            )
        memory = {"jvm.peak_heap_mb": heap.peak_mb(), "jvm.retained_heap_mb": heap.retained_mb(spark)}
        t_check = time.perf_counter()
        if args.workload == "etl_import":
            etl = check_etl(ops, outs)
        else:
            etl = None
            check_catalog(oracles, ops)
        check_s = time.perf_counter() - t_check
        failed = [r for r in ops if r["error"]]
        if args.trace:
            metrics = layer_metrics(spark, tr, setup, memory, pass_s, etl)
            units = PER_LAYER
            (WORK / "traces").mkdir(parents=True, exist_ok=True)
            tr.dump(WORK / "traces" / f"{work.name}.json")
        else:
            metrics = {
                "setup_s": setup["setup_s"],
                "wall_s": pass_s,
                "op_p50_s": statistics.median(r["latency"] for r in ops),
            }
            units = END_TO_END
    finally:
        t_stop = time.perf_counter()
        if setup.get("spark") is not None:
            stop_jvm(setup["spark"])
        shutil.rmtree(work, ignore_errors=True)
    phases = {
        "setup": sum(setup["rounds"]) + setup["import_s"] + setup["jit_s"], "pass": pass_s, "check": check_s,
        "stop": time.perf_counter() - t_stop, "total": time.perf_counter() - T_PROCESS,
    }

    for r in ops:
        status = f"FAILED {r['error']}" if r["error"] else "ok"
        print(f"op {r['name']} {r['latency']:.3f}s {status}", file=sys.stderr)
    print(
        f"nproc={nproc} workload={args.workload} seed={args.seed} ops={len(ops)} "
        f"failed_frac={len(failed) / len(ops):.4f} setup_rounds_s={[round(r, 3) for r in setup['rounds']]} "
        f"import_s={setup['import_s']:.2f} jit_warm_up_s={setup['jit_s']:.2f} "
        f"phases_s={ {k: round(v, 1) for k, v in phases.items()} } "
        f"memory_mb={ {k: round(v) for k, v in memory.items()} }"
        + (f" sample={made['sample']}" if "sample" in made else "")
    )
    print(json.dumps({
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
