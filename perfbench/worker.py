"""One benchmark run in one fresh process: ``python3 perfbench/worker.py``.

``run.py`` starts this script with the run's environment (private TMPDIR,
Spark local dirs, warehouse and JVM temp dir) and reads the JSON record it
writes to ``--out``. The run is one closed-loop client on one SparkSession:

1. import the registry and build the session (each timed);
2. write the streaming replay source if the workload streams (the load
   generator, ``replay_dir``);
3. the cold pass: every query once, results collected into this process;
4. the output check: each collected result against its DuckDB oracle;
5. TIMED_PASSES timed passes (results discarded through Spark's ``noop``
   sink), each query's wall time kept.

With ``--trace 1`` the passes after the check are one untimed pass, then
two traced and two untraced ones in ABBA order. A traced pass records spans (run -> pass -> query, the
query span tagged with its layer) and, per query call, the counters of the
Spark stages it created (read from the status store Spark keeps even with
the UI off), the progress of its streaming micro-batches (from a
``StreamingQueryListener``) and the files it left in the temp dir. Spans and
counters stay in memory and are written once, with the record, at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

from pyspark.sql.streaming import StreamingQueryListener

PACKAGE = "stockmarket_bigdata_project_spark"

# Passes timed after the cold one; ``run.py`` takes the median of each
# query over them. The cold pass is the only warm-up. Measured on a 4-core
# host: the medallion mix still speeds up for two to three passes after the
# cold one (15.1, 14.5, 11.9, 10.0 s in one run; 11.1, 10.7, 10.5, 10.4 s in
# another), and single passes stall by up to 30% at any point. Waiting for
# the end of that warm-up would not fit the benchmark's time budget (4 + 22
# x workloads runs in 3420 s); the per-query median drops the slow first
# reading or a stall instead. Two warm-up passes before the timed ones left
# the spread of curation pass_s across runs where it was (IQR/median 0.14
# against 0.13 over five seeds): the spread is between whole runs.
TIMED_PASSES = 3

STAGE_FIELDS = (
    ("tasks", "numTasks", 1),
    ("run_s", "executorRunTime", 1e-3),
    ("cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("input_bytes", "inputBytes", 1),
    ("input_rows", "inputRecords", 1),
    ("shuffle_bytes", "shuffleWriteBytes", 1),
    # the on-disk size of spilled data (memoryBytesSpilled is the same
    # spill's in-memory size)
    ("spill_bytes", "diskBytesSpilled", 1),
)


class _Progress(StreamingQueryListener):
    """Keeps the progress of every micro-batch the session runs."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.batches.append(
            {
                "ms": p.durationMs.get("triggerExecution", 0),
                "input_rows": p.numInputRows,
                "state_rows": sum(s.numRowsTotal for s in p.stateOperators),
                "commit_ms": sum(s.commitTimeMs for s in p.stateOperators),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def _files(root: str) -> dict[str, int]:
    """Path -> size of every file under ``root``."""
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            try:
                out[p] = os.path.getsize(p)
            except OSError:  # removed while walking
                pass
    return out


class Tracer:
    """Spans plus per-query counters, kept in memory."""

    def __init__(self, spark, t0: float):
        sc = spark.sparkContext
        self._store = sc._jsc.sc().statusStore()
        self._bus = sc._jsc.sc().listenerBus()
        self._no_quantiles = sc._gateway.new_array(sc._gateway.jvm.double, 0)
        self._progress = _Progress()
        spark.streams.addListener(self._progress)
        self._tmp = tempfile.gettempdir()
        self._t0 = t0
        self.spans: list[dict] = []
        self.start_query()

    def _stage_list(self):
        # newest first (the store's stage index is read in reverse)
        return self._store.stageList(None, False, False, self._no_quantiles, None)

    def _drain(self) -> None:
        # The status store and the streaming listener are fed from the
        # listener bus, asynchronously; wait until every event of the work
        # done so far has been applied.
        self._bus.waitUntilEmpty()

    def span(self, name: str, start: float, end: float, parent, **tags) -> int:
        sid = len(self.spans)
        self.spans.append(
            {"id": sid, "parent": parent, "name": name,
             "start": start - self._t0, "end": end - self._t0, **tags}
        )
        return sid

    def start_query(self) -> None:
        """Mark the state before a query call: newest stage, batches, files."""
        self._drain()
        stages = self._stage_list()
        self._mark = stages.apply(0).stageId() if stages.size() else -1
        self._progress.batches.clear()
        self._before = _files(self._tmp)

    def end_query(self) -> dict:
        """Counters of the stages, micro-batches and files the query call
        since ``start_query`` created."""
        self._drain()
        out = {"stages": 0, **{k: 0 for k, _, _ in STAGE_FIELDS}}
        stages = self._stage_list()
        for i in range(stages.size()):
            s = stages.apply(i)
            if s.stageId() <= self._mark:
                break
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            for key, getter, scale in STAGE_FIELDS:
                out[key] += getattr(s, getter)() * scale
        batches = list(self._progress.batches)
        out["batch_ms"] = [b["ms"] for b in batches]
        out["stream_input_rows"] = sum(b["input_rows"] for b in batches)
        out["state_rows"] = max((b["state_rows"] for b in batches), default=0)
        out["state_commit_ms"] = sum(b["commit_ms"] for b in batches)
        new = {p: n for p, n in _files(self._tmp).items() if p not in self._before}
        out["files_written"] = len(new)
        out["bytes_written"] = sum(new.values())
        return out


class _Collected:
    """A collected result in the shape ``oracle_compare.compare`` reads."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


def _layer(fn) -> str:
    return fn.__module__.removeprefix(PACKAGE + ".").split(".")[0]


def _oracle_check(sf_dir: str, results: dict, oracle: dict) -> list[str]:
    import duckdb

    from stockmarket_bigdata_project_spark.catalog import TABLES, table_path
    from tests.oracle_compare import compare

    errors = []
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')"
            )
        for name, res in results.items():
            if name not in oracle:
                errors.append(f"{name}: no oracle")
                continue
            try:
                compare(res, con, oracle[name], name=name)
            except AssertionError as e:
                errors.append(f"{name}: {str(e).splitlines()[0]}")
            except Exception as e:  # a failing oracle is counted, the run goes on
                errors.append(f"{name}: oracle {type(e).__name__}: {str(e)[:300]}")
    finally:
        con.close()
    return errors


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", required=True, help="comma-separated, in run order")
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)
    names = args.queries.split(",")
    sf_dir = args.sf_dir

    t0 = time.perf_counter()
    from stockmarket_bigdata_project_spark import registry

    queries = registry.all_queries()
    oracle = registry.all_oracle_sql()
    t_import = time.perf_counter()
    from stockmarket_bigdata_project_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.ui.showConsoleProgress": "false"})
    t_session = time.perf_counter()
    layers = {n: _layer(queries[n]) for n in names}
    if "streaming" in layers.values():
        from stockmarket_bigdata_project_spark.streaming.pipelines import replay_dir

        replay_dir(spark, sf_dir)

    rec = {
        "import_s": t_import - t0,
        "session_s": t_session - t_import,
        "replay_s": time.perf_counter() - t_session,
        "nproc": spark.sparkContext.defaultParallelism,
        "versions": {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0],
        },
        "layers": layers,
        "attempted": 0,
        "failed": 0,
        "errors": [],
    }

    def run_pass(action, tracer=None, parent=None) -> tuple[float, dict, dict]:
        """One pass over the queries: wall time, per-query wall times, and
        per-query counters when traced."""
        walls, counters = {}, {}
        start = time.perf_counter()
        for name in names:
            if tracer:
                tracer.start_query()
            q0 = time.perf_counter()
            rec["attempted"] += 1
            try:
                action(name, queries[name](spark, sf_dir))
            except Exception as e:  # a failing query is counted, the run goes on
                rec["failed"] += 1
                rec["errors"].append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            q1 = time.perf_counter()
            walls[name] = q1 - q0
            if tracer:
                tracer.span(name, q0, q1, parent, layer=layers[name])
                counters[name] = tracer.end_query()
        return time.perf_counter() - start, walls, counters

    # --- cold pass: results collected for the output check -----------------
    results = {}

    def collect(name, df):
        results[name] = _Collected(df.columns, [tuple(r) for r in df.collect()])

    rec["cold_pass_s"] = run_pass(collect)[0]
    rec["cold_end_wall"] = time.time()
    check_errors = _oracle_check(sf_dir, results, oracle)
    rec["check_s"] = time.time() - rec["cold_end_wall"]
    rec["failed"] += len(check_errors)
    rec["errors"] += check_errors

    # --- timed passes ---------------------------------------------------------
    def noop(_name, df):
        df.write.format("noop").mode("overwrite").save()

    timed: list[tuple[float, dict]] = []
    traced: list[dict] = []
    traced_s: list[float] = []
    if args.trace:
        # One untimed pass first: the pass after the cold one is the slowest
        # of the warm-up, and ABBA order evens out only a steady trend.
        run_pass(noop)
        tracer = Tracer(spark, t0)
        root = tracer.span("run", t0, t0, None, workload=args.queries)
        # traced and untraced passes in ABBA order, so both sit at the same
        # mean point of the run
        for is_traced in (True, False, False, True):
            if not is_traced:
                timed.append(run_pass(noop)[:2])
                continue
            p0 = time.perf_counter()
            pid = tracer.span("pass", p0, p0, root, index=len(traced))
            pass_s, _, counters = run_pass(noop, tracer, pid)
            tracer.spans[pid]["end"] = time.perf_counter() - t0
            traced.append(counters)
            traced_s.append(pass_s)
        tracer.spans[root]["end"] = time.perf_counter() - t0
        rec["spans"] = tracer.spans
    else:
        timed = [run_pass(noop)[:2] for _ in range(TIMED_PASSES)]
    rec.update(
        timed_s=[t for t, _ in timed],
        timed_queries=[w for _, w in timed],
        traced_s=traced_s,
        traced=traced,
    )
    with open(args.out, "w") as f:
        json.dump(rec, f)
    # The harness kills this process group (the JVM and Python workers
    # included) and deletes the run directory, so skip the slow graceful
    # shutdown.
    os._exit(0)


if __name__ == "__main__":
    sys.exit(main())
