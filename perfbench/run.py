"""The repository's benchmark: two query mixes on one local SparkSession.

    python3 perfbench/run.py --workload medallion_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each invocation is one run in one fresh
worker process (``worker.py``) whose TMPDIR, Spark local dirs, warehouse and
JVM temp dir point into a private directory under ``perfbench/.scratch/``.
That directory, the generated catalog in it and everything the program left
there are deleted on exit, and the worker's whole process group (JVM and
Python workers included) is stopped and waited for.

Both workloads read an sf 0.01 catalog generated by ``datagen.py`` from a
fixed seed, run on ``local[nproc]`` with one closed-loop client (the next
query starts when the previous one finishes), and permute their query order
by ``--seed``; the order then holds for every pass of the run.

* ``medallion_replay``: the reference's pipeline from replay to dashboard.
  Ingest: a watermarked window aggregation streamed from the replay slices
  (``streaming``, state-store commits). Reads: the lineitem-part star join
  (lineitem scan in ``catalog``, ``operators`` exchange and join), the
  evaluation of the previous-close predictor over the daily gold features
  (``ml``) and the dashboard snapshot (``serving``). Publish: a single-file
  export written and read back (``sources``).
* ``curation_dedup``: LLM-data curation operators. Work sits in
  ``llmdata`` dedup and similarity and in ``functions`` text extraction
  over small scans; no ``operators``, ``ml``, ``serving``, ``streaming`` or
  ``sources`` work.

End-to-end metrics (``--trace 0``):

* ``setup_s``: worker process start to the end of the cold pass (imports,
  session start, the replay source, JIT/codegen/Python-worker warm-up, cold
  results collected);
* ``pass_s``: the wall time of one pass of the mix, as the sum over its
  queries of each query's median wall time over the timed passes that
  follow the cold pass (see ``worker.py``). A run times a fixed number of
  passes; ``--seconds`` is accepted and not used.

Query executions that raise or whose cold result differs from the query's
DuckDB oracle count as failed; ``error_rate`` is printed with the record, as
are ``ingest_s`` and ``publish_s`` (``pass_s`` restricted to the
``streaming`` and ``sources`` queries) where a workload has them.

``--trace 1`` reports the per-layer metrics instead, from two traced passes
run in ABBA order with two untraced ones after one untimed pass; ``trace.overhead_frac`` is the
traced median pass time over the untraced one, minus one. Layers are the
package's modules: a query's layer is the module that owns it, and
``catalog`` counts every scan. Per-layer metrics are medians over the traced
passes of per-pass sums; a layer a workload does not use reads 0.

The human-readable record and every metric with its unit go first; the last
stdout line is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

SF = 0.01
DATA_SEED = 42  # the catalog is fixed; --seed varies the query order
RUN_LIMIT_S = 170.0

WORKLOADS = {
    "medallion_replay": (
        "streaming_window_counts",
        "revenue_by_brand",
        "eval_metrics",
        "dashboard_snapshot",
        "single_file_export",
    ),
    "curation_dedup": (
        "dedup_exact",
        "semdedup_survivors",
        "knn_bruteforce",
        "lang_id_scores",
        "extract_tickers_v2",
    ),
}

# (layer, counter, unit, better) for each per-layer metric the traced run
# reports; the metric is named "<layer>.<counter>".
LAYER_METRICS = [
    ("catalog", "input_bytes", "B", "lower"),
    ("catalog", "input_rows", "rows", "lower"),
    *[
        ("operators", c, u, b)
        for c, u, b in (
            ("wall_s", "s", "lower"),
            ("cpu_s", "s", "lower"),
            ("gc_s", "s", "lower"),
            ("stages", "count", "lower"),
            ("tasks", "count", "lower"),
            ("shuffle_bytes", "B", "lower"),
            ("spill_bytes", "B", "lower"),
            ("busy_frac", "fraction", "higher"),
        )
    ],
    ("ml", "wall_s", "s", "lower"),
    ("ml", "cpu_s", "s", "lower"),
    ("serving", "wall_s", "s", "lower"),
    ("serving", "shuffle_bytes", "B", "lower"),
    ("functions", "wall_s", "s", "lower"),
    ("functions", "cpu_s", "s", "lower"),
    *[
        ("llmdata", c, u, b)
        for c, u, b in (
            ("wall_s", "s", "lower"),
            ("cpu_s", "s", "lower"),
            ("stages", "count", "lower"),
            ("tasks", "count", "lower"),
            ("shuffle_bytes", "B", "lower"),
            ("spill_bytes", "B", "lower"),
            ("busy_frac", "fraction", "higher"),
        )
    ],
    *[
        ("streaming", c, u, b)
        for c, u, b in (
            ("wall_s", "s", "lower"),
            ("batches", "count", "lower"),
            ("batch_ms_p50", "ms", "lower"),
            ("input_rows", "rows", "lower"),
            ("state_rows", "rows", "lower"),
            ("state_commit_ms", "ms", "lower"),
            ("busy_frac", "fraction", "higher"),
        )
    ],
    *[
        ("sources", c, u, b)
        for c, u, b in (
            ("wall_s", "s", "lower"),
            ("files_written", "count", "lower"),
            ("bytes_written", "B", "lower"),
            ("bytes_per_file", "B", "higher"),
            ("busy_frac", "fraction", "higher"),
        )
    ],
    ("session", "start_s", "s", "lower"),
    ("registry", "import_s", "s", "lower"),
    ("setup", "cold_pass_s", "s", "lower"),
    ("trace", "overhead_frac", "fraction", "lower"),
]
END_TO_END = [("setup_s", "s"), ("pass_s", "s")]

# Declared counters that repeated exactly across every traced pass of two
# traced runs per workload at sf 0.01 on a 4-core host. Times, CPU and GC
# seconds, busy fractions, the streaming batch duration and the state
# commit time vary. Spill was 0 in every pass.
EXACT_COUNTERS = {
    "catalog.input_bytes",
    "catalog.input_rows",
    "operators.stages",
    "operators.tasks",
    "operators.shuffle_bytes",
    "operators.spill_bytes",
    "serving.shuffle_bytes",
    "llmdata.stages",
    "llmdata.tasks",
    "llmdata.shuffle_bytes",
    "llmdata.spill_bytes",
    "streaming.batches",
    "streaming.input_rows",
    "streaming.state_rows",
    "sources.files_written",
    "sources.bytes_written",
    "sources.bytes_per_file",
}


def _preflight() -> str | None:
    for rel in (
        "stockmarket_bigdata_project_spark/registry.py",
        "tests/oracle_compare.py",
    ):
        if not os.path.isfile(os.path.join(ROOT, rel)):
            return f"missing {rel}: run from the root of a full checkout"
    return None


def _package_temp_files(tmp: str) -> int:
    """Files left in the package's own temp dirs (``spark_graft_*``)."""
    return sum(
        len(files)
        for d in os.listdir(tmp)
        if d.startswith("spark_graft_")
        for _, _, files in os.walk(os.path.join(tmp, d))
    )


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill whatever is left of the worker's process group and wait for it."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def run_once(workload: str, seed: int, trace: int, sf: float = SF) -> dict:
    """One run in a fresh worker process; returns the worker's record plus
    the harness's own readings."""
    import datagen

    names = list(WORKLOADS[workload])
    random.Random(seed).shuffle(names)
    t_begin = time.monotonic()
    run_dir = os.path.join(HERE, ".scratch", f"run-{os.getpid()}-{time.time_ns()}")
    tmp, local, out = (os.path.join(run_dir, d) for d in ("tmp", "local", "out.json"))
    sf_dir = os.path.join(run_dir, "data")
    os.makedirs(tmp)
    os.makedirs(local)
    load_before = os.getloadavg()
    try:
        datagen.write_catalog(sf_dir, sf, DATA_SEED)
        env = dict(
            os.environ,
            PYTHONPATH=ROOT,
            TMPDIR=tmp,
            SPARK_LOCAL_DIRS=local,
            SPARK_GRAFT_WAREHOUSE=os.path.join(tmp, "warehouse"),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        )
        cmd = [
            sys.executable, os.path.join(HERE, "worker.py"),
            "--queries", ",".join(names), "--sf-dir", sf_dir,
            "--trace", str(trace), "--out", out,
        ]
        with open(os.path.join(run_dir, "worker.log"), "w+") as log:
            spawn_wall = time.time()
            proc = subprocess.Popen(
                cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
                start_new_session=True,
            )
            try:
                code = proc.wait(timeout=RUN_LIMIT_S - (time.monotonic() - t_begin))
            except subprocess.TimeoutExpired:
                code = "timeout"
            finally:
                _stop_group(proc)
            if code != 0 or not os.path.exists(out):
                log.seek(0)
                tail = log.read()[-4000:]
                raise RuntimeError(f"worker failed ({code}):\n{tail}")
        with open(out) as f:
            rec = json.load(f)
        rec["files_left"] = _package_temp_files(tmp)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(run_dir))  # only when no other run uses it
        except OSError:
            pass
    rec.update(
        workload=workload, seed=seed, sf=sf, order=names,
        setup_s=rec["cold_end_wall"] - spawn_wall,
        load_before=load_before, load_after=os.getloadavg(),
    )
    return rec


def layer_metrics(rec: dict) -> tuple[dict[str, float], list[dict[str, float]]]:
    """Per-layer metrics (medians over the traced passes of per-pass sums),
    and the per-pass sums themselves. Wall time comes from the query spans,
    the other counters from what each query call created: Spark stages,
    streaming micro-batches and files."""
    nproc = rec["nproc"]
    spans = rec["spans"]
    pass_spans = [s for s in spans if s["name"] == "pass"]
    per_pass = []
    for pass_span, counters in zip(pass_spans, rec["traced"]):
        m = {f"{l}.{c}": 0.0 for l, c, _, _ in LAYER_METRICS}
        for q in spans:
            if q["parent"] == pass_span["id"]:
                key = f"{q['layer']}.wall_s"
                m[key] = m.get(key, 0.0) + q["end"] - q["start"]
        batch_ms = []
        for name, q in counters.items():
            layer = rec["layers"][name]
            m["catalog.input_bytes"] += q["input_bytes"]
            m["catalog.input_rows"] += q["input_rows"]
            for c in ("cpu_s", "gc_s", "stages", "tasks", "shuffle_bytes",
                      "spill_bytes", "run_s", "files_written", "bytes_written"):
                key = f"{layer}.{c}"
                m[key] = m.get(key, 0.0) + q[c]
            batch_ms += q["batch_ms"]
            m["streaming.batches"] += len(q["batch_ms"])
            m["streaming.input_rows"] += q["stream_input_rows"]
            m["streaming.state_rows"] += q["state_rows"]
            m["streaming.state_commit_ms"] += q["state_commit_ms"]
        m["streaming.batch_ms_p50"] = statistics.median(batch_ms) if batch_ms else 0.0
        files = m["sources.files_written"]
        m["sources.bytes_per_file"] = m["sources.bytes_written"] / files if files else 0.0
        for layer in ("operators", "llmdata", "streaming", "sources"):
            wall = m[f"{layer}.wall_s"]
            m[f"{layer}.busy_frac"] = (
                m[f"{layer}.run_s"] / (wall * nproc) if wall else 0.0
            )
        per_pass.append(m)
    out = {
        f"{l}.{c}": statistics.median(p[f"{l}.{c}"] for p in per_pass)
        for l, c, _, _ in LAYER_METRICS
        if l not in ("session", "registry", "setup", "trace")
    }
    out["session.start_s"] = rec["session_s"]
    out["registry.import_s"] = rec["import_s"]
    out["setup.cold_pass_s"] = rec["cold_pass_s"]
    out["trace.overhead_frac"] = (
        statistics.median(rec["traced_s"]) / statistics.median(rec["timed_s"]) - 1
    )
    return out, per_pass


def pass_seconds(rec: dict, layer: str | None = None) -> float:
    """Sum over the queries (of ``layer`` only, if given) of each query's
    median wall time over the timed passes. ``pass_s`` is the whole mix,
    ``ingest_s`` the ``streaming`` queries, ``publish_s`` the ``sources``
    ones."""
    return sum(
        statistics.median(walls[name] for walls in rec["timed_queries"])
        for name in rec["order"]
        if layer in (None, rec["layers"][name])
    )


def report(rec: dict, trace: int) -> dict:
    """Print the run's record and every metric with its unit; return the
    result object for the last line."""
    units = dict(END_TO_END)
    e2e = {"setup_s": rec["setup_s"], "pass_s": pass_seconds(rec)}
    metrics = e2e
    if trace:
        metrics, _ = layer_metrics(rec)
        units.update((f"{l}.{c}", u) for l, c, u, _ in LAYER_METRICS)
    error_rate = rec["failed"] / rec["attempted"]
    lines = [
        f"workload {rec['workload']}  seed {rec['seed']}  sf {rec['sf']}  "
        f"nproc {rec['nproc']}  order {','.join(rec['order'])}",
        f"versions spark {rec['versions']['spark']}  java {rec['versions']['java']}  "
        f"python {rec['versions']['python']}",
        "load average before {:.2f} {:.2f} {:.2f}  after {:.2f} {:.2f} {:.2f}".format(
            *rec["load_before"], *rec["load_after"]
        ),
        f"passes: 1 cold, {len(rec['timed_s'])} timed, "
        f"{len(rec['traced_s'])} traced; replay source {rec['replay_s']:.2f} s; "
        f"output check {rec['check_s']:.2f} s; "
        f"files left in the package's temp dirs: {rec['files_left']}",
        "pass seconds: cold {:.2f} | timed {} | traced {}".format(
            rec["cold_pass_s"],
            *(" ".join(f"{t:.2f}" for t in rec[k]) for k in ("timed_s", "traced_s"))
        ),
        f"{'error_rate':<24} {error_rate:.6g} fraction "
        f"({rec['failed']} of {rec['attempted']} query executions)",
    ]
    for name, layer in (("ingest_s", "streaming"), ("publish_s", "sources")):
        if layer in rec["layers"].values():
            lines.append(f"{name:<24} {pass_seconds(rec, layer):.6g} s")
    lines += [f"  error: {e}" for e in rec["errors"]]
    for name in rec["order"]:
        wall = statistics.median(w[name] for w in rec["timed_queries"])
        lines.append(f"  query {name:<28} {rec['layers'][name]:<10} {wall:.3f} s")
    shown = {**e2e, **metrics}
    lines += [f"{k:<24} {v:.6g} {units[k]}" for k, v in shown.items()]
    print("\n".join(lines))
    return {
        "correct": rec["failed"] == 0,
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # let the cleanup in run_once run when the run is stopped from outside
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    problem = _preflight()
    if problem:
        print(problem, file=sys.stderr)
        return 2
    try:
        rec = run_once(args.workload, args.seed, args.trace)
    except RuntimeError as e:
        print(e, file=sys.stderr)
        return 1
    print(json.dumps(report(rec, args.trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
