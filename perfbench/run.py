"""Benchmark command: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {ingest,analytics} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` turns on the Spark event log, tags every Spark
job with the span that started it, and prints the per-layer metrics.
Either way the per-span table and the run's provenance go to stderr and
to ``perfbench/work/reports/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / "work"

E2E_UNITS = {"cycle_s": "s", "setup_s": "s"}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


# ---------------------------------------------------------------------------
# process hygiene
# ---------------------------------------------------------------------------

def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` (from /proc)."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM in /proc status")


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until all of them have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    below = descendants(proc.pid) if proc is not None else []
    spark.stop()
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + 30
    while below and time.time() < deadline:
        below = [p for p in below if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in below:
        os.kill(p, 9)


def failed_tasks(sc) -> int:
    """Failed tasks and jobs this session ran (Spark's status store)."""
    st = sc.statusTracker()
    n = 0
    for job_id in st.getJobIdsForGroup():
        info = st.getJobInfo(job_id)
        if info is None:
            continue
        n += info.status == "FAILED"
        for sid in info.stageIds:
            stage = st.getStageInfo(sid)
            n += stage.numFailedTasks if stage is not None else 0
    return n


# ---------------------------------------------------------------------------
# provenance (observational only: never a filter or a retry trigger)
# ---------------------------------------------------------------------------

def calib_corpus() -> str:
    """The frozen 400-doc corpus prefix ``bench.calib_probe`` reads."""
    path = WORK / "calib-corpus"
    if not (path / "part-0.parquet").exists():
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pdf_extraction_spark.sources.corpus import generate_corpus

        tmp = WORK / f"calib-corpus.tmp-{os.getpid()}"
        tmp.mkdir(parents=True, exist_ok=True)
        rows = generate_corpus(400, 42)
        pq.write_table(pa.table({"html": [r["html"] for r in rows]}), tmp / "part-0.parquet")
        shutil.rmtree(path, ignore_errors=True)
        tmp.rename(path)
    return str(path)


def provenance(args) -> dict:
    import pyarrow
    import pyspark

    from bench import calib_probe

    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        ).stdout.strip() or None
    except OSError:
        commit = None
    return {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "nproc": len(os.sched_getaffinity(0)),
        "git_commit": commit, "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__, "python": platform.python_version(),
        "calib_docs_per_s": calib_probe(calib_corpus()),
    }


# ---------------------------------------------------------------------------
# spans around the package's public functions
# ---------------------------------------------------------------------------

@contextmanager
def instrumented(tracer):
    """Wrap the stage store's commit/upsert/append in spans named by the
    layer whose output they write; restore the originals afterwards."""
    from perfbench.workloads import LAYER_OF_STAGE
    from pdf_extraction_spark.plans import stage_store

    def stage(args, kwargs):
        return kwargs.get("stage", args[2] if len(args) > 2 else "?")

    namers = {
        "commit_stage": (lambda *a, **k: LAYER_OF_STAGE.get(stage(a, k), stage(a, k))),
        "upsert_stage": (lambda *a, **k: f"stage_store.upsert.{stage(a, k)}"),
        "append_stage": (lambda *a, **k: f"stage_store.append.{stage(a, k)}"),
    }
    originals = {name: getattr(stage_store, name) for name in namers}
    for name, name_of in namers.items():
        setattr(stage_store, name, tracer.wrap(originals[name], name_of))
    try:
        yield
    finally:
        for name, fn in originals.items():
            setattr(stage_store, name, fn)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "pdf_extraction_spark").is_dir() or not (ROOT / "bench.py").is_file():
        log(f"perfbench: no pdf_extraction_spark package next to {ROOT / 'perfbench'}")
        return 2
    sys.path.insert(0, str(ROOT))
    os.chdir(ROOT)
    from perfbench import trace as tr
    from perfbench.layers import layer_metrics, report
    from perfbench.workloads import WORKLOADS, Outcome

    if args.workload not in WORKLOADS:
        log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
        return 2

    run_dir = WORK / f"run-{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    conf = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
    }
    if args.trace:
        (run_dir / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (run_dir / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    t_start = time.perf_counter()
    prov = {"loadavg_before": loadavg()}
    prov.update(provenance(args))
    t_session = time.perf_counter()
    from pdf_extraction_spark.session import build_session

    t = time.perf_counter()
    spark = build_session(
        "perfbench", cores=len(os.sched_getaffinity(0)), extra_conf=conf
    )
    setup_s = time.perf_counter() - t  # JVM start + session: the package's set-up
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()

    tracer = tr.Tracer(sc if args.trace else None)
    out = Outcome(t0=t_start)
    out.phases["provenance"] = round(t_session - t_start, 2)
    out.phase("session")
    # traced ingest runs also exercise the refresh + search layers
    kwargs = {"refresh": bool(args.trace)} if args.workload == "ingest" else {}
    try:
        with instrumented(tracer):
            WORKLOADS[args.workload](
                spark, tracer, str(run_dir), args.seed, args.seconds, out, **kwargs
            )
    except Exception as exc:  # noqa: BLE001 - reported as a failed run
        log(traceback.format_exc())
        out.attempted += 1
        out.failed += 1
        out.notes.append(f"{type(exc).__name__}: {exc}")
    n_failed_tasks = failed_tasks(sc)
    out.failed += n_failed_tasks
    rss = peak_rss_mb(jvm_pid)
    stop_spark(spark)
    out.phase("stop")
    prov["loadavg_after"] = loadavg()

    summary = {
        "provenance": prov, "jvm_peak_rss_mb": rss, "failed_tasks": n_failed_tasks,
        "notes": out.notes, "cycles": len(out.cycle_s), "ops": len(out.op_s),
        "setup_s": setup_s, "phases": out.phases,
        "cycle_s_all": out.cycle_s,
    }
    med = lambda xs: statistics.median(xs) if xs else None  # noqa: E731
    if args.trace:
        with open(next((run_dir / "eventlog").iterdir())) as fh:
            events = tr.parse_event_log(fh)
        metrics = layer_metrics(tracer.spans, events)
        metrics["jvm_peak_rss_mb"] = (rss, "MB")
        metrics["op_p50_s"] = (med(out.op_s), "s")
        summary["layers"] = report(tracer.spans, events)
        summary["untagged_tasks"] = events.unattributed.tasks
        log(format_layers(summary["layers"]))
    else:
        values = {
            "cycle_s": med(out.cycle_s),
            "setup_s": setup_s,
        }
        metrics = {k: (v, E2E_UNITS[k]) for k, v in values.items()}
    shutil.rmtree(run_dir, ignore_errors=True)

    reports = WORK / "reports"
    reports.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (reports / name).write_text(json.dumps(summary, indent=1, default=str))
    log(json.dumps({k: v for k, v in summary.items() if k != "layers"}, default=str))

    print(json.dumps({
        "correct": out.failed == 0 and all(v is not None for v, _ in metrics.values()),
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def format_layers(table: dict[str, dict]) -> str:
    cols = ["n", "wall_s", "self_s", "driver_s", "jobs", "tasks", "cpu_s",
            "python_run_s", "python_bytes_returned", "shuffle_write_bytes"]
    lines = [f"{'layer':44s}" + "".join(f"{c:>22s}" for c in cols)]
    for name, row in table.items():
        cells = "".join(
            f"{row[c]:22.3f}" if isinstance(row.get(c), float) else f"{row.get(c, ''):>22}"
            for c in cols
        )
        lines.append(f"{name:44s}{cells}")
    return "\n".join(lines)


if __name__ == "__main__":
    sys.exit(main())
