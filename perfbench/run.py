"""Benchmark entry point.

    python3 perfbench/run.py --workload incremental|query --seed N \\
        --seconds S --trace 0|1

Run from the repository root.  Builds nothing: it drives the
``face_hunter_spark`` package of the checkout it sits in on
``local[<nproc>]``.  Every file it writes lives under ``.perfbench/`` in
that checkout (the pre-linked base catalog cache, per-run catalogs,
Spark scratch, span files and per-run result records).

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics of BENCHMARK.json with
``--trace 0``, its per-layer metrics with ``--trace 1``).  The line before
it carries the run's metadata and secondary figures.  Exits 1 when an
output is wrong and 2 when the program is not there to run.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench"


def _source_digest() -> str:
    h = hashlib.sha256()
    files = sorted((ROOT / "face_hunter_spark").rglob("*.py"))
    # the base catalog depends on the corpus, on how it is linked and
    # on the session settings
    files += [ROOT / "perfbench" / name for name in (
        "inputs.py", "workloads.py", "run.py", "data/corpus.parquet")]
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def _git_revision() -> str | None:
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait until the JVM
    and every Python worker it started have exited."""
    from pyspark import SparkContext

    from perfbench.tracing import ProcSampler

    started = [p for p in ProcSampler._tree() if p != os.getpid()]
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while True:
        alive = [p for p in started if os.path.exists(f"/proc/{p}")
                 and not _is_zombie(p)]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.1)


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _expected_names(trace: bool) -> dict[str, str]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main(argv=None) -> int:
    t_launch = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["incremental", "query"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "face_hunter_spark" / "__init__.py").is_file():
        print(f"perfbench: no face_hunter_spark package under {ROOT}",
              file=sys.stderr)
        return 2
    load_start = os.getloadavg()
    nproc = len(os.sched_getaffinity(0))
    for sub in ("spark-local", "tmp", "traces", "results"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    # Python workers import the package from the checkout; Spark and
    # Python scratch space stays inside it
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # spark-submit's launcher JVM would otherwise write /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path.insert(0, str(ROOT))

    from perfbench.tracing import ProcSampler
    from perfbench.workloads import WORKLOADS, Bench

    master = f"local[{nproc}]"
    with ProcSampler() as proc:
        t0 = time.perf_counter()
        phases = {"imports_s": t0 - t_launch}
        from face_hunter_spark.session import build_session

        spark = build_session(
            app_name="perfbench", master=master,
            shuffle_partitions=nproc,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": str(WORK / "tmp" / "warehouse"),
                # ParquetCatalog reads snap=<12 hex chars> directories; with
                # type inference, an id such as 38e387797148 parses as the
                # decimal 38E+387797148 and the read never finishes
                "spark.sql.sources.partitionColumnTypeInference.enabled":
                    "false",
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={WORK / 'tmp'} -XX:-UsePerfData "
                    "-XX:-UseDynamicNumberOfCompilerThreads",
            },
        )
        session_s = time.perf_counter() - t0
        bench = Bench(spark, WORK, args.seed, args.seconds, bool(args.trace),
                      proc)
        digest = _source_digest()
        try:
            bench.ensure_base(digest)
            phases["base_s"] = time.perf_counter() - t0 - session_s
            metrics = WORKLOADS[args.workload](bench)
            phases["workload_s"] = (time.perf_counter() - t0 - session_s
                                    - phases["base_s"])
            if not args.trace:
                metrics["setup_s"] = (bench.setup_s(), "s")
        finally:
            t_stop = time.perf_counter()
            bench.close()
            _stop_spark(spark)
            phases["stop_s"] = time.perf_counter() - t_stop

    stamp = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.time_ns()}"
    if args.trace:
        bench.tracer.write(str(WORK / "traces" / f"{stamp}.jsonl"))
    want = _expected_names(bool(args.trace))
    if {k: u for k, (_, u) in metrics.items()} != want:
        raise RuntimeError(
            f"metrics {sorted(metrics)} do not match BENCHMARK.json "
            f"{sorted(want)}")
    correct = bench.failed == 0
    meta = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "nproc": nproc,
        "master": master, "git_revision": _git_revision(),
        "source_digest": digest, "loadavg_start": load_start,
        "loadavg_end": os.getloadavg(), "session_s": session_s,
        "setup_wall_s": bench.setup_wall,
        "setup_cpu_s": bench.setup_cpu, "phases_s": phases,
        "peak_rss_mb": proc.peak_mb,
        "failed_ratio": bench.failed / max(bench.attempted, 1),
        "errors": bench.errors[:20], **bench.extra,
    }
    result = {
        "correct": correct,
        "attempted": max(bench.attempted, 1),
        "failed": bench.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    (WORK / "results" / f"{stamp}.json").write_text(
        json.dumps({"meta": meta, "result": result}, indent=1))
    print(json.dumps({"meta": meta}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
