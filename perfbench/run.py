"""Benchmark driver: one workload, one seed, one fresh SparkSession.

Usage (from the repository root):

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0

Prints a metadata JSON line, then as the last line one JSON object
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end metrics; with ``--trace 1`` Spark's
event log is on and the metrics are the per-layer ones (see
BENCHMARK.json and perfbench/README.md). Every workload reports every
declared metric; workload-specific layer figures are in the metadata
line's ``layers``. Everything the run writes
lives under ``.perfbench_tmp/`` in the repository root and is removed
before it exits. Exits non-zero without a result when the engine's
sources are missing.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "etl_s3_airflow_snowflake_powerbi_marketing_data_spark"
# Spark families and fields reported as per-layer metrics; the others
# go to the metadata line's "layers". gc_s, spill_bytes and
# python_eval_s stay there: at these sizes some phase of each workload
# reads 0 on every run (no spill, no Python worker in daily_etl, no GC
# during a change-feed sync).
LAYER_FAMILIES = ("load", "op", "read")
LAYER_FIELDS = (
    "jobs", "tasks", "single_task_stages", "driver_only_s", "executor_cpu_s", "shuffle_bytes",
)


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def source_digest() -> str:
    """SHA-256 over the engine's Python sources: identifies the code
    measured even where the checkout carries no git metadata."""
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for r, dirs, files in os.walk(os.path.join(ROOT, PACKAGE)):
        dirs.sort()
        paths += [os.path.join(r, f) for f in sorted(files) if f.endswith(".py")]
    for path in paths:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit() -> str | None:
    """HEAD of the repository rooted at ROOT; None for a plain checkout
    (an enclosing repository's HEAD would mislabel the run)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "--show-toplevel", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
    except (OSError, subprocess.SubprocessError):
        return None
    lines = out.stdout.split()
    if out.returncode or len(lines) != 2:
        return None
    return lines[1] if os.path.realpath(lines[0]) == os.path.realpath(ROOT) else None


def configure_env(tmp: str) -> dict[str, str]:
    """Process environment for the driver, the JVM and the Python
    workers, set before the JVM starts (it inherits it)."""
    cpus = len(os.sched_getaffinity(0))
    env = {
        # Workers import the engine by module path; without the repo on
        # their path they fail with ModuleNotFoundError when the run
        # starts from another directory.
        "PYTHONPATH": os.pathsep.join(
            [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
        ),
        "SPARK_LOCAL_DIRS": os.path.join(tmp, "local"),
        "TMPDIR": os.path.join(tmp, "tmp"),
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS", str(cpus)),
        # No hsperfdata files under /tmp from the spark-submit launcher.
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for key in ("SPARK_LOCAL_DIRS", "TMPDIR"):
        os.makedirs(env[key], exist_ok=True)
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]
    time.tzset()
    return env


def start_session(tmp: str, traced: bool):
    from etl_s3_airflow_snowflake_powerbi_marketing_data_spark.session import (  # noqa: PLC0415
        get_spark,
    )

    conf = {
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
        )
    }
    if traced:
        log_dir = os.path.join(tmp, "eventlog")
        os.makedirs(log_dir)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": log_dir,
            }
        )
    return get_spark("perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon) to exit."""
    sc = spark.sparkContext
    gateway, proc = sc._gateway, getattr(sc._gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001  (best effort: the JVM is ending anyway)
        pass
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "__spark_entry__.py")
    ):
        print(f"perfbench: engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workload_names = [w["name"] for w in spec["workloads"]]
    if args.workload not in workload_names:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{workload_names}", file=sys.stderr)
        return 2
    if args.seconds <= 0:
        print("perfbench: --seconds must be positive", file=sys.stderr)
        return 2

    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        env = configure_env(tmp)
        sys.path.insert(0, ROOT)
        import spans  # noqa: PLC0415
        import workloads  # noqa: PLC0415

        traced = bool(args.trace)
        run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
        t0 = time.time()
        spark = start_session(tmp, traced)
        session_s = time.time() - t0
        tracer = spans.Tracer(run_id, spark.sparkContext if traced else None)
        run = workloads.Run(spark, tmp, args.seed, args.seconds, tracer)
        run.setup_s = session_s
        jvm = getattr(spark.sparkContext._gateway, "proc", None)
        error = None
        try:
            workloads.WORKLOADS[args.workload](run)
        except Exception:  # noqa: BLE001  (reported as a failed operation)
            error = traceback.format_exc()
            print(error, file=sys.stderr)
            run.verdict("workload", ["raised: " + error.strip().splitlines()[-1]])
        rss = spans.peak_rss_mb([os.getpid()] + ([jvm.pid] if jvm else []))
        spark_version = spark.version
        driver_memory = spark.conf.get("spark.driver.memory")
        stop_session(spark)

        e2e = dict(run.e2e, setup_s=run.setup_s)
        detail = dict(run.detail)
        if traced:
            metrics = dict(run.layer)
            metrics["session.start_s"] = session_s
            # Not an end-to-end metric: under the engine's default heap
            # the JVM grows to one of two sizes, so the peak is bimodal
            # across seeds (about 2.9 GB or 4.0 GB on daily_etl, ten seeds
            # on a 4-core host).
            metrics["peak_rss_mb"] = rss
            metrics["failed_ratio"] = run.failed / max(run.attempted, 1)
            # The traced run's own end-to-end values: minus the same
            # metrics from untraced runs, they give the tracing overhead.
            for name, value in e2e.items():
                metrics[f"trace.{name}"] = value
            log = spans.event_log_file(os.path.join(tmp, "eventlog"))
            if error is None and log:
                metrics["trace.event_log_bytes"] = os.path.getsize(log)
                event_log = spans.EventLog(log)
                for family, rows_of in run.spark_families.items():
                    for name, value in spans.family_metrics(family, rows_of(event_log)).items():
                        layer = family in LAYER_FAMILIES and name.endswith(LAYER_FIELDS)
                        (metrics if layer else detail)[name] = value
            declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        else:
            metrics = e2e
            declared = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        if set(metrics) != set(declared):
            raise RuntimeError(
                "measured metrics differ from BENCHMARK.json: missing "
                f"{sorted(set(declared) - set(metrics))}, undeclared "
                f"{sorted(set(metrics) - set(declared))}"
            )

        meta = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "run_id": run_id,
            "SPARK_GRAFT_CPUS": env["SPARK_GRAFT_CPUS"],
            "nproc": len(os.sched_getaffinity(0)),
            "os_cpu_count": os.cpu_count(),
            "driver_memory": driver_memory,
            "peak_rss_mb": rss,
            "input_rows": run.inputs["rows"],
            "input_bytes": run.inputs["bytes"],
            "git_commit": git_commit(),
            "source_sha256": source_digest(),
            "spark_version": spark_version,
            "python_version": platform.python_version(),
            "spans": len(tracer.spans),
            "problems": run.problems[:20],
            "layers": {k: float(v) for k, v in sorted(detail.items())},
        }
        print(json.dumps({"meta": meta}))
        result = {
            "correct": run.failed == 0 and error is None,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                k: {"value": float(v), "unit": declared[k]} for k, v in sorted(metrics.items())
            },
        }
        print(json.dumps(result))
        return 0 if result["correct"] else 1
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
