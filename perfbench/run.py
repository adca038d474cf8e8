"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload daily_ingest --seed 1 --seconds 20 --trace 0

Workloads: daily_ingest, corpus_dedup (perfbench/README.md).
The run builds its inputs from ``--seed``, starts one Spark session
(``local[k]``, k <= 4 and below the usable cores, heap sized to the
machine), warms up on a small separate input, measures whole rounds for
``--seconds``, checks the program's outputs and prints
``{"correct", "attempted", "failed", "metrics"}`` as the last stdout line:
end-to-end metrics with ``--trace 0``, per-layer metrics from the span
trace with ``--trace 1``. Everything it writes lives under
``.perfbench_tmp/`` (removed at exit) and ``.perfbench_out/`` (the
result and, when traced, the spans) at the repository root.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass, replace  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = {"daily_ingest": "perfbench.ingest", "corpus_dedup": "perfbench.dedup"}
E2E = {
    "setup_s": "s",
    "step_s": "s",
    "docs_per_s": "docs/s",
    "build_s": "s",
    "lake_bytes_per_input_byte": "bytes/byte",
}
# per-layer metrics every workload reports from its traced run
RUN_LAYERS = {"session_start_s": "s", "warmup_s": "s", "peak_rss_mb": "MB"}


@dataclass
class Ctx:
    spark: object
    tracer: object
    tmp: Path
    seed: int
    seconds: int


class RssSampler(threading.Thread):
    """Peak resident memory of a process tree (the Spark JVM and the
    Python workers it forks), sampled from /proc every 0.2 s."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.peak = pid, 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
        total, todo = 0, [self.pid]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, IndexError, ValueError):
                pass
        return total

    def run(self) -> None:
        while not self._stop_evt.wait(0.2):
            self.peak = max(self.peak, self._tree_rss())

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return max(self.peak, self._tree_rss())


def _heap_mb() -> int:
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(3072, total_kb // 1024 // 4))


def _hermetic_env(tmp: Path, cores: int) -> None:
    """Point every writer at ``tmp`` and give Python workers the package."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    for sub in ("tmp", "local", "lakes"):
        (tmp / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_LAKE_DIR": str(tmp / "lakes"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": str(tmp / "local"),  # takes precedence over spark.local.dir
        "TMPDIR": str(tmp / "tmp"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        # every JVM (launcher and driver): no perf-data file in the system /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp / 'tmp'}",
    })
    os.environ.pop("SPARK_MASTER", None)
    import tempfile

    tempfile.tempdir = None


def _start_spark(tmp: Path, cores: int):
    from pokemon_showdown_airflow_etl_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": f"{_heap_mb()}m",
            "spark.sql.warehouse.dir": str(tmp / "warehouse"),
            "spark.ui.enabled": "false",
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for both."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    try:
        import pokemon_showdown_airflow_etl_spark as engine
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable: {exc}", file=sys.stderr)
        return 2
    if ROOT not in Path(engine.__file__).resolve().parents:
        print(f"perfbench: the engine package must come from {ROOT}, not {engine.__file__}",
              file=sys.stderr)
        return 2
    # one core stays free for the driver's Python, the JIT and GC
    cores = max(1, min(4, len(os.sched_getaffinity(0)) - 1))
    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = ROOT / ".perfbench_tmp" / run_id
    out_dir = ROOT / ".perfbench_out"
    _hermetic_env(tmp, cores)

    import importlib

    from perfbench.trace import Tracer

    workload = importlib.import_module(WORKLOADS[args.workload])
    tracer = Tracer(run_id, bool(args.trace))
    spark = rss = None
    peak_rss_mb = 0.0
    try:
        with tracer.span("session_start") as s_start:
            spark = _start_spark(tmp, cores)
        if args.trace:
            from pyspark import SparkContext

            rss = RssSampler(SparkContext._gateway.proc.pid)
            rss.start()
        ctx = Ctx(spark, tracer, tmp, args.seed, args.seconds)
        with tracer.span("warmup") as s_warm:
            workload.warmup(replace(ctx, tracer=Tracer(run_id, False)))
        setup_s = time.perf_counter() - PROCESS_START
        outcome = workload.measure(ctx)
        if rss is not None:
            peak_rss_mb = rss.stop() / 2**20
            rss = None
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if rss is not None:
            rss.stop()
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            tmp.parent.rmdir()
        except OSError:
            pass

    e2e = dict(outcome["e2e"], setup_s=setup_s)
    for problem in outcome["problems"]:
        print(f"perfbench: CHECK FAILED: {problem}", file=sys.stderr)
    print(f"perfbench: {args.workload} seed={args.seed} attempted={outcome['attempted']} "
          f"failed={outcome['failed']} end-to-end={json.dumps(e2e)}", file=sys.stderr)
    if args.trace:
        units = _layer_units()
        # a layer the workload never calls did no work and took no time
        layers = dict.fromkeys(units, 0.0)
        layers.update(outcome["layers"], session_start_s=s_start.seconds,
                      warmup_s=s_warm.seconds, peak_rss_mb=peak_rss_mb)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E.items()}
    result = {"correct": not outcome["problems"], "attempted": outcome["attempted"],
              "failed": outcome["failed"], "metrics": metrics}
    out_dir.mkdir(exist_ok=True)
    (out_dir / f"result-{run_id}-trace{args.trace}.json").write_text(
        json.dumps(dict(result, end_to_end=e2e)) + "\n")
    if args.trace:
        tracer.dump(str(out_dir / f"trace-{run_id}.jsonl"))
    print(json.dumps(result))
    return 0


def _layer_units() -> dict[str, str]:
    import importlib

    units = {}
    for mod in WORKLOADS.values():
        units.update(importlib.import_module(mod).LAYER_UNITS)
    units.update(RUN_LAYERS)
    return units


if __name__ == "__main__":
    sys.exit(main())
