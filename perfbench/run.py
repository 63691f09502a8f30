"""Benchmark entry point.

    python3 perfbench/run.py --workload chain_write --seed 0 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke          # every workload, tiny inputs

Runs from the root of a source checkout: builds its inputs from ``--seed``
inside ``.perfbench_work/``, starts a ``local[<cores>]`` session, does the
workload's set-up and one untimed warm-up pass, then measures passes for
``--seconds`` and checks every output against an independent reference.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the ``end_to_end`` metrics of BENCHMARK.json with
``--trace 0``, its ``per_layer`` metrics with ``--trace 1``).
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
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEM = "3g"


def pin_environment(work: str, cores: int, trace: bool) -> dict:
    """Session settings that must be in place before the JVM starts; all of
    them go into the run's output."""
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # python workers import the engine by module path
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # keep shuffle, spill and temp files inside the checkout
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_GRAFT_DRIVER_JAVA_OPTS": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        env["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.eventLog.enabled=true --conf spark.eventLog.compress=false "
            "--conf spark.eventLog.rolling.enabled=false "
            f"--conf spark.eventLog.dir=file://{log_dir} pyspark-shell"
        )
    os.makedirs(env["SPARK_LOCAL_DIRS"])
    os.makedirs(env["TMPDIR"])
    os.environ.update(env)
    tempfile.tempdir = env["TMPDIR"]  # the module caches the first directory it used
    return env


# ---------------------------------------------------------------------------
# process tree: peak RSS and clean shutdown
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler(threading.Thread):
    """Peak summed RSS of this process and its descendants (JVM, Python
    daemon and workers), sampled every 0.2 s."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        me = os.getpid()
        while not self._stop_evt.wait(0.2):
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join()


class Context:
    def __init__(self, args, work: str, cores: int, sizes: dict):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.smoke = args.smoke
        self.work = work
        self.cores = cores
        self.sizes = sizes
        self.attempted = 0
        self.failed = 0
        self.spark = None

    def start_session(self, cores: int):
        from open_vector_tile_spark.plans import get_spark
        from open_vector_tile_spark.sources import OvtTilesetDataSource

        self.spark = get_spark(f"perfbench-{cores}", cores=cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.dataSource.register(OvtTilesetDataSource)
        return self.spark

    def restart_session(self, cores: int):
        self.spark.stop()
        return self.start_session(cores)

    def check(self, what: str, ok: bool, detail: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}: {detail}", file=sys.stderr, flush=True)

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for every process they
        started (Python workers outlive the JVM by a moment, reparented)."""
        from pyspark import SparkContext

        started = set(descendants(os.getpid()))
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)
            # a later session in this process launches a fresh JVM
            SparkContext._gateway = None
            SparkContext._jvm = None
        for grace, signal in ((30, None), (10, 9)):
            alive = {p for p in started if os.path.exists(f"/proc/{p}")}
            for pid in alive if signal else ():
                try:
                    os.kill(pid, signal)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace
            while alive and time.monotonic() < deadline:
                time.sleep(0.1)
                alive = {p for p in alive if os.path.exists(f"/proc/{p}")}
            if not alive:
                return
        print(f"processes still running after stop: {sorted(alive)}", file=sys.stderr)


def _clean_stale(base: str) -> None:
    """Remove work directories of runs whose process is gone."""
    if not os.path.isdir(base):
        return
    for d in os.listdir(base):
        pid = d.rsplit("-", 1)[-1]
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(base, d), ignore_errors=True)


def run_workload(ctx: Context, name: str, seconds: float, spec: dict) -> dict:
    from perfbench.workloads import WORKLOADS

    sampler = RssSampler()
    sampler.start()
    try:
        t = [time.monotonic()]
        ctx.start_session(ctx.cores)
        t.append(time.monotonic())
        wl = WORKLOADS[name](ctx)
        with wl.tracer.span("setup"):
            wl.setup()
            t.append(time.monotonic())
            wl.warmup()
        t.append(time.monotonic())
        setup_s = t[-1] - t[0]
        phases = dict(zip(("session_s", "inputs_s", "warmup_s"), (b - a for a, b in zip(t, t[1:]))))
        print(f"{name}: set-up {setup_s:.2f} s {phases}", file=sys.stderr, flush=True)
        info = {"workload": name, "seed": ctx.seed, "setup_s": setup_s, "setup_phases": phases}
        if ctx.trace:
            layer = wl.trace()
            info["spans"] = wl.tracer.spans
        else:
            passes = []
            t_end = time.monotonic() + seconds
            while not passes or time.monotonic() < t_end:
                passes.append(wl.run_pass())
            info["passes_s"] = passes
            print(f"{name}: {wl.summary(passes)}", flush=True)
    except Exception:
        traceback.print_exc()  # while the JVM can still describe its side
        raise
    finally:
        ctx.stop()
        sampler.stop()
    if not ctx.trace:
        values = {
            "setup_s": setup_s,
            "pass_s": statistics.median(passes),
            "peak_rss_mb": sampler.peak / 2**20,
        }
        return _select(spec["end_to_end"], values, info)
    from perfbench import trace as tr

    groups = tr.read_event_logs(os.path.join(ctx.work, "eventlog"))
    for k, v in tr.runtime_totals(groups, wl.tracer.pass_groups()).items():
        layer[f"rt.{k}"] = v
    layer.update(wl.trace_jobs(groups))
    info["job_groups"] = groups
    # layers this workload does not run are reported as 0
    values = {m["name"]: layer.get(m["name"], 0) for m in spec["per_layer"]}
    return _select(spec["per_layer"], values, info)


def _select(declared: list, values: dict, info: dict) -> dict:
    info["metrics"] = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared
    }
    return info


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload on tiny inputs, every check, 1 s each")
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isdir(os.path.join(ROOT, "open_vector_tile_spark")) or not os.path.isfile(
        spec_path
    ):
        print(f"no engine source under {ROOT}: run from a full checkout", file=sys.stderr)
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    todo = names if args.smoke else [args.workload]
    if not args.smoke and args.workload not in names:
        ap.error(f"--workload must be one of {names}")
    seconds = 1.0 if args.smoke else args.seconds

    sys.path.insert(0, ROOT)
    from perfbench.workloads import SIZES, SMOKE_SIZES

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".perfbench_work")
    _clean_stale(base)
    results = []
    for name in todo:
        work = os.path.join(base, f"{name}-s{args.seed}-{os.getpid()}")
        os.makedirs(work)
        try:
            env = pin_environment(work, cores, bool(args.trace))
            ctx = Context(args, work, cores, SMOKE_SIZES if args.smoke else SIZES)
            info = run_workload(ctx, name, seconds, spec)
            info.update(env=env, attempted=ctx.attempted, failed=ctx.failed)
            results.append(info)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        if args.smoke:
            print(json.dumps({"workload": name, "failed": info["failed"],
                              "metrics": info["metrics"]}), flush=True)

    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    for info in results:
        tag = f"{info['workload']}-s{args.seed}-t{args.trace}{'-smoke' if args.smoke else ''}"
        with open(os.path.join(out_dir, f"{tag}.json"), "w") as fh:
            json.dump(info, fh, indent=1, default=str)
    failed = sum(i["failed"] for i in results)
    result = {
        "correct": failed == 0,
        "attempted": sum(i["attempted"] for i in results),
        "failed": failed,
        "metrics": results[-1]["metrics"],
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
