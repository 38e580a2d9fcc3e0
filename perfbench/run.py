"""Benchmark entry point: one closed-loop workload on local[$SPARK_GRAFT_CPUS].

    python3 perfbench/run.py --workload curate --seed 1 --seconds 8 --trace 0

Run from the root of a source checkout. Inputs are generated from
``--seed`` into ``perfbench/.work/`` (the same seed gives the same
inputs), the program is driven only through its public functions, every
output is checked, and the last stdout line is one JSON object with the
keys ``correct``, ``attempted``, ``failed`` and ``metrics``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` turns on Spark's event log
and reports the per-layer metrics (see README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager
from pathlib import Path

T_PROCESS = time.perf_counter()
NPROC = len(os.sched_getaffinity(0))

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORKLOADS = ("curate", "operators")


class Ledger:
    """Counts attempted and failed operations; a failure is an exception
    or a failed output check."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failures: list[str] = []

    def run(self, name: str, fn, *args, **kwargs):
        self.attempted += 1
        try:
            return fn(*args, **kwargs)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            self.failures.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failures.append(f"{name}: {detail}"[:300])
        return ok


def host_probe_s() -> float:
    """bench.py's fixed single-thread CPU workload, recorded next to each
    sample so host load can be read alongside it."""
    import hashlib

    t0 = time.perf_counter()
    h = hashlib.md5()
    for i in range(400_000):
        h.update(str(i).encode())
    assert h.hexdigest()
    return time.perf_counter() - t0


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine from /proc/stat; the
    steal share over the timed loop shows how much CPU the hypervisor
    gave to other tenants while a sample was taken."""
    with open("/proc/stat", encoding="utf-8") as fh:
        fields = [int(f) for f in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


# --------------------------------------------------------------------------
# process tree: memory high-water marks and teardown


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="utf-8") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, stack = _children(), [], [pid]
    while stack:
        for c in kids.get(stack.pop(), ()):
            out.append(c)
            stack.append(c)
    return out


def _status(pid: int) -> dict[str, str]:
    try:
        with open(f"/proc/{pid}/status", encoding="utf-8") as fh:
            return dict(line.split(":", 1) for line in fh if ":" in line)
    except OSError:
        return {}


def memory_hwm_mb(jvm_pid: int) -> tuple[float, float]:
    """(JVM VmHWM, summed VmHWM of the Python worker processes) in MB."""

    def hwm(st: dict[str, str]) -> float:
        return int(st.get("VmHWM", "0 kB").split()[0]) / 1024

    jvm = hwm(_status(jvm_pid))
    workers = sum(
        hwm(st) for st in map(_status, descendants(jvm_pid))
        if st.get("Name", "").strip().startswith("python")
    )
    return jvm, workers


_TICK = os.sysconf("SC_CLK_TCK")


def _cpu_s(pid: int) -> float:
    """utime + stime of a process and of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat", encoding="utf-8") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(f) for f in fields[11:15]) / _TICK


def _alive(pid: int) -> bool:
    state = _status(pid).get("State", "")
    return bool(state) and not state.strip().startswith("Z")


# --------------------------------------------------------------------------
# Spark session lifecycle


def _worker_module_file(batches):
    import pandas as pd

    import data_curator_spark

    for _ in batches:
        yield pd.DataFrame({"f": [data_curator_spark.__file__]})


class Session:
    """Starts the program's SparkSession (JVM included) and stops it
    again, waiting for the JVM and every process it spawned."""

    def __init__(self, run_dir: Path, cpus: int, trace: bool) -> None:
        self.cpus = cpus
        self.eventlog_dir = run_dir / "eventlog"
        self.conf = {
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'} -XX:-UsePerfData"
        }
        if trace:
            self.eventlog_dir.mkdir(parents=True, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": self.eventlog_dir.as_uri(),
            })
        self.spark = None
        self.jvm = None
        self.build_s = 0.0
        self.span_wall_s = 0.0
        self.span_cpu_s = 0.0

    def start(self):
        from pyspark import SparkContext

        from data_curator_spark.session import build_session

        t0 = time.perf_counter()
        self.spark = build_session(
            "perfbench", master=f"local[{self.cpus}]", extra_conf=self.conf
        )
        self.build_s = time.perf_counter() - t0
        self.jvm = SparkContext._gateway.proc
        return self.spark

    def guard_workers(self) -> None:
        """Spawn the Python workers and check that they import the
        program from this checkout (a stray PYTHONPATH would otherwise
        let two checkouts measure the same tree)."""
        self.group("setup")
        rows = (
            self.spark.range(self.cpus, numPartitions=self.cpus)
            .mapInPandas(_worker_module_file, "f string")
            .collect()
        )
        for r in rows:
            require_inside_checkout(r.f, "Python worker")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this driver process and by the JVM
        with every process it spawned."""
        own = os.times()
        tree = [self.jvm.pid, *descendants(self.jvm.pid)]
        return own.user + own.system + sum(map(_cpu_s, tree))

    @contextmanager
    def span(self):
        """Times one call into the program; yields a function that
        returns the span's wall time once it has ended."""
        w0, c0 = time.perf_counter(), self.cpu_s()
        wall = [0.0]
        try:
            yield lambda: wall[0]
        finally:
            wall[0] = time.perf_counter() - w0
            self.span_wall_s += wall[0]
            self.span_cpu_s += self.cpu_s() - c0

    def group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    def stop(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = descendants(self.jvm.pid) + [self.jvm.pid]
        gateway = SparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm.stdin.close()
        try:
            self.jvm.wait(timeout=60)
        except subprocess.TimeoutExpired:
            self.jvm.kill()
            self.jvm.wait()
        deadline = time.monotonic() + 30
        while any(map(_alive, tree)) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in filter(_alive, tree):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while any(map(_alive, tree)):
            time.sleep(0.1)
        self.spark = None

    def eventlog_file(self) -> Path:
        (log,) = [p for p in self.eventlog_dir.iterdir() if not p.name.startswith(".")]
        return log


# --------------------------------------------------------------------------
# checkout guard


def require_inside_checkout(path: str, where: str) -> None:
    if not Path(path).resolve().is_relative_to(ROOT):
        raise SystemExit(
            f"{where} imports data_curator_spark from {path}, outside the "
            f"checkout being measured ({ROOT}); unset PYTHONPATH"
        )


def prepare_environment(run_dir: Path) -> int:
    """Point the interpreter, the JVM and the workers at this checkout
    and at the run's scratch directory; returns the core count."""
    if not (ROOT / "data_curator_spark" / "__init__.py").is_file():
        raise SystemExit(f"no data_curator_spark package under {ROOT}: run from a source checkout")
    sys.path.insert(0, str(ROOT))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    # The run, and every process it starts, keeps off one core. On a
    # shared virtual machine the hypervisor takes far more time from a
    # guest that keeps every vCPU busy (measured on four vCPUs: 2 % of
    # each busy vCPU with one to three spinning, 7.5 % with four), and
    # these jobs wait on one thread after another, so wall times would
    # follow other tenants' load. One core of the rest is left to the
    # JVM's compiler and GC threads and the driver; on these inputs a job
    # is no faster on more task threads.
    cores = sorted(os.sched_getaffinity(0))
    os.sched_setaffinity(0, cores[: max(1, len(cores) - 1)])
    cpus = os.environ.setdefault("SPARK_GRAFT_CPUS", str(max(1, len(cores) - 2)))
    for name, var in (("spark-local", "SPARK_LOCAL_DIRS"), ("tmp", "TMPDIR")):
        (run_dir / name).mkdir(parents=True, exist_ok=True)
        os.environ[var] = str(run_dir / name)
    import data_curator_spark

    require_inside_checkout(data_curator_spark.__file__, "driver")
    return int(cpus)


def declared_metrics(trace: bool) -> set[str]:
    with open(ROOT / "BENCHMARK.json", encoding="utf-8") as fh:
        spec = json.load(fh)
    return {m["name"] for m in spec["per_layer" if trace else "end_to_end"]}


def traced_metrics(session, layers, plan_groups, samples, jvm_hwm, py_hwm, probe, cpus):
    """Per-layer metrics: the workload's own probes, the event-log fold
    of the timed job and of each plan-counting group, and the host."""
    import eventlog

    groups = eventlog.fold(eventlog.read_events(str(session.eventlog_file())))
    empty = dict.fromkeys(eventlog.COUNTERS, 0)
    metrics = dict(layers)
    metrics.update({
        "session.build_s": (session.build_s, "s"),
        "trace.job_s": (statistics.median(samples), "s"),
        "mem.jvm_hwm_mb": (jvm_hwm, "MB"),
        "mem.py_workers_hwm_mb": (py_hwm, "MB"),
        "host.probe_s": (probe, "s"),
        "host.nproc": (NPROC, "count"),
        "host.cpus": (cpus, "count"),
    })
    job = groups.get("job", empty)
    for name in eventlog.TASK_COUNTERS:
        unit = "s" if name.endswith("_s") else "bytes" if name.endswith("_bytes") else "count"
        metrics[f"spark.job.{name}"] = (job[name], unit)
    for group, runs in plan_groups.items():
        counts = groups.get(group, empty)
        for name in eventlog.PLAN_COUNTERS:
            metrics[f"{group}.{name}"] = (counts[name] / runs, "count")
    return metrics


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a timeout's SIGTERM still runs the teardown below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    work = HERE / ".work"
    run_dir = work / f"run-{os.getpid()}"
    cache_dir = work / "cache"
    cache_dir.mkdir(parents=True, exist_ok=True)
    run_dir.mkdir(parents=True, exist_ok=True)
    os.chdir(run_dir)
    session = None
    try:
        cpus = prepare_environment(run_dir)
        import curate_workload
        import operators_workload

        module = {"curate": curate_workload, "operators": operators_workload}[args.workload]
        ledger = Ledger()
        t = time.perf_counter()
        inputs = module.prepare(run_dir, cache_dir, args.seed, cpus)
        inputs_s = time.perf_counter() - t

        session = Session(run_dir, cpus, trace=bool(args.trace))
        spark = session.start()
        session.guard_workers()
        session.group("warmup")
        module.warm_up(spark, session, inputs, ledger)
        setup_s = time.perf_counter() - T_PROCESS - inputs_s

        session.group("job")
        samples, cpu_samples = [], []
        steal0, ticks0 = cpu_ticks()
        t_end = time.perf_counter() + args.seconds
        while not samples or time.perf_counter() < t_end:
            wall0, cpu0 = session.span_wall_s, session.span_cpu_s
            if module.job(spark, session, inputs, ledger):
                samples.append(session.span_wall_s - wall0)
                cpu_samples.append(session.span_cpu_s - cpu0)
            elif time.perf_counter() >= t_end:
                break
        steal1, ticks1 = cpu_ticks()
        module.check(spark, inputs, ledger)

        layers, plan_groups = {}, {}
        if args.trace:
            # every traced run reports every layer: the other workload's
            # layers are probed on its own seeded inputs, without warm-up
            other = operators_workload if module is curate_workload else curate_workload
            for mod, mod_inputs in (
                (module, inputs),
                (other, other.prepare(run_dir, cache_dir, args.seed, cpus)),
            ):
                got, groups = mod.profile(spark, session, mod_inputs, ledger)
                layers.update(got)
                plan_groups.update(groups)
        jvm_hwm, py_hwm = memory_hwm_mb(session.jvm.pid)
        session.stop()
        probe = host_probe_s()

        context = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "job_samples_s": samples, "job_cpu_samples_s": cpu_samples, "setup_s": setup_s, "inputs_s": inputs_s,
            "host.probe_s": probe,
            "host.steal_share": (steal1 - steal0) / max(1, ticks1 - ticks0),
            "nproc": NPROC, "cores_used": len(os.sched_getaffinity(0)), "SPARK_GRAFT_CPUS": cpus,
            "failures": ledger.failures,
        }
        print(json.dumps({"context": context}), flush=True)
        if not samples:
            print("no timed job completed", file=sys.stderr)
            return 1
        if args.trace:
            metrics = traced_metrics(session, layers, plan_groups, samples, jvm_hwm, py_hwm, probe, cpus)
        else:
            metrics = {
                "setup_s": (setup_s, "s"),
                "job_s": (statistics.median(samples), "s"),
                "job_cpu_s": (statistics.median(cpu_samples), "s"),
            }
        mismatch = declared_metrics(bool(args.trace)) ^ set(metrics)
        if mismatch:
            print(f"metrics differ from BENCHMARK.json: {sorted(mismatch)}", file=sys.stderr)
            return 1
        print(json.dumps({
            "correct": not ledger.failures,
            "attempted": ledger.attempted,
            "failed": len(ledger.failures),
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
        }))
        return 0
    finally:
        try:
            if session is not None:
                session.stop()
        finally:
            os.chdir(ROOT)
            shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
