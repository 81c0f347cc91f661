"""Repo benchmark launcher.

    python3 perfbench/run.py --workload a911_ingest|corpus_curation|all \
        --seed N --seconds S --trace 0|1

Run from the repository root. Prepares the workload's seeded inputs
under ``.perfbench_work/`` (and, for ``a911_ingest``, serves the
loopback Active911 interface and collector from this process), runs the
workload in a fresh worker process (``worker.py``: set-up, then the
workload) while sampling the RSS of the Spark driver (driver Python +
JVM), checks the outputs, and prints the metrics: one ``name value
unit`` line each, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``;
with ``--workload all``, every workload in turn and its metrics prefixed
by the workload name). The workloads run fixed schedules, so ``--seconds``
is accepted but does not change how much is measured. Exits non-zero
without a result when the engine is missing or a run fails. See
perfbench/README.md for the design.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)  # the engine and tests/parity.py, for the checks

from common import RESULT_PREFIX  # noqa: E402

WORKLOADS = ("a911_ingest", "corpus_curation")
#: a worker that runs longer than this is killed (a run must end within 180 s)
PROCESS_TIMEOUT_S = 160


def _children(pid: int) -> list[int]:
    """Child processes started by any thread of ``pid`` (the JVM starts
    Spark's Python workers from its own threads)."""
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out += [int(p) for p in fh.read().split()]
    except OSError:
        pass
    return out


def driver_rss_mb(pid: int) -> float:
    """Resident memory of the Spark driver: process ``pid`` (the PySpark
    driver) and its descendants down to and including the JVM, but not
    the Python worker processes the JVM forks. How many idle workers
    Spark keeps alive varies from run to run, by about 128 MiB each, and
    would dominate the run-to-run spread."""
    total, stack = 0, [pid]
    while stack:
        p = stack.pop()
        try:
            with open(f"/proc/{p}/comm") as fh:
                is_jvm = fh.read().strip() == "java"
            with open(f"/proc/{p}/status") as fh:
                for line in fh:
                    if line.startswith("VmRSS:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
        if not is_jvm:
            stack += _children(p)
    return total / 1024


class RssSampler(threading.Thread):
    """Peak of ``driver_rss_mb`` while the worker runs the program: it
    skips the ticks during which the worker's phase file (``common.phase``)
    reads ``harness``."""

    def __init__(self, pid: int, phase_file: str, period: float = 0.05):
        super().__init__(daemon=True)
        self.pid, self.phase_file, self.period, self.peak = pid, phase_file, period, 0.0
        self._halt = threading.Event()

    def _in_harness(self) -> bool:
        try:
            with open(self.phase_file) as fh:
                return fh.read() == "harness"
        except OSError:
            return False

    def run(self):
        while not self._halt.is_set():
            if not self._in_harness():
                self.peak = max(self.peak, driver_rss_mb(self.pid))
            self._halt.wait(self.period)

    def stop(self) -> float:
        self._halt.set()
        self.join()
        return self.peak


def _env(work: str) -> dict:
    env = dict(os.environ)
    # Spark's Python workers import the engine (the active911 DataSource,
    # pickled UDFs): without the repo root on their path they fail with
    # ModuleNotFoundError: etl_active911_spark.
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p
    )
    env["PYSPARK_PYTHON"] = env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env["TMPDIR"] = tmp
    # A fixed young generation: with G1's adaptive eden the driver's peak
    # RSS swung by 40 % between runs with the same inputs (1.5 vs 2.2 GB).
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xmn768m"
    return env


def _group_alive(pgid: int) -> bool:
    """Whether any process of group ``pgid`` is still running (zombies,
    which have ended but wait for their parent to reap them, do not
    count)."""
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def _kill_group(pgid: int, wait_s: float = 10.0) -> None:
    """Kill the worker's process group (the JVM and Spark's Python workers
    share it) and wait until no member is left running."""
    end = time.time() + wait_s
    while True:
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        if not _group_alive(pgid) or time.time() > end:
            return
        time.sleep(0.05)


def _run_child(argv: list[str], env: dict, cwd: str):
    """Run the worker process until it prints its result line, then kill
    its process group (Spark's shutdown is not part of the run); returns
    (the parsed result, the peak RSS of the Spark driver it runs)."""
    spawned = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *argv, "--spawned-at", repr(spawned)],
        env=env, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
        text=True, start_new_session=True,
    )
    sampler = RssSampler(proc.pid, os.path.join(cwd, "phase"))
    sampler.start()
    watchdog = threading.Timer(PROCESS_TIMEOUT_S, os.killpg, (proc.pid, signal.SIGKILL))
    watchdog.start()
    err: list[str] = []
    drain = threading.Thread(target=lambda: err.append(proc.stderr.read()), daemon=True)
    drain.start()
    result = None
    try:
        for line in proc.stdout:
            if line.startswith(RESULT_PREFIX):
                result = json.loads(line[len(RESULT_PREFIX) :])
                break
    finally:
        watchdog.cancel()
        peak = sampler.stop()
        _kill_group(proc.pid)
        proc.wait()
        _kill_group(proc.pid)
        drain.join()
    if os.environ.get("PERFBENCH_LOG") or result is None:
        sys.stderr.write(err[0] if os.environ.get("PERFBENCH_LOG") else err[0][-4000:])
    if result is None:
        raise RuntimeError(f"worker ended without a result (exit {proc.returncode}): {argv}")
    return result, peak


def run_workload(spec: dict, workload: str, seed: int, trace: int) -> dict:
    """Run one workload in a fresh worker; print its metric lines and
    return its JSON result."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    harness = None
    try:
        env = _env(work)
        if workload == "a911_ingest":
            from wl_a911 import Harness
        else:
            from wl_curation import Harness
        harness = Harness(seed, bool(trace), work)
        res, peak_rss = _run_child(
            [
                "--workload", workload, "--seed", str(seed),
                "--trace", str(trace), "--work", work,
            ],
            env, work,
        )
        harness.check(res)
    finally:
        if harness is not None:
            harness.close()
        shutil.rmtree(work, ignore_errors=True)

    e2e = dict(res["e2e"], setup_s=res["setup"]["setup_s"], peak_rss_mb=peak_rss)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, (value, unit) in res["named"].items():
        print(f"{workload} {name} {value:.6g} {unit}")
    for name in ("setup_s", "peak_rss_mb"):
        print(f"{workload} {name} {e2e[name]:.6g} {units[name]}")
    print(f"{workload} failed_ratio {res['failed'] / res['attempted']:.6g} ratio")
    for q, probs in res.get("problems", {}).items():
        print(f"{workload} CHECK FAILED {q}: {'; '.join(probs)[:500]}")

    if trace:
        layers = dict(res["layers"], **res["setup"])
        names = [m["name"] for m in spec["per_layer"]]
    else:
        layers = e2e
        names = [m["name"] for m in spec["end_to_end"]]
    return {
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {n: {"value": layers.get(n, 0), "unit": units[n]} for n in names},
    }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.isfile(spec_path) and os.path.isdir(os.path.join(ROOT, "etl_active911_spark"))):
        sys.stderr.write("perfbench: run from the repository root (engine package not found)\n")
        return 2
    with open(spec_path) as fh:
        spec = json.load(fh)

    # On SIGTERM, unwind through _run_child so the worker group is killed.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload != "all":
        out = run_workload(spec, args.workload, args.seed, args.trace)
    else:
        runs = {w: run_workload(spec, w, args.seed, args.trace) for w in WORKLOADS}
        out = {
            "correct": all(r["correct"] for r in runs.values()),
            "attempted": sum(r["attempted"] for r in runs.values()),
            "failed": sum(r["failed"] for r in runs.values()),
            "metrics": {
                f"{w}.{n}": v for w, r in runs.items() for n, v in r["metrics"].items()
            },
        }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
