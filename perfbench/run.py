"""Run one benchmark workload from a seed and print its metrics.

    python3 perfbench/run.py --workload sf01_pipeline --seed 1 \\
        --seconds 5 --trace 0 [--out results.jsonl]

The run builds (or reuses from ``.perfbench/cache``) the seeded inputs
and their references, brackets the run with a raw-CPU control probe,
times two session set-ups in fresh processes, and lets the second of
those processes run the workload's passes (``worker.py``), each layer
call timed in wall and CPU seconds. The last
stdout line is the result: ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end with ``--trace 0``, per-layer with ``--trace
1``). The line before it is the full record, which ``--out`` also
appends to a JSON-lines file for ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import queue
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import workloads  # noqa: E402

#: every set-up is a JVM launch of about 9 s; a third would not fit the
#: time budget of 48 runs in 3,420 s
SETUP_SAMPLES = 2
#: per-layer counts a traced run must repeat exactly; a mismatch is flagged
EXACT = {"jobs", "stages", "tasks", "supersteps", "output_rows", "replicas"}
#: a run that has not finished by then is killed and reported as failed
DEADLINE_S = 170.0


def load_spec() -> dict:
    """``BENCHMARK.json``: the one list of metric names, units and bounds."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def is_exact(name: str) -> bool:
    return name.rsplit(".", 1)[-1] in EXACT


def cpu_control() -> float:
    """Raw-CPU probe of ``bench.py`` (numpy matmuls, no Spark), shortened:
    seconds for a fixed single-process workload, so a noisy host shows
    in the record next to the numbers it may have distorted."""
    import numpy as np

    rng = np.random.default_rng(0)
    a = rng.random((512, 512))
    for _ in range(5):  # untimed warm-up: BLAS threads, page faults
        a = a @ a
        a /= np.abs(a).max() + 1.0
    t0 = time.perf_counter()
    for _ in range(40):
        a = a @ a
        a /= np.abs(a).max() + 1.0
    return time.perf_counter() - t0


def _cpu_ticks() -> list[int]:
    """Host-wide ``user .. steal`` ticks from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def control_record(probes: list[float], ticks0: list[int], ticks1: list[int]) -> dict:
    """Host-noise readings of a run: the control probe's median and
    spread, and the share of CPU time the hypervisor stole."""
    d = [b - a for a, b in zip(ticks0, ticks1)]
    return {"cpu_s": statistics.median(probes), "spread": max(probes) / min(probes),
            "steal_frac": d[7] / max(sum(d), 1)}


class Child:
    """A worker process in its own process group, with its stdout read
    on a thread so waits can time out."""

    def __init__(self, argv: list[str], env: dict):
        self.t0 = time.perf_counter()
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), *argv],
            stdout=subprocess.PIPE, text=True, env=env, cwd=ROOT,
            start_new_session=True,
        )
        self.lines: queue.Queue = queue.Queue()
        self._reader = threading.Thread(target=self._read, daemon=True)
        self._reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            self.lines.put(line.rstrip("\n"))
        self.lines.put(None)

    def ready_s(self, deadline: float) -> float:
        """Seconds from spawn to the child's READY line."""
        while True:
            line = self.lines.get(timeout=max(deadline - time.monotonic(), 0.01))
            if line == "READY":
                return time.perf_counter() - self.t0
            if line is None:
                raise RuntimeError(f"worker exited with {self.proc.wait()} before READY")
            print(line, file=sys.stderr)

    def wait(self, deadline: float) -> None:
        code = self.proc.wait(timeout=max(deadline - time.monotonic(), 0.01))
        self._reader.join(timeout=10)
        if code != 0:
            raise RuntimeError(f"worker exited with {code}")

    def kill(self) -> None:
        """Kill whatever is left of the process group and wait for it."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        for _ in range(200):
            if not _group_alive(self.proc.pid):
                return
            time.sleep(0.05)


def _group_alive(pgid: int) -> bool:
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            if int(fields[2]) == pgid and fields[0] != "Z":
                return True
    return False


def run_workers(args, case_dir: str, run_dir: str, deadline: float):
    env = dict(os.environ, PYTHONPATH=ROOT, SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
               TMPDIR=os.path.join(run_dir, "tmp"))
    env.pop("PYSPARK_GATEWAY_PORT", None)
    os.makedirs(env["TMPDIR"])
    base = ["--workload", args.workload, "--case", case_dir, "--run", run_dir]
    samples = []
    for i in range(SETUP_SAMPLES):
        last = i == SETUP_SAMPLES - 1
        argv = base + (["--seconds", str(args.seconds), "--trace", str(args.trace)]
                       if last else ["--setup-only"])
        child = Child(argv, env)
        try:
            samples.append(child.ready_s(deadline))
            if last:
                child.wait(deadline)
        finally:
            child.kill()
    with open(os.path.join(run_dir, "result.json")) as f:
        return samples, json.load(f)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(passes, setup_samples) -> dict:
    """Set-up is timed on the wall clock. The pass is charged in the
    Spark work it does, counted by the driver's status store, because on
    a shared host its wall and CPU seconds move with the other tenants
    by more than any useful bound; they are in the full record and in
    the traced run's ``pass.*`` and ``<layer>.s`` metrics."""
    calls = [c for p in passes for c in p]

    def per_pass(key):
        return _median([sum(c[key] for c in p) for p in passes])

    return {
        "setup_s": _median(setup_samples),
        "spark_jobs": per_pass("jobs"),
        "spark_tasks": per_pass("tasks"),
        "shuffle_write_mb": per_pass("shuffle_write_mb"),
        "ok_frac": sum(c["ok"] for c in calls) / len(calls),
    }


def layer_values(names, passes, result, ref, setup_samples, control, pagerank_layer):
    """Per-layer metrics: timings are medians over passes, counts come
    from the first pass; counts that differ between passes are returned
    as ``unsteady``."""
    by_layer: dict[str, list[dict]] = {}
    for p in passes:
        for c in p:
            by_layer.setdefault(c["layer"], []).append(c)
    by_layer["session"] = [dict(result["session"], s=setup_samples[-1])]
    by_layer["pass"] = [{"wall_s": sum(c["s"] for c in p), "cpu_s": sum(c["cpu_s"] for c in p)}
                        for p in passes]
    by_layer["process"] = [{"peak_rss_mb": result["peak_rss_mb"]}]
    by_layer["control"] = [control]
    for c in by_layer.get("derive", []):
        c["turns_per_s"] = ref["n_turns"] / c["s"]
    # the north metric: edges x reference supersteps per wall second
    for c in by_layer.get(pagerank_layer, []):
        if c["ok"]:
            c["edges_per_s"] = ref["n_edges"] * ref["k_ref"] / c["s"]
    for calls in by_layer.values():
        for c in calls:
            if c.get("supersteps"):
                c["jobs_per_superstep"] = c["jobs"] / c["supersteps"]
    values, unsteady = {}, []
    for name in names:
        layer, m = name.rsplit(".", 1)
        seen = [c[m] for c in by_layer.get(layer, []) if m in c]
        if is_exact(name):
            values[name] = seen[0] if seen else 0
            if len(set(seen)) > 1:
                unsteady.append(name)
        else:
            values[name] = _median(seen)
    return values, unsteady


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="measuring window; passes repeat until it is spent (at least one)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", help="append the full record to this JSON-lines file")
    args = ap.parse_args()

    deadline = time.monotonic() + DEADLINE_S
    spec = workloads.WORKLOADS[args.workload]
    state_dir = os.path.join(ROOT, ".perfbench")
    case_dir = workloads.prepare(args.workload, args.seed, os.path.join(state_dir, "cache"))
    with open(os.path.join(case_dir, "reference.json")) as f:
        ref = json.load(f)

    run_dir = tempfile.mkdtemp(prefix="run-", dir=state_dir)
    try:
        ticks0, probes = _cpu_ticks(), [cpu_control()]
        setup_samples, result = run_workers(args, case_dir, run_dir, deadline)
        probes.append(cpu_control())
        control = control_record(probes, ticks0, _cpu_ticks())
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    passes = result["passes"]
    declared = load_spec()["per_layer" if args.trace else "end_to_end"]
    if args.trace:
        values, unsteady = layer_values([m["name"] for m in declared], passes, result,
                                        ref, setup_samples, control, spec["pagerank_layer"])
    else:
        values, unsteady = end_to_end(passes, setup_samples), []
    units = {m["name"]: m["unit"] for m in declared}
    calls = [c for p in passes for c in p]
    failed = sum(not c["ok"] for c in calls)
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "setup_samples_s": setup_samples,
        "control_s": probes, "control": control,
        "passes": passes, "session": result["session"], "unsteady_counts": unsteady,
        "metrics": values,
    }
    for name in unsteady:
        print(f"perfbench: {name} differs between passes", file=sys.stderr)
    print(json.dumps(record))
    if args.out:
        with open(args.out, "a") as f:
            f.write(json.dumps(record) + "\n")
    print(json.dumps({
        "correct": failed == 0, "attempted": len(calls), "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
