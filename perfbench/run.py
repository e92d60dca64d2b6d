"""kwack-spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload kafka_topics --seed 7 --seconds 10 --trace 0

Run from the root of a checkout.  The run

1. generates the workload's inputs from ``--seed`` in a separate process
   (``gen.py``), under ``.perfbench/`` in the checkout;
2. starts a fresh process (``child.py``) that sets kwack-spark up, checks
   every output against DuckDB and measures for ``--seconds``;
3. samples the peak resident memory of that process, its JVM and its Python
   workers, stops every process it started, and prints each metric by name
   with its unit.  The last line is one JSON object:
   ``{"correct", "attempted", "failed", "metrics"}`` with every end-to-end
   metric of BENCHMARK.json under ``--trace 0`` and every per-layer metric
   under ``--trace 1``.

It exits with a non-zero code, printing no result, when kwack-spark is not
in the checkout or the run fails.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# generation, the workload process and the shutdown (at most 25 s) must end
# inside 180 s
CHILD_TIMEOUT_S = 130
GEN_TIMEOUT_S = 20
RSS_SAMPLE_S = 0.5
# Spark task slots (local[N]).  Two leave cores for the Spark driver, the JVM's own
# threads and the Python workers; on 4 cores, local[4] spread run-to-run
# timings about twice as wide as local[2] (perfbench/NOTES.md).
SPARK_CPUS = 2


def _processes() -> dict[int, tuple[int, str]]:
    """pid -> (parent pid, start time) for every live process (zombies,
    which have exited, are left out)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid ... starttime (22nd)
        fields = stat[stat.rfind(")") + 2 :].split()
        if fields[0] != "Z":
            out[int(entry)] = (int(fields[1]), fields[19])
    return out


def _tree(root: int, procs: dict[int, tuple[int, str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            out.append(pid)
            stack.extend(children.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


class ProcessTree(threading.Thread):
    """Samples the workload process and all its descendants: the Python
    application, its JVM and the JVM's Python workers (which run in a process
    group of their own).  Keeps the peak of their summed resident memory and
    every process seen, so all of them can be stopped at the end."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root, self._stop_evt = root, threading.Event()
        self.peak, self.parts = 0, {}
        self.seen: dict[int, str] = {}  # pid -> start time

    def sample(self) -> None:
        procs = _processes()
        parts = {"app": 0, "jvm": 0, "worker": 0}
        for pid in _tree(self.root, procs):
            self.seen.setdefault(pid, procs[pid][1])
            kind = "app" if pid == self.root else "jvm" if _comm(pid) == "java" else "worker"
            parts[kind] += _rss_bytes(pid)
        total = sum(parts.values())
        if total > self.peak:
            self.peak, self.parts = total, parts

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.sample()
            self._stop_evt.wait(RSS_SAMPLE_S)

    def alive(self) -> list[int]:
        procs = _processes()
        return [p for p, start in self.seen.items() if p in procs and procs[p][1] == start]

    def stop_all(self) -> None:
        """Stop sampling; give every process seen a moment to exit on its
        own, then terminate, then kill, and wait until none is left."""
        self._stop_evt.set()
        self.join()
        for sig, wait_s in ((None, 1.0), (signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
            if sig is not None:
                for pid in self.alive():
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            deadline = time.time() + wait_s
            while self.alive() and time.time() < deadline:
                time.sleep(0.1)
            if not self.alive():
                return


def _machine() -> dict:
    cached = None
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("Cached:"):
                cached = int(line.split()[1])
    return {"loadavg": list(os.getloadavg()), "page_cache_kb": cached}


def main() -> int:
    ap = argparse.ArgumentParser(description="kwack-spark benchmark run")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops what it started (the finally blocks below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    if not (ROOT / "kwack_spark" / "engine.py").is_file():
        print(f"perfbench: no kwack_spark package under {ROOT}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    data = work / "data"
    for d in (data, work / "tmp", work / "spark-local", work / "scratch"):
        d.mkdir(parents=True, exist_ok=True)
    nproc = os.cpu_count() or 1
    env = dict(os.environ)
    env.update(
        {
            "PYTHONPATH": str(ROOT),
            "PYTHONWARNINGS": "ignore",
            "SPARK_GRAFT_CPUS": str(min(SPARK_CPUS, nproc)),
            "SPARK_LOCAL_DIRS": str(work / "spark-local"),
            "TMPDIR": str(work / "tmp"),
            # every JVM (the launcher's too) keeps its temp files in the checkout
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        }
    )
    machine_start = _machine()
    t_start = time.time()
    try:
        try:
            subprocess.run(
                [sys.executable, str(HERE / "gen.py"), "--workload", args.workload,
                 "--seed", str(args.seed), "--out", str(data)],
                check=True, timeout=GEN_TIMEOUT_S, cwd=ROOT, env=env,
            )
        except (subprocess.CalledProcessError, subprocess.TimeoutExpired) as exc:
            print(f"perfbench: input generation failed: {exc}", file=sys.stderr)
            return 1
        t_gen = time.time()
        result_path = work / "result.json"
        log_path = base / f"last-{args.workload}.log"
        with open(log_path, "w") as log:
            child = subprocess.Popen(
                [sys.executable, str(HERE / "child.py"), "--workload", args.workload,
                 "--data", str(data), "--work", str(work), "--seconds", str(args.seconds),
                 "--trace", str(args.trace), "--result", str(result_path),
                 "--spawned-at", repr(time.time())],
                cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            )
            procs = ProcessTree(child.pid)
            procs.start()
            try:
                code = child.wait(timeout=CHILD_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                code = None
            finally:
                t_exit = time.time()
                procs.stop_all()
                child.wait()
                t_stopped = time.time()
        if code != 0:
            why = "timed out" if code is None else f"exited with {code}"
            print(f"perfbench: workload process {why}; see {log_path}", file=sys.stderr)
            return 1
        res = json.loads(result_path.read_text())
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["layers"]["mem.peak_rss_mb"] = procs.peak / 2**20
    for part in ("app", "jvm", "worker"):
        res["layers"][f"mem.peak_{part}_rss_mb"] = procs.parts.get(part, 0) / 2**20
    values = res["metrics"] if not args.trace else res["layers"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        print(f"perfbench: run produced no value for {missing}", file=sys.stderr)
        return 1
    res["info"].update(
        {
            "nproc": nproc,
            "spark_cpus": min(SPARK_CPUS, nproc),
            "machine_start": machine_start,
            "machine_end": _machine(),
            "seed": args.seed,
            "generate_s": t_gen - t_start,
            "child_s": t_exit - t_gen,
            "stop_s": t_stopped - t_exit,
        }
    )
    (base / f"last-{args.workload}.json").write_text(json.dumps(res, indent=1, default=str))

    for m in wanted:
        print(f"{args.workload}  {m['name']:<44} {values[m['name']]:>16.6g} {m['unit']}")
    for f in res["failures"]:
        print(f"FAILED {f}")
    probe = res["info"].get("reference_probe")
    if probe:
        print(f"reference-schema probe: {'ok' if probe['ok'] else 'FAILS'} ({probe['detail']})")
    if args.trace:
        lay = res["layers"]
        print(
            f"tracing overhead: {lay['trace.overhead_s']:.3f} s of bookkeeping in a "
            f"{lay['trace.wall_s']:.3f} s traced window; unattributed "
            f"{lay['trace.unattributed_s']:.3f} s"
        )
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
