"""The repository's benchmark: one workload per run, figures as one JSON line.

Run from the root of a checkout:

    python3 perfbench/run.py --workload stream_catchup --seed 1 --seconds 20 --trace 0

Workloads and metrics are described in ``BENCHMARK.json`` and
``perfbench/README.md``.  A run:

1. writes a validity record (box, load, versions, program fingerprint);
2. generates the workload's inputs from ``--seed`` under ``.perfbench/``;
3. starts the measured process (``worker.py``) and samples the resident
   memory of its process tree;
4. with ``--trace 1`` reports the per-layer metrics instead, and for
   ``analytics_dedup`` runs an untraced twin for the tracing overhead;
5. prints the named figures, then the result line:
   ``{"correct", "attempted", "failed", "metrics"}``.

The program runs with its own defaults.  The run sets ``SPARK_GRAFT_CPUS``
(the box's core count), ``SPARK_LOCAL_DIRS`` and ``PYTHONPATH``, and points
the JVM's and Python's temp directories into ``.perfbench/tmp``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

#: Distinct events in the ``stream_catchup`` backlog, and the share of them
#: delivered a second time.
BACKLOG_EVENTS = 10_000
REDELIVER_SHARE = 0.2
#: Every process of a run must have ended this long after the run started.
RUN_BUDGET_S = 170
#: A run that starts above this 1-minute load is flagged, and so is one
#: during which the hypervisor took more than this share of the CPU time.
LOAD_LIMIT = 0.5
STEAL_LIMIT = 0.02

PROGRAM = ("__spark_entry__.py", "k8stream_spark")


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) CPU time of the box so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        v = [int(x) for x in fh.readline().split()[1:]]
    return sum(v), v[7] if len(v) > 7 else 0


def mem_total_kb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def program_fingerprint(root: str) -> str:
    """sha256 over the program's source files: identifies the code measured
    when the checkout carries no git metadata."""
    h = hashlib.sha256()
    files = [os.path.join(root, PROGRAM[0])]
    for d, _, names in os.walk(os.path.join(root, PROGRAM[1])):
        files += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for path in sorted(files):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_commit(root: str) -> str | None:
    if not os.path.isdir(os.path.join(root, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def versions() -> dict:
    """From the package metadata: importing the packages takes seconds."""
    from importlib.metadata import version

    return {
        "spark": version("pyspark"),
        "python": platform.python_version(),
        "duckdb": version("duckdb"),
    }


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE") // 1024
    except (OSError, IndexError, ValueError):
        return 0


class TreeSampler(threading.Thread):
    """Samples the summed RSS of a process tree every 250 ms and remembers
    its peak and every pid seen."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid = pid
        self.peak_kb = 0
        self.pids: set[int] = set()
        self.done = threading.Event()

    def run(self) -> None:
        while not self.done.wait(0.25):
            tree = descendants(self.pid)
            self.pids.update(tree)
            self.peak_kb = max(self.peak_kb, sum(rss_kb(p) for p in tree))


def reap(pids: set[int], own: int) -> None:
    """Wait for what a worker started (its JVM runs its shutdown hooks after
    the worker exits), then kill whatever is left and wait until it is gone."""

    def alive() -> list[int]:
        return [p for p in pids if p != own and os.path.exists(f"/proc/{p}")]

    for sig in (signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 10
        while alive() and time.time() < deadline:
            time.sleep(0.1)
        for p in alive():
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
    while alive():
        time.sleep(0.1)


def run_worker(work: str, env: dict, args, tag: str, deadline: float,
               trace=0) -> tuple[dict, float]:
    """Run worker.py once, killing it at ``deadline``; returns its result and
    the peak RSS (MB) of its process tree."""
    out = os.path.join(work, f"result-{tag}.json")
    if os.path.exists(out):
        os.remove(out)
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--work", os.path.join(work, "run"), "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace), "--tag", tag, "--out", out]
    with open(os.path.join(work, f"worker-{tag}.log"), "w") as log:
        proc = subprocess.Popen(cmd, env=env, stdout=log, stderr=subprocess.STDOUT)
        sampler = TreeSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.time()))
        except BaseException:  # timeout or termination: stop the worker too
            proc.kill()
            code = proc.wait()
            if not isinstance(sys.exc_info()[1], subprocess.TimeoutExpired):
                raise
        finally:
            sampler.done.set()
            sampler.join()
            reap(sampler.pids, proc.pid)
    if code != 0 or not os.path.exists(out):
        raise RuntimeError(f"worker {tag} exited with {code}; see {log.name}")
    with open(out) as fh:
        return json.load(fh), sampler.peak_kb / 1024


def prepare_inputs(args, work: str) -> None:
    import gen

    run_dir = os.path.join(work, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if args.workload == "stream_catchup":
        spool = os.path.join(run_dir, "spool")
        n = gen.render_backlog(spool, args.seed, BACKLOG_EVENTS, REDELIVER_SHARE)
        with open(os.path.join(spool, "_lines"), "w") as fh:
            fh.write(str(n))
    else:
        fixtures = os.path.join(work, "fixtures")
        fp = gen.write_fixtures(fixtures)
        with open(os.path.join(HERE, "digests.json")) as fh:
            want = json.load(fh)["fixture_fingerprint"]
        if fp != want:
            raise RuntimeError(f"generated fixtures {fp} differ from the digests' {want}")


def spec() -> dict:
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def layer_metrics(traced: dict, peak_mb: float, untraced: dict | None) -> dict:
    """Every per-layer metric of BENCHMARK.json; 0 where this workload does
    not exercise the layer."""
    m = dict.fromkeys((x["name"] for x in spec()["per_layer"]), 0.0)
    tm = traced["metrics"]
    m.update({k: v for k, v in tm.items() if k in m})
    m["session.peak_rss_mb"] = peak_mb
    # Job groups are set per timed query phase; "" holds the warm-up action.
    timed = {g: r for g, r in traced.get("eventlog", {}).items() if g}
    if timed:
        n = tm["passes"]
        for f in ("jobs", "stages", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_ms"):
            m[f"analytics.{f}"] = sum(r[f] for r in timed.values()) / n
        m["analytics.peak_exec_mem_bytes"] = max(r["peak_exec_mem_bytes"] for r in timed.values())
    # Throughput lost to tracing, as a share of the untraced throughput.
    key = "throughput_per_s"
    if untraced and tm.get(key) and untraced["metrics"].get(key):
        m["trace.overhead_share"] = untraced["metrics"][key] / tm[key] - 1.0
    return m


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("stream_catchup", "analytics_dedup"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # SIGTERM unwinds like an exception, so every worker tree is reaped.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    deadline = time.time() + RUN_BUDGET_S
    root = os.getcwd()
    missing = [p for p in PROGRAM if not os.path.exists(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from the repository root; missing {missing}", file=sys.stderr)
        return 2

    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    validity = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": mem_total_kb(),
        "loadavg_start": loadavg(),
        "cpu_jiffies_start": cpu_jiffies(),
        "git_commit": git_commit(root),
        "program_sha256": program_fingerprint(root),
        **versions(),
    }
    validity["flag_load"] = validity["loadavg_start"][0] > LOAD_LIMIT

    # Scratch space of the run, emptied first: Spark's local dirs and the
    # JVM's and Python's temp files stay inside the checkout.
    local, tmp = os.path.join(work, "spark-local"), os.path.join(work, "tmp")
    for d in (local, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(validity["nproc"])
    env["SPARK_LOCAL_DIRS"] = local
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [root, env.get("PYTHONPATH")]))
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"

    prepare_inputs(args, work)
    t_main = time.time()
    main_res, peak_mb = run_worker(work, env, args, "main", deadline, trace=args.trace)
    # The event log traces analytics_dedup session-wide, so its overhead
    # needs an untraced twin process, skipped when it could not finish in
    # time.  stream_catchup measures its overhead inside the traced process.
    untraced = None
    if args.trace and args.workload == "analytics_dedup":
        if time.time() + 1.2 * (time.time() - t_main) < deadline:
            untraced = run_worker(work, env, args, "untraced", deadline)[0]
        validity["untraced_twin"] = untraced is not None

    validity["loadavg_end"] = loadavg()
    # CPU time the hypervisor gave to other guests while this run waited.
    (t0, st0), (t1, st1) = validity.pop("cpu_jiffies_start"), cpu_jiffies()
    validity["cpu_steal_share"] = (st1 - st0) / max(1, t1 - t0)
    validity["flag_steal"] = validity["cpu_steal_share"] > STEAL_LIMIT
    validity["timed_units_s"] = main_res["metrics"].get("drain_s", main_res["metrics"].get("pass_s"))
    with open(os.path.join(work, f"validity-{args.workload}-{args.seed}-{args.trace}.json"), "w") as fh:
        json.dump(validity, fh, indent=1)

    mm = main_res["metrics"]
    attempted, failed = main_res["attempted"], main_res["failed"]
    # An auxiliary process that failed leaves its metric at 0 and fails the run.
    failed += int(bool(untraced and "error" in untraced))
    if args.trace:
        values = layer_metrics(main_res, peak_mb, untraced)
        units = {x["name"]: x["unit"] for x in spec()["per_layer"]}
    else:
        values = {"setup_s": main_res["setup_s"]}
        units = {x["name"]: x["unit"] for x in spec()["end_to_end"]}
        values.update({k: mm.get(k, 0.0) for k in units if k not in values})
    metrics = {k: {"value": values[k], "unit": units[k]} for k in units}

    print("validity " + json.dumps(validity))
    named = {"setup_s": (main_res["setup_s"], "s"), "peak_rss_mb": (peak_mb, "MB"),
             "error_rate": (failed / max(1, attempted), "ratio")}
    for name, (key, unit) in NAMED[args.workload].items():
        named[name] = (mm.get(key, 0.0), unit)
    for name, (value, unit) in named.items():
        print(f"{name} {value} {unit}")
    print(json.dumps({"correct": failed == 0 and "error" not in main_res,
                      "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


#: Each workload's figures under their workload-specific names:
#: name -> (key in the worker's metrics, unit).
NAMED = {
    "stream_catchup": {
        "events_per_s": ("events_per_s", "1/s"),
        "catchup_lag_p50_s": ("latency_p50_s", "s"),
        "catchup_lag_p90_s": ("latency_p90_s", "s"),
    },
    "analytics_dedup": {
        "batch_total_s": ("batch_total_s", "s"),
        "query_latency_p50_s": ("latency_p50_s", "s"),
        "query_latency_p90_s": ("latency_p90_s", "s"),
    },
}


if __name__ == "__main__":
    raise SystemExit(main())
