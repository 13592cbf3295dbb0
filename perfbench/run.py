"""Benchmark entry point.

    python3 perfbench/run.py --workload <batch_mix|stream_replay>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It generates (or reuses) the seeded
inputs, starts one fresh timed process (``child.py``) on ``local[N]`` with
N = the CPUs this process may use, samples the process tree's resident
memory from ``/proc`` while it runs, stops every process the run started,
and prints two JSON lines: a summary (versions, load, inputs, sample
counts, failures) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones. All files it
writes stay under ``.perfbench_cache/`` and ``.perfbench_work/``.
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
ROOT = os.path.dirname(HERE)
CHILD_TIMEOUT_S = 165  # the whole run must end within 180 s
DRIVER_MEM = "4g"  # JVM heap cap: small enough for a shared machine, large enough that GC does not dominate


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat, or None if gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            text = fh.read()
    except OSError:
        return None
    head, tail = text.rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def _session_pids(sid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st and int(st[1][3]) == sid:  # field 6 of stat: session id
                pids.append(int(name))
    return pids


def _rss_by_name(pids: list[int]) -> dict[str, int]:
    """Resident bytes per executable name (java, python3, ...).

    The JVM forks short-lived helpers (``chmod`` for local file
    permissions, ``jspawnhelper``); until they exec, such a fork shows a
    copy of the JVM's resident set, so children of the JVM other than
    the Python worker daemon are left out rather than counted twice."""
    page = os.sysconf("SC_PAGE_SIZE")
    stats = {pid: _stat(pid) for pid in pids}
    out: dict[str, int] = {}
    for pid, st in stats.items():
        if st is None:
            continue
        comm, fields = st
        parent = stats.get(int(fields[1]))
        if parent and parent[0] == "java" and not comm.startswith("python"):
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                rss = int(fh.read().split()[1]) * page
        except OSError:
            continue
        out[comm] = out.get(comm, 0) + rss
    return out


class RssSampler(threading.Thread):
    """Peak resident memory of every process in the child's session
    (the Python process, the JVM and the Python workers), with the split
    by executable at the peak."""

    def __init__(self, sid: int, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.sid, self.period, self.peak, self.at_peak = sid, period, 0, {}
        self._stop_event = threading.Event()

    def run(self) -> None:
        while not self._stop_event.is_set():
            split = _rss_by_name(_session_pids(self.sid))
            if sum(split.values()) > self.peak:
                self.peak, self.at_peak = sum(split.values()), split
            self._stop_event.wait(self.period)

    def stop(self) -> None:
        self._stop_event.set()
        self.join()


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, all CPUs (/proc/stat)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _stop_session(sid: int) -> None:
    """Kill whatever the child left behind (the JVM, Python workers) and
    wait until it is gone. The child has already stopped its SparkSession
    and written its report; the run's scratch directories are emptied at
    the start of the next run, so no shutdown hook is needed."""
    deadline = time.monotonic() + 20.0
    while True:
        pids = [p for p in _session_pids(sid) if p != os.getpid()]
        if not pids:
            return
        if time.monotonic() > deadline:
            _fail(f"processes of session {sid} did not stop", 4)
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def _loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(v) for v in fh.read().split()[:3]]


def _commit() -> str:
    """HEAD of the checkout when it is a git work tree, else "unknown"."""
    git = os.path.join(ROOT, ".git")
    try:
        with open(os.path.join(git, "HEAD")) as fh:
            head = fh.read().strip()
        if not head.startswith("ref: "):
            return head
        ref = head[5:]
        path = os.path.join(git, ref)
        if os.path.exists(path):
            with open(path) as fh:
                return fh.read().strip()
        with open(os.path.join(git, "packed-refs")) as fh:
            for line in fh:
                if line.rstrip().endswith(" " + ref):
                    return line.split()[0]
    except OSError:
        pass
    return "unknown"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cli_spark", "plans", "registry.py")):
        _fail(f"no cli_spark package under {ROOT}: run from a checkout of the program")
    sys.path[:0] = [HERE, ROOT]
    import inputs
    import report
    import stats
    import workloads

    if args.workload not in workloads.WORKLOADS:
        _fail(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    wl = workloads.WORKLOADS[args.workload]
    load_before = _loadavg()
    cache = os.path.join(ROOT, ".perfbench_cache")
    work = os.path.join(ROOT, ".perfbench_work")
    for d in (os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        shutil.rmtree(d, ignore_errors=True)
    for d in (cache, os.path.join(work, "tmp"), os.path.join(work, "spark-local")):
        os.makedirs(d, exist_ok=True)
    input_dir, manifest = inputs.ensure(cache, args.workload, wl["inputs"], args.seed)

    tag = f"{args.workload}-{args.seed}-t{args.trace}"
    nproc = len(os.sched_getaffinity(0))
    spec = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": bool(args.trace), "nproc": nproc, "inputs": input_dir,
            "out_dir": os.path.join(work, "hgt-tiles"),
            "report": os.path.join(work, f"report-{tag}.json")}
    spec_path = os.path.join(work, f"spec-{tag}.json")
    with open(spec_path, "w") as fh:
        json.dump(spec, fh)
    if os.path.exists(spec["report"]):
        os.remove(spec["report"])

    env = dict(os.environ, PYTHONPATH=ROOT, PYSPARK_PYTHON=sys.executable,
               PYSPARK_DRIVER_PYTHON=sys.executable,
               TMPDIR=os.path.join(work, "tmp"),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
               JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}")
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    log_path = os.path.join(work, f"child-{tag}.log")
    steal0 = _steal_s()
    with open(log_path, "w") as log:
        env["PERFBENCH_T_SPAWN"] = repr(time.monotonic())
        child = subprocess.Popen([sys.executable, os.path.join(HERE, "child.py"), spec_path],
                                 cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
                                 start_new_session=True)
        sampler = RssSampler(child.pid)
        sampler.start()
        try:
            code = child.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            sampler.stop()
            _stop_session(child.pid)
            if child.poll() is None:
                child.wait()
    if code != 0 or not os.path.exists(spec["report"]):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
        _fail(f"timed process {'timed out' if code is None else f'exited {code}'}"
              f" (log: {log_path})", 3)

    with open(spec["report"]) as fh:
        rep = json.load(fh)
    all_ops = [r for p in rep["passes"] for r in p["ops"]]
    attempted = len(all_ops)
    failed = sum(1 for r in all_ops if not r["ok"])
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "commit": _commit(), "nproc": nproc, **rep["info"],
        "loadavg_before": load_before, "loadavg_after": _loadavg(),
        "steal_s": round(_steal_s() - steal0, 2),
        "peak_rss_mb_by_process": {k: round(v / 2**20) for k, v in sampler.at_peak.items()},
        "inputs": {k: manifest[k] for k in ("rows", "bytes", "sha256", "generator")},
        "passes": len(rep["passes"]),
        "fail_ratio": stats.fail_ratio(attempted, failed),
        "errors": sorted({f"{r['op']}: {r['error']}" for r in all_ops if not r["ok"]})[:5],
    }
    correct = failed == 0
    peak_rss_mb = sampler.peak / 2**20
    summary["peak_rss_mb"] = round(peak_rss_mb, 1)
    if args.trace:
        values, extra = report.per_layer(rep)
        values["process.peak_rss_mb"] = peak_rss_mb
        summary.update(extra)
        correct = correct and extra["coverage_ok"]
        spans_path = os.path.join(work, f"spans-{tag}.json")
        with open(spans_path, "w") as fh:
            json.dump(report.spans(rep), fh)
        summary["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        values, extra = report.end_to_end(rep)
        summary.update(extra)
    units = {m["name"]: m["unit"] for m in _declared(args.trace)}
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
    print(json.dumps({"summary": summary}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _declared(trace: int) -> list[dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["per_layer" if trace else "end_to_end"]


if __name__ == "__main__":
    sys.exit(main())
