"""The timed process: one fresh interpreter per run.

Started by ``run.py`` with the generated inputs already on disk. It sets
up the program exactly as a user would (``session.get_spark``, then
``registry.all_queries``), runs the workload's passes as a closed loop
with one client (one operation at a time), checks every result outside
the timed region, and writes one JSON report for ``run.py``.

    python3 perfbench/child.py <spec.json>
"""

from __future__ import annotations

import json
import os
import random
import sys
import time

T_SPAWN = float(os.environ.get("PERFBENCH_T_SPAWN", time.monotonic()))


def setup(nproc: int):
    from cli_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]")
    t_session = time.monotonic()
    from cli_spark.plans.registry import all_queries

    all_queries()
    t_ready = time.monotonic()
    return spark, {"setup_s": t_ready - T_SPAWN, "session.start_s": t_session - T_SPAWN,
                   "registry.load_s": t_ready - t_session}


def run_op(op, tracer, group: str) -> dict:
    """Time one operation (build + act), then check it untimed."""
    op.prepare()
    mark = tracer.begin(group) if tracer else None
    rec = {"op": op.name, "ok": False}
    w0, t0 = time.time(), time.perf_counter()
    try:
        handle = op.build()
        t1 = time.perf_counter()
        result = op.act(handle)
        t2 = time.perf_counter()
    except Exception as exc:  # a failing operation is counted, never retried
        rec.update(wall_s=time.perf_counter() - t0, error=f"{type(exc).__name__}: {exc}"[:300])
        if tracer:
            tracer.end(mark)
        return rec
    rec.update(build_s=t1 - t0, action_s=t2 - t1, wall_s=t2 - t0,
               start=w0, build_end=w0 + (t1 - t0), end=w0 + (t2 - t0))
    if tracer:
        rec["trace"] = tracer.end(mark)
    try:
        rec["extra"] = op.check(result) or {}
        rec["ok"] = True
    except Exception as exc:  # wrong result (WrongResult) or a broken check
        rec["error"] = f"{type(exc).__name__}: {exc}"[:300]
    return rec


def main(spec_path: str) -> None:
    with open(spec_path) as fh:
        spec = json.load(fh)
    spark, setup_times = setup(spec["nproc"])

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import workloads

    wl = workloads.WORKLOADS[spec["workload"]]
    info = {"spark": spark.version,
            "java": spark._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0]}
    ops = workloads.registry_ops(spark, os.path.join(spec["inputs"], "tables"),
                                 wl["queries"], wl["inputs"]["tables"])
    if wl["inputs"]["hgt_cells"]:
        ops += workloads.hgt_ops(spark, os.path.join(spec["inputs"], "hgt"),
                                 spec["out_dir"], spec["seed"])

    tracer = None
    if spec["trace"]:
        from tracing import Tracer

        tracer = Tracer(spark)

    # fixed pass counts keep the sample set (and so every percentile) the
    # same from run to run; --seconds extends the run, never shortens it.
    # The cold pass runs in declared order: whichever operation runs first
    # pays the JVM's first-use costs, which moves the cold total by up to
    # 20 %, so a fixed order keeps first_pass_s comparable across seeds.
    # The seed shuffles every warm pass.
    rng = random.Random(spec["seed"])
    passes, t_measure = [], time.perf_counter()
    while (len(passes) <= wl["warm_passes"]
           or time.perf_counter() - t_measure < spec["seconds"]):
        index = len(passes)
        order = rng.sample(ops, len(ops)) if index else ops
        recs = [run_op(op, tracer, f"{spec['workload']}:{index}:{op.name}") for op in order]
        passes.append({"index": index, "ops": recs})

    if tracer:
        tracer.close()
    spark.stop()
    with open(spec["report"], "w") as fh:
        json.dump({"setup": setup_times, "info": info, "passes": passes}, fh)


if __name__ == "__main__":
    main(sys.argv[1])
    sys.stdout.flush()
    # skip interpreter teardown: run.py kills the JVM left behind
    os._exit(0)
