"""Turn a child report into the benchmark's metrics.

End-to-end metrics come from a ``--trace 0`` run, per-layer metrics from a
separate ``--trace 1`` run. ``pass_s`` (and ``trace.pass_s``) sums each
operation's fastest warm call; the other warm figures are medians over
warm passes of per-pass totals.
"""

from __future__ import annotations

from stats import median, self_time, stored_bytes_ratio, tail, union_length

# share of an operation's wall time its layer spans must account for
COVERAGE_TOLERANCE = 0.10


def _warm(passes: list[dict]) -> list[dict]:
    return [p for p in passes if p["index"] > 0]


def _pass_s(p: dict) -> float:
    return sum(r["wall_s"] for r in p["ops"])


def warm_pass_s(warm: list[dict]) -> float:
    """One warm pass, assembled from each operation's fastest warm call.

    Every call still runs faster than the one before it several passes
    after the cold one (the JIT keeps compiling), and time taken by other
    guests on the host only ever adds to a call, so the fastest call is
    the least disturbed and most warmed-up figure for each operation."""
    by_op: dict[str, list[float]] = {}
    for p in warm:
        for r in p["ops"]:
            by_op.setdefault(r["op"], []).append(r["wall_s"])
    return sum(min(v) for v in by_op.values())


def end_to_end(report: dict) -> tuple[dict, dict]:
    """(metrics, summary extras) for a ``--trace 0`` run. Per-operation
    latency goes to the summary only: with at most 28 warm samples of
    operations whose latencies differ by 4x, its median moves 8-13 % from
    run to run, too much to gate on."""
    passes = report["passes"]
    warm = _warm(passes)
    lat = [r["wall_s"] for p in warm for r in p["ops"]]
    metrics = {
        "setup_s": report["setup"]["setup_s"],
        "first_pass_s": _pass_s(passes[0]),
        "pass_s": warm_pass_s(warm),
    }
    samples = {"setup_s": 1, "first_pass_s": 1, "pass_s": len(warm)}
    return metrics, {"samples": samples, "latency_p50_s": {"n": len(lat), "value": median(lat)},
                     "latency_tail_s": _tail_record(lat)}


def _tail_record(values: list[float]) -> dict:
    t = tail(values)
    return {"n": len(values),
            "percentile": None if t is None else round(t[0], 2),
            "value": None if t is None else t[1]}


def _jobs(r: dict) -> list[dict]:
    return [j for j in r["trace"]["jobs"] if not j.get("missing")]


def _stages(r: dict) -> list[dict]:
    return [s for j in _jobs(r) for s in j["stages"]]


def _job_spans(r: dict) -> list[tuple[float, float]]:
    return [(j["start"], j["end"]) for j in _jobs(r) if j["start"] and j["end"]]


def _idle_tail(r: dict) -> float:
    ends = [e["end"] for e in r["trace"]["progress"] if e["rows"] > 0]
    return max(0.0, r["end"] - max(ends)) if ends else 0.0


def _op_sum(p: dict, fn) -> float:
    return sum(fn(r) for r in p["ops"] if "trace" in r)


def _stage_sum(p: dict, key: str) -> float:
    return _op_sum(p, lambda r: sum(s[key] for s in _stages(r)))


def _progress(p: dict) -> list[dict]:
    return [e for r in p["ops"] if "trace" in r for e in r["trace"]["progress"]]


def _phase(p: dict, key: str) -> float:
    return sum(e["ms"].get(key, 0) for e in _progress(p))


def _named(p: dict, op: str, fn) -> float:
    return sum(fn(r) for r in p["ops"] if r["op"] == op and "trace" in r)


def coverage(r: dict) -> float:
    """Share of an operation's wall time its layer spans do NOT account
    for: the gaps between build and action, plus job time the status
    store places outside the operation's interval (misattribution)."""
    wall = r["end"] - r["start"]
    unaccounted = self_time((r["start"], r["end"]),
                            [(r["start"], r["build_end"]), (r["build_end"], r["end"])])
    jobs = _job_spans(r)
    outside = union_length(jobs) - union_length(
        [(max(s, r["start"]), min(e, r["end"])) for s, e in jobs])
    return (unaccounted + outside) / wall if wall > 0 else 0.0


# per-layer metric name -> per-pass value (median over warm passes)
PER_PASS = {
    "operators.jobs": lambda p: _op_sum(p, lambda r: len(_jobs(r))),
    "operators.stages": lambda p: _op_sum(p, lambda r: len(_stages(r))),
    "operators.tasks": lambda p: _stage_sum(p, "tasks"),
    "operators.single_task_stages":
        lambda p: _op_sum(p, lambda r: sum(1 for s in _stages(r) if s["tasks"] == 1)),
    "operators.executor_run_s": lambda p: _stage_sum(p, "run_ms") / 1e3,
    "operators.executor_cpu_s": lambda p: _stage_sum(p, "cpu_ns") / 1e9,
    "operators.shuffle_read_bytes": lambda p: _stage_sum(p, "shuffle_read"),
    "operators.shuffle_write_bytes": lambda p: _stage_sum(p, "shuffle_write"),
    "operators.spill_bytes": lambda p: _stage_sum(p, "spill"),
    "operators.build_s": lambda p: _op_sum(p, lambda r: r["build_s"]),
    "operators.action_s": lambda p: _op_sum(p, lambda r: r["action_s"]),
    "operators.driver_gap_s":
        lambda p: _op_sum(p, lambda r: self_time((r["start"], r["end"]), _job_spans(r))),
    "tables.input_bytes": lambda p: _stage_sum(p, "input_bytes"),
    "tables.input_records": lambda p: _stage_sum(p, "input_records"),
    "streaming.batches": lambda p: len(_progress(p)),
    "streaming.idle_tail_s": lambda p: _op_sum(p, _idle_tail),
    "streaming.add_batch_ms": lambda p: _phase(p, "addBatch"),
    "streaming.query_planning_ms": lambda p: _phase(p, "queryPlanning"),
    "streaming.wal_commit_ms": lambda p: _phase(p, "walCommit"),
    "streaming.commit_offsets_ms": lambda p: _phase(p, "commitOffsets"),
    "streaming.state_rows": lambda p: max([e["state_rows"] for e in _progress(p)], default=0),
    "streaming.state_commit_ms": lambda p: sum(e["state_commit_ms"] for e in _progress(p)),
    "sources.replay.get_batch_ms": lambda p: _phase(p, "getBatch"),
    "sources.replay.latest_offset_ms": lambda p: _phase(p, "latestOffset"),
    "sources.hgt.decode_s": lambda p: _named(p, "hgt.read_rollup", lambda r: r["wall_s"]),
    "sources.hgt.tiles_write_s": lambda p: _named(p, "hgt.tiles_write", lambda r: r["wall_s"]),
    "sources.hgt.lookup_s": lambda p: _named(p, "hgt.point_lookup", lambda r: r["wall_s"]),
    "sources.hgt.bytes_in":
        lambda p: _named(p, "hgt.tiles_write", lambda r: r.get("extra", {}).get("bytes_in", 0)),
    "sources.hgt.bytes_out":
        lambda p: _named(p, "hgt.tiles_write", lambda r: r.get("extra", {}).get("bytes_out", 0)),
}


def per_layer(report: dict) -> tuple[dict, dict]:
    """(metrics, extra) for a ``--trace 1`` run."""
    passes = report["passes"]
    warm_t = _warm(passes)
    ops = [r for p in passes for r in p["ops"] if "trace" in r]
    m = {"session.start_s": report["setup"]["session.start_s"],
         "registry.load_s": report["setup"]["registry.load_s"]}
    for name, fn in PER_PASS.items():
        m[name] = median([fn(p) for p in warm_t]) if warm_t else 0.0
    triggers = [e["ms"].get("triggerExecution", 0) for p in warm_t for e in _progress(p)]
    trig_tail = tail(triggers)
    m["streaming.trigger_p50_ms"] = median(triggers) if triggers else 0.0
    # with too few triggers for the tail rule, the maximum stands in
    m["streaming.trigger_tail_ms"] = (trig_tail[1] if trig_tail
                                      else float(max(triggers, default=0)))
    m["sources.hgt.stored_bytes_ratio"] = (
        stored_bytes_ratio(m["sources.hgt.bytes_out"], m["sources.hgt.bytes_in"])
        if m["sources.hgt.bytes_in"] else 0.0)
    m["operators.cache_fills"] = sum(1 for r in ops if r["trace"]["cache_grew"])
    m["operators.persisted_bytes"] = max((r["trace"]["persisted_bytes"] for r in ops), default=0)
    m["operators.failed_tasks"] = sum(s["failed_tasks"] for r in ops for s in _stages(r))
    # traced minus untraced pass_s (same workload and seed) is the
    # tracing overhead; perfbench/spread.py reports it
    m["trace.pass_s"] = warm_pass_s(warm_t)
    worst = max((coverage(r) for r in ops), default=0.0)
    m["trace.unaccounted_share"] = worst
    m["trace.spans"] = len(spans(report))
    extra = {"warm_passes": len(warm_t), "triggers": len(triggers),
             "coverage_ok": worst <= COVERAGE_TOLERANCE,
             "missing_jobs": sum(1 for r in ops for j in r["trace"]["jobs"] if j.get("missing"))}
    return m, extra


def spans(report: dict) -> list[dict]:
    """The trace as spans: operation -> build / action, and every Spark
    job under the phase it was submitted in."""
    out: list[dict] = []
    for p in report["passes"]:
        for r in p["ops"]:
            if "trace" not in r:
                continue
            op_id = f"{p['index']}:{r['op']}"

            def add(name, start, end, parent):
                out.append({"id": len(out), "name": name, "start": start, "end": end,
                            "parent": parent, "op": op_id})
                return len(out) - 1

            root = add(r["op"], r["start"], r["end"], None)
            build = add("build", r["start"], r["build_end"], root)
            action = add("action", r["build_end"], r["end"], root)
            for j in _jobs(r):
                if j["start"] and j["end"]:
                    add(f"job:{j['id']}", j["start"], j["end"],
                        build if j["start"] < r["build_end"] else action)
    return out
