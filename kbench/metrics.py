"""Turns one harness run into the benchmark's metrics.

End-to-end metrics come from an untraced run (`--trace 0`), per-layer
metrics from a traced run (`--trace 1`), which alternates untraced and
traced passes so the tracing overhead is measured in the same process.
The names, units and meaning of every metric are listed in README.md.
"""
import os

import stats

END_TO_END = {"setup_s": "s", "pass_s": "s", "heap_retained_mb": "MB"}

FAMILIES = ["dd", "sim", "ret", "text", "curate", "graph", "ev", "mm"]
PLAN = ["exchanges", "smj", "bhj", "shj", "decode_joins", "windows", "udfs", "scans"]
EXEC_COUNTS = ["jobs", "stages", "tasks", "task_run_ms", "task_cpu_ms", "gc_ms", "bytes_read",
               "rows_read", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
               "result_rows"]

# layer of a span -> metric of its self time (ms)
SELF_MS = {"parser": "parser.ms", "engine.rewriter": "engine.rewriter.ms",
           "engine.compiler": "engine.compiler.ms", "engine.results": "engine.results.ms",
           "battery.build": "battery.build.ms", "catalyst.analysis": "catalyst.analysis_ms",
           "catalyst.optimization": "catalyst.optimization_ms",
           "catalyst.planning": "catalyst.planning_ms", "exec": "exec.ms",
           "store.encode": "store.encode_ms", "store.save": "store.save_ms",
           "store.open": "store.open_ms", "sources.parse": "sources.parse_ms"}

PER_LAYER = dict(
    [(m, "ms") for m in SELF_MS.values()] +
    [("engine.rewriter.nodes_in", "count"), ("engine.rewriter.nodes_out", "count"),
     ("engine.compiler.jobs", "count")] +
    [(f"plan.{p}", "count") for p in PLAN] +
    [(f"exec.{c}", {"task_run_ms": "ms", "task_cpu_ms": "ms", "gc_ms": "ms",
                    "bytes_read": "B", "shuffle_read_bytes": "B", "shuffle_write_bytes": "B",
                    "spill_bytes": "B"}.get(c, "count")) for c in EXEC_COUNTS] +
    [("exec.busy_share", "ratio"), ("exec.rows_read_per_result_row", "ratio"),
     ("store.load_ms", "ms"), ("store.bytes_written", "B"),
     ("store.write_amplification", "ratio"), ("store.dict_terms", "count"),
     ("store.cache_mb", "MB"), ("store.write_quads_per_s", "quads/s"),
     ("store.bytes_per_quad", "B"), ("sources.quads_per_s", "quads/s")] +
    [(f"pipeline.{f}.ms", "ms") for f in FAMILIES] +
    [("trace.pass_s", "s"), ("trace.untraced_pass_s", "s"), ("trace.overhead_s", "s")])


def dir_bytes(d):
    return sum(os.path.getsize(os.path.join(p, f)) for p, _, fs in os.walk(d) for f in fs)


def sizes(base, data):
    """Input and store sizes of the prepared data (the same for every seed)."""
    with open(os.path.join(base, "store_quads.txt")) as f:
        quads = int(f.read())
    return {"store_quads": quads,
            "store_mb": round(dir_bytes(os.path.join(base, "store")) / 2 ** 20, 3),
            "tables_mb": round(dir_bytes(data) / 2 ** 20, 3)}


def _per_pass_layers(spans, cores, quads_by_op):
    """Per-layer values of one traced pass."""
    self_t = stats.self_times(spans)
    v = dict.fromkeys(PER_LAYER, 0.0)
    for s in spans:
        layer = s["layer"]
        if layer in SELF_MS:
            v[SELF_MS[layer]] += self_t[s["id"]] / 1e6
        if layer.startswith("pipeline."):
            v[f"{layer}.ms"] += (s["t1"] - s["t0"]) / 1e6
        if layer == "store.load":
            v["store.load_ms"] += (s["t1"] - s["t0"]) / 1e6
        for k, x in s["attrs"].items():
            if k in v:
                v[k] += x
        if layer == "sources.parse":
            v["_parsed_quads"] = v.get("_parsed_quads", 0) + quads_by_op.get(s["op"], 0)
        if layer == "store.save":
            v["_input_bytes"] = v.get("_input_bytes", 0) + s["attrs"].get("store.input_bytes", 0)
    v["exec.busy_share"] = v["exec.task_run_ms"] / (v["exec.ms"] * cores) if v["exec.ms"] else 0.0
    v["exec.rows_read_per_result_row"] = v["exec.rows_read"] / max(1.0, v["exec.result_rows"])
    if v["sources.parse_ms"]:
        v["sources.quads_per_s"] = v.pop("_parsed_quads", 0) / (v["sources.parse_ms"] / 1e3)
    if v.get("_input_bytes"):
        v["store.write_amplification"] = v["store.bytes_written"] / v["_input_bytes"]
    return {k: x for k, x in v.items() if not k.startswith("_")}


def summarise(workload, run, canary, ops, bad, spans, cores, trace):
    kinds = {o[0]: o[1] for o in ops}
    quads_by_op = {o[0]: o[4]["quads"] for o in ops if o[1] == "load"}
    errors = [{"op": op, "pass": p, "error": e} for p, op, e in run["errors"]]
    errors += [{"op": op, "pass": 0, "error": e} for op, e in sorted(bad.items())]
    recs = [dict(zip(("pass", "op", "ms", "cpu_ms", "ok", "rows"), r)) for r in run["ops"]]
    good = lambda r: r["ok"] and r["op"] not in bad
    setup_failures = sum(1 for p, _, _ in run["errors"] if p == -1)
    attempted = len(recs) + len(run["setup_s"])
    failed = sum(1 for r in recs if not good(r)) + setup_failures

    traced_pass = {p: t for p, t, _, _ in run["passes"]}
    pass_ms = {p: ms for p, _, ms, _ in run["passes"]}
    pass_cpu_ms = {p: cpu for p, _, _, cpu in run["passes"]}
    untraced = [p for p, t in traced_pass.items() if not t]
    lat = [r["ms"] for r in recs if r["pass"] in untraced and good(r)]
    tail = stats.tail_percentile(len(lat))
    detail = {
        "passes": len(run["passes"]), "op_samples": len(lat),
        "setup_s_all": run["setup_s"], "pass_s_all": [pass_ms[p] / 1e3 for p in untraced],
        "pass_cpu_s_all": [pass_cpu_ms[p] / 1e3 for p in untraced],
        "op_p50_ms": stats.median(lat), "tail_percentile": tail,
        "op_tail_ms": stats.percentile(lat, tail) if tail else None,
        "op_ms_median_by_op": {o: stats.median([r["ms"] for r in recs if r["op"] == o
                                                and r["pass"] in untraced])
                               for o in kinds},
    }
    if trace:
        m = {}
        traced = [p for p, t in traced_pass.items() if t]
        per_pass = [_per_pass_layers([s for s in spans if s["pass"] == p], cores, quads_by_op)
                    for p in traced]
        for k in PER_LAYER:
            m[k] = stats.median([pp[k] for pp in per_pass])
        setup_spans = [s for s in spans if s["pass"] == -1]
        n_setups = max(1, len(run["setup_s"]))
        m["store.open_ms"] += sum((s["t1"] - s["t0"]) / 1e6 for s in setup_spans
                                  if s["layer"] == "store.open") / n_setups
        m["store.cache_mb"] = run["cache_mb"]
        if workload == "load_update":
            m["store.dict_terms"] = run["extra"].get("store.dict_terms", 0.0)
            write_ms = [sum(r["ms"] for r in recs if r["pass"] == p and kinds[r["op"]]
                            == "load") for p in untraced]
            loaded = sum(quads_by_op.values())
            m["store.write_quads_per_s"] = loaded / (stats.median(write_ms) / 1e3)
            m["store.bytes_per_quad"] = stats.median(
                [run["extra"][f"store_bytes.{p}"] for p in untraced]) / (
                loaded + canary[4]["quads"])
        m["trace.pass_s"] = stats.median([pass_ms[p] for p in traced]) / 1e3
        m["trace.untraced_pass_s"] = stats.median([pass_ms[p] for p in untraced if p > 1]) / 1e3
        m["trace.overhead_s"] = m["trace.pass_s"] - m["trace.untraced_pass_s"]
        metrics = {k: {"value": m[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
        first = [s for s in spans if traced and s["pass"] == traced[0]]
        detail["plan_by_op"] = {
            op: {k[5:]: int(sum(s["attrs"].get(k, 0) for s in first if s["op"] == op))
                 for k in PER_LAYER if k.startswith("plan.")}
            for op in kinds}
    else:
        vals = {"setup_s": stats.median(run["setup_s"]),
                "pass_s": stats.median([pass_ms[p] for p in untraced]) / 1e3,
                "heap_retained_mb": run["heap_retained_mb"]}
        metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics, "errors": errors, "detail": detail}
