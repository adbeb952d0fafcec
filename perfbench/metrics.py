"""Turn one harness result into the benchmark's metrics and output lines.

Pure functions over the JSON the Scala harness writes; run.py and
compare.py share them, and test_perfbench.py tests them.
"""
import json
import math
import statistics

MODULES = ["ops", "sources", "streaming", "functions", "dedup", "similarity"]
END_TO_END = ["setup_s", "pass_s", "op_geomean_s", "peak_rss_mb"]
MIB = 1024.0 * 1024.0
ERROR_LINE_CAP = 1500
# a call that was skipped or failed at once still weighs in the geometric mean
MIN_CALL_S = 1e-3


def median(values):
    if not values:
        raise ValueError("median of no values")
    return statistics.median(values)


def geomean(values):
    if not values:
        raise ValueError("geometric mean of no values")
    if any(v <= 0 for v in values):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def check_outputs(result, expected):
    """Compare every set-up round's op digests with the committed ones.

    Returns {"r<round>/<op>": problem} for each set-up call whose output is
    wrong or missing; an ingest that failed is a problem of its own.
    """
    problems = {}
    for rnd in result["rounds"]:
        r = rnd["round"]
        if not rnd["ingest_ok"]:
            problems[f"r{r}/ingest"] = "ingest failed: " + rnd["ingest_error"]
        for s in rnd["ops"]:
            key = f"r{r}/{s['op']}"
            want = expected.get(s["op"])
            if not s["ok"]:
                problems[key] = "set-up call failed: " + s["error"]
            elif want is None:
                problems[key] = "no expected digest committed"
            elif (s["rows"], s["digest"]) != (want["rows"], want["digest"]):
                problems[key] = (f"digest {s['rows']}:{s['digest']} != expected "
                                 f"{want['rows']}:{want['digest']}")
    return problems


def failures_by_op(result, problems):
    """op -> failed calls: set-up calls that failed or did not match, plus
    timed calls that threw, ran out of budget or were skipped."""
    out = {}
    for key in problems:
        op = key.split("/", 1)[1]
        out[op] = out.get(op, 0) + 1
    for c in result["calls"]:
        if not c["ok"]:
            out[c["op"]] = out.get(c["op"], 0) + 1
    return out


def call_counts(result, failures):
    """(attempted, failed) calls over set-up (ingest included) and timed calls."""
    attempted = sum(1 + len(r["ops"]) for r in result["rounds"]) + len(result["calls"])
    return attempted, sum(failures.values())


def _passes(result, traced):
    return [p["s"] for p in result["passes"] if p["traced"] == traced]


def setup_s(result):
    """Session start plus the median set-up round (ingest + first calls)."""
    rounds = [r["ingest_s"] + r["first_calls_s"] for r in result["rounds"]]
    return result["session"]["start_s"] + median(rounds)


def op_medians(result):
    """op -> median of its untraced timed calls that succeeded (all of its
    timed calls when none did, each at least MIN_CALL_S)."""
    by_op = {}
    for c in result["calls"]:
        if not c["traced"]:
            by_op.setdefault(c["op"], []).append(c)
    out = {}
    for op, cs in by_op.items():
        good = [c["s"] for c in cs if c["ok"]]
        out[op] = median(good) if good else median([max(MIN_CALL_S, c["s"]) for c in cs])
    return out


def end_to_end(result):
    """The user-visible metrics of one untraced run: name -> (value, unit)."""
    return {
        "setup_s": (setup_s(result), "s"),
        "pass_s": (median(_passes(result, False)), "s"),
        "op_geomean_s": (geomean([max(MIN_CALL_S, v) for v in op_medians(result).values()]), "s"),
        "peak_rss_mb": (result["peak_rss_mb"], "MB"),
    }


def per_layer(result, failures):
    """Layer metrics from the traced passes of one run, per traced pass.

    `failures` maps op -> failed calls of that op in the whole run.
    """
    traced = [c for c in result["calls"] if c["traced"]]
    n = max(1, sum(1 for p in result["passes"] if p["traced"]))
    slots = result["slots"]
    module_of = {c["op"]: c["module"] for c in result["calls"]}
    for rnd in result["rounds"]:
        module_of.update({s["op"]: s["module"] for s in rnd["ops"]})
    out = {}
    for m in MODULES:
        cs = [c for c in traced if c["module"] == m]

        def total(key):
            # skipped calls ran nothing and carry no trace
            return sum(c.get(key, 0) for c in cs) / n

        out.update({
            f"{m}.wall_s": (total("s"), "s"),
            f"{m}.driver_s": (total("driver_s"), "s"),
            f"{m}.plan_s": (total("plan_s"), "s"),
            f"{m}.task_s": (total("task_s"), "s"),
            f"{m}.cpu_s": (total("cpu_s"), "s"),
            f"{m}.gc_s": (total("gc_s"), "s"),
            f"{m}.idle_core_s": (sum(slots * c.get("job_active_s", 0) - c.get("task_s", 0)
                                     for c in cs) / n, "s"),
            f"{m}.shuffle_mb": (total("shuffle_bytes") / MIB, "MB"),
            f"{m}.spill_mb": (total("spill_bytes") / MIB, "MB"),
            f"{m}.output_mb": (total("output_bytes") / MIB, "MB"),
            f"{m}.jobs": (total("jobs"), "count"),
            f"{m}.tasks": (total("tasks"), "count"),
            f"{m}.rows_out": (total("rows_out"), "count"),
            f"{m}.failed": (sum(k for op, k in failures.items() if module_of.get(op) == m), "count"),
        })
    rounds = result["rounds"]
    untraced, traced_walls = _passes(result, False), _passes(result, True)
    out.update({
        "session.start_s": (result["session"]["start_s"], "s"),
        "session.ingest_s": (median([r["ingest_s"] for r in rounds]), "s"),
        "session.first_calls_s": (median([r["first_calls_s"] for r in rounds]), "s"),
        "spark.codegen_s": (result["codegen_s"] / n, "s"),
        "spark.task_retries": (sum(c.get("task_retries", 0) for c in traced), "count"),
        "jvm.jit_s": (sum(p.get("jit_s", 0.0) for p in result["passes"] if p["traced"]) / n, "s"),
        "dedup.kept_frac": (kept_frac(traced), "ratio"),
        "host.steal_s": (result["host"]["run"]["steal_s"], "s"),
        "host.other_cpu_s": (result["host"]["run"]["other_cpu_s"], "s"),
        "trace.overhead_frac": (
            statistics.mean(traced_walls) / statistics.mean(untraced) - 1.0
            if traced_walls and untraced else 0.0, "ratio"),
    })
    return out


def kept_frac(traced):
    """Rows the dedup ops wrote over the rows their upstream ops wrote, in
    the same passes: the share of rows a dedup step keeps. 0 without dedup ops."""
    rows = {}
    for c in traced:
        rows[(c["pass"], c["op"])] = c.get("rows_out", 0)
    kept = into = 0
    for c in traced:
        if c["module"] == "dedup":
            kept += c.get("rows_out", 0)
            into += sum(rows.get((c["pass"], d), 0) for d in c["deps"])
    return kept / into if into else 0.0


def summary_line(problems, result, attempted, failed):
    """Capped one-line JSON printed before the result line: pass and call
    counts and what went wrong."""
    errs = dict(problems)
    for c in result["calls"]:
        if not c["ok"]:
            errs.setdefault(c["op"], c["error"])
    items = sorted(errs.items())
    head = {"passes": sum(1 for p in result["passes"] if not p["traced"]),
            "traced_passes": sum(1 for p in result["passes"] if p["traced"]),
            "calls": len(result["calls"]), "attempted": attempted, "failed": failed,
            "errors": len(items)}
    line = json.dumps(head)
    for k in range(len(items), -1, -1):
        line = json.dumps(dict(head, shown={op: msg[:120] for op, msg in items[:k]}))
        if len(line) <= ERROR_LINE_CAP:
            break
    return line


def result_line(correct, attempted, failed, metrics):
    """The final stdout line: exactly the keys the benchmark contract names."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }, separators=(",", ":"))
