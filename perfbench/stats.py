"""Metric arithmetic shared by the workloads: medians, the tail-percentile
rule, and the per-workload summaries the end-to-end metrics come from."""
import math

# The end-to-end metrics every workload reports (see BENCHMARK.json).
# Besides set-up, the timed work is gated as process CPU seconds: the VM
# host withholds up to a fifth of the CPU in some minutes, which moves the
# wall-clock figures of whole runs by up to 1.7x, while the kernel's steal
# accounting keeps withheld time out of CPU time. Wall-clock figures are
# printed and recorded next to the run's host steal share.
END_TO_END = ("setup_s", "first_cpu_s", "warm_cpu_s", "retained_heap_mb")

UNITS = {
    "setup_s": "s", "first_s": "s", "warm_s": "s", "op_p50_s": "s",
    "first_cpu_s": "s", "warm_cpu_s": "s",
    "retained_heap_mb": "MB", "error_rate": "1",
    "job_s": "s", "count_gbps": "GB/s", "topk_s": "s", "sink_s": "s",
    "session_first_s": "s", "session_warm_s": "s",
    "query_p50_s": "s", "query_tail_s": "s",
}

TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values):
    v = sorted(values)
    if not v:
        raise ValueError("median of no values")
    mid = len(v) // 2
    return v[mid] if len(v) % 2 else (v[mid - 1] + v[mid]) / 2.0


def percentile(values, p):
    """Nearest-rank percentile."""
    v = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(v)))
    return v[rank - 1]


def tail_percentile(n, min_beyond=10):
    """The highest of TAIL_CANDIDATES with at least `min_beyond` of `n`
    samples above it, or None when even the median has fewer."""
    for p in TAIL_CANDIDATES:
        if n - math.ceil(p / 100.0 * n) >= min_beyond:
            return p
    return None


def url_metrics(rec, meta, verdict):
    """The reference job's figures over iterations whose answers passed.
    The first job is the cold one: `first_s` reports it, and the warm
    figures leave it out."""
    its = [it for i, it in enumerate(rec["iterations"]) if i not in verdict["bad_iterations"]]
    if not its:
        return {"error_rate": 1.0}
    later = its[1:] or its
    warm = {k: median([it[k] for it in later])
            for k in ("job_s", "count_s", "topk_s", "sink_s")}
    return {
        "first_s": its[0]["job_s"],
        "warm_s": warm["job_s"],
        "first_cpu_s": its[0]["cpu_s"],
        "warm_cpu_s": median([it["cpu_s"] for it in later]),
        "op_p50_s": median([it[k] for it in later for k in ("count_s", "topk_s", "sink_s")]),
        **warm,
        "count_gbps": meta["bytes"] / warm["count_s"] / 1e9,
        "iterations": len(rec["iterations"]),
        "retained_heap_mb": rec["retained_heap_bytes"] / 2 ** 20,
        "error_rate": verdict["failed"] / verdict["attempted"],
    }


def session_metrics(rec, verdict):
    """Pass totals over queries that ran and matched the oracle in every
    pass; per-execution percentiles over every passing execution.
    `query_tail_s` is the highest percentile with ten samples beyond it
    (`query_tail_percentile`; p75 for the 40 executions of a run)."""
    bad = set(verdict["bad_executions"])
    ex = [e for i, e in enumerate(rec["executions"]) if i not in bad]
    passes = max(e["pass"] for e in rec["executions"])
    by_pass = {p: {} for p in range(1, passes + 1)}
    cpu = {p: {} for p in range(1, passes + 1)}
    for e in ex:
        by_pass[e["pass"]][e["query"]] = e["total_s"]
        cpu[e["pass"]][e["query"]] = e["cpu_s"]
    ok = set.intersection(*(set(b) for b in by_pass.values()))
    if not ok:
        return {"error_rate": 1.0}
    times = [e["total_s"] for e in ex]
    tail = tail_percentile(len(times))
    first = sum(by_pass[1][q] for q in ok)
    # a warm pass's total, each query at its median over the warm passes
    warm = sum(median([by_pass[p][q] for p in range(2, passes + 1)]) for q in ok)
    return {
        "first_s": first,
        "warm_s": warm,
        "first_cpu_s": sum(cpu[1][q] for q in ok),
        "warm_cpu_s": sum(median([cpu[p][q] for p in range(2, passes + 1)]) for q in ok),
        "op_p50_s": median(times),
        "session_first_s": first,
        "session_warm_s": warm,
        "query_p50_s": median(times),
        "query_tail_s": percentile(times, tail) if tail else max(times),
        "query_tail_percentile": tail,
        "executions": len(rec["executions"]),
        "retained_heap_mb": rec["retained_heap_bytes"] / 2 ** 20,
        "error_rate": verdict["failed"] / verdict["attempted"],
    }


def end_to_end(summary):
    return {k: {"value": summary[k], "unit": UNITS[k]}
            for k in END_TO_END if k in summary}
