"""The benchmark's arithmetic: medians, the tail percentile, span self
times, rates, and the reduction of raw samples to the reported metrics."""

import statistics


def median(xs):
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(samples, beyond=10):
    """The highest percentile with at least `beyond` samples above it.

    Returns (value, percentile, n). With n samples sorted ascending, the
    sample at rank n - beyond (1-based) has exactly `beyond` samples above
    it, so it is the `100 * (n - beyond) / n`th percentile. Under
    `2 * beyond` samples that percentile would sit below the median, so the
    maximum is returned instead, with percentile 100, for the caller to flag.
    """
    xs = sorted(samples)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0, 0
    if n < 2 * beyond:
        return xs[-1], 100.0, n
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n, n


def self_times(spans):
    """Self time of each span: its duration minus the part of it its direct
    children cover (children of one span may overlap; the union counts).

    `spans` are (id, name, start, end, parent, op) tuples; returns
    {id: self seconds}.
    """
    children = {}
    for s in spans:
        children.setdefault(s[4], []).append((s[2], s[3]))
    out = {}
    for sid, _, start, end, _, _ in spans:
        covered = 0.0
        cur_start = cur_end = None
        for a, b in sorted(children.get(sid, [])):
            a, b = max(a, start), min(b, end)
            if b <= a:
                continue
            if cur_end is None or a > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = a, b
            else:
                cur_end = max(cur_end, b)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[sid] = (end - start) - covered
    return out


def rate(count, seconds):
    """Items per second; 0 when no time was measured."""
    return count / seconds if seconds > 0 else 0.0


def setup_time(slices):
    """`setup_s` from a run's slices of timed set-ups, each a (median,
    set-ups) pair: the lowest slice median, and the number of set-ups.

    A slice median reads the program's set-up time, or that time stretched
    by something the program does not control: a busy host (its speed
    swings by up to 2x over a second or two) or set-up code the JIT has
    not finished compiling. Both only ever slow a slice down, so the
    fastest slice is the steadiest reading of the set-up itself.
    """
    if not slices:
        return 0.0, 0
    return min(m for m, _ in slices), int(sum(n for _, n in slices))


def spread(values):
    """Distance between the first and third quartile, as a share of the
    median."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


# ------------------------------------------------------------------ metrics

def _ops(cycles):
    return [op for c in cycles for op in c["ops"]]


def end_to_end(raw):
    """Metrics of an untraced run (every cycle of it), as
    {name: (value, unit, samples, note)}."""
    cycles = raw["cycles"]
    lat = [op["s"] for op in _ops(cycles)]
    tail_v, tail_p, n = tail(lat)
    tail_note = ("p%.1f, 10 samples beyond" % tail_p if tail_p < 100
                 else "max: under 20 samples, no percentile above p50 has 10 beyond")
    setup_v, setup_n = setup_time(raw["setup_s"])
    return {
        "setup_s": (setup_v, "s", setup_n,
                    "lowest of %d slice medians" % len(raw["setup_s"])),
        "op_p50_s": (median(lat), "s", len(lat), "median op latency"),
        "op_tail_s": (tail_v, "s", n, tail_note),
        "input_rows_per_s": (median(rate(c["rows"], c["s"]) for c in cycles), "1/s",
                             len(cycles), "median over cycles"),
    }


def unit_of(name):
    """Unit of a per-layer metric, from its name's suffix."""
    for suffix, unit in (("_per_s", "1/s"), ("_ms", "ms"), ("_s", "s"), ("_bytes", "bytes"),
                         ("_mb", "MB"), ("_share", "ratio"), ("_yield", "ratio"), (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def failures(raw):
    """(attempted, failed, messages) over warm-up and measured ops."""
    ops = _ops(raw["cycles"])
    errors = raw["warmup_errors"] + [op["error"] for op in ops if op["error"]]
    return len(ops) + raw["warmup_ops"], len(errors), errors


PHASE_SPANS = {
    "engine.build_s": ("build_write", "build_read"),
    "api.decorate_s": ("decorate",),
    "plan.s": ("plan",),
    "exec.s": ("exec",),
    "meta.parse_s": ("meta",),
    "dedup.pipeline_s": ("dedup",),
}

JOB_PHASES = {
    "engine.build_jobs": ("build_write", "build_read"),
    "engine.cache_read_jobs": ("build_read",),
    "api.decorate_jobs": ("decorate",),
    "exec.jobs": ("exec",),
    "dedup.jobs": ("dedup",),
}

COUNTERS = [
    "meta.compile_s", "engine.cache_write_bytes", "engine.cache_files",
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "plan.scans", "plan.exchanges", "plan.broadcasts", "plan.queries",
    "exec.stages", "exec.tasks", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.input_bytes",
    "dedup.candidate_pairs", "dedup.verified_pairs", "dedup.cached_bytes",
]

def cycle_layers(cycle, cores):
    """Per-layer numbers of one traced cycle."""
    spans = [tuple(s) for s in cycle["spans"]]
    counters = cycle["counters"]
    out = {}
    for name, phases in PHASE_SPANS.items():
        out[name] = sum(s[3] - s[2] for s in spans if s[1] in phases)
    for name, phases in JOB_PHASES.items():
        out[name] = sum(counters.get("jobs." + p, 0.0) for p in phases)
    for name in COUNTERS:
        out[name] = counters.get(name, 0.0)
    busy_s = counters.get("exec.task_run_ms", 0.0) / 1000.0
    out["exec.task_busy_share"] = busy_s / (cycle["s"] * cores) if cycle["s"] > 0 else 0.0
    cands = out["dedup.candidate_pairs"]
    out["dedup.verify_yield"] = out["dedup.verified_pairs"] / cands if cands else 0.0
    out["dedup.cluster_s"] = sum(op["s"] for op in cycle["ops"] if op["kind"] == "clusters")
    selfs = self_times(spans)
    out["span.op_self_s"] = sum(selfs[s[0]] for s in spans if s[1].startswith("op:"))
    out["span.glue_s"] = cycle["s"] - sum(s[3] - s[2] for s in spans if s[1].startswith("op:"))
    out["jvm.gc_s"] = cycle["gc_s"]
    out["jvm.heap_peak_mb"] = cycle["heap_peak_mb"]
    return out


def per_layer(raw):
    """Metrics of a traced run: the median over traced cycles of each layer
    number, plus the tracing overhead (traced minus untraced cycle time)."""
    traced = [c for c in raw["cycles"] if c["traced"]]
    plain = [c for c in raw["cycles"] if not c["traced"]]
    layers = [cycle_layers(c, raw["cores"]) for c in traced]
    out = {}
    for name in (layers[0] if layers else {}):
        out[name] = median(l[name] for l in layers)
    t_traced = median(c["s"] for c in traced)
    t_plain = median(c["s"] for c in plain)
    out["trace.overhead_s"] = t_traced - t_plain
    out["trace.overhead_share"] = (t_traced - t_plain) / t_plain if t_plain else 0.0
    out["trace.cycles"] = float(len(traced))
    return out
