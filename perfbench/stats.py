"""Metric arithmetic of the benchmark: percentiles, span self time, op and
layer summaries. Pure functions over the harness's result file."""
import bisect
import math
import re
import statistics

NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail percentile


def valid_name(name):
    return NAME.fullmatch(name) is not None


def valid_unit(unit):
    return UNIT.fullmatch(unit) is not None


def nearest_rank(values, pct):
    """The `pct`-th percentile (0 < pct <= 100) by the nearest-rank rule."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct * len(ordered) / 100))
    return ordered[rank - 1]


def _beta_cdf(a, b, points, steps=4000):
    """Regularized incomplete beta I_x(a, b) at ascending `points` in [0, 1],
    by the midpoint rule on the density (a, b > 1 here)."""
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    out, total, x0 = [], 0.0, 0.0
    for x in points:
        n = max(1, round((x - x0) * steps))
        h = (x - x0) / n
        for k in range(n):
            t = x0 + (k + 0.5) * h
            total += math.exp(log_norm + (a - 1) * math.log(t) + (b - 1) * math.log1p(-t)) * h
        out.append(total)
        x0 = x
    return out


def percentile(values, pct):
    """The `pct`-th percentile by the Harrell-Davis estimator: a weighted mean
    of all order statistics, so the estimate does not jump when a single
    sample crosses a neighbour, as the ops of different kinds a run mixes
    do."""
    ordered = sorted(values)
    n = len(ordered)
    if n == 1:
        return ordered[0]
    q = pct / 100
    cdf = _beta_cdf(q * (n + 1), (1 - q) * (n + 1), [i / n for i in range(1, n + 1)])
    weights = [hi - lo for lo, hi in zip([0.0] + cdf, cdf)]
    return sum(w * v for w, v in zip(weights, ordered)) / sum(weights)


def tail_percentile(n, beyond=TAIL_BEYOND):
    """Highest whole percentile with at least `beyond` of `n` samples above
    its nearest rank, never below the median. Returns (pct, samples beyond);
    with fewer than 2 * beyond samples that is the median, and fewer than
    `beyond` samples lie above it."""
    pct = max(50, (100 * (n - beyond)) // n) if n else 50
    return pct, n - max(1, math.ceil(pct * n / 100)) if n else 0


def self_times(spans):
    """Self time of each span in ms: its duration minus its children's.
    `spans` are dicts with start_ms, end_ms and parent (an index, or -1)."""
    own = [s["end_ms"] - s["start_ms"] for s in spans]
    for s in spans:
        if s["parent"] >= 0:
            own[s["parent"]] -= s["end_ms"] - s["start_ms"]
    return own


def covered_ms(intervals):
    """Length of the union of (start, end) intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


def attribute(ops, stamps):
    """Map each timestamp to the id of the op whose [start, end] holds it
    (ops run one after another), or None."""
    starts = [o["start_ms"] for o in ops]
    out = []
    for t in stamps:
        i = bisect.bisect_right(starts, t) - 1
        out.append(ops[i]["id"] if i >= 0 and t <= ops[i]["end_ms"] else None)
    return out


def op_summary(ops, tail_n):
    """End-to-end figures of a list of timed ops. The tail percentile is the
    one `tail_n` samples allow, so runs that time different numbers of ops
    read the same percentile."""
    walls = [(o["end_ms"] - o["start_ms"]) / 1000 for o in ops]
    pct, beyond = tail_percentile(tail_n)
    return {
        "ops": len(walls),
        "ops_per_s": rate(ops, lambda o: 1),
        "op_p50_s": percentile(walls, 50),
        "op_tail_s": percentile(walls, pct),
        "tail_pct": pct,
        "tail_beyond": beyond,
    }


def rate(ops, rows_of):
    """Rows per second of op wall time: the median over the passes (`iter`)
    of each pass's rows over its ops' wall time, so one disturbed pass does
    not move the figure."""
    passes = {}
    for o in ops:
        rows, wall = passes.get(o["iter"], (0, 0.0))
        passes[o["iter"]] = (rows + rows_of(o), wall + (o["end_ms"] - o["start_ms"]) / 1000)
    rates = [r / w for r, w in passes.values() if w > 0]
    return statistics.median(rates) if rates else 0.0


def layer_metrics(result):
    """Per-layer figures of the traced half of a run, per op unless the
    name says otherwise."""
    ops = [o for o in result["ops"] if o["phase"] == "traced"]
    base = [o for o in result["ops"] if o["phase"] == "untraced"]
    ids = {o["id"] for o in ops}
    n = len(ops)
    spans = result.get("spans", [])
    own = self_times(spans)

    def self_total(name):
        return sum(own[i] for i, s in enumerate(spans) if s["name"] == name and s["op"] in ids)

    def span_mean(name):
        d = [s["end_ms"] - s["start_ms"] for s in spans
             if s["name"] == name and s["op"] in ids]
        return statistics.mean(d) / 1000 if d else 0.0

    jobs = [j for j in result.get("jobs", []) if j["op"].isdigit() and int(j["op"]) in ids]
    stages = [s for s in result.get("stages", []) if s["op"].isdigit() and int(s["op"]) in ids]
    qes = result.get("query_executions", [])
    qe_ops = attribute(ops, [q["start_ms"] for q in qes])
    qes = [(q, op) for q, op in zip(qes, qe_ops) if op is not None]

    head = gap = tail = 0.0
    for o in ops:
        js = [(j["start_ms"], j["end_ms"]) for j in jobs if int(j["op"]) == o["id"]]
        if not js:
            head += o["end_ms"] - o["start_ms"]
            continue
        first, last = min(a for a, _ in js), max(b for _, b in js)
        head += first - o["start_ms"]
        gap += (last - first) - covered_ms(js)
        tail += o["end_ms"] - last

    def stage_sum(key):
        return sum(s[key] for s in stages)

    exports = [o for o in ops if o["kind"].startswith("export")]
    imports = [o for o in ops if o["kind"].startswith("import")]
    topk = [o for o in ops if o["kind"] in ("topk_batch", "topk_single", "matryoshka")]
    topk_ids = {o["id"] for o in topk}
    import_ids = {o["id"] for o in imports}
    read_tasks = []
    for o in imports:
        per_job = {}
        for s in stages:
            if int(s["op"]) == o["id"]:
                per_job[s["job"]] = per_job.get(s["job"], 0) + s["input_tasks"]
        read_tasks.append(max(per_job.values(), default=0))
    topk_qes = [q for q, op in qes if op in topk_ids]
    widest = sum(q["widest_rows"] for q in topk_qes)
    wall_s = sum(o["end_ms"] - o["start_ms"] for o in ops) / 1000
    mean = lambda xs: statistics.mean(xs) if xs else 0.0  # noqa: E731
    base_mean = mean([(o["end_ms"] - o["start_ms"]) / 1000 for o in base])
    traced_mean = mean([(o["end_ms"] - o["start_ms"]) / 1000 for o in ops])

    return {
        "Queries.build_s": self_total("Queries.build") / 1000 / n,
        "driver.head_s": head / 1000 / n,
        "driver.gap_s": gap / 1000 / n,
        "driver.tail_s": tail / 1000 / n,
        "catalyst.query_executions": len(qes) / n,
        "catalyst.analysis_s": sum(q["analysis_ms"] for q, _ in qes) / 1000 / n,
        "catalyst.optimization_s": sum(q["optimization_ms"] for q, _ in qes) / 1000 / n,
        "catalyst.planning_s": sum(q["planning_ms"] for q, _ in qes) / 1000 / n,
        "spark.jobs": len(jobs) / n,
        "spark.stages": len(stages) / n,
        "spark.tasks": stage_sum("tasks") / n,
        "spark.core_busy_ratio": stage_sum("run_ms") / 1000 / (wall_s * result["cores"]),
        "spark.task_cpu_s": stage_sum("cpu_ns") / 1e9 / n,
        "spark.task_run_s": stage_sum("run_ms") / 1000 / n,
        "spark.task_gc_s": stage_sum("gc_ms") / 1000 / n,
        "spark.task_deser_s": stage_sum("deser_ms") / 1000 / n,
        "spark.shuffle_write_mb": stage_sum("shuffle_write_b") / 1e6 / n,
        "spark.shuffle_read_mb": stage_sum("shuffle_read_b") / 1e6 / n,
        "spark.spill_mb": stage_sum("spill_b") / 1e6 / n,
        "sources.csv_bytes_written": mean([o["bytes"] for o in exports]),
        "sources.csv_bytes_read": (sum(s["input_b"] for s in stages if int(s["op"]) in import_ids)
                                   / len(imports) if imports else 0.0),
        "sources.csv_read_tasks": mean(read_tasks),
        "operators.import_catalog_s": span_mean("operators.CsvToTable.run"),
        "operators.import_jdbc_s": span_mean("operators.CsvToTable.toJdbc"),
        "operators.topk_rows_materialized": (sum(q["rows_materialized"] for q in topk_qes)
                                             / len(topk) if topk else 0.0),
        "operators.topk_useful_ratio": (sum(o["rows"] for o in topk) / widest
                                        if widest else 0.0),
        "trace.overhead_s": traced_mean - base_mean,
    }
