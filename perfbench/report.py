"""Turn the engine run's raw samples and spans into the reported metrics."""

import stats

SPANS = [
    "lifecycle.ingest.clean_write", "lifecycle.ingest.quality",
    "lifecycle.analytics.report", "lifecycle.analytics.aggregated",
    "lifecycle.warehouse.load", "lifecycle.warehouse.integrity",
    "lifecycle.warehouse.persist",
    "curation.textops.near_dedup", "curation.textops.curate",
    "curation.textops.split", "curation.operators.pack", "curation.lake.publish",
    "stream.near_dedup.step", "stream.novelty.step", "stream.semdedup.step",
    "serve.search_page", "serve.detail", "serve.keyset_page", "serve.analytics",
    "serve.lake.read_latest",
]
ROOTS = ("lifecycle", "curation", "stream", "serve")
# per-call spans report the median call; the others the whole traced run
PER_CALL = ("stream.", "serve.")
SPAN_FIELDS = [("wall_s", "s"), ("jobs", "count"), ("exec_run_s", "s"),
               ("shuffle_bytes", "bytes"), ("bytes_written", "bytes")]
STORE_COUNTS = [("admit_ratio", "ratio"), ("live_segments", "count"),
                ("store_bytes", "bytes")]


def metric(value, unit):
    return {"value": value, "unit": unit}


def setup_seconds(raw):
    """Session start + median of the repeated input preparation + warm-up
    (+ the CSV generation the harness did before starting the JVM).
    """
    s = raw["setup"]
    return (raw["csv_gen_s"] + raw["session_s"] + stats.median(s["prepare_s"]) +
            s["warmup_s"])


def end_to_end(raw):
    """The BENCHMARK.json end-to-end metrics of one untraced run."""
    walls = [x["wall_s"] for x in raw["samples"]]
    return {
        "setup_s": metric(setup_seconds(raw), "s"),
        "latency_p50_s": metric(stats.median(walls), "s"),
        "ops_per_s": metric(len(walls) / sum(walls), "1/s"),
        "kind_p50_geomean_s": metric(stats.kind_p50_geomean(raw["samples"]), "s"),
    }


def named(raw):
    """The workload's own named metrics (README.md), with sample counts."""
    w = raw["workload"]
    walls = [x["wall_s"] for x in raw["samples"]]
    n = len(walls)
    tail = stats.tail_percentile(n)
    out = {f"{w}.setup_s": metric(setup_seconds(raw), "s")}
    if w in ("lifecycle", "curation"):
        out[f"{w}.wall_s"] = metric(stats.median(walls), "s")
    elif w == "stream":
        rows = sum(x["rows"] for x in raw["samples"])
        out["stream.rows_per_s"] = metric(rows / sum(walls), "rows/s")
        out["stream.step_p50_s"] = metric(stats.median(walls), "s")
        out["stream.step_p80_s"] = metric(stats.quantile(walls, 0.8), "s")
    else:
        out["serve.qps"] = metric(n / sum(walls), "requests/s")
        out["serve.p50_ms"] = metric(1000 * stats.median(walls), "ms")
        out["serve.p90_ms"] = metric(1000 * stats.quantile(walls, 0.9), "ms")
    out[f"{w}.samples"] = metric(n, "count")
    out[f"{w}.supported_tail_pct"] = metric(tail if tail is not None else 0, "pct")
    return out


def roots_of(spans):
    """Workload -> its traced root spans, in run order."""
    out = {}
    for s in spans:
        if s["parent"] is None and s["name"] in ROOTS:
            out.setdefault(s["name"], []).append(s)
    return out


def per_layer(raw):
    """Per-layer metrics of the traced pass: one row per span and field
    (from each workload's last traced repetition), the stream store
    counts, span coverage per workload, the named workload's tracing
    overhead, and peak heap.
    """
    spans = raw["spans"]
    by_id = {s["id"]: s for s in spans}
    roots = roots_of(spans)
    incl = {f: stats.inclusive(spans, f) for f, _ in SPAN_FIELDS}

    def root_id(s):
        while s["parent"] is not None:
            s = by_id[s["parent"]]
        return s["id"]

    out = {}
    for name in SPANS:
        last = roots[name.split(".")[0]][-1]["id"]
        inst = [s for s in spans if s["name"] == name and root_id(s) == last]
        for f, unit in SPAN_FIELDS:
            vals = [incl[f][s["id"]] for s in inst]
            v = stats.median(vals) if name.startswith(PER_CALL) else sum(vals)
            out[f"{name}.{f}"] = metric(v, unit)
    for store in ("near_dedup", "novelty", "semdedup"):
        for f, unit in STORE_COUNTS:
            key = f"stream.{store}.{f}"
            out[key] = metric(raw["counts"][key], unit)
    for wl in ROOTS:
        out[f"{wl}.span_coverage"] = metric(
            stats.coverage(spans, roots[wl][-1]["id"]), "ratio")
    named = raw["workload"]
    out["tracing_overhead"] = metric(
        roots[named][-1]["wall_s"] / raw["untraced_wall_s"][named] - 1, "ratio")
    out["core.peak_heap_mb"] = metric(raw["peak_heap_mb"], "MB")
    return out


def trace_checks(raw):
    """Span rows must cover 95% of every traced workload total, and the
    named workload's span job counts must repeat across its two traced
    repetitions.
    """
    spans = raw["spans"]
    out = []
    for wl, reps in roots_of(spans).items():
        cov = min(stats.coverage(spans, r["id"]) for r in reps)
        out.append({"name": f"{wl}.span_coverage", "ok": cov >= 0.95,
                    "detail": f"span rows cover {cov:.3f} of the traced total"})
        if wl == raw["workload"]:
            jobs = [job_vector(spans, r["id"]) for r in reps]
            out.append({"name": f"{wl}.jobs_repeat",
                        "ok": len(jobs) == 2 and jobs[0] == jobs[1],
                        "detail": f"{len(jobs)} traced repetitions, jobs "
                                  f"{[sum(j for _, j in v) for v in jobs]}"})
    return out


def job_vector(spans, root_id):
    """Jobs of every span under `root_id`, in span order."""
    kids = stats.children_of(spans)
    out = []

    def walk(s):
        out.append((s["name"], s["jobs"]))
        for c in kids.get(s["id"], []):
            walk(c)

    walk(next(s for s in spans if s["id"] == root_id))
    return out


def summarize(results, trace, workload):
    """The result object, and every check behind its verdict."""
    checks = [c for r in results for c in r["checks"]]
    if trace:
        checks += trace_checks(results[0])
        metrics = per_layer(results[0])
    elif workload == "all":
        metrics = {k: v for r in results for k, v in named(r).items()}
    else:
        metrics = end_to_end(results[0])
    return {
        "correct": all(c["ok"] for c in checks),
        "attempted": sum(r["attempted"] for r in results),
        "failed": sum(r["failed"] for r in results),
        "metrics": metrics,
    }, checks


def human(out, results, checks):
    """Readable lines for stderr: runs, verdicts, metrics."""
    lines = [f"[{r['workload']}] seed {r['seed']} cores {r['cores']} "
             f"heap {r['heap_max_mb']} MB inputs {r['inputs']}" for r in results]
    for r in results:
        kinds = {}
        for x in r.get("samples", []):
            kinds.setdefault(x["kind"], []).append(x["wall_s"])
        lines += [f"  {r['workload']} {k}: p50 {stats.median(v):.6g} s over {len(v)}"
                  for k, v in sorted(kinds.items())]
    for c in checks:
        lines.append(f"  {'PASS' if c['ok'] else 'FAIL'} {c['name']}: {c['detail']}")
    for k, v in out["metrics"].items():
        lines.append(f"  {k} = {v['value']:.6g} {v['unit']}")
    lines.append(f"correct={out['correct']} attempted={out['attempted']} "
                 f"failed={out['failed']}")
    return lines
