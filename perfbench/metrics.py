"""Metrics from one harness run: statistics over the raw samples, spans,
Spark jobs and streaming progress events the harness recorded.

Layer names are the program's module names (facade, functions/codec,
storage, coordinator, lake, schema, streaming, ops); README.md maps each
metric to the end-to-end metric and workload it should move.
"""
import statistics

BOARD = ("q_dedup_ngram", "q_containment", "q_ppjoin",
         "q_dedup_clusters", "q_keep_canonical", "q_leakage_split")

# (name, unit); every run reports all of them, 0 where a layer does no work
END_TO_END = (("setup_s", "s"), ("p50_ms", "ms"),
              ("records_per_s", "records/s"), ("heap_live_mb", "MB"))

PER_LAYER = (
    ("latency.p90_ms", "ms"), ("latency.samples", "count"),
    ("facade.produce_self_ms_p50", "ms"), ("facade.fetch_self_ms_p50", "ms"),
    ("facade.offset_commit_self_ms_p50", "ms"),
    ("facade.storage_calls_per_request", "count"),
    ("codec.encode_us_per_batch", "us"), ("codec.decode_us_per_batch", "us"),
    ("storage.produce_ms_p50", "ms"), ("storage.produce_jobs_per_call", "count"),
    ("storage.produce_task_ms_per_call", "ms"), ("storage.fetch_ms_p50", "ms"),
    ("storage.fetch_jobs_per_call", "count"), ("storage.fetch_files_per_call", "count"),
    ("storage.fetch_read_per_returned_byte", "ratio"),
    ("storage.offset_stage_us_p50", "us"), ("storage.offset_commit_ms_p50", "ms"),
    ("storage.log_files", "count"), ("storage.log_bytes_per_user_byte", "ratio"),
    ("coordinator.join_sync_ms", "ms"),
    ("lake.commits_per_produce", "count"), ("lake.jobs_per_produce", "count"),
    ("lake.task_ms_per_produce", "ms"), ("lake.snapshot_files", "count"),
    ("lake.log_bytes", "bytes"), ("lake.bytes_per_user_byte", "ratio"),
    ("lake.scan_s", "s"),
    ("streaming.view_lag_p50_ms", "ms"), ("streaming.view_lag_p90_ms", "ms"),
    ("streaming.batches", "count"), ("streaming.batch_ms_p50", "ms"),
    ("streaming.add_batch_ms_p50", "ms"), ("streaming.get_batch_ms_p50", "ms"),
    ("streaming.versions_per_batch", "count"), ("streaming.versions_behind_max", "count"),
) + tuple((f"ops.{q}.{m}", u) for q in BOARD for m, u in (
    ("build_s", "s"), ("plan_s", "s"), ("exec_s", "s"), ("jobs", "count"),
    ("tasks", "count"), ("shuffle_mb", "MB"))) + (
    ("ops.board_s", "s"),
    ("spark.jobs", "count"), ("spark.tasks", "count"), ("spark.busy_core_frac", "ratio"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.gc_ms", "ms"),
    ("loadgen.late_p90_ms", "ms"), ("trace.overhead_frac", "ratio"),
)

MB = 1024.0 * 1024.0


def percentile(xs, q):
    """Nearest-rank percentile: the smallest sample with at least a share
    q of the samples at or below it."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(1, -(-len(s) * q // 1))  # ceil(n * q), at least rank 1
    return s[int(k) - 1]


def beyond(n, q):
    """How many of n samples lie above the q-th percentile."""
    return n - int(max(1, -(-n * q // 1))) if n else 0


def tail_ok(n, q, need=10):
    """A percentile is reported as resolved when at least `need` samples
    lie beyond it: p90 needs 100 samples."""
    return beyond(n, q) >= need


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children if ce > s and cs < e]
    return (e - s) - union_length(clipped)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer(raw):
    """Per-layer metrics from the traced operations of the run."""
    out = {name: 0.0 for name, _ in PER_LAYER}
    spans = [dict(zip(("id", "parent", "req", "name", "start", "end"), s)) for s in raw["spans"]]
    jobs = raw["jobs"]
    stage_of = {s["stage"]: s for s in raw["stages"]}
    extra = raw["extra"]
    cores = raw["cores"]

    def job_stages(j):
        return [stage_of[i] for i in j["stages"] if i in stage_of]

    def jobs_of(span_ids):
        return [j for j in jobs if j["span"] in span_ids]

    def task_ms(js):
        return sum(st["run_ms"] for j in js for st in job_stages(j))

    # a storage call lasts until the last Spark job it caused has ended:
    # fetch returns a lazy DataFrame that the broker collects afterwards
    job_end = {}
    for j in jobs:
        if j["span"] and j["end"] > 0:
            job_end[j["span"]] = max(job_end.get(j["span"], 0), j["end"])

    def until_jobs_end(c):
        return c["start"], max(c["end"], job_end.get(c["id"], 0))

    # facade: request RTT minus the time inside its storage calls
    reqs = [s for s in spans if s["name"].startswith("facade.")]
    children = {}
    for s in spans:
        if s["name"].startswith("storage.") and s["req"]:
            children.setdefault(s["req"], []).append(until_jobs_end(s))
    for api in ("produce", "fetch", "offset_commit"):
        selfs = [self_time((r["start"], r["end"]), children.get(r["id"], [])) / 1e6
                 for r in reqs if r["name"] == f"facade.{api}"]
        out[f"facade.{api}_self_ms_p50"] = median(selfs)
    if reqs:
        out["facade.storage_calls_per_request"] = (
            sum(len(children.get(r["id"], [])) for r in reqs) / len(reqs))

    codec = raw.get("codec") or {}
    out["codec.encode_us_per_batch"] = codec.get("encode_us_per_batch", 0.0)
    out["codec.decode_us_per_batch"] = codec.get("decode_us_per_batch", 0.0)

    def calls(name):
        return [s for s in spans if s["name"] == f"storage.{name}"]

    def call_ms(cs):
        return [(e - b) / 1e6 for b, e in map(until_jobs_end, cs)]

    prod, fet = calls("produce"), calls("fetch")
    prod_jobs, fet_jobs = jobs_of({c["id"] for c in prod}), jobs_of({c["id"] for c in fet})
    if prod:
        out["storage.produce_ms_p50"] = median([(c["end"] - c["start"]) / 1e6 for c in prod])
        out["storage.produce_jobs_per_call"] = len(prod_jobs) / len(prod)
        out["storage.produce_task_ms_per_call"] = task_ms(prod_jobs) / len(prod)
        lake_jobs = [j for j in prod_jobs
                     if any(st["module"] == "lake" for st in job_stages(j))]
        out["lake.jobs_per_produce"] = len(lake_jobs) / len(prod)
        out["lake.task_ms_per_produce"] = task_ms(lake_jobs) / len(prod)
    if fet:
        out["storage.fetch_ms_p50"] = median(call_ms(fet))
        out["storage.fetch_jobs_per_call"] = len(fet_jobs) / len(fet)
        files = [v for n, v in raw["counts"] if n == "storage.fetch_files"]
        out["storage.fetch_files_per_call"] = sum(files) / len(files) if files else 0.0
        returned = sum(v for n, v in raw["counts"] if n == "fetch.returned_bytes")
        read = sum(st["input_bytes"] for j in fet_jobs for st in job_stages(j))
        out["storage.fetch_read_per_returned_byte"] = read / returned if returned else 0.0
    out["storage.offset_stage_us_p50"] = median(
        [(c["end"] - c["start"]) / 1e3 for c in calls("offsetStage")])
    out["storage.offset_commit_ms_p50"] = median(
        [(c["end"] - c["start"]) / 1e6 for c in calls("offsetCommit")])
    user = extra.get("user_bytes", 0)
    out["storage.log_files"] = extra.get("log_files", 0)
    out["storage.log_bytes_per_user_byte"] = extra.get("log_bytes", 0) / user if user else 0.0

    out["coordinator.join_sync_ms"] = extra.get("coordinator.join_sync_ms", 0.0)

    if "lake_commits" in extra:
        out["lake.commits_per_produce"] = extra["lake_commits"] / extra["produce_calls"]
        out["lake.snapshot_files"] = extra["lake_snapshot_files"]
        out["lake.log_bytes"] = extra["lake_log_bytes"]
        out["lake.bytes_per_user_byte"] = extra["lake_bytes"] / user if user else 0.0
        out["lake.scan_s"] = extra["lake_scan_s"]
        lag = [ms for ms, _ in extra["view_lag_ms"]]
        out["streaming.view_lag_p50_ms"] = median(lag)
        out["streaming.view_lag_p90_ms"] = percentile(lag, 0.9)
        out["loadgen.late_p90_ms"] = percentile(extra["late_ms"], 0.9)

    # streaming: every progress event of the view
    prog = extra.get("progress", [])
    if prog:
        out["streaming.batches"] = len(prog)
        d = [p["durations"] for p in prog]
        out["streaming.batch_ms_p50"] = median([x.get("triggerExecution", 0) for x in d])
        out["streaming.add_batch_ms_p50"] = median([x.get("addBatch", 0) for x in d])
        out["streaming.get_batch_ms_p50"] = median([x.get("getBatch", 0) for x in d])
        out["streaming.versions_per_batch"] = median([p["end"] - p["start"] for p in prog])
        out["streaming.versions_behind_max"] = max(
            (sum(1 for a in extra.get("ack_versions", []) if a[0] <= p["at"] and a[1] > p["end"])
             for p in prog), default=0)

    # ops: each board query's traced run
    for q in extra.get("queries", []):
        if not q["traced"]:
            continue
        name = q["query"]
        js = jobs_of({q["span"]})
        out[f"ops.{name}.build_s"] = q["build_s"]
        out[f"ops.{name}.plan_s"] = q["plan_s"]
        out[f"ops.{name}.exec_s"] = q["exec_s"]
        out[f"ops.{name}.jobs"] = len(js)
        out[f"ops.{name}.tasks"] = sum(st["tasks"] for j in js for st in job_stages(j))
        out[f"ops.{name}.shuffle_mb"] = sum(
            st["shuffle_write_bytes"] for j in js for st in job_stages(j)) / MB
    traced_q = [q for q in extra.get("queries", []) if q["traced"]]
    if traced_q:
        out["ops.board_s"] = sum(q["build_s"] + q["plan_s"] + q["exec_s"] for q in traced_q)

    # the Spark engine while tracing was on
    st = raw["stages"]
    wall_ms = raw["traced_s"] * 1e3
    out["spark.jobs"] = len(jobs)
    out["spark.tasks"] = sum(s["tasks"] for s in st)
    out["spark.busy_core_frac"] = (sum(s["run_ms"] for s in st) / (cores * wall_ms)
                                   if wall_ms else 0.0)
    out["spark.shuffle_write_mb"] = sum(s["shuffle_write_bytes"] for s in st) / MB
    out["spark.spill_mb"] = sum(s["spill_bytes"] for s in st) / MB
    out["spark.gc_ms"] = sum(s["gc_ms"] for s in st)

    lat = raw["latency_ms"]
    out["latency.p90_ms"] = percentile([ms for ms, _ in lat], 0.9)
    out["latency.samples"] = len(lat)
    on, off = [ms for ms, t in lat if t], [ms for ms, t in lat if not t]
    if on and off:
        out["trace.overhead_frac"] = median(on) / median(off) - 1.0
    return out


def records_per_s(raw):
    """Records the program served per second of its own work. A closed
    loop keeps the program busy, so that is records over the timed phase;
    an open loop (lake_cdc) sets its own rate, so its records are divided
    by the summed service time of its requests, send to ack."""
    base = raw.get("service_s") or raw["timed_s"]
    return raw["records"] / base if base else 0.0


def report(raw):
    lat = [ms for ms, _ in raw["latency_ms"]]
    checks = raw["checks"]
    e2e = {
        "setup_s": median(raw["setup_s"]),
        "p50_ms": median(lat),
        "records_per_s": records_per_s(raw),
        "heap_live_mb": raw["heap_live_mb"],
    }
    rep = {
        "correct": all(c["ok"] for c in checks) and raw["failed"] == 0,
        "attempted": max(1, raw["attempted"]),
        "failed": raw["failed"],
        "samples": len(lat),
        "end_to_end": {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END},
    }
    if raw["traced"]:
        layer = _layer(raw)
        rep["per_layer"] = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER}
    return rep


def render(rep, raw, bounds):
    """Human-readable report lines: host stamp, checks, every metric with
    its unit, and each end-to-end metric's regression bound."""
    hs, he = raw["host_start"], raw["host_end"]
    n = rep["samples"]
    yield (f"# {raw['workload']} seed={raw['seed']} trace={int(raw['traced'])} "
           f"cores={raw['cores']} spark_boot_s={raw['spark_boot_s']:.2f}")
    total = he["cpu_total"] - hs["cpu_total"]
    steal = (he["cpu_steal"] - hs["cpu_steal"]) / total if total else 0.0
    yield (f"# host: load1 {hs['load1']:.2f}->{he['load1']:.2f}, "
           f"MemAvailable {hs['mem_avail_mb']:.0f}->{he['mem_avail_mb']:.0f} MB, "
           f"cpu steal {steal:.1%}, "
           f"calib {hs['calib_s']:.3f}->{he['calib_s']:.3f} s, "
           f"calib_par {hs['calib_par_s']:.3f}->{he['calib_par_s']:.3f} s")
    for c in raw["checks"]:
        yield f"# check {'PASS' if c['ok'] else 'FAIL'}: {c['name']} {c['detail']}".rstrip()
    ratio = rep["failed"] / rep["attempted"]
    lat = [ms for ms, _ in raw["latency_ms"]]
    yield (f"# failed_ratio {ratio:.4f} ({rep['failed']} of {rep['attempted']}); "
           f"latency p50 {median(lat):.0f} ms, p90 {percentile(lat, 0.9):.0f} ms, "
           f"n={n}, {beyond(n, 0.9)} beyond p90"
           + ("" if tail_ok(n, 0.9) else " (fewer than 10: p90 unresolved)"))
    lag = [ms for ms, _ in raw["extra"].get("view_lag_ms", [])]
    if lag:
        yield (f"# view lag p50 {median(lag):.0f} ms, p90 {percentile(lag, 0.9):.0f} ms, "
               f"n={len(lag)}")
    for k, v in rep["end_to_end"].items():
        yield f"# e2e {k} = {v['value']:.6g} {v['unit']} (bound {bounds[k]:.0%})"
    for k, v in rep.get("per_layer", {}).items():
        yield f"# layer {k} = {v['value']:.6g} {v['unit']}"
