"""Metric arithmetic of the benchmark: percentiles, the end-to-end
metrics of a run record, and the per-layer metrics of its spans."""
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
MIN_TAIL_SAMPLES = 20


def tail(values):
    """Highest percentile with at least ten samples beyond it:
    (value, percentile, sample count). Needs 20 samples."""
    n = len(values)
    if n < MIN_TAIL_SAMPLES:
        raise ValueError(f"{n} samples; the tail needs {MIN_TAIL_SAMPLES}")
    s = sorted(values)
    return s[n - 11], 100.0 * (n - 10) / n, n


def median(values):
    return statistics.median(values) if values else 0.0


def requests(record, traced=False, kind=None):
    kind = kind or record["primary"]
    return [r for r in record["requests"] if r["kind"] == kind and r["traced"] == traced]


def end_to_end(record):
    """The user-visible metrics of an untraced run, plus notes: sample
    counts, the median, and the tail where a run has enough samples for
    one. Latency is reported as a mean: extract's 1 000-paper jobs run in
    two latency modes, and the median of the mix lands between them, so
    it flips from run to run."""
    lat = [r["latency_s"] for r in requests(record)]
    done = [r for r in record["requests"] if not r["traced"]]
    metrics = {
        "setup_s": record["session_s"] + record["prepare_s"] + record["warm_up_s"],
        "request_mean_s": sum(lat) / len(lat),
        "items_per_s": sum(r["items"] for r in done) / sum(r["latency_s"] for r in done),
        "recall": record["recall"],
        "retained_mb": record["retained_mb"],
    }
    kinds = {}
    for r in done:
        kinds[r["kind"]] = kinds.get(r["kind"], 0) + 1
    notes = {"requests": kinds, "request_p50_s": median(lat), "session_s": record["session_s"],
             "prepare_s": record["prepare_s"], "warm_up_s": record["warm_up_s"]}
    if len(lat) >= MIN_TAIL_SAMPLES:
        value, pct, n = tail(lat)
        notes["request_tail_s"] = {"value": value, "percentile": round(pct, 2), "samples": n}
    return metrics, notes


def _by_name(spans):
    out = {}
    for s in spans:
        if "span" in s:
            out.setdefault(s["span"], []).append(s)
    return out


def _counts(spans, name, key):
    return [s["value"] for s in spans if s.get("count") == name and s.get("key") == key]


MB = 1e6

# metric -> (span, how a span record turns into the value)
SPAN_METRICS = {
    "api.submit.ms": ("api.submit", lambda s: (s["end_ns"] - s["start_ns"]) / 1e6),
    "api.status_poll.ms": ("api.status_poll", lambda s: (s["end_ns"] - s["start_ns"]) / 1e6),
    "api.files.ms": ("api.files", lambda s: (s["end_ns"] - s["start_ns"]) / 1e6),
    "api.download.ms": ("api.download", lambda s: (s["end_ns"] - s["start_ns"]) / 1e6),
}
for span, fields in {
    "detect": ["s", "jobs"],
    "sample_n": ["s", "jobs", "input_rows", "shuffle_mb"],
    "sink.write": ["s"],
    "sink.manifest": ["s"],
    "extract_papers": ["s"],
    "tokenize": ["s", "input_rows"],
    "quality_gate": ["s", "shuffle_mb"],
    "pipeline_curate": ["s", "jobs", "shuffle_mb", "spill_mb"],
    "shingle_sets": ["s"],
    "minhash": ["s"],
    "dedup_pipeline": ["s", "jobs", "shuffle_mb", "spill_mb"],
    "connected_components": ["s", "jobs"],
    "ivfpq_probe": ["s", "jobs", "result_kb"],
    "refine": ["s", "jobs"],
    "ivfpq_merge": ["s", "jobs"],
    "bm25_serve": ["s", "jobs", "input_rows"],
    "rrf_fuse": ["s"],
    "bm25_merge": ["s"],
    "store_write": ["s", "mb"],
    "ingest": ["s"],
}.items():
    for f in fields:
        get = {
            "s": lambda s: (s["end_ns"] - s["start_ns"]) / 1e9,
            "jobs": lambda s: s["jobs"],
            "input_rows": lambda s: s["input_records"],
            "shuffle_mb": lambda s: s["shuffle_bytes"] / MB,
            "spill_mb": lambda s: s["spill_bytes"] / MB,
            "result_kb": lambda s: s["result_bytes"] / 1e3,
            "mb": lambda s: s["output_bytes"] / MB,
        }[f]
        SPAN_METRICS[f"{span}.{f}"] = (span, get)

COUNT_METRICS = {
    "sink.write.files": ("sink.write", "files"),
    "sink.write.mb": ("sink.write", "mb"),
    "pipeline_curate.leaked_rdds": ("pipeline_curate", "leaked_rdds"),
    "dedup_pipeline.leaked_rdds": ("dedup_pipeline", "leaked_rdds"),
    "dedup.near_pairs": ("dedup", "near_pairs"),
    "dedup.near_recall": ("dedup", "near_recall"),
}

RECORD_METRICS = ["jvm.gc_s", "jvm.heap_peak_mb", "spark.storage_used_mb", "spark.persisted_rdds"]

# spans of one extract request that the whole Extractor call contains
EXTRACT_PARTS = ["detect", "sample_n", "sink.write", "sink.manifest"]
SERVE_SPANS = ["bm25_serve", "ivfpq_serve"]


def per_layer(record, spans):
    """Per-layer metrics of a traced run: the median over the spans (or
    counts) of each layer; a layer the workload never calls reads 0."""
    by = _by_name(spans)
    out = {}
    for metric, (span, get) in SPAN_METRICS.items():
        out[metric] = median([get(s) for s in by.get(span, [])])
    for metric, (name, key) in COUNT_METRICS.items():
        out[metric] = median(_counts(spans, name, key))

    def per_request(names):
        acc = {}
        for n in names:
            for s in by.get(n, []):
                acc.setdefault(s["request"], []).append(s)
        return acc

    whole = {s["request"]: (s["end_ns"] - s["start_ns"]) / 1e9 for s in by.get("extract_papers", [])}
    parts = per_request(EXTRACT_PARTS)
    out["extract_papers.unattributed_s"] = median([
        w - sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in parts.get(r, []))
        for r, w in whole.items()])
    out["store_read.input_rows"] = median([
        sum(s["input_records"] for s in ss) for ss in per_request(SERVE_SPANS).values()])
    for m in RECORD_METRICS:
        out[m] = float(record[m])
    out["trace.overhead_pct"] = trace_overhead_pct(record)
    return out


def trace_overhead_pct(record):
    """Traced over untraced latency of the same request class (kind and
    size), as a percentage; the median over classes that have both."""
    by = {}
    for r in record["requests"]:
        by.setdefault(r["class"], {}).setdefault(r["traced"], []).append(r["latency_s"])
    ratios = [median(v[True]) / median(v[False]) for v in by.values() if v.get(True) and v.get(False)]
    return 100.0 * (median(ratios) - 1.0) if ratios else 0.0
