"""Turns one JVM run's raw record into the benchmark's metrics.

- `oracle_failures` checks each reference output against its DuckDB oracle
  with `tools/check.py`'s normalization and value compare.
- `self_times` and `layer_metrics` reduce the traced run's spans.
- `end_to_end` and `per_layer` name and unit every reported metric.
"""
import contextlib
import importlib.util
import json
import statistics
import sys
from pathlib import Path

import duckdb

TABLES = ("orders", "documents", "embeddings")
FETCH_PARTITIONS = 4  # Workload.FetchPartitions


def load_check(root: Path):
    """The repo's own correctness-gate module, imported unchanged."""
    spec = importlib.util.spec_from_file_location("graft_check", root / "tools" / "check.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle_failures(check, inputs: Path, outputs: Path, oracle_sql: dict, passes: dict) -> int:
    """Runs each output's oracle SQL over the generated tables. An output
    that differs from its oracle fails in every pass that reproduced it."""
    con = duckdb.connect()
    for t in TABLES:
        p = inputs / f"{t}.parquet"
        if p.exists():
            con.sql(f"CREATE VIEW {t} AS FROM '{p}'")
    failed = 0
    for name, sql in sorted(oracle_sql.items()):
        try:
            got = con.sql(f"FROM '{outputs / name}/*.parquet'").df()
            want = con.sql(sql).df()
            with contextlib.redirect_stdout(sys.stderr):
                ok = check.compare(name, got, want)
        except Exception as e:  # a missing output or a failing oracle is a failure too
            print(f"FAIL {name}: {e}", file=sys.stderr)
            ok = False
        if not ok:
            failed += passes.get(name, 1)
    return failed


def self_times(spans: list) -> dict:
    """Self time (s) of each span id: its duration minus the part of its
    interval covered by its children's intervals."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        lo, hi = s["start_ns"], s["end_ns"]
        iv = sorted((max(c["start_ns"], lo), min(c["end_ns"], hi)) for c in kids.get(s["id"], []))
        covered, end = 0, lo
        for a, b in iv:
            a = max(a, end)
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (hi - lo - covered) / 1e9
    return out


def median(xs):
    return statistics.median(xs) if xs else 0.0


# span name of a traced pass -> per-layer time metric
SPAN_METRICS = {
    "sources.index": "sources.index_s",
    "sources.scan": "sources.scan_s",
    "sources.fetch": "sources.fetch_s",
    "extract.stage": "extract.stage_s",
    "operators.pipeline": "operators.pipeline_s",
    "operators.quality": "operators.quality_s",
    "operators.neardup": "operators.neardup_s",
    "operators.decontam": "operators.decontam_s",
    "operators.clean": "operators.clean_s",
    "operators.pack": "operators.pack_s",
    "sinks.csv_write": "sinks.csv_write_s",
    "staging.probe": "staging.probe_s",
}
# the ANN queries TrainPack's traced run times, each alone
ANN_QUERIES = ("v_ann_ivf", "v_ann_ivfpq", "v_ann_pq_refine", "v_ann_nsw", "v_ann_lsh",
               "v_hybrid_search", "v_incremental_ann", "v_ann_delete", "v_rag_e2e")
SPAN_METRICS.update({f"operators.ann_probe.{q}": f"operators.ann_probe_s.{q}" for q in ANN_QUERIES})


def layer_metrics(raw: dict, spans: list) -> dict:
    """Per-layer values of a traced run: medians over its traced passes."""
    st = self_times(spans)
    per_pass = {}
    coverage = []
    for s in spans:
        p = per_pass.setdefault(s["pass"], {})
        p[s["name"]] = p.get(s["name"], 0.0) + st[s["id"]]
        if s["name"] == "pass":  # the root of a layer-by-layer pass
            dur = (s["end_ns"] - s["start_ns"]) / 1e9
            coverage.append(1 - st[s["id"]] / dur)
    layers = raw["layers"]
    m = {metric: median([p[name] for p in per_pass.values() if name in p])
         for name, metric in SPAN_METRICS.items()}
    for k in ("sources.files_opened", "sources.corpus_read_ratio",
              "sources.fetch_requests_per_doc", "sources.fetch_connections",
              "extract.rows_per_doc", "extract.dropped_doc_frac",
              "operators.survivor_frac", "sinks.files_written",
              "sinks.bytes_per_row", "sinks.lww_dropped_frac"):
        m[k] = median(layers.get(k, []))
    parse = [p["extract.parse"] for p in per_pass.values() if "extract.parse" in p]
    kernel = [p["extract.kernel"] for p in per_pass.values() if "extract.kernel" in p]
    if parse:
        m["extract.parse_us_per_kb"] = median(parse) * 1e6 / median(layers["extract.sample_kb"])
        m["extract.kernel_us_per_doc"] = median(kernel) * 1e6 / median(layers["extract.sample_docs"])
    else:
        m["extract.parse_us_per_kb"] = m["extract.kernel_us_per_doc"] = 0.0
    busy = layers.get("sources.server_busy_ns", [])
    m["sources.server_busy_frac"] = (
        median(busy) / 1e9 / (m["sources.fetch_s"] * FETCH_PARTITIONS) if busy else 0.0)
    m["session.peak_rss_mb"] = raw["peak_rss_mb"]
    m["staging.build_s"] = raw["staging_build_s"]
    m["staging.builds"] = raw["staging_builds"]
    m["operators.ann_build_s"] = raw["traced_only_build_s"]
    for k, v in raw["session"].items():
        m[f"session.{k}"] = median(v)
    # the same pass with the listener attached and a span per query, against
    # the plain passes of the same run
    m["trace.overhead_frac"] = median(raw["instrumented_pass_s"]) / median(raw["pass_s"]) - 1
    m["trace.coverage"] = median(coverage)
    return m


def docs_per_pass(props: dict) -> int:
    """Input documents one pass completes: filings for the batch corpus,
    documents for the training pass."""
    return props["funds_with_holdings"] if props["workload"] == "nport_batch" else props["docs"]


def end_to_end(raw: dict, props: dict) -> dict:
    p = median(raw["pass_s"])
    return {
        "pass_s": p,
        "docs_per_s": docs_per_pass(props) / p,
        "setup_s": raw["setup_s"],
    }


def render(values: dict, spec: list) -> dict:
    """`{name: {"value", "unit"}}` for every metric in `spec`, in order;
    a layer this workload does not exercise reads 0."""
    return {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]} for m in spec}


def read_spans(path: Path) -> list:
    return [json.loads(line) for line in path.read_text().splitlines() if line.strip()]
