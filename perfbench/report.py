"""Turns one run's operation log and spans into the benchmark's metrics.

Metric names and units come from ``BENCHMARK.json``; every function
here returns ``{name: value}`` for exactly those names.
"""

from __future__ import annotations

import sys
from collections import defaultdict

from harness import Bench, median, quantile


def end_to_end(bench: Bench) -> dict[str, float]:
    ok = [o for o in bench.ops if not o.info.get("failed")]
    reads = [o.latency for o in ok if o.kind == "read"]
    writes = [o for o in ok if o.kind == "write"]
    wl = [o.latency for o in writes]
    t = bench.timed_s
    return {
        "setup_s": median(bench.setup_rounds),
        "read_p50_s": quantile(reads, 0.5),
        "read_p90_s": quantile(reads, 0.9),
        "reads_per_s": len(reads) / t,
        "write_p50_s": quantile(wl, 0.5),
        "write_p90_s": quantile(wl, 0.9),
        "rows_written_per_s": sum(o.rows for o in writes) / t,
        "peak_rss_mb": bench.peak_rss_mb(),
    }


def sample_counts(bench: Bench) -> dict[str, int]:
    ok = [o for o in bench.ops if not o.info.get("failed")]
    return {
        "setup_rounds": len(bench.setup_rounds),
        "reads": sum(o.kind == "read" for o in ok),
        "writes": sum(o.kind == "write" for o in ok),
        "cycles": bench.cycles,
    }


def per_layer(bench: Bench) -> dict[str, float]:
    tr = bench.tracer
    traced = {o.info["seq"]: o for o in bench.ops if o.traced and not o.info.get("failed")}
    reads = [o for o in traced.values() if o.kind == "read"]
    n_reads = max(1, len(reads))

    setup: dict[str, list[float]] = defaultdict(list)
    timed: dict[str, list[float]] = defaultdict(list)
    per_op: dict[tuple[str, int], float] = defaultdict(float)
    per_op_calls: dict[tuple[str, int], int] = defaultdict(int)
    top_sql: dict[int, float] = {}
    for name, t0, t1, parent, op in tr.spans:
        d = t1 - t0
        if op == 0:
            setup[name].append(d)
            continue
        if op not in traced:
            continue
        timed[name].append(d)
        per_op[(name, op)] += d
        per_op_calls[(name, op)] += 1
        if name == "palo_session.sql" and parent < 0:
            top_sql[op] = top_sql.get(op, 0.0) + d

    def per_write(name: str) -> float:
        return median([per_op[(name, s)] for s in traced if traced[s].kind == "write"])

    stmts = list(top_sql)
    hit = [top_sql[s] for s in stmts if traced[s].info.get("hit")]
    miss = [top_sql[s] for s in stmts if not traced[s].info.get("hit")]
    all_sql_reads = [o for o in bench.ops if "hit" in o.info]
    extra = bench.layer_extra
    ins = extra.get("insert_bytes", 0)
    passes = extra.get("passes", [])
    n_docs = extra.get("n_docs", 0)
    pass_lat = [o.latency for o in bench.ops if o.kind == "write" and "docs" in o.info
                and not o.info.get("failed")]
    compacts = [o for o in bench.ops if "compacted" in o.info]

    def untraced_ratio(kind: str) -> float:
        a = [o.latency for o in bench.ops if o.kind == kind and o.traced]
        b = [o.latency for o in bench.ops if o.kind == kind and not o.traced]
        return median(a) / median(b) if a and b else 0.0

    ops = list(traced.values())
    return {
        "session.start_s": median(setup["session.get_session"]),
        "session.py_worker_warm_s": median(bench.setup_marks.get("py_worker_warm", [])),
        "catalog.register_views_s": median(setup["catalog.register_views"]),
        "catalog.load_table_calls": len(timed["catalog.load_table"]) / n_reads,
        "catalog.load_table_s": sum(timed["catalog.load_table"]) / n_reads,
        "sql_frontend.translate_s": median(
            [per_op[("sql_frontend.translate", s)] for s in stmts]),
        "sql_frontend.translate_calls": (
            sum(per_op_calls[("sql_frontend.translate", s)] for s in stmts) / max(1, len(stmts))),
        "palo_session.sql_s": median(list(top_sql.values())),
        "palo_session.hit_s": median(hit),
        "palo_session.miss_s": median(miss),
        "palo_session.cache_hit_ratio": (
            sum(bool(o.info["hit"]) for o in all_sql_reads) / max(1, len(all_sql_reads))),
        "tables.read_plan_s": median(timed["tables.read"]),
        "tables.live_rowsets_at_read": (
            sum(o.info.get("live_rowsets", 0) for o in reads) / n_reads),
        "tables.compact_s": median(timed["tables.compact"]),
        "tables.compactions": (
            sum(bool(o.info["compacted"]) for o in compacts) / max(1, len(compacts))),
        "tables.write_amp": (ins + extra.get("compact_bytes", 0)) / ins if ins else 0.0,
        "tables.bytes_per_user_byte": (
            extra["warehouse_bytes"] / extra["user_bytes"] if extra.get("user_bytes") else 0.0),
        "sources.stream_load_s": median(timed["sources.stream_load"]),
        "operators.dedup_exact_s": per_write("operators.dedup_exact") if passes else 0.0,
        "operators.dedup_minhash_s": per_write("operators.dedup_minhash") if passes else 0.0,
        "operators.text_filter_s": per_write("operators.text_filter") if passes else 0.0,
        "operators.redact_pii_s": per_write("operators.redact_pii") if passes else 0.0,
        "operators.chunk_s": per_write("operators.chunk") if passes else 0.0,
        "operators.similarity_topk_s": median(timed["operators.similarity_topk"]),
        "operators.exact_kept_ratio": passes[0][0] / n_docs if passes else 0.0,
        "operators.minhash_kept_ratio": passes[0][1] / passes[0][0] if passes else 0.0,
        "operators.docs_per_s": median([n_docs / t for t in pass_lat]) if passes else 0.0,
        "spark.jobs_per_op": sum(o.info["jobs"] for o in ops) / max(1, len(ops)),
        "spark.stages_per_op": sum(o.info["stages"] for o in ops) / max(1, len(ops)),
        "spark.tasks_per_op": sum(o.info["tasks"] for o in ops) / max(1, len(ops)),
        "spark.exec_s": median([o.info["exec_s"] for o in reads if "exec_s" in o.info]),
        "jvm.gc_s": bench.gc_s,
        "trace.overhead_ratio": untraced_ratio("read"),
        "trace.write_overhead_ratio": untraced_ratio("write"),
    }


def print_self_times(bench: Bench, out=sys.stderr) -> None:
    """Self time per layer (span name prefix) over the traced run."""
    by_layer: dict[str, float] = defaultdict(float)
    for name, s in bench.tracer.self_times().items():
        by_layer[name.split(".")[0]] += s
    print("self time per layer (s, traced set-up and traced cycles):", file=out)
    for layer, s in sorted(by_layer.items(), key=lambda kv: -kv[1]):
        print(f"  {layer:<14} {s:9.3f}", file=out)
