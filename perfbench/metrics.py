"""Metrics of the benchmark, computed from the raw record the JVM side
writes, and the output checks that decide `correct`, `attempted` and
`failed`.

Every workload reports every end-to-end metric; each has one meaning per
workload (README.md). Per-layer metrics come from the traced run; a layer a
workload does not exercise reports 0.
"""
import json
import os
import statistics

import checks
import spans as spanlib
import stats

WORKLOADS = ("kg_build", "kg_serve_update")
ANALYTICS = ("q_link_predict", "q_pagerank", "d_minhash_neardup", "d_ngram_jaccard", "q_kcore")

# name, unit, better, bound
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
    ("cold_s", "s", "lower", 0.25),
    ("p50_ms", "ms", "lower", 0.25),
    ("tail_ms", "ms", "lower", 0.25),
    ("rate_per_s", "1/s", "higher", 0.25),
]

# Per-layer metrics: name, unit, the end-to-end metric it should move, and
# the workload it moves it on.
_B, _U = "kg_build", "kg_serve_update"
PER_LAYER = [
    ("text.tokenize_us_per_doc", "us", "rate_per_s", _B),
    ("ner.decode_single_us_per_doc", "us", "rate_per_s", _B),
    ("ner.decode_multi_us_per_doc", "us", "rate_per_s", _B),
    ("ner.decode_morph_us_per_doc", "us", "rate_per_s", _B),
    ("lattice.analyze_us_per_doc", "us", "rate_per_s", _B),
    ("lattice.prune_us_per_doc", "us", "rate_per_s", _B),
    ("lattice.disambig_us_per_doc", "us", "rate_per_s", _B),
    ("lattice.dep_us_per_doc", "us", "rate_per_s", _B),
    ("align.soft_merge_us_per_doc", "us", "rate_per_s", _B),
    ("pipeline.annotate_doc_us", "us", "rate_per_s", _B),
    ("pipeline.models_s", "s", "p50_ms", _B),
    ("pipeline.docs_labeled_s", "s", "p50_ms", _B),
    ("pipeline.mentions_s", "s", "p50_ms", _B),
    ("kg.link_s", "s", "p50_ms", _B),
    ("kg.canonicalize_s", "s", "p50_ms", _B),
    ("kg.triples_s", "s", "p50_ms", _B),
    ("kg.link_ratio", "ratio", "p50_ms", _B),
    ("io.bytes_written", "bytes", "p50_ms", _B),
    ("io.files_written", "count", "p50_ms", _B),
    ("io.bytes_per_triple", "bytes", "p50_ms", _B),
    ("io.store_save_s", "s", "setup_s", _U),
    ("io.load_ms", "ms", "cold_s", _U),
    ("io.store_files_end", "count", "p50_ms", _U),
    ("io.update_write_amp", "ratio", "rate_per_s", _U),
    ("kg.sparql_build_ms", "ms", "p50_ms", _U),
    ("spark.plan_ms", "ms", "p50_ms", _U),
    ("spark.exec_ms", "ms", "p50_ms", _U),
    ("kg.plan_exchanges", "count", "p50_ms", _U),
    ("kg.rows_read_per_row_returned", "ratio", "p50_ms", _U),
    ("kg.update_ms", "ms", "rate_per_s", _U),
    ("kg.pred_stats_ms", "ms", "rate_per_s", _U),
    ("kg.update_touched_leaves", "count", "rate_per_s", _U),
    ("serve.http_overhead_ms", "ms", "p50_ms", _U),
    ("spark.jobs", "count", "p50_ms", "all"),
    ("spark.tasks", "count", "p50_ms", "all"),
    ("spark.executor_cpu_s", "s", "p50_ms", "all"),
    ("spark.gc_s", "s", "tail_ms", "all"),
    ("spark.shuffle_write_bytes", "bytes", "p50_ms", "all"),
    ("spark.shuffle_read_bytes", "bytes", "p50_ms", "all"),
    ("spark.spill_bytes", "bytes", "p50_ms", "all"),
    ("spark.peak_exec_mem_bytes", "bytes", "peak_rss_mb", "all"),
    ("spark.failed_tasks", "count", "tail_ms", _U),
    ("spark.failed_tasks.stale_read", "count", "tail_ms", _U),
] + [(f"analytics.{q}_s", "s", "none", _U) for q in ANALYTICS] + [
    (f"analytics.{q}.plan_exchanges", "count", "none", _U) for q in ANALYTICS] + [
    ("analytics.cold_s", "s", "none", _U),
    ("self.pipeline_s", "s", "p50_ms", _B),
    ("self.kg_s", "s", "p50_ms", "all"),
    ("self.io_s", "s", "setup_s", _U),
    ("self.serve_s", "s", "p50_ms", _U),
    ("self.spark_s", "s", "p50_ms", _U),
    ("self.analytics_s", "s", "none", _U),
    ("self.setup_s", "s", "setup_s", _U),
    ("trace.overhead_ms", "ms", "none", "all"),
    ("trace.stage_sum_ratio", "ratio", "none", _B),
]


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def measured(rec, key):
    return [x for x in rec[key] if x["phase"] == "measured"]


def end_to_end(rec):
    """{name: value} of the end-to-end metrics of an untraced run."""
    if rec["workload"] == "kg_serve_update":
        unit = [r["ms"] for r in measured(rec, "requests")]
        rate = 1e3 / statistics.median(u["ms"] for u in measured(rec, "updates"))
    else:
        unit = rec["unit_ms"]
        rate = rec["rate"]["count"] / rec["rate"]["seconds"]
    return {
        "setup_s": statistics.median(rec["setup_reps_s"]),
        "peak_rss_mb": rec["peak_rss_mb"],
        "cold_s": rec["cold_s"],
        "p50_ms": statistics.median(unit),
        "tail_ms": stats.tail(unit)[1],
        "rate_per_s": rate,
    }


def named(rec, e2e, verdicts):
    """The workload's metrics under the names a reader of the system uses,
    with units: what the generic end-to-end names mean for this workload."""
    w = rec["workload"]
    out = {"setup_s": (e2e["setup_s"], "s"), "session_s": (rec["session_s"], "s"),
           "peak_rss_mb": (e2e["peak_rss_mb"], "MB")}
    if w == "kg_build":
        out.update(build_docs_per_s=(e2e["rate_per_s"], "docs/s"), build_cold_s=(e2e["cold_s"], "s"),
                   build_warm_run_ms=(e2e["p50_ms"], "ms"))
    else:
        s = stats.summary([r["ms"] for r in measured(rec, "requests")])
        ups = measured(rec, "updates")
        bad_reads = sum(v not in ("A", "B") for v in verdicts["reads"])
        out.update({
            "mixed_read_p50_ms": (s["p50"], "ms"),
            f"mixed_read_p{s['tail_p']}_ms": (s["tail"], "ms"),
            "mixed_read_samples": (s["n"], "count"),
            "mixed_read_fail_frac": (bad_reads / max(1, len(verdicts["reads"])), "ratio"),
            "update_p50_ms": (_median([u["ms"] for u in ups]), "ms"),
            "update_cold_ms": (e2e["cold_s"] * 1e3, "ms"),
            "update_fail_frac": (verdicts["bad_updates"] / max(1, len(rec["updates"])), "ratio"),
            "updates_per_s_at_p50": (e2e["rate_per_s"], "1/s"),
        })
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def verify(rec, out_dir, data_dir):
    """Runs the output checks. Returns (correct, attempted, failed, detail)."""
    w = rec["workload"]
    if w == "kg_build":
        pr = checks.build_pr(rec["check_build"])
        ok = all(p >= checks.PR_BAR and r >= checks.PR_BAR for p, r in pr.values())
        return ok, 1 + len(rec["unit_ms"]), 0, {"pr": pr}
    expected = checks.expected_answers(os.path.join(out_dir, "state_a"), rec["pool"], rec["batch"])
    reads = checks.check_reads(rec["requests"], rec["bodies"], expected)
    bad_updates = sum(not checks.check_update(u, rec["bodies"]) for u in rec["updates"])
    ok = not any(v in ("stale", "wrong") for v in reads) and bad_updates == 0
    attempted = len(reads) + len(rec["updates"])
    failed = sum(v not in ("A", "B") for v in reads) + bad_updates
    detail = {"reads": reads, "bad_updates": bad_updates,
              "read_verdicts": {v: reads.count(v) for v in set(reads)}}
    if "oracle_sql" in rec:  # the traced run also runs the analytics queries
        res = checks.check_analytics(data_dir, os.path.join(out_dir, "results"), rec["oracle_sql"])
        detail["analytics_oracle"] = {q: why or "ok" for q, why in res.items()}
        ok = ok and not any(res.values())
        attempted += len(rec["analytics"])
    return ok, attempted, failed, detail


def per_layer(rec):
    """{name: value} of every per-layer metric of a traced run."""
    w = rec["workload"]
    sp = rec["spans"]
    m = {name: 0.0 for name, *_ in PER_LAYER}
    spark = rec["spark"]
    m.update({f"spark.{k}": float(spark[k]) for k in (
        "jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
        "spill_bytes", "peak_exec_mem_bytes")})
    m["spark.failed_tasks"] = float(sum(spark["failed_tasks"].values()))
    m["spark.failed_tasks.stale_read"] = float(spark["failed_tasks"].get("stale_read", 0))
    for layer, s in spanlib.self_by_layer(sp).items():
        if f"self.{layer}_s" in m:
            m[f"self.{layer}_s"] = s

    if w == "kg_build":
        k = rec["kernel"]
        for layer, us in k["us_per_doc"].items():
            m[f"{layer}_us_per_doc"] = us
        m["pipeline.annotate_doc_us"] = k["annotate_doc_us"]
        stages = {f"{layer}.{n}_s": spanlib.durations(sp, layer, n)[0] for layer, n in (
            ("pipeline", "docs_labeled"), ("pipeline", "mentions"), ("kg", "link"),
            ("kg", "canonicalize"), ("kg", "triples"))}
        m.update(stages)
        m["pipeline.models_s"] = spanlib.durations(sp, "pipeline", "models")[0]
        r = rec["stage_replay"]
        m["kg.link_ratio"] = r["rows"]["linked"] / max(1, r["rows"]["mentions"])
        m["io.bytes_written"] = float(sum(v["bytes"] for v in r["io"].values()))
        m["io.files_written"] = float(sum(v["files"] for v in r["io"].values()))
        m["io.bytes_per_triple"] = r["io"]["triples"]["bytes"] / max(1, r["rows"]["triples"])
        # against the mean of the untraced warm runAll before and after it
        untraced = (rec["unit_ms"][-1] + rec["warm_after_ms"]) / 2
        m["trace.overhead_ms"] = r["wall_s"] * 1e3 - untraced
        m["trace.stage_sum_ratio"] = sum(stages.values()) * 1e3 / untraced
    else:
        io = rec["io"]
        m["io.store_save_s"] = io["store_save_s"]
        m["io.bytes_written"] = float(io["store_bytes"])
        m["io.files_written"] = float(io["store_files"])
        m["io.bytes_per_triple"] = io["store_bytes"] / io["store_rows"]
        m["io.load_ms"] = io["store_load_ms"]
        m["io.store_files_end"] = float(rec["store_files_end"])
        q = rec["queries_traced"]
        m["kg.sparql_build_ms"] = 1e3 * _median(spanlib.durations(sp, "kg", "sparql_build"))
        m["spark.plan_ms"] = 1e3 * _median(spanlib.durations(sp, "spark", "plan"))
        m["spark.exec_ms"] = 1e3 * _median(spanlib.durations(sp, "spark", "exec"))
        m["kg.plan_exchanges"] = _median([x["exchanges"] for x in q])
        execs = [s for s in sp if s["layer"] == "spark" and s["name"] == "exec"]
        read = sum(s["spark"].get("records_read", 0) for s in execs)
        returned = sum(x["rows"] for x in q) * len(execs) / len(q)  # each query ran len(execs)/len(q) times
        m["kg.rows_read_per_row_returned"] = read / max(1, returned)
        m["serve.http_overhead_ms"] = _median([x["http_ms"] - x["untraced_ms"] for x in q])
        m["trace.overhead_ms"] = _median([x["traced_ms"] - x["untraced_ms"] for x in q])
        u = rec["updates_traced"]
        m["kg.update_ms"] = 1e3 * _median(spanlib.durations(sp, "kg", "update"))
        m["kg.pred_stats_ms"] = 1e3 * _median(spanlib.durations(sp, "kg", "pred_stats"))
        m["io.update_write_amp"] = _median([x["bytes_written"] / x["triple_bytes"] for x in u])
        m["kg.update_touched_leaves"] = _median(
            [json.loads(rec["bodies"][x["body"]])["touched_leaves"] for x in rec["updates"]
             if x["status"] == 200])
        for a in rec["analytics"]:
            if a["pass"] == "warm":
                m[f"analytics.{a['query']}_s"] = a["s"]
                m[f"analytics.{a['query']}.plan_exchanges"] = float(a["exchanges"])
        m["analytics.cold_s"] = sum(a["s"] for a in rec["analytics"] if a["pass"] == "cold")
    return m
