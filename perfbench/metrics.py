"""Metrics of one run, computed from its request records.

Latency percentiles interpolate between samples
(``statistics.quantiles(..., method="inclusive")``); the sample count of
each is reported in the run info, so every ratio has its base.
"""

from __future__ import annotations

import statistics

FAMILIES = ("sparql", "search", "object", "catalog", "watch", "write")


def pct(xs: list[float], p: int) -> float:
    """The ``p``-th percentile, or 0 when there are no samples (a family a
    very short run never reaches, or a layer the workload does not use)."""
    if len(xs) <= 1:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def _m(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        return next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM."""
    jvm = spark.sparkContext._gateway.proc.pid
    return (_vm_hwm_kb("self") + _vm_hwm_kb(jvm)) / 1024.0


def end_to_end(bench, verdicts, setup_s: float) -> dict:
    """What a user of the routes sees. Request latency is a mean over the
    run: a run has about 22 requests of a dozen kinds, so a median, a p90 or
    one family's median jumps between kinds from run to run (and, beside the
    writer, with how each read overlaps a write), while the mean holds still.
    Those medians are per-layer numbers (``route.*``)."""
    recs = bench.records
    ok = [v.record for v in verdicts if v.ok]
    wall = bench.t_end - bench.t_start
    reads = [r.ms for r in recs if r.req["family"] != "write"]
    writes = [r for r in ok if r.req["family"] == "write"]
    docs = sum(len(r.req["args"]["docs"]) if r.req["op"] == "ingest" else 1 for r in writes)
    busy_s = sum(r.ms for r in writes) / 1000.0
    out = {
        "setup_s": _m(setup_s, "s"),
        "req_per_s": _m(len([r for r in recs if r.error is None]) / wall, "1/s"),
        "latency_mean_ms": _m(_mean([r.ms for r in recs]), "ms"),
        "read_mean_ms": _m(_mean(reads), "ms"),
        "write_p50_ms": _ms(family_ms(recs, "write")),
        "docs_per_s": _m(docs / busy_s if busy_s else 0.0, "1/s"),
    }
    failed = len(verdicts) - len(ok)
    return {"attempted": len(recs), "failed": failed, "metrics": out}


def family_ms(recs, fam: str) -> list[float]:
    return [r.ms for r in recs if r.req["family"] == fam]


def run_info(bench, verdicts, cpus: int, load_start, load_end) -> dict:
    recs = bench.records
    by_family = {f: sum(r.req["family"] == f for r in recs) for f in FAMILIES}
    failed = sum(not v.ok for v in verdicts)
    return {
        "workload": bench.workload,
        "seed": bench.seed,
        "nproc": cpus,
        "loadavg_start": list(load_start),
        "loadavg_end": list(load_end),
        "requests": len(recs),
        "requests_by_family": by_family,
        "percentile_method": "statistics.quantiles inclusive over the run's "
                             "requests (requests) or one family's (requests_by_family)",
        "wall_s": bench.t_end - bench.t_start,
        "failed_frac": failed / max(len(recs), 1),
        "setup_parts_s": bench.setup_parts,
        "warmup_requests": len(bench.warmup),
        "docs_acked": bench.writes.docs_acked,
        "writes_acked": bench.writes.writes_acked,
    }


# ------------------------------------------------------------ per layer
OBJECT_RESOLVE_OPS = ("get_object", "head_object", "put_object")
LISTING_OPS = ("list_objects", "list_object_versions")
MATCH_OPS = ("watch", "unread")


def _ms(xs: list[float]) -> dict:
    """A median time in milliseconds (0 when the layer was not used)."""
    return _m(pct(xs, 50), "ms")


def _mean(xs: list[float]) -> float:
    return sum(xs) / len(xs) if xs else 0.0


class _Spans:
    """The traced run's spans of timed requests, with parent links."""

    def __init__(self, tracer, records):
        self.recs = {r.req["id"]: r for r in records}
        self.spans = [s for s in tracer.spans if s.req in self.recs and s.end > 0]
        self.children: dict[int, list] = {}
        for s in self.spans:
            if s.parent is not None:
                self.children.setdefault(s.parent, []).append(s)

    def named(self, name: str) -> list:
        return [s for s in self.spans if s.name == name]

    def descendants(self, span, name: str, stop: tuple = ()) -> list:
        out, todo = [], list(self.children.get(span.index, []))
        while todo:
            s = todo.pop()
            if s.name in stop:
                continue
            if s.name == name:
                out.append(s)
            todo.extend(self.children.get(s.index, []))
        return out

    def exec_ms(self, ops: tuple = (), family: str | None = None) -> list[float]:
        """Per request of the given operations or family: the time spent in
        the collects and counts that run its Spark jobs."""
        out = []
        for root in self.named("request"):
            req = self.recs[root.req].req
            if req["op"] in ops or req["family"] == family:
                out.append(sum(s.ms for s in self.descendants(root, "spark.collect")))
        return out


def per_layer(bench, verdicts, tracer) -> dict:
    sp = _Spans(tracer, bench.records)
    recs = bench.records
    m: dict[str, dict] = {}
    parts = bench.setup_parts
    m["session.start_ms"] = _m(parts["session_start_s"] * 1000, "ms")
    m["store.triples_build_ms"] = _m(parts["triples_build_s"] * 1000, "ms")
    m["store.postings_build_ms"] = _m(parts["postings_build_s"] * 1000, "ms")

    # sparql: parse, compile and the collect inside execute, on cache misses
    m["sparql.parse_ms"] = _ms([s.ms for s in sp.named("sparql.parse")])
    m["sparql.compile_ms"] = _ms([s.ms for s in sp.named("sparql.compile")])
    m["sparql.exec_ms"] = _ms([
        sum(c.ms for c in sp.descendants(s, "spark.collect"))
        for s in sp.named("sparql.execute") if sp.descendants(s, "sparql.parse")
    ])
    lookups = tracer.cache_hits + tracer.cache_misses
    m["sparql.cache_hit_ratio"] = _m(tracer.cache_hits / lookups if lookups else 0.0, "ratio")
    m["sparql.cache_lookups"] = _m(lookups, "count")

    # search: score planning, the page's collect, the signed cursor
    searches = sp.named("api.search")
    m["search.score_plan_ms"] = _ms([s.ms for s in sp.named("search.score_plan")])
    m["search.page_exec_ms"] = _ms([
        sum(c.ms for c in sp.descendants(s, "spark.collect", stop=("search.score_plan",)))
        for s in searches
    ])
    m["search.cursor_ms"] = _ms([
        sum(c.ms for c in cs) for s in searches if (cs := sp.descendants(s, "search.cursor"))
    ])
    files = [n for req, n in tracer.files_read if req in sp.recs]
    m["search.shard_files_read"] = _m(_mean(files), "count")

    m["object.resolve_exec_ms"] = _ms(sp.exec_ms(OBJECT_RESOLVE_OPS))
    m["listing.exec_ms"] = _ms(sp.exec_ms(LISTING_OPS))
    m["catalog.exec_ms"] = _ms(sp.exec_ms(family="catalog"))
    m["streaming.match_exec_ms"] = _ms(sp.exec_ms(MATCH_OPS))
    m["streaming.dashboard_exec_ms"] = _ms(sp.exec_ms(("dashboard_epochs",)))

    # the write path
    ingests = [r for r in recs if r.req["op"] == "ingest" and r.error is None]
    m["ingest.project_ms"] = _ms([s.ms for s in sp.named("ingest.project")])
    n_docs = sum(r.context["n_docs"] for r in ingests)
    m["ingest.triples_per_doc"] = _m(
        sum(r.context["triples"] for r in ingests) / n_docs if n_docs else 0.0, "count")
    m["incremental.upsert_ms"] = _ms([s.ms for s in sp.named("incremental.upsert")])
    for key, unit in (("affected_shards", "count"), ("bytes_written_per_doc", "B"),
                      ("rows_rewritten_per_new_row", "ratio")):
        m[f"incremental.{key}"] = _m(_mean([u[key] for u in tracer.upserts]), unit)
    m["versioned.versions_committed"] = _m(bench.version_end - bench.version_start, "count")
    m["versioned.commit_conflicts"] = _m(
        sum("CommitConflict" in (r.error or "") for r in recs), "count")

    # Spark jobs by family, from the job tags; Catalyst phases per query
    for fam in FAMILIES:
        ids = [r.req["id"] for r in recs if r.req["family"] == fam]
        counters = [tracer.jobs.get(i, {}) for i in ids]
        for key in ("jobs", "stages", "tasks"):
            m[f"spark.{fam}.{key}_per_request"] = _m(
                _mean([c.get(key, 0) for c in counters]), "count")
        m[f"spark.{fam}.failed_tasks"] = _m(
            sum(c.get("failed_tasks", 0) for c in counters), "count")
    queries = [ph for req, ph in tracer.catalyst if req in sp.recs]
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = _ms([q[phase] for q in queries if phase in q])

    for fam in FAMILIES[:-1]:
        m[f"route.{fam}_p50_ms"] = _ms(family_ms(recs, fam))
    m["route.latency_p50_ms"] = _ms([r.ms for r in recs])
    m["route.latency_p90_ms"] = _m(pct([r.ms for r in recs], 90), "ms")
    m["peak_rss_mb"] = _m(peak_rss_mb(bench.spark), "MB")

    wall = bench.t_end - bench.t_start
    m["trace.req_per_s"] = _m(len([r for r in recs if r.error is None]) / wall, "1/s")
    m["trace.overhead_ms_per_request"] = _m(tracer.overhead_s * 1000 / max(len(recs), 1), "ms")
    m["trace.spans"] = _m(len(sp.spans), "count")
    failed = sum(not v.ok for v in verdicts)
    return {"attempted": len(recs), "failed": failed, "metrics": m}
