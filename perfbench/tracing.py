"""Spans around the engine's public functions, for the traced run.

``Tracer.install`` replaces each traced function with a wrapper that
records a span, at the name the caller looks it up by: ``parse`` is
imported into ``sparql/engine.py`` at module level, so the wrapper goes
there; ``bm25_scored`` and ``read_pruned`` are imported inside the
functions that call them, so their own modules hold the wrapper.

A span has a name, start, end, parent span and request id. Spans are kept
in memory and written out when the run ends (``dump``). A span's self time
is its duration minus the time its child spans cover.

Spark counters are read from the benchmark's side: each request tags its
Spark jobs with ``SparkContext.addJobTag`` on its client thread, and after
the run the jobs, stages, tasks and failed tasks of each tag are read from
Spark's status store. Every collect also records the Catalyst phase
times of its query from ``queryExecution().tracker()``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import dataclass

CATALYST_PHASES = ("analysis", "optimization", "planning")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    req: str | None
    index: int

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self.overhead_s = 0.0  # time spent recording, outside every span
        self.files_read: list[tuple] = []  # (request id, files per read_pruned)
        self.catalyst: list[tuple] = []  # (request id, phase ms of one query)
        self.upserts: list[dict] = []
        self.jobs: dict[str, dict] = {}  # request id -> Spark counters

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _charge(self, seconds: float) -> None:
        with self._lock:
            self.overhead_s += seconds

    def current_request(self) -> str | None:
        stack = self._stack()
        return self.spans[stack[-1]].req if stack else None

    def open(self, name: str, req: str | None = None) -> int:
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if req is None and parent is not None:
            req = self.spans[parent].req
        with self._lock:
            idx = len(self.spans)
            self.spans.append(Span(name, 0.0, 0.0, parent, req, idx))
        stack.append(idx)
        t1 = time.perf_counter()
        self.spans[idx].start = t1
        self._charge(t1 - t0)
        return idx

    def close(self, idx: int) -> None:
        t0 = time.perf_counter()
        self.spans[idx].end = t0
        self._stack().pop()
        self._charge(time.perf_counter() - t0)

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` by a wrapper recording span ``name``;
        ``after(result)`` runs outside the span and its time counts as
        tracing overhead."""
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        kind = type(raw) if isinstance(raw, (staticmethod, classmethod)) else None
        fn = raw.__func__ if kind else raw
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                tracer.close(idx)
            if after is not None:
                t0 = time.perf_counter()
                after(out)
                tracer._charge(time.perf_counter() - t0)
            return out

        setattr(owner, attr, kind(traced) if kind else traced)

    # ---------------------------------------------------- installation
    def install(self, bench) -> None:
        from aruna_spark import store
        from aruna_spark.api import Engine
        from aruna_spark.search import bm25, cursor, incremental
        from aruna_spark.sparql import engine as sparql_engine
        from aruna_spark.sparql.compiler import Compiler

        self.spark = bench.spark
        self.sc = bench.spark.sparkContext
        for route in (
            "sparql", "search", "get_object", "head_object", "put_object",
            "list_objects", "list_object_versions", "metadata_listing",
            "path_lookup", "backlinks", "usage_counters", "watch", "unread",
            "dashboard_epochs", "ingest_jsonld",
        ):
            self.wrap(Engine, route, f"api.{route}")
        self.wrap(sparql_engine, "parse", "sparql.parse")
        self.wrap(Compiler, "compile_select", "sparql.compile")
        self.wrap(Compiler, "compile_ask", "sparql.compile")
        self.wrap(sparql_engine.SparqlEngine, "execute", "sparql.execute")
        self.wrap(store, "bm25_scored", "search.score_plan")
        self.wrap(incremental, "read_pruned", "search.read_pruned",
                  after=lambda df: self.files_read.append(
                      (self.current_request(), len(df.inputFiles()))))
        for attr in ("decode", "new_signed", "encode"):
            self.wrap(cursor.SearchCursor, attr, "search.cursor")
        self.wrap(bm25, "build_field_literals", "ingest.field_literals")
        self.wrap(bm25, "build_postings", "ingest.build_postings")
        self.wrap(incremental, "upsert_postings", "incremental.upsert")
        frame = type(bench.spark.range(0))
        self.wrap(frame, "collect", "spark.collect")
        self.wrap(frame, "count", "spark.collect")
        self._wrap_catalyst(frame)

    def _wrap_catalyst(self, frame) -> None:
        """Record each collected query's Catalyst phase times."""
        inner = frame.collect
        tracer = self

        @functools.wraps(inner)
        def collect(df):
            rows = inner(df)
            t0 = time.perf_counter()
            phases = df._jdf.queryExecution().tracker().phases()
            tracer.catalyst.append((tracer.current_request(), {
                p: float(phases.get(p).get().durationMs())
                for p in CATALYST_PHASES if phases.get(p).isDefined()
            }))
            tracer._charge(time.perf_counter() - t0)
            return rows

        frame.collect = collect

    # --------------------------------------------------------- requests
    def begin_request(self, req: dict) -> None:
        t0 = time.perf_counter()
        self.sc.addJobTag(f"perfbench-{req['id']}")
        self._charge(time.perf_counter() - t0)
        self._local.request = self.open("request", req["id"])

    def end_request(self, req: dict) -> None:
        self.close(self._local.request)
        t0 = time.perf_counter()
        self.sc.removeJobTag(f"perfbench-{req['id']}")
        self._charge(time.perf_counter() - t0)

    def mark_run(self) -> None:
        """Start of the timed loop: the query cache's counters so far are
        the warm-up's."""
        from aruna_spark.sparql.engine import default_cache

        cache = default_cache()
        self.hits0, self.misses0 = cache.hits, cache.misses

    def upsert_before(self, table, postings) -> dict:
        """Write-path counters taken before an upsert: the new postings'
        row count and the table's size on disk. The count is one more Spark
        job in the write request, counted as tracing overhead."""
        t0 = time.perf_counter()
        stats = {"new_rows": postings.count(), "bytes": dir_bytes(table.path)}
        self._charge(time.perf_counter() - t0)
        return stats

    def upsert_after(self, table, before: int, after: int, n_docs: int,
                     stats: dict) -> None:
        """Affected shards, bytes written per document and rows rewritten
        per new row of one committed upsert, from the two manifests."""
        import pyarrow.parquet as pq

        t0 = time.perf_counter()
        new_leaves = sorted(set(table.files(after)) - set(table.files(before)))
        rows = 0
        for leaf in new_leaves:
            path = os.path.join(table.path, leaf)
            for name in os.listdir(path):
                if name.endswith(".parquet"):
                    rows += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
        self.upserts.append({
            "affected_shards": len(new_leaves),
            "bytes_written_per_doc": (dir_bytes(table.path) - stats["bytes"]) / n_docs,
            "rows_rewritten_per_new_row": rows / max(stats["new_rows"], 1),
        })
        self._charge(time.perf_counter() - t0)

    # ------------------------------------------------------------- end
    def finish(self) -> None:
        """Read the Spark counters of every tagged job and the query
        cache's counters for the timed loop."""
        from aruna_spark.sparql.engine import default_cache

        cache = default_cache()
        self.cache_hits = cache.hits - self.hits0
        self.cache_misses = cache.misses - self.misses0
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jobs = self.spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
            jsc.statusStore().jobsList(None))
        for i in range(jobs.size()):
            job = jobs.get(i)
            tags = job.jobTags().mkString(",").split(",")
            for tag in tags:
                if not tag.startswith("perfbench-"):
                    continue
                c = self.jobs.setdefault(tag[len("perfbench-"):],
                                         {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0})
                c["jobs"] += 1
                c["stages"] += job.stageIds().size()
                c["tasks"] += job.numTasks()
                c["failed_tasks"] += job.numFailedTasks()

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "req": s.req}) + "\n")


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(root, name))
    return total
