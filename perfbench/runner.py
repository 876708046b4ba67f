"""One benchmark run: set-up, a closed loop of clients, and the results.

The caller sets the environment (see ``run.isolate``) before this module
imports ``aruna_spark``. ``Bench.setup`` starts the session, materializes
the triples and postings stores into the run's empty store directory and
sends warm-up requests; ``Bench.run`` then replays the script with one
thread per client, each sending its next request only after the previous
one returned. Each request is timed around the engine call and the collect
of its result; answers are checked after the loop (see ``checks``), so
checking costs no time inside it.
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import corpus
from perfbench import script as scripts


@dataclass
class Record:
    """One request as sent and answered."""

    req: dict
    client: int
    start: float
    end: float
    response: object = None
    error: str | None = None
    context: dict = field(default_factory=dict)  # what the check needs

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class WriteLog:
    """Acknowledged writes, shared by the writer and the readers of
    ``ingest_search``. Each acknowledged document queues the searches that
    prove it: its marker must find it, and after an update the corpus
    document's id token must no longer find it."""

    def __init__(self):
        self._lock = threading.Lock()
        self._pending: list[tuple[str, str, str]] = []  # (expect, query, subject)
        self.acked: list[tuple[dict, list[dict]]] = []  # (request context, docs)
        self.docs_acked = 0
        self.writes_acked = 0

    def ack(self, ctx: dict, docs: list[dict]) -> None:
        with self._lock:
            self.acked.append((ctx, docs))
            self.writes_acked += 1
            self.docs_acked += len(docs)
            for d in docs:
                subject = f"{scripts.DOC_NS}{d['doc_id']}"
                self._pending.append(("found", d["marker"], subject))
                if d["update"]:
                    self._pending.append(("gone", str(d["doc_id"]), subject))

    def next_check(self) -> tuple[str, str, str] | None:
        with self._lock:
            return self._pending.pop(0) if self._pending else None


def _row(r) -> tuple:
    return tuple(None if v is None else str(v) for v in r)


def _search_hits(page) -> list[tuple]:
    return [(int(h.score_q), h.graph_iri, h.subject) for h in page.hits]


# requests per second of each client on a 4-core machine; a run sends
# ``--seconds`` times these (interactive_read: two readers; ingest_search:
# the writer's bulk writes, then two readers)
RATES = {"interactive_read": (0.8, 0.8), "ingest_search": (0.15, 0.7, 0.7)}


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, corpus_dir: str,
                 tracer=None):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.corpus_dir = corpus_dir
        self.tracer = tracer
        self.script = scripts.make_script(workload, seed)
        counts = [max(1, round(seconds * r)) for r in RATES[workload]]
        self.sent = [reqs[:n] for reqs, n in zip(self.script["clients"], counts)]
        self.writes = WriteLog()
        self.setup_parts: dict[str, float] = {}
        self.records: list[Record] = []
        self.warmup: list[Record] = []

    # ----------------------------------------------------------- set-up
    def setup(self) -> None:
        from aruna_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from aruna_spark import store
        from aruna_spark.api import Engine

        store.triples_store(self.spark, self.corpus_dir)
        t2 = time.perf_counter()
        self.table = store.postings_table(self.spark, self.corpus_dir)
        t3 = time.perf_counter()
        self.engine = Engine(self.spark, self.corpus_dir)
        self.setup_parts.update(
            session_start_s=t1 - t0, triples_build_s=t2 - t1, postings_build_s=t3 - t2
        )
        if self.tracer is not None:
            self.tracer.install(self)
        t4 = time.perf_counter()
        threads = len(os.sched_getaffinity(0))
        self.warmup = self._loop(warmup_requests(self.script, self.sent, threads), until=None)
        self.setup_parts["warmup_s"] = time.perf_counter() - t4

    # -------------------------------------------------------- requests
    def execute(self, req: dict, walks: dict, ctx: dict):
        """Send one request through the engine and return its answer as
        plain Python values."""
        e, a, op = self.engine, req["args"], req["op"]
        if req["family"] == "sparql":
            return [_row(r) for r in e.sparql(a["text"])]
        if op == "search_first":
            page = e.search(a["q"], page_size=a["page_size"])
            walks[a["walk"]] = {"q": a["q"], "page_size": a["page_size"],
                                "cursor": page.next_cursor, "page": 1}
            ctx.update(walk=a["walk"], page=1, page_size=a["page_size"])
            return _search_hits(page)
        if op == "search_next":
            w = walks[a["walk"]]
            ctx.update(walk=a["walk"], page=w["page"] + 1, page_size=w["page_size"])
            if w["cursor"] is None:  # the walk's last page was reached
                ctx["ended"] = True
                return []
            page = e.search(w["q"], page_size=w["page_size"], cursor=w["cursor"])
            w.update(cursor=page.next_cursor, page=w["page"] + 1)
            return _search_hits(page)
        if op == "search_marker":
            check = self.writes.next_check()
            if check is None:  # nothing acknowledged yet: a plain search
                check = ("any", corpus_word(req["id"]), None)
            ctx.update(expect=check[0], q=check[1], subject=check[2],
                       page_size=a["page_size"])
            return _search_hits(e.search(check[1], page_size=a["page_size"]))
        if op == "ingest":
            return self.ingest(a["docs"], ctx)
        return self.execute_route(req)

    def execute_route(self, req: dict):
        from aruna_spark.catalog import load_table
        from pyspark.sql import functions as F

        e, a, op = self.engine, req["args"], req["op"]
        if op == "get_object":
            rng = a.get("range") or [None, None]
            return e.get_object(a["key"], range_start=rng[0], range_end=rng[1]).asDict()
        if op == "head_object":
            return e.head_object(a["key"])
        if op == "put_object":
            return e.put_object(a["key"], a["size"], a["blob_hash"]).asDict()
        if op == "list_objects":
            df = e.list_objects(prefix=a["prefix"], delimiter=a["delimiter"],
                                max_keys=a["max_keys"])
            return [(r.entry, r.kind) for r in df.collect()]
        if op == "list_object_versions":
            df = e.list_object_versions(prefix=a["prefix"], max_keys=a["max_keys"])
            return [(r.key, int(r.version_id[1:]), bool(r.is_delete_marker))
                    for r in df.collect()]
        if op == "metadata_listing":
            df = e.metadata_listing(order=a["order"], limit=a["limit"])
            return [int(r.user_id) for r in df.collect()]
        if op == "path_lookup":
            row = e.path_lookup(a["path"])
            return None if row is None else int(row.winner_doc_id)
        if op == "backlinks":
            return [_row(r) for r in e.backlinks(a["target"]).collect()]
        if op == "usage_counters":
            return [_row(r) for r in e.usage_counters(by_group=a["by_group"]).collect()]
        # the watch family reads the events of one user range
        events = load_table(self.spark, self.corpus_dir, "events").filter(
            F.col("user_id").between(a["user_lo"], a["user_hi"] - 1)
        )
        if op == "watch":
            df = e.watch(a["glob"], a["kinds"], events=events)
            return [int(r.event_id) for r in df.collect()]
        if op == "unread":
            return [_row(r) for r in e.unread(events=events).collect()]
        if op == "dashboard_epochs":
            return len(e.dashboard_epochs(events=events).collect())
        raise ValueError(f"unknown operation {op!r}")

    def ingest(self, docs: list[dict], ctx: dict):
        """The write path: JSON-LD ingest, then the changed documents'
        postings upserted into the live index. Acknowledged once the new
        index version is committed."""
        from aruna_spark.search import incremental
        from aruna_spark.search.bm25 import build_field_literals, build_postings

        tracer, table = self.tracer, self.table
        span = tracer.open("ingest.project") if tracer else None
        triples = self.engine.ingest_jsonld(self._documents(docs)).cache()
        try:
            ctx["triples"] = triples.count()
            if tracer:
                tracer.close(span)
            postings = build_postings(build_field_literals(triples))
            before = table.latest_version()
            if tracer:
                stats = tracer.upsert_before(table, postings)
            version = incremental.upsert_postings(
                table, self.spark, postings, triples.select("subject").distinct(),
            )
            if tracer:
                tracer.upsert_after(table, before, version, len(docs), stats)
        finally:
            triples.unpersist()
        ctx.update(before=before, version=version, n_docs=len(docs))
        self.writes.ack(ctx, docs)
        return version

    def _documents(self, docs: list[dict]):
        rows = [(str(d["doc_id"]), d["jsonld"]) for d in docs]
        return self.spark.createDataFrame(rows, "document_id string, jsonld string")

    def verify_writes(self) -> None:
        """After the loop, prove every acknowledged write: record the
        indexed tokens of each written subject (one read of the live
        index), and search through the route for the first write's marker
        and for the old id token of its first updated document."""
        from pyspark.sql import functions as F

        if not self.writes.acked:
            return
        subjects = [f"{scripts.DOC_NS}{d['doc_id']}" for _, docs in self.writes.acked
                    for d in docs]
        indexed: dict[str, set] = {s: set() for s in subjects}
        for r in (self.table.read(self.spark)
                  .filter(F.col("subject").isin(subjects))
                  .select("subject", "token").distinct().collect()):
            indexed[r.subject].add(r.token)
        for ctx, docs in self.writes.acked:
            ctx["indexed"] = {f"{scripts.DOC_NS}{d['doc_id']}":
                              sorted(indexed[f"{scripts.DOC_NS}{d['doc_id']}"]) for d in docs}
        ctx, docs = self.writes.acked[0]
        searches = [("found", docs[0])]
        searches += [("gone", d) for d in docs if d["update"]][:1]
        ctx["searches"] = []
        for expect, d in searches:
            q = d["marker"] if expect == "found" else str(d["doc_id"])
            hits = self.engine.search(q, page_size=10).hits
            ctx["searches"].append((expect, q, f"{scripts.DOC_NS}{d['doc_id']}",
                                    [h.subject for h in hits]))

    # ----------------------------------------------------------- the loop
    def _client(self, c: int, reqs: list[dict], deadline: float | None,
                out: list[Record]) -> None:
        walks: dict = {}
        for req in reqs:
            if deadline is not None and time.perf_counter() >= deadline:
                return
            rec = Record(req=req, client=c, start=time.perf_counter(), end=0.0)
            if self.tracer is not None:
                self.tracer.begin_request(req)
            try:
                rec.response = self.execute(req, walks, rec.context)
            except Exception:  # noqa: BLE001 - a failed request is a result
                rec.error = traceback.format_exc(limit=4)
            rec.end = time.perf_counter()
            if self.tracer is not None:
                self.tracer.end_request(req)
            out.append(rec)

    def _loop(self, clients: list[list[dict]], until: float | None) -> list[Record]:
        outs: list[list[Record]] = [[] for _ in clients]
        threads = [
            threading.Thread(target=self._client, args=(c, reqs, until, outs[c]),
                             name=f"client-{c}")
            for c, reqs in enumerate(clients)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return sorted((r for o in outs for r in o), key=lambda r: r.start)

    def run(self) -> None:
        """Send each client's share of the script: ``seconds`` times the
        client's nominal rate, so every run of a workload sends the same
        requests in the same order and takes about ``seconds`` on a 4-core
        machine. Nothing new is sent after four times ``seconds``."""
        if self.tracer is not None:
            self.tracer.mark_run()
        self.version_start = self.table.latest_version()
        self.t_start = time.perf_counter()
        self.records = self._loop(self.sent, until=self.t_start + 4 * self.seconds)
        self.t_end = time.perf_counter()
        self.version_end = self.table.latest_version()


def corpus_word(request_id: str) -> str:
    """A vocabulary word picked by request id (stable across runs)."""
    return corpus.VOCAB[sum(map(ord, request_id)) % len(corpus.VOCAB)]


def warmup_requests(script: dict, sent: list[list[dict]], threads: int) -> list[list[dict]]:
    """Requests sent before the timed loop and not part of the script: one
    of each read operation the workload sends, drawn with another seed and
    never equal to a scripted request, spread over ``threads`` warm-up
    threads (one per core: warming is set-up, not the measured loop). The
    first timed request of each kind then finds the engine's code paths
    compiled, as in a service that has been running. Writes are not warmed:
    the index must stay at version 0, so the first bulk write of an
    ``ingest_search`` run pays the write path's warm-up, the same way in
    every run."""
    timed = {scripts.request_key(r) for c in sent for r in c}
    other = scripts.make_script(script["workload"], script["seed"] + 1_000_003)
    firsts: dict[str, dict] = {}
    for reqs in other["clients"]:
        for r in reqs:
            if r["family"] != "write" and r["op"] not in ("search_next", "search_marker") \
                    and scripts.request_key(r) not in timed:
                firsts.setdefault(r["op"], r)
    warm = sorted(firsts.values(), key=lambda r: r["op"])
    if script["workload"] == "interactive_read":
        warm.append(next(r for r in other["clients"][0] if r["op"] == "put_object"))
    return [[dict(r, id=f"warm-{t}-{i}") for i, r in enumerate(warm[t::threads])]
            for t in range(threads)]


def dump_records(records: list[Record], path: str) -> None:
    with open(path, "w", encoding="utf-8") as f:
        for r in records:
            f.write(json.dumps({"id": r.req["id"], "op": r.req["op"], "ms": r.ms,
                                "error": r.error, "context": r.context,
                                "response": repr(r.response)[:2000]}) + "\n")
