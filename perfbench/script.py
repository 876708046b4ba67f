"""Seeded request scripts for the two workloads.

A script is a JSON document: per client, a fixed-length list of requests.
Each request names its family (``sparql``, ``search``, ``object``,
``catalog``, ``watch`` or ``write``), its operation and the arguments the
client passes to the engine, plus the parameters its answer check needs.
The same ``(workload, seed)`` gives a byte-identical script.

The sequence of operations is the same for every seed: families follow
their shares in an evenly spread cycle, operations a rotation inside each
family shuffled by a generator seeded with the workload's name (which also
draws each request's cost-setting shape, see ``shape``), and bulk sizes a
fixed cycle over 1..8. The seed draws what each request asks for
(literals, keys, query words, documents), so runs with different seeds send
the same mix of work in the same order and compare request for request.
"""

from __future__ import annotations

import hashlib
import json
import random

from perfbench import corpus

WORKLOADS = ("interactive_read", "ingest_search")
SCRIPT_LEN = 200  # requests per client; a run sends a prefix (runner.RATES)

# slots per block: sparql 30%, search 25%, the object plane 20%, catalog
# 15%, watch 10%. Three of the four object-plane slots are PutObject, the
# object plane's write, so that a run has enough writes for a steady median
READ_BLOCK = (
    ["sparql"] * 6 + ["search"] * 5 + ["object"] + ["write"] * 3 + ["catalog"] * 3
    + ["watch"] * 2
)
# ingest_search's readers send the same mix with object reads in place of
# PutObject, so the workload's writes are the writer's bulk ingests alone
INGEST_READER_BLOCK = [f if f != "write" else "object" for f in READ_BLOCK]

FAMILY_OPS = {
    "sparql": ["sparql_bgp", "sparql_optional", "sparql_group", "sparql_path", "sparql_ask"],
    "search": ["search_first", "search_first", "search_next"],
    "object": ["list_objects", "get_object", "head_object", "list_object_versions"],
    "write": ["put_object"],
    "catalog": ["metadata_listing", "path_lookup", "backlinks", "usage_counters"],
    "watch": ["watch", "unread", "dashboard_epochs"],
}

PREFIXES = (
    "PREFIX schema: <http://schema.org/> "
    "PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> "
)
DOC_NS = "urn:aruna:doc:"
COLL_NS = "urn:aruna:collection:"
N_COLLECTIONS = 7
PROFILE_NS = "urn:aruna:profile:"
N_PROFILES = 4
WRITER_LEN = 100
# documents per bulk write, in a fixed order so that every run writes the
# same amounts whatever its seed; every prefix averages 4 to 4.5 documents,
# so a run's documents per write barely depend on how many writes it ends
BULK_SIZES = [4, 5, 3, 6, 2, 7, 1, 8]
# new document ids start past the corpus, so a new id never collides
NEW_DOC_BASE = 1_000_000


# ------------------------------------------------------------ read requests
def sparql_text(op: str, a: dict) -> str:
    if op == "sparql_bgp":
        return PREFIXES + (
            f'SELECT ?s ?n WHERE {{ ?s schema:inLanguage "{a["lang"]}" . '
            f"?s schema:contentSize ?n . "
            f'FILTER(?n >= {a["lo"]} && ?n < {a["hi"]}) }}'
        )
    if op == "sparql_optional":
        return PREFIXES + (
            f'SELECT ?s ?d WHERE {{ ?s schema:keywords "{a["kw"]}" . '
            f"?s schema:contentSize ?n . "
            f'FILTER(?n >= {a["lo"]} && ?n < {a["hi"]}) '
            f"OPTIONAL {{ ?s schema:description ?d }} }}"
        )
    if op == "sparql_group":
        return PREFIXES + (
            "SELECT ?l (COUNT(?s) AS ?c) WHERE { ?s schema:inLanguage ?l . "
            f'?s schema:contentSize ?n . FILTER(?n > {a["min"]}) }} GROUP BY ?l'
        )
    if op == "sparql_path":
        return PREFIXES + (
            f'SELECT ?s WHERE {{ ?s schema:isPartOf+ <{COLL_NS}{a["coll"]}> . '
            f"?s schema:contentSize ?n . "
            f'FILTER(?n >= {a["lo"]} && ?n < {a["hi"]}) }}'
        )
    if op == "sparql_ask":
        return PREFIXES + (
            f'ASK {{ <{DOC_NS}{a["doc"]}> schema:inLanguage "{a["lang"]}" }}'
        )
    raise ValueError(op)


def object_key(doc_id: int) -> str:
    """The catalog key of a corpus document (``sources/objects.py``)."""
    d = corpus.corpus_documents()
    return f"data/{d['source'][doc_id]}/{d['lang'][doc_id]}/doc-{doc_id}.txt"


def _query_words(rng: random.Random, k: int) -> str:
    return " ".join(rng.sample(corpus.VOCAB, k))


def shape(order: random.Random, op: str) -> dict:
    """The choices of a request that set its cost (page sizes, listing
    limits, range widths, query lengths), drawn from the workload's fixed
    order generator so that they are the same for every seed."""
    if op == "sparql_bgp":
        return {"width": order.randrange(5, 40)}
    if op == "sparql_path":
        return {"width": order.randrange(5, 40), "coll": order.randrange(N_COLLECTIONS)}
    if op == "sparql_optional":
        return {"width": order.randrange(40, 160), "kw": order.choice(corpus.VOCAB[:12])}
    if op == "search_first":
        return {"words": order.choice([1, 2, 2, 3]), "page_size": order.choice([10, 20])}
    if op == "list_objects":
        if order.random() < 0.5:
            return {"delimiter": "/", "max_keys": order.choice([10, 50, 100])}
        return {"delimiter": None, "max_keys": order.choice([5, 20])}
    if op == "list_object_versions":
        return {"max_keys": order.choice([10, 30])}
    if op == "get_object":
        return {"range": order.random() < 0.5}
    if op == "metadata_listing":
        return {"order": order.choice(["recent", "created"])}
    if op == "backlinks":
        return {"profile": order.random() < 0.4}
    if op == "usage_counters":
        return {"by_group": order.random() < 0.5}
    if op == "watch":
        return {"kinds": order.randrange(1, 4)}
    return {}


def _sparql_args(rng: random.Random, op: str, sh: dict) -> dict:
    lo = rng.randrange(40, 560)
    if op == "sparql_bgp":
        a = {"lang": rng.choice(corpus.LANGS), "lo": lo, "hi": lo + sh["width"]}
    elif op == "sparql_optional":
        a = {"kw": sh["kw"], "lo": lo, "hi": lo + sh["width"]}
    elif op == "sparql_group":
        a = {"min": rng.randrange(0, 600)}
    elif op == "sparql_path":
        a = {"coll": sh["coll"], "lo": lo, "hi": lo + sh["width"]}
    else:
        a = {"doc": rng.randrange(corpus.N_DOCS), "lang": rng.choice(corpus.LANGS)}
    a["text"] = sparql_text(op, a)
    return a


def _object_args(rng: random.Random, op: str, sh: dict) -> dict:
    src = f"src{rng.randrange(corpus.N_SOURCES)}"
    lang = rng.choice(corpus.LANGS)
    if op == "list_objects":
        prefix = f"data/{src}/" if sh["delimiter"] else f"data/{src}/{lang}/"
        return {"prefix": prefix, "delimiter": sh["delimiter"], "max_keys": sh["max_keys"]}
    if op == "list_object_versions":
        return {"prefix": f"data/{src}/{lang}/", "max_keys": sh["max_keys"]}
    doc = rng.randrange(corpus.N_DOCS)
    a = {"doc": doc, "key": object_key(doc)}
    if sh.get("range"):
        a["range"] = [0, rng.randrange(1, 40)]
    if op == "put_object":
        a["size"] = rng.randrange(1, 10_000)
        a["blob_hash"] = hashlib.sha256(repr(rng.random()).encode()).hexdigest()
    return a


def _catalog_args(rng: random.Random, op: str, sh: dict) -> dict:
    if op == "metadata_listing":
        return {"order": sh["order"], "limit": rng.randrange(10, 200)}
    if op == "path_lookup":
        return {"path": f"p/{rng.randrange(60)}"}
    if op == "backlinks":
        if sh["profile"]:
            return {"target": f"{PROFILE_NS}{rng.randrange(N_PROFILES)}"}
        return {"target": f"{COLL_NS}{rng.randrange(N_COLLECTIONS)}"}
    return {"by_group": sh["by_group"]}


def _watch_args(rng: random.Random, op: str, sh: dict) -> dict:
    lo = rng.randrange(0, corpus.N_USERS - 60)
    a = {"user_lo": lo, "user_hi": lo + rng.randrange(20, 60)}
    if op == "watch":
        a["glob"] = f"users/{rng.randrange(1, 10)}*/*"
        a["kinds"] = sorted(rng.sample(corpus.EVENT_TYPES, sh["kinds"]))
    return a


ARGS = {"sparql": _sparql_args, "object": _object_args, "write": _object_args,
        "catalog": _catalog_args, "watch": _watch_args}


def _request(family: str, op: str, args: dict) -> dict:
    return {"family": family, "op": op, "args": args}


def request_key(req: dict) -> str:
    return json.dumps([req["op"], req["args"]], sort_keys=True)


class _Rotation:
    """Each item of ``items`` once per round, in a seeded order."""

    def __init__(self, rng: random.Random, items: list):
        self.rng, self.items, self.queue = rng, items, []

    def next(self):
        if not self.queue:
            self.queue = list(self.items)
            self.rng.shuffle(self.queue)
        return self.queue.pop()


def _families(block: list[str], n: int, offset: int) -> list[str]:
    """``n`` families in the block's shares, spread evenly (smooth weighted
    round robin), so that any stretch of the sequence has close to the
    block's mix. ``offset`` starts each client at another point of the
    cycle."""
    weights = {f: block.count(f) for f in dict.fromkeys(block)}
    current = dict.fromkeys(weights, 0)
    out = []
    for _ in range(n + offset):
        for f, w in weights.items():
            current[f] += w
        pick = max(current, key=current.get)
        current[pick] -= len(block)
        out.append(pick)
    return out[offset:]


class _Walks:
    """Search walks of one client: a first page opens a walk, and a later
    continuation presents the cursor of that walk's latest page. A walk
    stops after four pages."""

    MAX_PAGES = 4

    def __init__(self, order: random.Random, rng: random.Random, client: int):
        self.order, self.rng, self.client = order, rng, client
        self.open: dict[str, int] = {}  # walk id -> pages issued
        self.n = 0

    def request(self, op: str) -> dict:
        if op == "search_next" and self.open:
            walk = self.order.choice(sorted(self.open))
            self.open[walk] += 1
            if self.open[walk] >= self.MAX_PAGES:
                del self.open[walk]
            return _request("search", "search_next", {"walk": walk})
        walk = f"c{self.client}w{self.n}"
        self.n += 1
        self.open[walk] = 1
        sh = shape(self.order, "search_first")
        return _request("search", "search_first", {
            "q": _query_words(self.rng, sh["words"]),
            "page_size": sh["page_size"],
            "walk": walk,
        })


def _reads(order: random.Random, rng: random.Random, client: int, block: list[str],
           seen: set[str], search=None) -> list[dict]:
    """Distinct read requests: every request text is new to the run, so no
    cache can serve it. ``search(op)`` overrides how search slots fill."""
    walks = _Walks(order, rng, client)
    ops = {f: _Rotation(order, o) for f, o in FAMILY_OPS.items()}
    reqs = []
    for fam in _families(block, SCRIPT_LEN, offset=7 * client):
        op = ops[fam].next()
        if fam == "search":
            reqs.append((search or walks.request)(op))
            continue
        # backlinks has 11 targets and usage_counters 2 forms; only when
        # those run out does a request repeat (neither route has a cache)
        sh = shape(order, op)
        for _ in range(50):
            req = _request(fam, op, ARGS[fam](rng, op, sh))
            if request_key(req) not in seen:
                break
        seen.add(request_key(req))
        reqs.append(req)
    return reqs


# ------------------------------------------------------------------ ingest
def crate_jsonld(doc_id: int, marker: str, words: list[str]) -> str:
    """One generated RO-Crate entity. The marker token appears in no other
    document, so a search for it finds exactly this one."""
    return json.dumps(
        {
            "@id": f"{DOC_NS}{doc_id}",
            "@type": "schema:Dataset",
            "name": f"crate {marker}",
            "description": " ".join(words),
            "keywords": words[0],
            "identifier": f"bench-{marker}",
        },
        sort_keys=True,
    )


def _writer(rng: random.Random, seed: int) -> list[dict]:
    """Bulk writes of 1-8 documents, half new ids and half updates of
    corpus documents. Each corpus document is updated at most once, so its
    old postings are the corpus's; ids below 10 are skipped because their
    id token is one character, shorter than a valid query."""
    update_ids = list(range(10, corpus.N_DOCS))
    rng.shuffle(update_ids)
    new_id = NEW_DOC_BASE
    reqs = []
    for i in range(WRITER_LEN):
        docs = []
        for j in range(BULK_SIZES[i % len(BULK_SIZES)]):
            marker = f"mk{seed}x{i}x{j}"
            words = rng.choices(corpus.VOCAB, k=rng.randint(3, 12))
            if (i + j) % 2:
                doc_id, update = update_ids.pop(), True
            else:
                doc_id, update = new_id, False
                new_id += 1
            docs.append({"doc_id": doc_id, "update": update, "marker": marker,
                         "jsonld": crate_jsonld(doc_id, marker, words)})
        reqs.append(_request("write", "ingest", {"docs": docs}))
    return reqs


def _ingest_readers(order: random.Random, rng: random.Random) -> list[list[dict]]:
    """Two readers. Half of the first reader's first pages are replaced by
    ``search_marker``: a search for a token of the oldest acknowledged write
    not yet checked, chosen at run time (see ``runner``)."""
    seen: set[str] = set()
    walks = _Walks(order, rng, 1)

    def search(op: str) -> dict:
        if op == "search_next" or order.random() < 0.5:
            return walks.request(op)
        return _request("search", "search_marker", {"page_size": 10})

    return [_reads(order, rng, 1, INGEST_READER_BLOCK, seen, search),
            _reads(order, rng, 2, INGEST_READER_BLOCK, seen)]


def make_script(workload: str, seed: int) -> dict:
    if workload not in WORKLOADS:
        raise ValueError(f"unknown workload {workload!r}")
    order = random.Random(f"{workload}:order")
    rng = random.Random(f"{workload}:{seed}")
    if workload == "interactive_read":
        seen: set[str] = set()
        clients = [_reads(order, rng, c, READ_BLOCK, seen) for c in range(2)]
    else:
        clients = [_writer(rng, seed), *_ingest_readers(order, rng)]
    for c, reqs in enumerate(clients):
        for i, req in enumerate(reqs):
            req["id"] = f"{c}-{i}"
    return {"workload": workload, "seed": seed, "clients": clients}


def dumps(script: dict) -> str:
    return json.dumps(script, sort_keys=True, separators=(",", ":"))
