"""Answer checks. Each request's answer is compared with an answer derived
independently of the engine, and a wrong answer counts as a failed
request:

- SPARQL results against DuckDB SQL over ``documents.parquet``, following
  the projection rules in the ``ingest/doc_triples.py`` docstring;
- Get/Head/Put status and version against the catalog rules in the
  ``sources/objects.py`` docstring (versions ``0..doc_id % 3``; a delete
  marker on top when ``doc_id % 13 == 3``, which Get/Head answer 404), and
  listings against the same catalog computed in Python;
- search pages sorted by ``(score_q desc, graph_iri, subject)``, no longer
  than the page size; a read-only cursor walk never repeats a hit;
- in ``ingest_search``, an acknowledged document's marker finds it, and an
  updated corpus document is no longer found by its old id token;
- path lookups, backlinks and watch matches against the corpus.
"""

from __future__ import annotations

import functools
import hashlib
import re
from dataclasses import dataclass

from perfbench import corpus, script

DELETE_MOD, DELETE_RESIDUE = 13, 3


@dataclass
class Verdict:
    record: object
    ok: bool
    reason: str = ""


class Wrong(Exception):
    pass


def _expect(cond: bool, msg: str) -> None:
    if not cond:
        raise Wrong(msg)


# ---------------------------------------------------------------- sparql
@functools.cache
def _duck(corpus_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE docs AS SELECT * FROM read_parquet(?)",
        [f"{corpus_dir}/documents.parquet"],
    )
    return con


def _descendants(coll: int) -> list[int]:
    """Collections whose isPartOf chain reaches ``coll`` (itself included):
    collection k > 0 is part of (k - 1) // 2."""
    out = {coll}
    for k in range(script.N_COLLECTIONS):
        c = k
        while c > 0 and c not in out:
            c = (c - 1) // 2
        if c in out:
            out.add(k)
    return sorted(out)


def sparql_expected(op: str, a: dict, corpus_dir: str) -> set[tuple]:
    con = _duck(corpus_dir)
    doc = f"'{script.DOC_NS}' || doc_id"
    if op == "sparql_bgp":
        sql = (f"SELECT {doc}, CAST(n_chars AS VARCHAR) FROM docs "
               "WHERE lang = ? AND n_chars >= ? AND n_chars < ?")
        params = [a["lang"], a["lo"], a["hi"]]
    elif op == "sparql_optional":
        sql = (f"SELECT {doc}, CASE WHEN n_chars >= 200 THEN substring(text, 1, 80) END "
               "FROM docs WHERE split_part(text, ' ', 1) = ? "
               "AND n_chars >= ? AND n_chars < ?")
        params = [a["kw"], a["lo"], a["hi"]]
    elif op == "sparql_group":
        sql = ("SELECT lang, CAST(count(*) AS VARCHAR) FROM docs "
               "WHERE n_chars > ? GROUP BY lang")
        params = [a["min"]]
    elif op == "sparql_path":
        colls = ", ".join(map(str, _descendants(a["coll"])))
        sql = (f"SELECT {doc} FROM docs WHERE doc_id % 7 IN ({colls}) "
               "AND n_chars >= ? AND n_chars < ?")
        params = [a["lo"], a["hi"]]
    elif op == "sparql_ask":
        sql = "SELECT count(*) > 0 FROM docs WHERE doc_id = ? AND lang = ?"
        params = [a["doc"], a["lang"]]
    else:
        raise ValueError(op)
    rows = con.cursor().execute(sql, params).fetchall()
    return {tuple(None if v is None else str(v) for v in r) for r in rows}


def check_sparql(rec, corpus_dir: str) -> None:
    got = rec.response
    want = sparql_expected(rec.req["op"], rec.req["args"], corpus_dir)
    _expect(len(got) == len(set(got)), "duplicate solution rows")
    _expect(set(got) == want, f"{len(got)} rows, expected {len(want)}")


# ---------------------------------------------------------------- objects
def _catalog_entry(doc_id: int) -> tuple[int, bool]:
    """(latest materialized version index, delete marker on top)."""
    return doc_id % 3, doc_id % DELETE_MOD == DELETE_RESIDUE


def _corpus_keys() -> list[tuple[str, int]]:
    return sorted((script.object_key(i), i) for i in range(corpus.N_DOCS))


def check_object(rec) -> None:
    op, a, resp = rec.req["op"], rec.req["args"], rec.response
    if op in ("get_object", "head_object"):
        max_v, deleted = _catalog_entry(a["doc"])
        if deleted:
            _expect(resp["status"] == 404, f"status {resp['status']} on a delete marker")
            return
        want = 206 if a.get("range") else 200
        _expect(resp["status"] == want, f"status {resp['status']}, expected {want}")
        _expect(resp["resolved_version_id"] == f"v{max_v}",
                f"version {resp['resolved_version_id']}, expected v{max_v}")
        etag = hashlib.md5(f"{a['key']}:{max_v}".encode()).hexdigest()
        _expect(resp["etag"] == etag, "etag differs")
        if a.get("range"):
            _expect(resp["content_length"] == a["range"][1] + 1, "range length")
    elif op == "put_object":
        max_v, deleted = _catalog_entry(a["doc"])
        want = max_v + 1 + int(deleted)
        _expect(int(resp["version_idx"]) == want,
                f"new version {resp['version_idx']}, expected {want}")
        _expect(bool(resp["is_latest"]), "new version is not the head")
    elif op == "list_objects":
        live = [k for k, i in _corpus_keys()
                if k.startswith(a["prefix"]) and not _catalog_entry(i)[1]]
        if a["delimiter"]:
            entries, seen = [], set()
            for k in live:
                rest = k[len(a["prefix"]):]
                if a["delimiter"] in rest:
                    cp = a["prefix"] + rest.split(a["delimiter"], 1)[0] + a["delimiter"]
                    if cp not in seen:
                        seen.add(cp)
                        entries.append((cp, "common_prefix"))
                else:
                    entries.append((k, "key"))
            want = entries[: a["max_keys"]]
        else:
            want = [(k, "key") for k in live[: a["max_keys"]]]
        _expect([tuple(e) for e in resp] == want, "listing page differs")
    elif op == "list_object_versions":
        want = []
        for k, i in _corpus_keys():
            if k.startswith(a["prefix"]):
                max_v, deleted = _catalog_entry(i)
                top = max_v + int(deleted)
                want.extend((k, v, deleted and v == top) for v in range(top, -1, -1))
        _expect([tuple(e) for e in resp] == want[: a["max_keys"]], "versions page differs")


# ----------------------------------------------------------------- search
def _sorted_page(hits: list) -> bool:
    keys = [(-s, g, subj) for s, g, subj in hits]
    return keys == sorted(keys)


def check_search(rec, walks: dict, read_only: bool) -> None:
    hits, ctx = rec.response, rec.context
    _expect(len(hits) <= ctx["page_size"], f"{len(hits)} hits on a page of {ctx['page_size']}")
    _expect(_sorted_page(hits), "page not in (score_q desc, graph_iri, subject) order")
    if "walk" in ctx:
        if ctx.get("ended"):
            return
        pages = walks.setdefault((rec.client, ctx["walk"]), [])
        if read_only:
            # under concurrent writes BM25 scores move between pages, so
            # only a read-only walk is held to no repeats
            seen = {h[2] for p in pages for h in p}
            _expect(not seen & {h[2] for h in hits}, "cursor walk repeated a hit")
        if pages and pages[-1] and hits:
            last, first = pages[-1][-1], hits[0]
            _expect((-last[0], last[1], last[2]) < (-first[0], first[1], first[2]),
                    "page does not start after the previous page")
        pages.append(hits)
    elif ctx.get("expect") == "found":
        _expect(any(h[2] == ctx["subject"] for h in hits),
                f"acknowledged document {ctx['subject']} not found by {ctx['q']!r}")
    elif ctx.get("expect") == "gone":
        _expect(all(h[2] != ctx["subject"] for h in hits),
                f"updated document {ctx['subject']} still found by its old token")


# -------------------------------------------------------- catalog, watch
@functools.cache
def _events(corpus_dir: str):
    import pyarrow.parquet as pq

    t = pq.read_table(f"{corpus_dir}/events.parquet",
                      columns=["event_id", "user_id", "event_type"])
    return list(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def _glob_regex(glob: str) -> re.Pattern:
    # the script's globs are ``users/<digit>*/*``: ``*`` within one segment
    return re.compile("^" + re.escape(glob).replace(r"\*", "[^/]*") + "$")


def check_other(rec, corpus_dir: str) -> None:
    op, a, resp = rec.req["op"], rec.req["args"], rec.response
    if op == "path_lookup":
        k = int(a["path"].split("/")[1])
        # claims are (path p/{doc_id % 50}, doc_id); the winner has the
        # smallest md5(doc_id), then the smallest doc_id
        claimants = [i for i in range(corpus.N_DOCS) if i % 50 == k]
        want = min(claimants, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i),
                   default=None)
        _expect(resp == want, f"winner {resp}, expected {want}")
    elif op == "backlinks":
        target = a["target"]
        if target.startswith(script.COLL_NS):
            k = int(target[len(script.COLL_NS):])
            want = {f"{script.DOC_NS}{i}" for i in range(corpus.N_DOCS) if i % 7 == k}
            want |= {f"{script.COLL_NS}{c}" for c in range(1, script.N_COLLECTIONS)
                     if (c - 1) // 2 == k}
        else:
            k = int(target[len(script.PROFILE_NS):])
            want = {f"{script.DOC_NS}{i}" for i in range(corpus.N_DOCS) if i % 4 == k}
        got = [r[0] for r in resp]
        _expect(got == sorted(want), f"{len(got)} backlinks, expected {len(want)}")
    elif op == "metadata_listing":
        users = {u for _, u, _ in _events(corpus_dir)}
        _expect(len(resp) == min(a["limit"], len(users)), "listing length")
        _expect(len(set(resp)) == len(resp), "listing repeats a user")
    elif op == "watch":
        rx = _glob_regex(a["glob"])
        want = sorted(
            e for e, u, t in _events(corpus_dir)
            if a["user_lo"] <= u < a["user_hi"] and t in a["kinds"]
            and rx.match(f"users/{u}/{t}")
        )
        _expect(sorted(resp) == want, f"{len(resp)} matches, expected {len(want)}")
    elif op in ("unread", "usage_counters"):
        _expect(len(resp) > 0, "empty answer")
    elif op == "dashboard_epochs":
        _expect(resp > 0, "no epochs")
    elif op == "ingest":
        check_write(rec)
    else:
        raise ValueError(f"no check for operation {op!r}")


def check_write(rec) -> None:
    """An acknowledged write committed the next index version, and the
    live index holds each written document's marker; an updated corpus
    document keeps none of its old tokens (``doc``, its id, its source),
    which its new JSON-LD does not contain."""
    ctx = rec.context
    _expect(rec.response == ctx["before"] + 1,
            f"committed version {rec.response} after {ctx['before']}")
    _expect(ctx["triples"] >= 2 * ctx["n_docs"], "too few triples")
    _expect("indexed" in ctx, "write not verified after the run")
    for d in rec.req["args"]["docs"]:
        tokens = set(ctx["indexed"][f"{script.DOC_NS}{d['doc_id']}"])
        _expect(d["marker"] in tokens, f"marker of {d['doc_id']} not indexed")
        if d["update"]:
            old = {"doc", str(d["doc_id"]), corpus.corpus_documents()["source"][d["doc_id"]]}
            _expect(not tokens & old, f"old postings of {d['doc_id']} remain")
    for expect, q, subject, hits in ctx.get("searches", []):
        if expect == "found":
            _expect(subject in hits, f"{subject} not found by its marker {q!r}")
        else:
            _expect(subject not in hits, f"{subject} still found by its old token {q!r}")


def check_all(records: list, corpus_dir: str, read_only: bool) -> list[Verdict]:
    walks: dict = {}
    out = []
    for rec in records:
        try:
            if rec.error is not None:
                raise Wrong(rec.error.strip().splitlines()[-1])
            fam = rec.req["family"]
            if fam == "sparql":
                check_sparql(rec, corpus_dir)
            elif fam == "search":
                check_search(rec, walks, read_only)
            elif fam in ("object", "write") and rec.req["op"] != "ingest":
                check_object(rec)
            else:
                check_other(rec, corpus_dir)
            out.append(Verdict(rec, True))
        except Wrong as e:
            out.append(Verdict(rec, False, str(e)))
    return out
