"""Tests of the benchmark itself: script determinism, the answer checks,
and a smoke run of each workload through the command line.

Run from the repository root: ``python3 -m pytest perfbench/tests -q``.
The smoke runs start Spark and take about a minute each.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

import pytest

from perfbench import checks, corpus, script
from perfbench.runner import Record

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.mark.parametrize("workload", script.WORKLOADS)
def test_same_seed_same_script_other_seed_other_script(workload):
    a = script.dumps(script.make_script(workload, 7))
    assert a == script.dumps(script.make_script(workload, 7))
    assert a != script.dumps(script.make_script(workload, 8))


@pytest.mark.parametrize("workload", script.WORKLOADS)
def test_operation_sequence_is_the_same_for_every_seed(workload):
    ops = [[r["op"] for r in c] for c in script.make_script(workload, 1)["clients"]]
    assert ops == [[r["op"] for r in c] for c in script.make_script(workload, 2)["clients"]]


def test_interactive_sparql_texts_never_repeat():
    s = script.make_script("interactive_read", 3)
    texts = [r["args"]["text"] for c in s["clients"] for r in c if r["family"] == "sparql"]
    assert len(texts) == len(set(texts))


@pytest.fixture(scope="module")
def corpus_dir(tmp_path_factory):
    return corpus.ensure_corpus(str(tmp_path_factory.mktemp("work")))


def _record(req, response, context=None, client=0):
    return Record(req=req, client=client, start=0.0, end=0.0, response=response,
                  context=context or {})


def _first(workload, op):
    return next(r for c in script.make_script(workload, 5)["clients"] for r in c
                if r["op"] == op)


def test_corrupted_responses_count_as_failed(corpus_dir):
    """A correct answer passes each check; the same answer corrupted fails."""
    sparql = _first("interactive_read", "sparql_group")
    want = sorted(checks.sparql_expected(sparql["op"], sparql["args"], corpus_dir))
    wrong_rows = [(lang, str(int(n) + 1)) for lang, n in want]

    doc = next(i for i in range(corpus.N_DOCS) if i % 13 != 3)
    get = {"family": "object", "op": "get_object", "id": "g",
           "args": {"doc": doc, "key": script.object_key(doc)}}
    etag = hashlib.md5(f"{get['args']['key']}:{doc % 3}".encode()).hexdigest()
    good_get = {"status": 200, "resolved_version_id": f"v{doc % 3}", "etag": etag}

    page = {"family": "search", "op": "search_first", "id": "s", "args": {}}
    ctx = {"walk": "w", "page": 1, "page_size": 3}
    hits = [(9, "g1", "a"), (7, "g1", "b"), (7, "g2", "a")]

    records = [
        _record(sparql, want),
        _record(sparql, wrong_rows),
        _record(get, good_get),
        _record(get, dict(good_get, status=404)),
        _record(page, hits, ctx),
        _record(page, list(reversed(hits)), dict(ctx, walk="w2")),
    ]
    verdicts = checks.check_all(records, corpus_dir, read_only=True)
    assert [v.ok for v in verdicts] == [True, False, True, False, True, False]


def test_cursor_walk_repeating_a_hit_fails(corpus_dir):
    page = {"family": "search", "op": "search_next", "id": "s", "args": {}}
    first = _record(page, [(9, "g", "a"), (8, "g", "b")],
                    {"walk": "w", "page": 1, "page_size": 2})
    second = _record(page, [(8, "g", "b"), (7, "g", "c")],
                     {"walk": "w", "page": 2, "page_size": 2})
    verdicts = checks.check_all([first, second], corpus_dir, read_only=True)
    assert [v.ok for v in verdicts] == [True, False]


@pytest.mark.parametrize("workload", script.WORKLOADS)
def test_smoke_run_passes_every_check(workload):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", "3", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, out.stdout
    assert result["attempted"] >= 2
