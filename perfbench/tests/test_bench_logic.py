"""Tests of the benchmark's own logic (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import sys

import pytest

_HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [_HERE, os.path.dirname(_HERE)]

from pbench import inputs, oracles  # noqa: E402
from pbench.sparkobs import OpRecord, read_event_log  # noqa: E402
from pbench.spans import Span, Tracer, self_times  # noqa: E402
from pbench.stats import busy_frac, percentile, tail  # noqa: E402
from pbench.workloads import Ctx  # noqa: E402


# -- tail percentile ---------------------------------------------------------

@pytest.mark.parametrize("n, want_p", [
    (1, 50.0), (19, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
    (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0),
    (10_000, 99.9),
])
def test_tail_picks_highest_percentile_with_ten_beyond(n, want_p):
    values = [float(i) for i in range(1, n + 1)]
    value, p, count = tail(values)
    assert (p, count) == (want_p, n)
    if p > 50:
        # nearest rank: at least ten samples strictly above the value
        assert sum(1 for v in values if v > value) >= 10
        assert value == percentile(values, p)


def test_tail_of_small_sample_is_its_median():
    assert tail([3.0, 1.0, 2.0]) == (2.0, 50.0, 3)


def test_percentile_nearest_rank():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert percentile(xs, 100) == 5.0
    assert percentile(xs, 50) == 3.0
    assert percentile(xs, 1) == 1.0
    with pytest.raises(ValueError):
        percentile([], 50)


# -- self time ---------------------------------------------------------------

def _span(i, name, s, e, parent=None):
    return Span(i, name, s, e, parent, op_id=1)


def test_self_time_nested():
    spans = [_span(0, "api", 0.0, 10.0),
             _span(1, "route", 1.0, 6.0, 0),
             _span(2, "decode", 2.0, 3.0, 1),
             _span(3, "fetch", 6.0, 8.0, 0)]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[1] == pytest.approx(5 - 1)
    assert st[2] == pytest.approx(1)
    assert st[3] == pytest.approx(2)
    # self times of a tree add up to the root's duration
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_count_once():
    spans = [_span(0, "op", 0.0, 10.0),
             _span(1, "a", 1.0, 5.0, 0),
             _span(2, "b", 3.0, 7.0, 0),   # overlaps a by 2
             _span(3, "c", 9.0, 12.0, 0)]  # runs past the parent's end
    st = self_times(spans)
    # covered = [1, 7] + [9, 10] = 7
    assert st[0] == pytest.approx(3.0)


def test_tracer_records_parentage_and_disabled_records_nothing():
    tr = Tracer(True)
    op = tr.new_op()
    with tr.span("outer", op):
        with tr.span("inner", op):
            pass
    assert [s.name for s in tr.spans] == ["outer", "inner"]
    assert tr.spans[1].parent == 0 and tr.spans[0].parent is None
    assert all(s.end >= s.start for s in tr.spans)
    off = Tracer(False)
    with off.span("x", off.new_op()):
        pass
    assert off.spans == []


# -- busy fraction -------------------------------------------------------------

def test_busy_frac():
    # 4 cores for 2 s = 8 core-seconds; 2 s of task time = a quarter busy
    assert busy_frac(2000.0, 2000.0, 4) == pytest.approx(0.25)
    assert busy_frac(8000.0, 2000.0, 4) == pytest.approx(1.0)
    with pytest.raises(ValueError):
        busy_frac(1.0, 0.0, 4)


# -- oracle comparator ---------------------------------------------------------

WANT = [(1, 7, 3.25), (2, 3, 2.5), (3, 9, 2.5)]


def test_compare_equal_answers_pass():
    assert oracles.compare(list(WANT), WANT) is None
    assert oracles.compare([(1, 7, 3.25 + 1e-12), (2, 3, 2.5), (3, 9, 2.5)],
                           WANT) is None


@pytest.mark.parametrize("got", [
    [(1, 7, 3.25), (2, 3, 2.5)],                      # a hit lost
    [(1, 7, 3.25), (2, 9, 2.5), (3, 3, 2.5)],         # tie order swapped
    [(1, 7, 3.250001), (2, 3, 2.5), (3, 9, 2.5)],     # score off by 1e-6
    [(1, 8, 3.25), (2, 3, 2.5), (3, 9, 2.5)],         # wrong doc
    [(1, 7, float("nan")), (2, 3, 2.5), (3, 9, 2.5)],
])
def test_compare_perturbed_answer_fails(got):
    assert oracles.compare(got, WANT) is not None


def test_perturbed_answer_counts_as_failed_op():
    ctx = Ctx(None, "", 0, 1.0, 1, Tracer(False), None)
    for op, got in ((1, list(WANT)),
                    (2, [(1, 7, 3.25), (2, 3, 2.6), (3, 9, 2.5)]),
                    (2, [(1, 7, 3.25)])):
        why = oracles.compare(got, WANT)
        if why:
            ctx.fail(op, why)
    assert ctx.failed_ops == {2}
    assert len(ctx.failures) == 2


def test_round_half_up_and_rerank():
    assert oracles.round_half_up(0.0000005) == 0.000001
    assert oracles.round_half_up(2.4999994) == 2.499999
    ranked = oracles.rerank_rounded(
        [(5, 1.0000004), (2, 1.0000001), (9, 3.0)], k=2)
    # 5 and 2 tie after rounding: doc id breaks the tie
    assert ranked == [(1, 9, 3.0), (2, 2, 1.0)]


# -- inputs ----------------------------------------------------------------------

def test_inputs_are_a_function_of_the_seed():
    def make(seed):
        rng = random.Random(seed)
        docs = inputs.web_corpus(rng, 600)
        qs = inputs.query_stream(rng, 600, 12)
        code = inputs.code_corpus(rng, 20)
        waves = inputs.waves(rng, 600, 2, 5, 3)
        return inputs.digest(docs, qs, code, waves), qs, waves

    d1, qs, waves = make(5)
    assert make(5)[0] == d1
    assert make(6)[0] != d1
    # shapes cycle in a fixed order whatever the seed
    assert ['"' in q for q in qs] == [s in ("phrase", "term_phrase")
                                      for s in inputs.SHAPES] * 2
    # recrawls replace live ids; new ids are fresh and contiguous
    for w, wave in enumerate(waves):
        ids = [d["doc_id"] for d in wave]
        assert len(set(ids)) == len(ids)
        assert all(i < 600 + 5 * w for i in ids[:3])
        assert ids[3:] == list(range(600 + 5 * w, 600 + 5 * (w + 1)))


def test_every_query_shape_matches_documents():
    rng = random.Random(1)
    docs = inputs.web_corpus(rng, 512)
    texts = [f" {d['text']} " for d in docs]
    for shape in inputs.SHAPES:
        q = inputs.query(rng, 512, shape)
        terms = q.replace('"', "").split()
        phrases = [p for i, p in enumerate(q.split('"')) if i % 2]
        assert any(all(f" {t} " in x for t in terms)
                   and all(f" {p} " in x for p in phrases)
                   for x in texts), q


def test_query_batch_is_distinct_and_follows_the_shape_cycle():
    import re

    batch = inputs.query_batch(random.Random(2), 2048, 32)
    assert len(set(batch)) == 32
    for i, q in enumerate(batch):
        template = inputs.SHAPE_TEMPLATES[inputs.SHAPES[i % 6]]
        pattern = re.escape(template).replace(re.escape("{t}"), r"(\d+)")
        m = re.fullmatch(pattern, q)
        assert m and len(set(m.groups())) == 1 and int(m.group(1)) < 8, q
    with pytest.raises(ValueError):
        inputs.query_batch(random.Random(2), 512, 13)


# -- event log -------------------------------------------------------------------

def test_event_log_attribution(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000, "Properties": {"spark.jobGroup.id": "g1"}},
        # ungrouped job (a driver thread): attributed by submission time
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2],
         "Submission Time": 5500, "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 10,
                          "Memory Bytes Spilled": 4, "Disk Bytes Spilled": 1,
                          "Shuffle Write Metrics":
                              {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Metrics": {"Executor Run Time": 50, "JVM GC Time": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task Metrics": {"Executor Run Time": 7, "JVM GC Time": 1}},
    ]
    (app / "events_1_local-1").write_text(
        "\n".join(json.dumps(e) for e in events) + "\n")
    (app / "appstatus_local-1").write_text("")
    recs = [OpRecord(1, "api", "g1", 0.5, 2.0, 1.5),
            OpRecord(2, "wave", "g2", 5.0, 6.0, 1.0)]
    tot = read_event_log(str(tmp_path), recs)
    assert (tot[1].run_ms, tot[1].gc_ms, tot[1].n_tasks) == (150, 10, 2)
    assert (tot[1].shuffle_write_bytes, tot[1].spill_bytes) == (64, 5)
    assert (tot[2].run_ms, tot[2].n_tasks) == (7, 1)


# -- DuckDB oracle: corpus-level CTEs computed once ---------------------------

def test_split_ctes_is_quote_and_paren_aware():
    sql = ("WITH a AS (SELECT ')' AS x, f(1, (2)) AS y),\n"
           "b(t, u) AS (SELECT * FROM (VALUES ('it''s', 1)))\n"
           "SELECT * FROM a, b")
    ctes, tail = oracles.split_ctes(sql)
    assert ctes == [("a", "SELECT ')' AS x, f(1, (2)) AS y"),
                    ("b(t, u)", "SELECT * FROM (VALUES ('it''s', 1))")]
    assert tail == "SELECT * FROM a, b"
    assert oracles.split_ctes("SELECT 1") is None


def test_duck_oracle_matches_the_unrewritten_twins():
    pytest.importorskip("duckdb")
    from prosearch_spark.query.oracle_sql import mixed_topk_sql, topk_sql

    rng = random.Random(3)
    docs = inputs.web_corpus(rng, 300)
    qs = inputs.query_stream(rng, 300, 12)
    duck = oracles.DuckOracle(docs)
    try:
        names = {oracles._name(h) for h, _ in duck._shared}
        assert {"toks", "tf", "postings", "term_stats", "stats",
                "pos"} <= names
        assert "qterms" not in names and "scored" not in names
        for q in qs:
            sql = mixed_topk_sql(q, 10) if '"' in q else topk_sql(q, 10)
            want = [tuple(r) for r in duck.con.execute(sql).fetchall()]
            assert want, q
            assert duck.topk(q, 10) == want
    finally:
        duck.close()


# -- BENCHMARK.json agrees with what the runner prints -------------------------

def test_benchmark_json_lists_what_run_prints():
    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_UNITS)
    assert [m["unit"] for m in bench["end_to_end"]] == list(
        run.E2E_UNITS.values())
    assert [m["name"] for m in bench["per_layer"]] == list(run.LAYER_METRICS)
    assert [m["unit"] for m in bench["per_layer"]] == [
        run._layer_unit(n) for n in run.LAYER_METRICS]
    assert {w["name"] for w in bench["workloads"]} == set(
        __import__("pbench.workloads").workloads.WORKLOADS)
