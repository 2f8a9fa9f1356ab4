"""The benchmark's workloads. Each drives the program only through its public
API, times calls from outside, and checks every answer off the clock.

A workload function returns a ``Result``: the end-to-end metrics under
the benchmark's workload-independent names, the same numbers under the
names the workload reports them by, and the per-layer metrics.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from pbench import inputs, oracles
from pbench.spans import Tracer, self_times
from pbench.sparkobs import SparkOps
from pbench.stats import median, tail

# -- sizes (fixed: the seed changes content, never shape) ----------------------

SERVE_DOCS = 2048       # 8 topic regions of 256 doc ids
SERVE_K = 10
MSEARCH_BATCH = 32
# op schedule, repeated. Every run completes at least one full cycle, so
# each run's sample has the same composition whatever the machine's speed
SERVE_SCHEDULE = ("msearch", "api")
WEB_SCHEMA = "doc_id long, text string, title string, url string"

BUILD_FILES = 1000
BUILD_PROBES = 8

# the traced serve run's live-stack probe: base corpus + one recrawl wave
INGEST_BASE = 1024
INGEST_NEW = 64
INGEST_RECRAWL = 32


@dataclass
class Ctx:
    spark: object
    work: str          # per-run scratch directory
    seed: int
    seconds: float
    cores: int
    tracer: Tracer
    ops: SparkOps
    failures: list[str] = field(default_factory=list)
    failed_ops: set[int] = field(default_factory=set)
    checks: int = 0

    def fail(self, op_id: int, what: str) -> None:
        """Count operation ``op_id`` as failed (raised, timed out or
        answered wrongly)."""
        self.failures.append(what)
        self.failed_ops.add(op_id)


@dataclass
class Result:
    setup_s: float
    digest: str
    e2e: dict[str, float]
    named: dict[str, tuple[float, str]]
    layers: dict[str, float] = field(default_factory=dict)
    info: dict = field(default_factory=dict)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def _rows(df) -> list[tuple]:
    return [(r["rank"], r["doc_id"], r["score"]) for r in df.collect()]


def _table(spark, rows: list[dict], path: str):
    """The input table: the generated rows as one parquet file (written
    without Spark, so no input-side job runs), read back through Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    cols = list(rows[0])
    types = {c: pa.int64() if c == "doc_id" else pa.string() for c in cols}
    table = pa.table({c: pa.array([r[c] for r in rows], types[c])
                      for c in cols})
    os.makedirs(path)
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return spark.read.parquet(path)


def _ok_walls(ctx: Ctx, kind: str) -> list[float]:
    return [r.wall_s for r in ctx.ops.records if r.kind == kind and r.ok]


def _med_count(ctx: Ctx, kind: str, attr: str) -> float:
    vals = [len(r.job_ids) if attr == "jobs" else getattr(r, attr)
            for r in ctx.ops.records if r.kind == kind and r.ok]
    return float(median(vals)) if vals else 0.0


# -- serve ---------------------------------------------------------------------

def serve(ctx: Ctx) -> Result:
    """Read-only closed loop, one client: api searches interleaved with
    32-member msearch batches over a committed positional artifact."""
    from prosearch_spark.index.artifact import save_index
    from prosearch_spark.query.serve import ArtifactSearcher
    from prosearch_spark.session import query_mode

    spark, tr = ctx.spark, ctx.tracer
    t_setup = time.perf_counter()
    rng = random.Random(ctx.seed)
    docs = inputs.web_corpus(rng, SERVE_DOCS)
    api_qs = inputs.query_stream(rng, SERVE_DOCS, 64)
    batches = [inputs.query_batch(rng, SERVE_DOCS, MSEARCH_BATCH)
               for _ in range(8)]
    # a shape the first timed api calls do not use, so the warm-up never
    # answers one of their queries in advance
    warm_q = inputs.query(rng, SERVE_DOCS, "and3")
    dig = inputs.digest(docs, api_qs, batches)

    src = _table(spark, docs, os.path.join(ctx.work, "serve_docs"))
    path = os.path.join(ctx.work, "serve_index")
    art = save_index(spark, src, path, text_col="text", with_positions=True)
    art.write_doc_store(src, ["title", "url", "text"])
    searcher = ArtifactSearcher(spark, art)
    with query_mode(spark):
        # the process's first query compiles the read path's plans; it is
        # set-up, so the sample holds warm calls only
        searcher.api(warm_q, SERVE_K)
    setup_s = time.perf_counter() - t_setup

    answers: list[tuple[int, str, list[tuple]]] = []
    msearch_members = n_api = n_ms = 0
    t_end = time.perf_counter() + ctx.seconds
    with query_mode(spark):
        while (time.perf_counter() < t_end
               or n_api + n_ms < len(SERVE_SCHEDULE)):
            kind = SERVE_SCHEDULE[(n_api + n_ms) % len(SERVE_SCHEDULE)]
            op = tr.new_op()
            if kind == "api":
                q = api_qs[n_api % len(api_qs)]
                n_api += 1
                with ctx.ops.op("api", op) as rec:
                    got = (_api_traced(ctx, searcher, art, q, op)
                           if tr.enabled else _api(searcher, q))
                if rec.ok:
                    answers.append((op, q, got))
                else:
                    ctx.fail(op, f"api {q!r}: {rec.error}")
            else:
                batch = batches[n_ms % len(batches)]
                n_ms += 1
                with ctx.ops.op("msearch", op) as rec:
                    with tr.span("query.serve.msearch", op):
                        rows = searcher.msearch(batch, SERVE_K,
                                                round_to=6).collect()
                if rec.ok:
                    msearch_members += len(batch)
                    per: dict[int, list[tuple]] = {}
                    for r in rows:
                        per.setdefault(r["query_id"], []).append(
                            (r["rank"], r["doc_id"], r["score"]))
                    answers.extend((op, q, per.get(qi, []))
                                   for qi, q in enumerate(batch))
                else:
                    ctx.fail(op, f"msearch: {rec.error}")
        profiles = []
        if tr.enabled:
            # pruning counters come from the diagnostic endpoint, off the
            # latency sample: one profile per searched query
            for q in sorted(set(api_qs[:n_api])):
                op = tr.new_op()
                with ctx.ops.op("profile", op) as rec:
                    profiles.append(searcher.profile(q, SERVE_K))
                if not rec.ok:
                    ctx.fail(op, f"profile {q!r}: {rec.error}")

    # -- oracle: every answer vs the DuckDB twins, off the clock --
    t_check = time.perf_counter()
    duck = oracles.DuckOracle(docs)
    try:
        want = duck.multi_topk([q for _, q, _ in answers], SERVE_K)
    finally:
        duck.close()
    for op, q, got in answers:
        ctx.checks += 1
        why = oracles.compare(got, want[q])
        if why:
            ctx.fail(op, f"search {q!r}: {why}")

    content_bytes = sum(len(d["text"].encode()) for d in docs)
    api_ms = [w * 1000 for w in _ok_walls(ctx, "api")]
    ms_walls = _ok_walls(ctx, "msearch")
    if not api_ms or not ms_walls:
        raise RuntimeError("no api search or no msearch batch succeeded")
    t_val, t_p, t_n = tail(api_ms)
    qps = msearch_members / sum(ms_walls)
    stored = _dir_bytes(path) / content_bytes
    named = {
        "search_p50_ms": (median(api_ms), "ms"),
        "search_tail_ms": (t_val, "ms"),
        "msearch_qps": (qps, "queries/s"),
        "index_bytes_per_input_byte": (stored, "ratio"),
    }
    info = {"search_tail_percentile": t_p, "search_n": t_n,
            "msearch_batches": len(ms_walls), "n_docs": SERVE_DOCS,
            "content_bytes": content_bytes,
            "search_timing": "warm: one api call in set-up",
            "check_s": time.perf_counter() - t_check}
    layers = {
        "spark.jobs_per_search": _med_count(ctx, "api", "jobs"),
        "spark.stages_per_search": _med_count(ctx, "api", "n_stages"),
        "spark.tasks_per_search": _med_count(ctx, "api", "n_tasks"),
        "spark.jobs_per_msearch": _med_count(ctx, "msearch", "jobs"),
        "spark.tasks_per_msearch": _med_count(ctx, "msearch", "n_tasks"),
    }
    if tr.enabled:
        for name in ("query.serve.route", "index.artifact.fetch_docs",
                     "query.snippet.with_snippet", "analyzer.parse_query",
                     "query.serve.msearch", "query.serve.api"):
            layers[name + ("_self_ms" if name == "query.serve.api"
                           else "_ms")] = _self_med(tr, name)
        tot = sum(p["stats"].get("blocks_total", 0) for p in profiles)
        dec = sum(p["stats"].get("blocks_decoded", 0) for p in profiles)
        layers["query.block_engine.blocks_decoded_frac"] = (
            dec / tot if tot else 0.0)
        wand = [p for p in profiles if p["plan"] == "wand"]
        layers["query.block_engine.short_circuit_frac"] = (
            sum(1 for p in wand if p["stats"].get("short_circuit"))
            / len(wand) if wand else 0.0)
        layers.update(_ingest_probe(ctx, docs))
        waves, fresh = _ok_walls(ctx, "wave"), _ok_walls(ctx, "fresh")
        if waves:
            named["ingest_docs_per_s"] = (
                (INGEST_NEW + INGEST_RECRAWL) / waves[0], "docs/s")
        if fresh:
            named["fresh_search_ms"] = (fresh[0] * 1000, "ms")
    return Result(setup_s, dig, {"op_p50_ms": median(api_ms),
                                 "items_per_s": qps,
                                 "stored_bytes_per_input_byte": stored},
                  named, layers, info)


def _api(searcher, q: str) -> list[tuple]:
    res = searcher.api(q, SERVE_K)
    return [(h["doc"]["rank"], h["doc"]["doc_id"], h["doc"]["score"])
            for h in res["hits"]]


def _api_traced(ctx: Ctx, searcher, art, q: str, op: int) -> list[tuple]:
    """The api call decomposed into its public stages, each materialized
    inside its own span: parse, route, doc-store fetch, snippets."""
    from prosearch_spark.analyzer import parse_query_slop
    from prosearch_spark.query.snippet import with_snippet

    spark, tr = ctx.spark, ctx.tracer
    with tr.span("query.serve.api", op):
        with tr.span("analyzer.parse_query", op):
            clauses = parse_query_slop(q)
        with tr.span("query.serve.route", op):
            hits, _plan = searcher.route(q, SERVE_K, round_to=6)
            hit_rows = hits.collect()
        with tr.span("index.artifact.fetch_docs", op):
            fetched = art.fetch_docs(
                spark.createDataFrame(hit_rows, hits.schema))
            f_rows = fetched.collect()
        terms = " ".join(c[0] if k == "term"
                         else " ".join(c[0]) if k == "slop"
                         else " ".join(c) for k, c in clauses)
        with tr.span("query.snippet.with_snippet", op):
            snips = with_snippet(spark.createDataFrame(f_rows, fetched.schema),
                                 terms, "text").collect()
    if len(snips) != len(hit_rows):
        raise RuntimeError("snippet stage lost rows")
    return sorted((r["rank"], r["doc_id"], r["score"]) for r in hit_rows)


def _self_med(tr: Tracer, name: str) -> float:
    vals = tr.self_ms(name)
    return median(vals) if vals else 0.0


def _ingest_probe(ctx: Ctx, docs: list[dict]) -> dict[str, float]:
    """Traced run only: the segment and streaming layers, measured on a
    live stack built from the served corpus — one recrawl wave through
    SegmentedStreamingIndexer.process_batch, a fresh routed query on the
    tombstoned as_artifact() view (checked against the DuckDB twin over
    the logical corpus), then one merge_once over every segment."""
    from prosearch_spark.query.serve import ArtifactSearcher
    from prosearch_spark.session import query_mode
    from prosearch_spark.streaming.ingest import SegmentedStreamingIndexer

    spark, tr = ctx.spark, ctx.tracer
    rng = random.Random(ctx.seed + 3)
    base = docs[:INGEST_BASE]
    wave = inputs.waves(rng, INGEST_BASE, 1, INGEST_NEW, INGEST_RECRAWL)[0]
    logical = {d["doc_id"]: d for d in base + wave}
    root = os.path.join(ctx.work, "stack")
    indexer = SegmentedStreamingIndexer(spark, root, text_col="text")
    indexer.process_batch(_frame(spark, base), 0)

    op = tr.new_op()
    with ctx.ops.op("wave", op) as rec:
        with tr.span("streaming.ingest.process_batch", op):
            indexer.process_batch(_frame(spark, wave), 1)
    if not rec.ok:
        ctx.fail(op, f"wave: {rec.error}")
        return {}
    q = inputs.query(rng, INGEST_BASE, "and2")
    n_segments = len(_segment_names(indexer))
    op = tr.new_op()
    with query_mode(spark), ctx.ops.op("fresh", op) as rec:
        with tr.span("query.serve.fresh_search", op):
            with tr.span("index.segments.as_artifact", op):
                view = indexer.index.as_artifact()
            with tr.span("query.serve.fresh_route", op):
                hits, _plan = ArtifactSearcher(spark, view).route(
                    q, SERVE_K, round_to=6)
                got = _rows(hits)
    if not rec.ok:
        ctx.fail(op, f"fresh search {q!r}: {rec.error}")
    else:
        ctx.checks += 1
        duck = oracles.DuckOracle(list(logical.values()))
        try:
            why = oracles.compare(got, duck.topk(q, SERVE_K))
        finally:
            duck.close()
        if why:
            ctx.fail(op, f"fresh search {q!r}: {why}")
    op = tr.new_op()
    with ctx.ops.op("merge", op) as rec:
        with tr.span("index.segments.merge_once", op):
            indexer.index.merge_once(
                candidates=sorted(_segment_names(indexer)))
    if not rec.ok:
        ctx.fail(op, f"merge_once: {rec.error}")
    in_bytes = sum(len(d["text"].encode()) for d in base + wave)
    return {
        "streaming.ingest.process_batch_ms":
            _self_med(tr, "streaming.ingest.process_batch"),
        "index.segments.merge_once_ms":
            _self_med(tr, "index.segments.merge_once"),
        "index.segments.as_artifact_ms":
            _self_med(tr, "index.segments.as_artifact"),
        "query.serve.fresh_route_ms": _self_med(tr, "query.serve.fresh_route"),
        "index.segments.merges": float(sum(
            1 for n in _segment_names(indexer) if not n.startswith("seg-b"))),
        "index.segments.n_segments_mean": float(n_segments),
        # every byte the stack wrote (merged-away segments stay on disk
        # until gc) over the bytes ingested
        "index.segments.write_amp":
            _dir_bytes(os.path.join(root, "segments")) / in_bytes,
        "spark.jobs_per_wave": _med_count(ctx, "wave", "jobs"),
        "spark.jobs_per_fresh_search": _med_count(ctx, "fresh", "jobs"),
    }


def _frame(spark, rows: list[dict]):
    return spark.createDataFrame(
        [(r["doc_id"], r["text"], r["title"], r["url"]) for r in rows],
        WEB_SCHEMA)


def _segment_names(indexer) -> set[str]:
    return {os.path.basename(a.path) for a in indexer.index.segments()}


# -- build ---------------------------------------------------------------------

def build(ctx: Ctx) -> Result:
    """Batch: bulk builds of one seeded source-code corpus, each into a
    fresh directory, through ResumableIndexBuild run -> finalize ->
    verify_content_sha with the code analyzer — the calls
    jobs/build_index_job.py makes. Builds repeat until the run's time is
    up; the first is cold (a fresh JVM, as under spark-submit) and is
    the one the end-to-end metrics report."""
    from prosearch_spark.index.lineage import ResumableIndexBuild

    spark, tr = ctx.spark, ctx.tracer
    t_setup = time.perf_counter()
    rng = random.Random(ctx.seed)
    files = inputs.code_corpus(rng, BUILD_FILES)
    dig = inputs.digest(files)
    src = _table(spark, files, os.path.join(ctx.work, "code_table"))
    content_bytes = sum(len(f["content"]) for f in files)
    setup_s = time.perf_counter() - t_setup

    built = []  # (op, artifact)
    t_end = time.perf_counter() + ctx.seconds
    while not built or time.perf_counter() < t_end:
        op = tr.new_op()
        b = ResumableIndexBuild(spark, src,
                                os.path.join(ctx.work, f"build{op}"),
                                text_col="content", analyzer="code",
                                n_splits=ctx.cores)
        with ctx.ops.op("build", op) as rec:
            with tr.span("index.lineage.build", op):
                with tr.span("index.lineage.run", op):
                    if tr.enabled:
                        # run() is this loop; split by split it shows skew
                        for k in sorted(set(range(b.n_splits))
                                        - b.completed_splits()):
                            with tr.span("index.lineage.split", op):
                                b.build_split(k)
                    else:
                        b.run()
                with tr.span("index.lineage.finalize", op):
                    art, _metrics = b.finalize()
                with tr.span("index.lineage.verify", op):
                    if not b.verify_content_sha():
                        raise RuntimeError("verify_content_sha failed")
        if not rec.ok:
            ctx.fail(op, f"build: {rec.error}")
            break
        built.append((op, art))

    # -- checks, off the clock --
    t_check = time.perf_counter()
    idx = oracles.code_oracle(files)
    for op, art in built:
        ctx.checks += 1
        m = art.manifest
        if m["n_docs"] != idx.n_docs or \
                abs(m["avgdl"] - idx.avgdl["body"]) > 1e-9 * idx.avgdl["body"]:
            ctx.fail(op, f"manifest n_docs/avgdl {m['n_docs']}/{m['avgdl']}"
                     f" vs oracle {idx.n_docs}/{idx.avgdl['body']}")
    if built:
        _probe(ctx, idx, built[0][1])
    walls = _ok_walls(ctx, "build")
    if not walls:
        raise RuntimeError("no build succeeded")
    files_per_s = BUILD_FILES / walls[0]
    art = built[0][1]
    stored = _dir_bytes(art.path) / content_bytes
    named = {
        "build_files_per_s": (files_per_s, "files/s"),
        "index_bytes_per_input_byte": (stored, "ratio"),
    }
    info = {"build_timing": "cold: the first build of a fresh JVM",
            "builds": len(walls), "warm_build_s": walls[1:],
            "n_files": BUILD_FILES, "content_bytes": content_bytes,
            "check_s": time.perf_counter() - t_check}
    layers = {"spark.jobs_per_build": float(len(ctx.ops.records[0].job_ids))}
    if tr.enabled:
        layers.update(_build_layers(ctx, src, art))
    return Result(setup_s, dig, {"op_p50_ms": walls[0] * 1000,
                                 "items_per_s": files_per_s,
                                 "stored_bytes_per_input_byte": stored},
                  named, layers, info)


def _probe(ctx: Ctx, idx, art) -> None:
    """Top-k of probe queries on the committed artifact vs the Python
    BM25 oracle over the same files (one msearch batch)."""
    from prosearch_spark.query.serve import ArtifactSearcher

    rng = random.Random(ctx.seed + 7)
    df = idx.df["body"]
    mid = sorted(t for t, c in df.items() if 3 <= c <= 200)
    hot = sorted(t for t, c in df.items() if c >= 150)
    probes = [rng.choice(mid) for _ in range(BUILD_PROBES // 2)]
    probes += [" ".join(rng.sample(hot, 2)) for _ in range(BUILD_PROBES // 2)]
    op = ctx.tracer.new_op()
    with ctx.ops.op("probe", op) as rec:
        rows = ArtifactSearcher(ctx.spark, art).msearch(
            probes, 10, round_to=6).collect()
    if not rec.ok:
        ctx.fail(op, f"probe msearch: {rec.error}")
        return
    per: dict[int, list[tuple]] = {}
    for r in rows:
        per.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score"]))
    for qi, q in enumerate(probes):
        ctx.checks += 1
        # the Python oracle sums in another order: scores agree to the
        # rounding step, not bit for bit
        why = oracles.compare(per.get(qi, []), oracles.code_topk(idx, q, 10),
                              tol=1e-6)
        if why:
            ctx.fail(op, f"probe {q!r}: {why}")


def _build_layers(ctx: Ctx, src, art) -> dict[str, float]:
    """Traced run only: lineage stage times from the spans, the two build
    kernels timed alone on the same input, and the committed shape."""
    from prosearch_spark.index.blocks import encode_blocks
    from prosearch_spark.index.build import build_index, term_frequencies

    spark, tr = ctx.spark, ctx.tracer
    first = ctx.ops.records[0].op_id  # the cold build
    def stage_s(name: str) -> float:
        st = self_times(tr.spans)
        return sum(st[s.span_id] for s in tr.spans
                   if s.name == name and s.op_id == first)

    splits = [s.duration for s in tr.spans
              if s.name == "index.lineage.split" and s.op_id == first]
    out = {
        "index.lineage.run_s": stage_s("index.lineage.run")
        + sum(splits),
        "index.lineage.split_p50_s": median(splits),
        "index.lineage.split_max_s": max(splits),
        "index.lineage.finalize_s": stage_s("index.lineage.finalize"),
        "index.lineage.verify_s": stage_s("index.lineage.verify"),
    }
    op = tr.new_op()
    with ctx.ops.op("term_frequencies", op) as rec:
        with tr.span("index.build.term_frequencies", op):
            term_frequencies(src, "content", "doc_id", "code", "lang") \
                .write.format("noop").mode("overwrite").save()
    if not rec.ok:
        ctx.fail(op, f"term_frequencies: {rec.error}")
    post = build_index(src, text_col="content", analyzer="code") \
        .postings.persist()
    post.count()
    op = tr.new_op()
    with ctx.ops.op("encode_blocks", op) as rec:
        with tr.span("index.blocks.encode_blocks", op):
            encode_blocks(post).write.format("noop").mode("overwrite").save()
    post.unpersist()
    if not rec.ok:
        ctx.fail(op, f"encode_blocks: {rec.error}")
    out["index.build.term_frequencies_s"] = \
        _self_med(tr, "index.build.term_frequencies") / 1000
    out["index.blocks.encode_blocks_s"] = \
        _self_med(tr, "index.blocks.encode_blocks") / 1000
    blocks = spark.read.parquet(os.path.join(art.path, "blocks"))
    n_post = blocks.groupBy().sum("n").collect()[0][0]
    out["index.build.n_postings"] = float(n_post)
    out["index.build.n_terms"] = float(art.term_stats().count())
    out["index.blocks.n_blocks"] = float(blocks.count())
    out["index.blocks.bytes_per_posting"] = (
        _dir_bytes(os.path.join(art.path, "blocks")) / n_post)
    return out


WORKLOADS = {"serve": serve, "build": build}
