"""Multi-field BM25 query engine — the reference's exact field
semantics (serve.rs:336-351 + meta.json:7-47):

- each query clause matches ``title OR body`` (default-field expansion)
- field boosts: title 1.5, body 1.0
- ``title`` is record:"basic" -> tf==1 (enforced at build time by
  build_fielded_index)
- per-field df / N / avgdl feed per-field BM25; a clause's score is
  the field-boost-weighted SUM of its per-field scores; a doc matches
  iff EVERY clause hits at least one field (conjunction).

Plan shape: one broadcast join of (clause_id, term, boost) against the
fielded postings, one groupBy(doc_id) computing both the total score
(sum over every (clause, field) contribution) and the AND predicate
(countDistinct(clause_id) == n_clauses), then TakeOrderedAndProject.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prosearch_spark.analyzer import analyze_query, parse_query_lenient
from prosearch_spark.index.build import InvertedIndex
from prosearch_spark.query.bm25 import SCORE_EXPR
from prosearch_spark.session import local_frame

DEFAULT_FIELD_BOOSTS = {"title": 1.5, "body": 1.0}


def _align_seg(frames: list[DataFrame]) -> list[DataFrame]:
    """Align per-field block frames on the optional ``seg`` tag before
    unionByName: a live (tombstoned) segment-stack field tags its
    blocks with the source segment while a clean field does not — the
    clean side gets seg='' (matches no tombstone; apply_deletes drops
    the column after the anti-join)."""
    if not any("seg" in f.columns for f in frames):
        return frames
    return [f if "seg" in f.columns else f.withColumn("seg", F.lit(""))
            for f in frames]


def _seg_cols(df: DataFrame) -> list[str]:
    return ["seg"] if "seg" in df.columns else []


def field_boost_expr(field_boosts: dict[str, float]):
    """CASE column mapping ``field`` -> its boost (1.0 otherwise) —
    the one place the boost table becomes a Spark expression."""
    fb = None
    for field, boost in field_boosts.items():
        cond = F.when(F.col("field") == field, F.lit(float(boost)))
        fb = cond if fb is None else fb.when(
            F.col("field") == field, F.lit(float(boost)))
    return F.lit(1.0) if fb is None else fb.otherwise(F.lit(1.0))


class FieldedSearchEngine:
    def __init__(self, spark: SparkSession, index: InvertedIndex,
                 field_boosts: dict[str, float] | None = None):
        self.spark = spark
        self.index = index  # postings: (field, term, doc_id, tf, dl)
        self.field_boosts = field_boosts or DEFAULT_FIELD_BOOSTS

    def _scored(self, q: str) -> tuple[DataFrame, int]:
        """Per-(clause, field, doc) scored rows + clause count."""
        clauses = analyze_query(q)
        qdf = local_frame(
            self.spark, [(i, t, b) for i, (t, b) in enumerate(clauses)],
            "clause_id int, term string, boost double",
        )
        terms = sorted({t for t, _ in clauses})
        ts = self.index.term_stats.filter(F.col("term").isin(terms))
        fb = field_boost_expr(self.field_boosts)
        scored = (
            self.index.postings
            .join(F.broadcast(qdf), "term")
            .join(F.broadcast(ts), ["field", "term"])
            .join(F.broadcast(self.index.stats), "field")
            .withColumn("s", fb * F.expr(SCORE_EXPR))
        )
        return scored, len(clauses)

    def _docs_scored(self, q: str) -> DataFrame:
        scored, n_clauses = self._scored(q)
        return (
            scored.groupBy("doc_id")
            .agg(
                F.sum("s").alias("score"),
                F.countDistinct("clause_id").alias("nmatch"),
            )
            .filter(F.col("nmatch") == n_clauses)
            .drop("nmatch")
        )

    def _docs_scored_or(self, q: str, min_match: int = 1) -> DataFrame:
        """Disjunctive fielded scoring: a doc scores the sum of every
        matched (clause, field) contribution and qualifies with >=
        ``min_match`` DISTINCT matched clauses (a clause matched in
        both fields is still one clause — countDistinct, exactly like
        the conjunction's AND predicate)."""
        scored, _n = self._scored(q)
        d = scored.groupBy("doc_id").agg(
            F.sum("s").alias("score"),
            F.countDistinct("clause_id").alias("nmatch"),
        )
        if min_match > 1:
            d = d.filter(F.col("nmatch") >= min_match)
        return d.drop("nmatch")

    def topk_or(self, q: str, k: int = 10, round_to: int | None = None,
                min_match: int = 1) -> DataFrame:
        """Multi-field should-clause top-k (title 1.5 / body 1.0 kept;
        match ANY clause by default) — the disjunctive twin of topk."""
        from prosearch_spark.query.engine import rank_topk

        return rank_topk(self._docs_scored_or(q, min_match), k, round_to)

    def topk(self, q: str, k: int = 10, round_to: int | None = None) -> DataFrame:
        d = self._docs_scored(q)
        if round_to is not None:
            d = d.withColumn("score", F.round("score", round_to))
        top = d.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return top.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "score"
        )

    def count(self, q: str) -> DataFrame:
        return self._docs_scored(q).agg(F.count("*").alias("hits"))

    def match_scan(self, q: str) -> DataFrame:
        return self._docs_scored(q).select("doc_id")

    def multi_topk(self, queries: list[str], k: int = 10,
                   round_to: int | None = None,
                   min_match: int | None = None) -> DataFrame:
        """Batched fielded msearch — SearchEngine.multi_topk's shape
        with the fielded algebra: every query's clauses join as ONE
        broadcast (query_id, clause_id, term, boost) relation against
        the field-tagged postings, per-(clause, field) scores sum per
        (query_id, doc_id), and the per-query conjunction counts
        DISTINCT clause ids (a clause matched in both fields is one
        clause). One postings scan, one shuffle, a partitioned-window
        rank — N fielded queries, one job."""
        from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA

        parsed = [(qi, analyze_query(q)) for qi, q in enumerate(queries)]
        rows = [(qi, ci, t, b) for qi, cl in parsed
                for ci, (t, b) in enumerate(cl)]
        if not rows:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        qdf = local_frame(
            self.spark, rows,
            "query_id int, clause_id int, term string, boost double")
        ndf = local_frame(
            self.spark, [(qi, len(cl)) for qi, cl in parsed if cl],
            "query_id int, n_clauses int")
        terms = sorted({t for _qi, _ci, t, _b in rows})
        ts = self.index.term_stats.filter(F.col("term").isin(terms))
        fb = field_boost_expr(self.field_boosts)
        scored = (
            self.index.postings
            .join(F.broadcast(qdf), "term")
            .join(F.broadcast(ts), ["field", "term"])
            .join(F.broadcast(self.index.stats), "field")
            .withColumn("s", fb * F.expr(SCORE_EXPR))
        )
        d = (
            scored.groupBy("query_id", "doc_id")
            .agg(F.sum("s").alias("score"),
                 F.countDistinct("clause_id").alias("nmatch"))
            .join(F.broadcast(ndf), "query_id")
        )
        if min_match is None:
            d = d.filter(F.col("nmatch") == F.col("n_clauses"))
        elif min_match > 1:
            d = d.filter(F.col("nmatch") >= min_match)
        if round_to is not None:
            d = d.withColumn("score", F.round("score", round_to))
        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id"))
        return (
            d.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "rank", "doc_id", "score")
            .orderBy("query_id", "rank")
        )

    def multi_topk_or(self, queries: list[str], k: int = 10,
                      round_to: int | None = None,
                      min_match: int = 1) -> DataFrame:
        """Batched DISJUNCTIVE fielded msearch (should-clause with
        minimum_should_match over DISTINCT clause ids — a clause
        matched in both fields is still one clause): the multi_topk
        batch with the conjunction filter relaxed, per-query semantics
        identical to :meth:`topk_or`."""
        return self.multi_topk(queries, k, round_to,
                               min_match=min_match)


def fielded_index_from_artifacts(artifacts: dict, q: str,
                                 terms: list[str] | None = None
                                 ) -> InvertedIndex:
    """Assemble the fielded logical index from per-field block
    artifacts (save_fielded_index layout), term-pruned for query ``q``
    (or for an explicit ``terms`` list — the mixed engine passes its
    parsed term-clause terms, bypassing re-analysis).

    Per-field postings carry each field's own bucket/term/parquet
    pruning; the union adds the ``field`` tag the fielded scorer
    expects. Per-field df / N / avgdl come from each artifact's
    manifest — exactly Tantivy's per-field segment stats.
    """
    if terms is None:
        terms = sorted({t for t, _ in analyze_query(q)})
    postings = None
    term_stats = None
    stats = None
    for field, art in sorted(artifacts.items()):
        p = art.postings(terms).select(
            F.lit(field).alias("field"), "term", "doc_id", "tf", "dl"
        )
        t = art.term_stats(terms).select(
            F.lit(field).alias("field"), "term", "df"
        )
        s = art.stats().select(F.lit(field).alias("field"), "n_docs", "avgdl")
        postings = p if postings is None else postings.unionByName(p)
        term_stats = t if term_stats is None else term_stats.unionByName(t)
        stats = s if stats is None else stats.unionByName(s)
    return InvertedIndex(postings=postings, term_stats=term_stats, stats=stats)


class FieldedBlockSearchEngine:
    """Fielded queries over per-field committed artifacts."""

    def __init__(self, spark: SparkSession, artifacts: dict,
                 field_boosts: dict[str, float] | None = None):
        self.spark = spark
        self.artifacts = artifacts
        self.field_boosts = field_boosts or DEFAULT_FIELD_BOOSTS

    def _engine(self, q: str) -> FieldedSearchEngine:
        idx = fielded_index_from_artifacts(self.artifacts, q)
        return FieldedSearchEngine(self.spark, idx, self.field_boosts)

    def topk(self, q: str, k: int = 10, round_to: int | None = None) -> DataFrame:
        return self._engine(q).topk(q, k, round_to)

    def topk_or(self, q: str, k: int = 10, round_to: int | None = None,
                min_match: int = 1) -> DataFrame:
        """Disjunctive fielded top-k over the committed artifacts."""
        return self._engine(q).topk_or(q, k, round_to, min_match)

    def count(self, q: str) -> DataFrame:
        return self._engine(q).count(q)

    def match_scan(self, q: str) -> DataFrame:
        return self._engine(q).match_scan(q)

    def multi_topk(self, queries: list[str], k: int = 10,
                   round_to: int | None = None,
                   min_match: int | None = None) -> DataFrame:
        """Batched fielded msearch over the committed per-field
        artifacts: the UNION of every query's terms drives one
        bucket/term-pruned decode per field, then the whole batch
        scores in FieldedSearchEngine.multi_topk's single plan."""
        terms = sorted({t for q in queries for t, _ in analyze_query(q)})
        if not terms:
            from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA

            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        idx = fielded_index_from_artifacts(self.artifacts, "",
                                           terms=terms)
        return FieldedSearchEngine(
            self.spark, idx, self.field_boosts
        ).multi_topk(queries, k, round_to, min_match=min_match)

    def multi_topk_or(self, queries: list[str], k: int = 10,
                      round_to: int | None = None,
                      min_match: int = 1) -> DataFrame:
        """Batched disjunctive fielded msearch over the committed
        per-field artifacts (block twin of
        FieldedSearchEngine.multi_topk_or)."""
        return self.multi_topk(queries, k, round_to,
                               min_match=min_match)

    # -- fielded Block-Max WAND ------------------------------------------------

    def _engine_on_blocks(self, blocks: DataFrame,
                          terms: list[str]) -> FieldedSearchEngine:
        """Decode field-tagged block rows (per-field tombstones applied)
        and wrap a FieldedSearchEngine over them with the artifacts'
        manifest-era per-field stats — scoring is byte-identical to the
        unpruned fielded path regardless of which blocks were pruned."""
        from prosearch_spark.index.blocks import decode_blocks

        from prosearch_spark.index.artifact import apply_deletes

        postings = term_stats = stats = None
        for field, art in sorted(self.artifacts.items()):
            fb = blocks.filter(F.col("field") == field).select(
                "term", "first_doc", "last_doc", "n", "max_tf", "min_dl",
                "docs", "tfs", "dls", *_seg_cols(blocks),
            )
            p = apply_deletes(decode_blocks(fb), art.deletes())
            p = p.select(F.lit(field).alias("field"), "term", "doc_id",
                         "tf", "dl")
            t = art.term_stats(terms).select(
                F.lit(field).alias("field"), "term", "df"
            )
            s = art.stats().select(F.lit(field).alias("field"), "n_docs",
                                   "avgdl")
            postings = p if postings is None else postings.unionByName(p)
            term_stats = t if term_stats is None else term_stats.unionByName(t)
            stats = s if stats is None else stats.unionByName(s)
        idx = InvertedIndex(postings=postings, term_stats=term_stats,
                            stats=stats)
        return FieldedSearchEngine(self.spark, idx, self.field_boosts)

    def topk_wand(self, q: str, k: int = 10, round_to: int | None = None,
                  min_prune_blocks: int | None = None
                  ) -> tuple[DataFrame, dict]:
        """Block-Max WAND over PER-FIELD artifacts — exact results with
        score-bound block pruning for the reference's production query
        shape: multi-field OR with boosts title 1.5 / body 1.0
        (serve.rs:336-351) served from block-max skip data
        (serve.rs:413-419 BooleanQuery over Tantivy segments).

        Same rarest-term zipper as BlockSearchEngine.topk_wand, with
        two fielded twists:

        - the driver term is rarest by TOTAL df across fields, and its
          candidate doc ranges are the union of its block ranges over
          every field (a match contains the driver term in >= 1 field);
        - a range's score bound sums, per term, the FIELD-SUM of max
          block upper bounds (a doc can match a term in both fields and
          collect both contributions), each block bound pre-multiplied
          by its field boost. ``title`` is record:"basic" (tf==1 at
          commit), so its stored max_tf==1 gives the tight title bound
          for free. A range where some term overlaps NO field's blocks
          cannot host a conjunctive match and dies outright.

        Soundness mirrors the flat engine: any doc passing the
        conjunction matched the driver clause, so it lies inside a
        driver range, and every posting of a doc inside a kept range is
        decoded (one block per (field, term) contains it) — partially
        decoded outside docs can never pass the clause-count filter.
        Returns (result, stats with blocks_total/blocks_decoded).

        Sparse-field mitigation (round 4): a field where the driver
        term is SPARSE (e.g. scattered background mentions in titles)
        yields blocks spanning huge docid ranges; bounding those
        ranges whole collects the GLOBAL maxima and pruning
        degenerates to a full decode (the r3 known limit — measured
        1577/1579 decoded at 800k). Wide driver ranges therefore
        SUBDIVIDE into at most 64 fixed-stride chunks before the
        bounds pass: chunks partition each range exactly, so the
        soundness proof holds verbatim with "chunk" for "range",
        while each chunk's bound collects only LOCAL overlapping
        maxima — 48% of blocks prune on the same corpus (BENCH.md
        §2e). Narrow (healthy) driver blocks stay whole
        (MIN_STRIDE).
        """
        from prosearch_spark.index.blocks import (
            BLOCK_SIZE,
            block_upper_bound_expr,
        )
        from prosearch_spark.query.block_engine import (
            SEED_BLOCK_CAP,
            WAND_MIN_PRUNE_BLOCKS,
        )
        from prosearch_spark.query.engine import (
            TOPK_SCHEMA,
            materialize_topk,
        )

        if min_prune_blocks is None:
            min_prune_blocks = WAND_MIN_PRUNE_BLOCKS
        clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})
        weights = {t: 0.0 for t in terms}
        for t, b in clauses:
            weights[t] += b

        metas = []
        dfs_total = {t: 0 for t in terms}
        for field, art in sorted(self.artifacts.items()):
            boost = float(self.field_boosts.get(field, 1.0))
            ts = art.term_stats(terms)
            for r in ts.collect():
                dfs_total[r["term"]] += int(r["df"])
            fblocks = art.blocks(terms)
            m = (
                fblocks
                .join(F.broadcast(ts), "term")
                .join(F.broadcast(art.stats()))
                .withColumn("wub",
                            F.lit(boost) * F.expr(block_upper_bound_expr()))
                .select(F.lit(field).alias("field"), "term", "first_doc",
                        "last_doc", "n", "max_tf", "min_dl", "docs", "tfs",
                        "dls", "wub", *_seg_cols(fblocks))
            )
            metas.append(m)
        metas = _align_seg(metas)
        if any(dfs_total[t] == 0 for t in terms):
            # a clause with zero postings in EVERY field: conjunction
            # is empty by the same rule as the flat engine
            return (local_frame(self.spark, [], TOPK_SCHEMA),
                    {"blocks_total": 0, "blocks_decoded": 0})
        meta = metas[0]
        for m in metas[1:]:
            meta = meta.unionByName(m)
        meta = meta.persist()
        try:
            # ONE metadata job yields n_blocks AND n_rarest (driver is
            # picked from the already-collected per-field term stats) —
            # the flat ladder's r3-verdict count fold, applied here too
            driver = min(terms, key=lambda t: (dfs_total[t], t))
            cnt_rows = meta.groupBy(
                (F.col("term") == driver).alias("is_r")
            ).agg(F.count("*").alias("n")).collect()
            n_blocks = sum(r["n"] for r in cnt_rows)
            n_rarest = sum(r["n"] for r in cnt_rows if r["is_r"])
            if n_blocks == 0:
                return (local_frame(self.spark, [], TOPK_SCHEMA),
                        {"blocks_total": 0, "blocks_decoded": 0})
            if n_blocks < min_prune_blocks:
                out = materialize_topk(
                    self.spark,
                    self._engine_on_blocks(meta, terms).topk(q, k, round_to),
                )
                return out, {"blocks_total": n_blocks,
                             "blocks_decoded": n_blocks,
                             "blocks_seed": 0, "blocks_final": n_blocks,
                             "short_circuit": True}
            rmeta = meta.filter(F.col("term") == driver)

            B = min(max(4, -(-k // BLOCK_SIZE) * 2), SEED_BLOCK_CAP)
            while True:
                covers_all = B >= n_rarest
                ranges = [
                    (r["first_doc"], r["last_doc"])
                    for r in rmeta.select("wub", "first_doc", "last_doc",
                                          "field")
                    .orderBy(F.desc("wub"), F.asc("first_doc"),
                             F.asc("field"))
                    .limit(B).collect()
                ]
                ranges_df = local_frame(
                    self.spark, ranges, "rf long, rl long"
                )
                seed_blocks = meta.join(
                    F.broadcast(ranges_df),
                    (F.col("first_doc") <= F.col("rl"))
                    & (F.col("last_doc") >= F.col("rf")),
                    "left_semi",
                )
                n_seed = seed_blocks.count()
                rt = round_to if covers_all else None
                seed_rows = self._engine_on_blocks(seed_blocks, terms) \
                    .topk(q, k, round_to=rt).collect()
                if covers_all:
                    out = local_frame(self.spark, seed_rows, TOPK_SCHEMA)
                    return out, {"blocks_total": n_blocks,
                                 "blocks_decoded": n_seed,
                                 "blocks_seed": n_seed, "blocks_final": 0}
                if len(seed_rows) >= k:
                    break
                B *= 4
                if min(B, n_rarest) > SEED_BLOCK_CAP:
                    return self.topk(q, k, round_to), {
                        "blocks_total": n_blocks,
                        "blocks_decoded": n_blocks,
                        "seed_capped": True,
                    }
            theta = min(r["score"] for r in seed_rows)
            eps = (10 ** (-round_to) if round_to is not None
                   else 1e-9 * abs(theta))
            if n_blocks - n_seed < min_prune_blocks:
                out = self._engine_on_blocks(meta, terms).topk(
                    q, k, round_to=round_to
                )
                return out, {"blocks_total": n_blocks,
                             "blocks_decoded": n_blocks,
                             "blocks_seed": n_seed,
                             "blocks_final": n_blocks - n_seed,
                             "bounds_skipped": True}

            # bound per driver CHUNK: sum_t w_t * sum_f max_f(wub).
            # Round 4: wide-span driver ranges are SUBDIVIDED into at
            # most CHUNKS_PER_RANGE fixed strides before bounding —
            # a sparse-field driver block spanning the whole docid
            # space previously made every bound collect the GLOBAL
            # maxima (pruning degenerated to a full decode, the
            # documented r3 limit; BENCH.md §2e measured 1577/1579
            # decoded at 800k). Chunks partition each driver range
            # exactly, so the soundness argument is unchanged with
            # "chunk" substituted for "range": every posting block of
            # a doc inside a chunk overlaps that chunk, hence the
            # chunk bound dominates the doc's score, and all blocks
            # overlapping a surviving chunk decode. Pure column math
            # (no extra driver job); ≤ 64 chunks per driver block
            # keeps the bounds join metadata-sized.
            CHUNKS_PER_RANGE = 64
            # narrow (healthy) driver blocks stay ~whole: only spans
            # well past a block's worth of docids subdivide
            MIN_STRIDE = BLOCK_SIZE * 16
            span = F.col("rl") - F.col("rf") + F.lit(1)
            stride = F.greatest(
                F.ceil(span / F.lit(CHUNKS_PER_RANGE)).cast("long"),
                F.lit(MIN_STRIDE).cast("long"))
            r_ranges = (
                rmeta.select(
                    F.col("first_doc").alias("rf"),
                    F.col("last_doc").alias("rl"),
                ).dropDuplicates()
                .select(
                    "rf", "rl", stride.alias("stride"),
                    F.explode(F.sequence(
                        F.lit(0).cast("long"),
                        F.floor((span - F.lit(1)) / stride).cast("long"),
                    )).alias("i"),
                )
                .select(
                    (F.col("rf") + F.col("i") * F.col("stride"))
                    .alias("rf"),
                    F.least(
                        F.col("rf") + (F.col("i") + F.lit(1))
                        * F.col("stride") - F.lit(1),
                        F.col("rl"),
                    ).alias("rl"),
                )
                .dropDuplicates()
            )
            w_expr = None
            for t in terms:
                e = (F.when(F.col("term") == t, F.lit(weights[t]))
                     if w_expr is None
                     else w_expr.when(F.col("term") == t, F.lit(weights[t])))
                w_expr = e
            contrib = (
                meta.select("field", "term", "first_doc", "last_doc", "wub")
                .join(
                    F.broadcast(r_ranges),
                    (F.col("first_doc") <= F.col("rl"))
                    & (F.col("last_doc") >= F.col("rf")),
                )
                .groupBy("rf", "rl", "term", "field")
                .agg(F.max("wub").alias("mx"))
                .groupBy("rf", "rl", "term")
                .agg(F.sum("mx").alias("fsum"))
            )
            bounds = (
                contrib.withColumn("w", w_expr)
                .groupBy("rf", "rl")
                .agg(F.sum(F.col("w") * F.col("fsum")).alias("bound"),
                     F.countDistinct("term").alias("nterms"))
                # a range missing ANY clause term (in every field)
                # cannot host a conjunctive match
                .filter(F.col("nterms") == len(terms))
            )
            surviving = bounds.filter(
                F.col("bound") >= F.lit(theta - eps)
            ).select("rf", "rl")
            survivors = meta.join(
                F.broadcast(surviving),
                (F.col("first_doc") <= F.col("rl"))
                & (F.col("last_doc") >= F.col("rf")),
                "left_semi",
            )
            # block key includes seg on a live stack view (an upserted
            # doc keeps its id, so same-keyed blocks can exist in two
            # segments and the seed anti-join must not conflate them)
            key = ["field", "term", "first_doc"] + _seg_cols(seed_blocks)
            new_blocks = survivors.join(
                seed_blocks.select(*key), key, "left_anti",
            )
            n_new = new_blocks.count()
            out = self._engine_on_blocks(
                seed_blocks.unionByName(new_blocks), terms
            ).topk(q, k, round_to=round_to)
            return out, {"blocks_total": n_blocks,
                         "blocks_decoded": n_seed + n_new,
                         "blocks_seed": n_seed, "blocks_final": n_new}
        finally:
            meta.unpersist()

    def topk_wand_or(self, q: str, k: int = 10,
                     round_to: int | None = None,
                     min_prune_blocks: int | None = None,
                     min_match: int = 1) -> tuple[DataFrame, dict]:
        """DISJUNCTIVE Block-Max WAND over PER-FIELD artifacts — the
        flat topk_wand_or ladder with (field, term) playing the role
        of the term: every block is its own candidate, bounded by

            bound(b) = wub(b) + sum over groups (t', f') != (term(b),
                       field(b)) of max{wub(b') : b' overlaps b}

        where wub folds BOTH weights (clause weight x field boost x
        block upper bound). Soundness is the flat argument verbatim:
        a doc d scoring in (t', f') has its posting in exactly one
        (t', f')-block, which contains d and therefore overlaps every
        block holding one of d's postings — so each of d's blocks
        bounds d's full score, and if score(d) >= theta ALL of d's
        blocks survive (d decodes completely and exactly). The SAME
        term in the OTHER field is one of the summed groups — a doc
        can match a term in both fields and collect both
        contributions. Partially decoded survivors only understate
        sub-theta scores. ``min_match`` relaxes/filters DISTINCT
        clause counts at scoring only (bounds dominate any subset).
        Cost cutoffs mirror the flat disjunctive ladder.
        """
        from prosearch_spark.index.blocks import (
            BLOCK_SIZE,
            block_upper_bound_expr,
        )
        from prosearch_spark.query.block_engine import (
            SEED_BLOCK_CAP,
            WAND_OR_MIN_PRUNE_BLOCKS,
        )
        from prosearch_spark.query.engine import (
            TOPK_SCHEMA,
            materialize_topk,
        )

        if min_prune_blocks is None:
            min_prune_blocks = WAND_OR_MIN_PRUNE_BLOCKS
        clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})
        weights = {t: 0.0 for t in terms}
        for t, b in clauses:
            weights[t] += b
        if not terms:
            return (local_frame(self.spark, [], TOPK_SCHEMA),
                    {"blocks_total": 0, "blocks_decoded": 0})

        w_expr = None
        for t in terms:
            e = F.when(F.col("term") == t, F.lit(weights[t]))
            w_expr = e if w_expr is None else w_expr.when(
                F.col("term") == t, F.lit(weights[t]))

        metas = []
        for field, art in sorted(self.artifacts.items()):
            boost = float(self.field_boosts.get(field, 1.0))
            fblocks = art.blocks(terms)
            m = (
                fblocks
                .join(F.broadcast(art.term_stats(terms)), "term")
                .join(F.broadcast(art.stats()))
                .withColumn(
                    "wub",
                    w_expr * F.lit(boost)
                    * F.expr(block_upper_bound_expr()))
                .select(F.lit(field).alias("field"), "term", "first_doc",
                        "last_doc", "n", "max_tf", "min_dl", "docs",
                        "tfs", "dls", "wub", *_seg_cols(fblocks))
            )
            metas.append(m)
        metas = _align_seg(metas)
        meta = metas[0]
        for m in metas[1:]:
            meta = meta.unionByName(m)
        meta = meta.persist()

        def _topk_or(blks, rt):
            return self._engine_on_blocks(blks, terms).topk_or(
                q, k, round_to=rt, min_match=min_match)

        try:
            n_blocks = meta.count()
            if n_blocks == 0:
                return (local_frame(self.spark, [], TOPK_SCHEMA),
                        {"blocks_total": 0, "blocks_decoded": 0})
            if n_blocks < min_prune_blocks:
                out = materialize_topk(self.spark, _topk_or(meta, round_to))
                return out, {"blocks_total": n_blocks,
                             "blocks_decoded": n_blocks,
                             "blocks_seed": 0, "blocks_final": n_blocks,
                             "short_circuit": True}

            B = min(max(4, -(-k // BLOCK_SIZE) * 2), SEED_BLOCK_CAP)
            while True:
                covers_all = B >= n_blocks
                ranges = [
                    (r["first_doc"], r["last_doc"])
                    for r in meta.select("wub", "first_doc", "last_doc",
                                         "field")
                    .orderBy(F.desc("wub"), F.asc("first_doc"),
                             F.asc("field"))
                    .limit(B).collect()
                ]
                ranges_df = local_frame(
                    self.spark, ranges, "rf long, rl long")
                seed_blocks = meta.join(
                    F.broadcast(ranges_df),
                    (F.col("first_doc") <= F.col("rl"))
                    & (F.col("last_doc") >= F.col("rf")),
                    "left_semi",
                )
                n_seed = seed_blocks.count()
                rt = round_to if covers_all else None
                seed_rows = _topk_or(seed_blocks, rt).collect()
                if covers_all:
                    out = local_frame(self.spark, seed_rows, TOPK_SCHEMA)
                    return out, {"blocks_total": n_blocks,
                                 "blocks_decoded": n_seed,
                                 "blocks_seed": n_seed,
                                 "blocks_final": 0}
                if len(seed_rows) >= k:
                    break
                B *= 4
                if min(B, n_blocks) > SEED_BLOCK_CAP:
                    out = materialize_topk(
                        self.spark, _topk_or(meta, round_to))
                    return out, {"blocks_total": n_blocks,
                                 "blocks_decoded": n_blocks,
                                 "seed_capped": True}
            theta = min(r["score"] for r in seed_rows)
            eps = (10 ** (-round_to) if round_to is not None
                   else 1e-9 * abs(theta))

            if n_blocks - n_seed < min_prune_blocks:
                out = _topk_or(meta, round_to)
                return out, {"blocks_total": n_blocks,
                             "blocks_decoded": n_blocks,
                             "blocks_seed": n_seed,
                             "blocks_final": n_blocks - n_seed,
                             "bounds_skipped": True}

            # per-block bound via ONE metadata self-range-join over
            # (field, term) groups
            ra = meta.select(
                F.col("field").alias("rfld"),
                F.col("term").alias("rt"),
                F.col("first_doc").alias("rf"),
                F.col("last_doc").alias("rl"),
                F.col("wub").alias("rwub"),
            )
            others = meta.select("field", "term", "first_doc",
                                 "last_doc", "wub")
            per_group_max = (
                others.join(
                    F.broadcast(ra),
                    (F.col("first_doc") <= F.col("rl"))
                    & (F.col("last_doc") >= F.col("rf"))
                    & ~((F.col("term") == F.col("rt"))
                        & (F.col("field") == F.col("rfld"))),
                )
                .groupBy("rfld", "rt", "rf", "rl", "rwub", "term", "field")
                .agg(F.max("wub").alias("mx"))
            )
            osum = per_group_max.groupBy("rfld", "rt", "rf", "rl",
                                         "rwub").agg(
                F.sum("mx").alias("osum"))
            surviving = (
                ra.join(osum, ["rfld", "rt", "rf", "rl", "rwub"], "left")
                .withColumn("bound",
                            F.col("rwub") + F.coalesce(F.col("osum"),
                                                       F.lit(0.0)))
                .filter(F.col("bound") >= F.lit(theta - eps))
                .select(F.col("rfld").alias("field"),
                        F.col("rt").alias("term"),
                        F.col("rf").alias("first_doc"))
            )
            # live-stack note: the survival semi-join on (field, term,
            # first_doc) may keep a same-keyed sibling block from
            # another segment — conservative (extra decode); the seed
            # ANTI-join keys on the full block key so no distinct
            # block is ever dropped
            survivors = meta.join(F.broadcast(surviving),
                                  ["field", "term", "first_doc"],
                                  "left_semi")
            key = ["field", "term", "first_doc"] + _seg_cols(seed_blocks)
            new_blocks = survivors.join(
                seed_blocks.select(*key), key, "left_anti",
            )
            n_new = new_blocks.count()
            out = _topk_or(seed_blocks.unionByName(new_blocks), round_to)
            return out, {"blocks_total": n_blocks,
                         "blocks_decoded": n_seed + n_new,
                         "blocks_seed": n_seed, "blocks_final": n_new}
        finally:
            meta.unpersist()

    # -- fielded lenient mixed (term + phrase) queries -------------------------

    def mixed_topk(self, q: str, k: int = 10,
                   round_to: int | None = None,
                   body_field: str = "body",
                   return_stats: bool = False
                   ) -> DataFrame | tuple[DataFrame, dict]:
        """Lenient mixed query over a FIELDED deployment — the round-3
        routing gap: the reference parses EVERY user query (quoted or
        not) with one lenient parser over the default fields
        [title, body] WITH their boosts (serve.rs:336-351,407-409), so
        a quoted query must not silently drop to single-field scoring.

        Clause semantics (documented choice, mirroring Tantivy's field
        options):

        - TERM clause (term, boost): scores in EVERY configured field
          it appears in — field_boost x clause_boost x per-field BM25
          (title record:"basic" keeps tf=1, per-field df/N/avgdl),
          summed across fields; matches when present in >= 1 field.
          Identical algebra to the pure-term fielded engine.
        - PHRASE clause [t1..tn]: positions exist only where the field
          was committed record:"position" — title is record:"basic"
          (stores NO positions, by definition), so phrases match and
          score in ``body_field`` only: body_boost x phrase BM25
          (tf = phrase frequency, df = phrase doc count in body,
          body dl/avgdl). This is exactly why Tantivy cannot serve a
          phrase from a basic field.
        - Conjunction: a doc matches every clause
          (countDistinct(clause_id) == n_clauses — a term clause can
          emit one row per field, so row counting would overcount).

        Pruning (round 4, mirroring the single-field mixed engine's
        staged pruning):

        - PHRASE-term body blocks decode only where they overlap the
          block ranges of the phrase's RAREST term (by body df) — a
          doc containing the phrase contains every phrase term, so
          its postings all sit in overlapping blocks; phrase df stays
          exact because every doc that could contain the phrase
          survives.
        - TERM-clause blocks (both fields) decode only where they
          overlap the FIRST PHRASE'S MATCH doc ranges — every final
          match matches every phrase, so a dropped term row belongs
          to a doc that cannot pass the clause conjunction. Match ids
          are collected capped at SEED_BLOCK_CAP and merged into
          intervals; an over-cap phrase falls back to the full
          bucket/term-pruned term decode (exact either way).

        Per-field df comes from the artifacts' manifest-era
        term_stats, so pruning postings never perturbs the BM25
        stats. Collection stats come from manifests — nothing
        re-tokenizes.

        ``return_stats=True`` additionally returns
        {blocks_total, blocks_decoded} over every touched structure
        (phrase-term body blocks + term-clause blocks of all fields)
        — the pruning evidence (costs two extra metadata count jobs;
        the serving path skips them).
        """
        from functools import reduce

        from prosearch_spark.index.blocks import decode_blocks
        from prosearch_spark.index.positions import (
            phrase_matches,
            phrase_scores,
        )
        from prosearch_spark.query.engine import (
            TOPK_SCHEMA,
            materialize_topk,
            rank_topk,
        )

        def _ret(df: DataFrame, stats: dict):
            return (df, stats) if return_stats else df

        def _overlap_semi(side: DataFrame, ranges: DataFrame) -> DataFrame:
            return side.join(
                F.broadcast(ranges),
                (F.col("first_doc") <= F.col("rl"))
                & (F.col("last_doc") >= F.col("rf")),
                "left_semi",
            )

        # parse_query_slop is a strict superset of the lenient
        # grammar (byte-identical clauses on every slop-free query),
        # so "..."~N proximity clauses serve fielded too (round 6):
        # like exact phrases they score BODY-ONLY (positions live
        # only in the positional field) and share the phrase decode
        # and both pruning stages — the soundness arguments only
        # need "every final match contains every clause term", true
        # for slop matches as well.
        from prosearch_spark.analyzer import parse_query_slop

        clauses = parse_query_slop(q)
        if not clauses:
            return _ret(local_frame(self.spark, [], TOPK_SCHEMA),
                        {"blocks_total": 0, "blocks_decoded": 0})
        n_clauses = len(clauses)
        term_clauses = [(i, c) for i, (kind, c) in enumerate(clauses)
                        if kind == "term"]
        # positional clauses: (clause_id, terms, slop-or-None) —
        # None = exact phrase, an int = ordered slop window
        pos_clauses = [
            (i, list(c), None) if kind == "phrase"
            else (i, list(c[0]), int(c[1]))
            for i, (kind, c) in enumerate(clauses)
            if kind in ("phrase", "slop")
        ]
        phrase_clauses = [(i, tp) for i, tp, _s in pos_clauses]
        terms = sorted({t for _, (t, _b) in term_clauses})

        # lazily built; counted only under return_stats
        totals: list[DataFrame] = []
        decoded: list[DataFrame] = []

        def _stats() -> dict:
            if not return_stats:
                return {}

            def _key(f: DataFrame) -> list[str]:
                return ["field", "term", "first_doc"] + _seg_cols(f)

            tot = reduce(lambda a, b: a.unionByName(b),
                         [t.select(*_key(t)) for t in _align_seg(totals)])\
                .dropDuplicates() if totals else None
            dec = reduce(lambda a, b: a.unionByName(b),
                         [d.select(*_key(d)) for d in _align_seg(decoded)])\
                .dropDuplicates() if decoded else None
            return {"blocks_total": tot.count() if tot is not None else 0,
                    "blocks_decoded": dec.count() if dec is not None else 0}

        def _tagged_term_blocks() -> DataFrame:
            frames = []
            for field, art in sorted(self.artifacts.items()):
                fb = art.blocks(terms)
                frames.append(fb.select(
                    F.lit(field).alias("field"), "term",
                    "first_doc", "last_doc", "n", "max_tf",
                    "min_dl", "docs", "tfs", "dls", *_seg_cols(fb)))
            return reduce(lambda a, b: a.unionByName(b),
                          _align_seg(frames))

        persisted: list[DataFrame] = []
        try:
            scored_parts: list[DataFrame] = []
            # -- phrase clauses FIRST: their matches drive the
            # term-clause block pruning ---------------------------------
            m_first = None
            pp = None
            if phrase_clauses:
                body_art = self.artifacts[body_field]
                body_boost = float(self.field_boosts.get(body_field, 1.0))
                body_stats = body_art.stats()
                p_terms = sorted({t for _, tp in phrase_clauses
                                  for t in tp})
                pblocks = body_art.blocks(p_terms)
                if "positions" not in pblocks.columns:
                    raise ValueError(
                        f"field '{body_field}' was not committed with "
                        "positions (save_fielded_index positional_fields)")
                pblocks = pblocks.withColumn("field", F.lit(body_field))
                totals.append(pblocks)
                dfs_p = {r["term"]: int(r["df"])
                         for r in body_art.term_stats(p_terms).collect()}
                if any(t not in dfs_p for t in p_terms):
                    # a phrase term absent from body: conjunction dead
                    if term_clauses:
                        totals.append(_tagged_term_blocks())
                    return _ret(local_frame(self.spark, [], TOPK_SCHEMA),
                                _stats())
                pieces: list[DataFrame] = []
                for _, terms_p in phrase_clauses:
                    tp = sorted(set(terms_p))
                    side = pblocks.filter(F.col("term").isin(tp))
                    if len(tp) > 1:
                        rarest_p = min(tp, key=lambda t: (dfs_p[t], t))
                        rng = pblocks.filter(
                            F.col("term") == rarest_p
                        ).select(F.col("first_doc").alias("rf"),
                                 F.col("last_doc").alias("rl"))
                        side = _overlap_semi(side, rng)
                    pieces.append(side)
                from prosearch_spark.index.artifact import apply_deletes

                ph_needed = reduce(lambda a, b: a.unionByName(b), pieces) \
                    .dropDuplicates(["term", "first_doc",
                                     *_seg_cols(pieces[0])])
                decoded.append(ph_needed)
                pp = apply_deletes(decode_blocks(ph_needed.drop("field")),
                                   body_art.deletes()).persist()
                persisted.append(pp)
            for ci, terms_p, slop_n in pos_clauses:
                if slop_n is None:
                    m = phrase_matches(pp, list(terms_p)).persist()
                else:
                    from prosearch_spark.index.positions import (
                        phrase_slop_matches,
                    )

                    m = phrase_slop_matches(
                        pp, list(terms_p), slop_n).persist()
                persisted.append(m)
                if m_first is None:
                    m_first = m
                phrase_df = m.count()
                if phrase_df == 0:
                    # conjunction dead: one clause matches nothing
                    if term_clauses:
                        totals.append(_tagged_term_blocks())
                    return _ret(local_frame(self.spark, [], TOPK_SCHEMA),
                                _stats())
                s = phrase_scores(m, phrase_df, body_stats)
                if body_boost != 1.0:
                    s = s.withColumn("s", F.col("s") * F.lit(body_boost))
                scored_parts.append(
                    s.select(F.lit(ci).cast("int").alias("clause_id"),
                             "doc_id", "s"))
            if term_clauses:
                qdf = local_frame(
                    self.spark, [(i, t, b) for i, (t, b) in term_clauses],
                    "clause_id int, term string, boost double",
                )
                tagged = _tagged_term_blocks()
                totals.append(tagged)
                need = tagged
                if m_first is not None:
                    # staged pruning: term-clause blocks decode only
                    # around the first phrase's MATCH doc ranges (the
                    # single-field mixed engine's capped-collect +
                    # interval-merge, applied across fields)
                    from prosearch_spark.index.blocks import BLOCK_SIZE
                    from prosearch_spark.query.block_engine import (
                        SEED_BLOCK_CAP,
                    )

                    ids = [
                        r["doc_id"]
                        for r in m_first.select("doc_id").orderBy("doc_id")
                        .limit(SEED_BLOCK_CAP + 1).collect()
                    ]
                    if ids and len(ids) <= SEED_BLOCK_CAP:
                        ranges: list[tuple[int, int]] = []
                        lo = prev = ids[0]
                        for d_ in ids[1:]:
                            if d_ - prev > BLOCK_SIZE:
                                ranges.append((lo, prev))
                                lo = d_
                            prev = d_
                        ranges.append((lo, prev))
                        ranges_df = local_frame(
                            self.spark, ranges, "rf long, rl long")
                        need = _overlap_semi(tagged, ranges_df)
                decoded.append(need)
                # _engine_on_blocks supplies the artifacts'
                # manifest-era per-field df/N/avgdl, so the pruned
                # decode scores byte-identically to the full one
                idx = self._engine_on_blocks(need, terms).index
                fb = field_boost_expr(self.field_boosts)
                scored_parts.append(
                    idx.postings
                    .join(F.broadcast(qdf), "term")
                    .join(F.broadcast(idx.term_stats), ["field", "term"])
                    .join(F.broadcast(idx.stats), "field")
                    .withColumn("s", fb * F.expr(SCORE_EXPR))
                    .select("clause_id", "doc_id", "s")
                )
            scored = reduce(lambda a, b: a.unionByName(b), scored_parts)
            d = (
                scored.groupBy("doc_id")
                .agg(F.sum("s").alias("score"),
                     F.countDistinct("clause_id").alias("nmatch"))
                .filter(F.col("nmatch") == n_clauses)
                .drop("nmatch")
            )
            return _ret(materialize_topk(self.spark,
                                         rank_topk(d, k, round_to)),
                        _stats())
        finally:
            for df in persisted:
                df.unpersist()

    def multi_mixed_topk(self, queries: list[str], k: int = 10,
                         round_to: int | None = None,
                         body_field: str = "body") -> DataFrame:
        """Batched MIXED (term + quoted-phrase + "..."~N slop) msearch
        over the FIELDED deployment (round 6 late — closes the "fielded
        quoted members route one at a time" limitation): the whole
        batch runs in a FIXED number of plans.

        - TERM clauses: one field-tagged bucket/term-pruned decode of
          every batch term across all fields, scored by ONE broadcast
          (query_id, clause_id, term, boost) join with the field
          boosts — exactly the fielded multi_topk shape.
        - PHRASE and SLOP clauses: BODY-ONLY (positions live only in
          the positional field — the single-query rule), one decode of
          the union of all phrase terms, then one n-way position join
          per phrase LENGTH keyed by (query_id, clause_id) (exact
          phrases: shifted-intersect; slop: the greedy chain with the
          window bound as a broadcast column — the
          block_engine.multi_mixed_topk machinery with the body
          field's stats and boost).
        - Conjunction per query: countDistinct(clause_id) == that
          query's clause count (a term clause matched in both fields
          is ONE clause); one PARTITIONED-window rank. A dead member
          never empties the batch (no per-query early exits), and the
          batch must NOT reuse single-query staged pruning (one
          member's phrase-match ranges are another member's false
          prune — the multi_mixed rule).

        Per-query results are identical to :meth:`mixed_topk` minus
        its return_stats diagnostics; pinned by pytest and the
        msearch_fielded_quoted gate."""
        from functools import reduce

        from prosearch_spark.analyzer import parse_query_slop
        from prosearch_spark.index.artifact import apply_deletes
        from prosearch_spark.index.blocks import decode_blocks
        from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA

        parsed = [(qi, parse_query_slop(q))
                  for qi, q in enumerate(queries)]
        term_rows = []     # (query_id, clause_id, term, boost)
        by_len: dict[int, list] = {}       # exact phrases
        by_len_slop: dict[int, list] = {}  # (qi, ci, terms, window)
        for qi, cls in parsed:
            for ci, (kind, payload) in enumerate(cls):
                if kind == "term":
                    term_rows.append((qi, ci, payload[0], payload[1]))
                elif kind == "slop":
                    terms_p, slop = payload
                    by_len_slop.setdefault(len(terms_p), []).append(
                        (qi, ci, list(terms_p),
                         len(terms_p) - 1 + slop))
                else:
                    by_len.setdefault(len(payload), []).append(
                        (qi, ci, list(payload)))
        if not term_rows and not by_len and not by_len_slop:
            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)

        persisted: list[DataFrame] = []
        parts: list[DataFrame] = []
        try:
            if term_rows:
                terms = sorted({t for _q, _c, t, _b in term_rows})
                frames = []
                for field, art in sorted(self.artifacts.items()):
                    fb_ = art.blocks(terms)
                    frames.append(fb_.select(
                        F.lit(field).alias("field"), "term",
                        "first_doc", "last_doc", "n", "max_tf",
                        "min_dl", "docs", "tfs", "dls",
                        *_seg_cols(fb_)))
                tagged = reduce(lambda a, b: a.unionByName(b),
                                _align_seg(frames))
                idx = self._engine_on_blocks(tagged, terms).index
                qdf = local_frame(
                    self.spark, term_rows,
                    "query_id int, clause_id int, term string, "
                    "boost double")
                fb = field_boost_expr(self.field_boosts)
                parts.append(
                    idx.postings
                    .join(F.broadcast(qdf), "term")
                    .join(F.broadcast(idx.term_stats),
                          ["field", "term"])
                    .join(F.broadcast(idx.stats), "field")
                    .withColumn("s", fb * F.expr(SCORE_EXPR))
                    .select("query_id", "clause_id", "doc_id", "s")
                )

            if by_len or by_len_slop:
                body_art = self.artifacts[body_field]
                body_boost = float(
                    self.field_boosts.get(body_field, 1.0))
                body_stats = body_art.stats()
                p_terms = sorted(
                    {t for g in by_len.values()
                     for _q, _c, ts in g for t in ts}
                    | {t for g in by_len_slop.values()
                       for _q, _c, ts, _w in g for t in ts})
                pblocks = body_art.blocks(p_terms)
                if "positions" not in pblocks.columns:
                    raise ValueError(
                        f"field '{body_field}' was not committed with "
                        "positions (save_fielded_index "
                        "positional_fields)")
                pp = apply_deletes(decode_blocks(pblocks),
                                   body_art.deletes()).persist()
                persisted.append(pp)

                def _boosted(s_col):
                    return (s_col * F.lit(body_boost)
                            if body_boost != 1.0 else s_col)

                for n, group in sorted(by_len.items()):
                    slot_rows = [(qi, ci, i, t)
                                 for qi, ci, terms_p in group
                                 for i, t in enumerate(terms_p)]
                    slots = local_frame(
                        self.spark, slot_rows, "query_id int, clause_id int, "
                        "slot int, term string")

                    def _shifted(by: int):
                        return F.transform(
                            "positions", lambda p: p - F.lit(by))

                    sides = []
                    for i in range(n):
                        si = slots.filter(F.col("slot") == i) \
                            .select("query_id", "clause_id", "term")
                        sides.append(
                            pp.join(F.broadcast(si), "term").select(
                                "query_id", "clause_id", "doc_id",
                                *(["dl"] if i == 0 else []),
                                _shifted(i).alias(f"p{i}"),
                            )
                        )
                    joined = reduce(
                        lambda a, b: a.join(
                            b, ["query_id", "clause_id", "doc_id"]),
                        sides)
                    inter = reduce(
                        lambda acc, i: F.array_intersect(
                            acc, F.col(f"p{i}")),
                        range(1, n), F.col("p0"))
                    matches = (
                        joined.withColumn(
                            "tf", F.size(inter).cast("long"))
                        .filter(F.col("tf") > 0)
                        .select("query_id", "clause_id", "doc_id",
                                "dl", "tf")
                    )
                    pdf = matches.groupBy(
                        "query_id", "clause_id").agg(
                        F.count("*").alias("df"))
                    parts.append(
                        matches.join(F.broadcast(pdf),
                                     ["query_id", "clause_id"])
                        .crossJoin(F.broadcast(body_stats))
                        .withColumn("boost", F.lit(1.0))
                        .withColumn("s",
                                    _boosted(F.expr(SCORE_EXPR)))
                        .select("query_id", "clause_id", "doc_id",
                                "s")
                    )
                for n, group in sorted(by_len_slop.items()):
                    slot_rows = [(qi, ci, i, t)
                                 for qi, ci, terms_p, _w in group
                                 for i, t in enumerate(terms_p)]
                    slots = local_frame(
                        self.spark, slot_rows, "query_id int, clause_id int, "
                        "slot int, term string")
                    wdf = local_frame(
                        self.spark, [(qi, ci, w) for qi, ci, _ts, w in group],
                        "query_id int, clause_id int, w int")
                    sides = []
                    for i in range(n):
                        si = slots.filter(F.col("slot") == i) \
                            .select("query_id", "clause_id", "term")
                        sides.append(
                            pp.join(F.broadcast(si), "term").select(
                                "query_id", "clause_id", "doc_id",
                                *(["dl"] if i == 0 else []),
                                F.col("positions").alias(f"q{i}"),
                            )
                        )
                    joined = reduce(
                        lambda a, b: a.join(
                            b, ["query_id", "clause_id", "doc_id"]),
                        sides).join(F.broadcast(wdf),
                                    ["query_id", "clause_id"])
                    arrs = "array(" + ", ".join(
                        f"q{i}" for i in range(1, n)) + ")"
                    chain = (
                        f"size(filter(q0, start -> aggregate({arrs}, "
                        "start, (acc, arr) -> CASE WHEN acc < 0 THEN "
                        "-1 ELSE coalesce(array_min(filter(arr, "
                        "x -> x > acc)), -1) END, "
                        "acc -> acc >= 0 AND acc - start <= w)))"
                    )
                    smatches = (
                        joined.withColumn(
                            "tf", F.expr(chain).cast("long"))
                        .filter(F.col("tf") > 0)
                        .select("query_id", "clause_id", "doc_id",
                                "dl", "tf")
                    )
                    spdf = smatches.groupBy(
                        "query_id", "clause_id").agg(
                        F.count("*").alias("df"))
                    parts.append(
                        smatches.join(F.broadcast(spdf),
                                      ["query_id", "clause_id"])
                        .crossJoin(F.broadcast(body_stats))
                        .withColumn("boost", F.lit(1.0))
                        .withColumn("s",
                                    _boosted(F.expr(SCORE_EXPR)))
                        .select("query_id", "clause_id", "doc_id",
                                "s")
                    )

            scored = reduce(lambda a, b: a.unionByName(b), parts)
            ndf = local_frame(
                self.spark, [(qi, len(cls)) for qi, cls in parsed if cls],
                "query_id int, n_clauses int")
            d = (
                scored.groupBy("query_id", "doc_id")
                .agg(F.sum("s").alias("score"),
                     F.countDistinct("clause_id").alias("nmatch"))
                .join(F.broadcast(ndf), "query_id")
                .filter(F.col("nmatch") == F.col("n_clauses"))
            )
            if round_to is not None:
                d = d.withColumn("score", F.round("score", round_to))
            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id"))
            return (
                d.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "score")
                .orderBy("query_id", "rank")
            )
        finally:
            for df in persisted:
                df.unpersist()
