"""Query engine over the persisted block artifact, with pruning.

The physical-layer twin of query/engine.py. Pruning ladder, applied
before any block is decoded (each level is a plain relational filter —
correct and conservative, per SURVEY.md §7 stage 3):

1. bucket pruning: ``tb IN (buckets(query terms))`` — parquet
   partition-directory pruning (term-dictionary lookup analog).
2. term pruning: ``term IN (...)`` — row-group min/max skipping
   (blocks are written sorted by term).
3. AND doc-range pruning: for conjunctions, only blocks whose
   [first_doc, last_doc] range overlaps some block range of the
   RAREST query term can contain a conjunctive match — a broadcast
   range semi-join on block metadata. This is the DataFrame shape of
   the zipper intersection driving Block-Max WAND (the block-max
   ``max_tf``/``min_dl`` columns additionally bound scores via
   blocks.block_upper_bound_expr for score-based pruning).

Only surviving blocks are varint-decoded (Arrow-batched), then scoring
is byte-identical to the flat engine.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from prosearch_spark.analyzer import analyze_query
from prosearch_spark.index.artifact import IndexArtifact, apply_deletes
from prosearch_spark.index.blocks import decode_blocks
from prosearch_spark.index.build import InvertedIndex
from prosearch_spark.query.engine import SearchEngine
from prosearch_spark.session import local_frame


def block_key(df: DataFrame, *lead: str) -> list[str]:
    """The unique block identity for joins/dedups: (term, first_doc)
    within one artifact — per-term ranges are disjoint by the
    range-partitioned writer — PLUS the ``seg`` tag when the frame
    comes from a live (tombstoned) segment stack: an upserted doc
    keeps its doc_id, so two segments can hold blocks with identical
    (term, first_doc) and only the segment disambiguates them."""
    return [*lead, "term", "first_doc"] + (
        ["seg"] if "seg" in df.columns else [])


# WAND seed bound: the grow-4x retry loop collects at most this many
# block RANGES to the driver (~16 B each), including on the FIRST
# iteration. A conjunction so sparse that a 64k-block seed still holds
# < k matches falls back to the range-pruned exact engine, which needs
# no driver-side collect at all.
SEED_BLOCK_CAP = 1 << 16

# Cost-based WAND cutoff: the seed/bounds machinery pays ~6 extra
# driver-scheduled jobs; decoding a block costs ~128 posting rows. When
# fewer than this many blocks exist (or could be pruned), one exact
# decode+score is cheaper than any pruning pass — the short-circuit
# that fixed the r02 no-skew regression (q_wand_single 3.82 s -> topk
# level). Tests and benches that MEASURE pruning pass 0 to force the
# full ladder regardless of corpus size.
WAND_MIN_PRUNE_BLOCKS = 256

# The DISJUNCTIVE ladder has no rarest-term pre-prune, so its fixed
# cost is higher (per-block bound self-range-join + the same ~6 jobs):
# measured at 800k docs / 2.5k blocks, the ladder ran 14.0 s against
# 3.4 s for one unpruned decode even while pruning 64% of blocks
# (tools/or_bench.py, BENCH.md §2ad) — block decode is too cheap at
# sandbox scale to amortize the scheduling. The cutoff is set where
# the ladder's fixed cost (~11 s) matches decode savings at gate
# hardware; the pruning RATIO is the scale signal that the ladder
# pays at true posting volumes.
WAND_OR_MIN_PRUNE_BLOCKS = 8192


class BlockSearchEngine:
    def __init__(self, spark: SparkSession, artifact: IndexArtifact):
        self.spark = spark
        self.artifact = artifact

    def _pruned_blocks(self, terms: list[str],
                       dfs: dict[str, int] | None = None) -> DataFrame:
        blocks = self.artifact.blocks(terms)
        if len(terms) > 1:
            if dfs is None:
                dfs = {
                    r["term"]: r["df"]
                    for r in self.artifact.term_stats(terms).collect()
                }
            if any(t not in dfs for t in terms):
                # a clause with zero postings -> conjunction is empty
                return blocks.filter(F.lit(False))
            rarest = min(terms, key=lambda t: (dfs[t], t))
            ranges = blocks.filter(F.col("term") == rarest).select(
                F.col("first_doc").alias("rf"), F.col("last_doc").alias("rl")
            )
            blocks = blocks.join(
                F.broadcast(ranges),
                (F.col("first_doc") <= F.col("rl"))
                & (F.col("last_doc") >= F.col("rf")),
                "left_semi",
            )
        return blocks

    def index_for(self, q: str,
                  clauses: list[tuple[str, float]] | None = None
                  ) -> InvertedIndex:
        terms = sorted({t for t, _ in (clauses if clauses is not None
                                       else analyze_query(q))})
        postings = apply_deletes(decode_blocks(self._pruned_blocks(terms)),
                                 self.artifact.deletes())
        return InvertedIndex(
            postings=postings,
            term_stats=self.artifact.term_stats(terms),
            stats=self.artifact.stats(),
        )

    def _engine(self, q: str,
                clauses: list[tuple[str, float]] | None = None
                ) -> SearchEngine:
        return SearchEngine(self.spark, self.index_for(q, clauses))

    def topk(self, q: str, k: int = 10, round_to: int | None = None,
             clauses: list[tuple[str, float]] | None = None) -> DataFrame:
        """``clauses`` overrides the analyzer parse — same contract as
        SearchEngine.topk (the lenient grammar's boosts must survive
        delegation verbatim, never a re-analysis of joined text)."""
        return self._engine(q, clauses).topk(q, k, round_to, clauses)

    def multi_topk(self, queries: list[str], k: int = 10,
                   round_to: int | None = None) -> DataFrame:
        """Batched multi-query top-k over the committed artifact
        (SearchEngine.multi_topk's semantics): the UNION of every
        query's analyzed terms drives ONE bucket/term-pruned block
        fetch + decode, then the whole batch scores, conjoins, and
        ranks per query in a single plan — N queries, one job, one
        postings scan. The amortization evidence lives in
        tools/msearch_bench.py / BENCH.md.

        NB: deliberately NOT _pruned_blocks — its rarest-term range
        pruning encodes ONE query's conjunction (and empties the set
        when any term is absent); the batch's queries are independent,
        so only bucket/term pruning applies here."""
        terms = sorted({t for q in queries for t, _ in analyze_query(q)})
        if not terms:
            from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA

            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        postings = apply_deletes(decode_blocks(self.artifact.blocks(terms)),
                                 self.artifact.deletes())
        idx = InvertedIndex(postings=postings,
                            term_stats=self.artifact.term_stats(terms),
                            stats=self.artifact.stats())
        return SearchEngine(self.spark, idx).multi_topk(queries, k,
                                                        round_to)

    def multi_topk_or(self, queries: list[str], k: int = 10,
                      round_to: int | None = None,
                      min_match: int = 1) -> DataFrame:
        """Batched DISJUNCTIVE msearch over the committed artifact —
        same one-decode batch shape as :meth:`multi_topk` (bucket/term
        pruning only; per-query rarest-term or score pruning cannot
        batch), per-query semantics identical to the flat
        :meth:`SearchEngine.topk_or`."""
        terms = sorted({t for q in queries for t, _ in analyze_query(q)})
        if not terms:
            from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA

            return local_frame(self.spark, [], MULTI_TOPK_SCHEMA)
        postings = apply_deletes(decode_blocks(self.artifact.blocks(terms)),
                                 self.artifact.deletes())
        idx = InvertedIndex(postings=postings,
                            term_stats=self.artifact.term_stats(terms),
                            stats=self.artifact.stats())
        return SearchEngine(self.spark, idx).multi_topk_or(
            queries, k, round_to, min_match=min_match)

    def _engine_on_blocks(self, blocks: DataFrame, terms: list[str],
                          predicate: str | None = None) -> SearchEngine:
        """Decode the given block rows (tombstones applied) and wrap a
        SearchEngine — final scoring is byte-identical to the flat
        engine/oracle regardless of which blocks were pruned.
        ``predicate`` restricts matches to qualifying fast-field docs
        (semi-join, like topk_filtered); BM25 stats stay corpus-global."""
        cols = ["term", "first_doc", "last_doc", "n", "max_tf", "min_dl",
                "docs", "tfs", "dls"]
        if "seg" in blocks.columns:
            cols.append("seg")
        postings = apply_deletes(decode_blocks(blocks.select(*cols)),
                                 self.artifact.deletes())
        if predicate is not None:
            qualifying = self.artifact.doc_stats().filter(
                F.expr(predicate)
            ).select("doc_id")
            postings = postings.join(qualifying, "doc_id", "left_semi")
        return SearchEngine(self.spark, InvertedIndex(
            postings=postings,
            term_stats=self.artifact.term_stats(terms),
            stats=self.artifact.stats(),
        ))

    def topk_wand(self, q: str, k: int = 10,
                  round_to: int | None = None,
                  min_prune_blocks: int | None = None,
                  predicate: str | None = None,
                  clauses: list[tuple[str, float]] | None = None
                  ) -> tuple[DataFrame, dict]:
        """Block-Max WAND top-k — EXACT results with score-based block
        pruning, for single terms AND conjunctions (the relational form
        of the reference's BooleanQuery zipper over block-max skip data,
        serve.rs:413-419; SURVEY.md §4.2/§7 stage 3).

        The rarest query term drives the zipper, exactly like a DAAT
        intersection. Over block METADATA only:

          seed:  take the top-B rarest-term blocks by BM25 block upper
                 bound via ``orderBy(ub).limit(B)`` — physically
                 TakeOrderedAndProject (per-partition heaps + driver
                 merge), NEVER a single-task global sort/window. Pull
                 in every other-term block overlapping those doc
                 ranges: any doc inside a seed range then has ALL its
                 postings present, so its exact conjunctive score is
                 computable. theta = the k-th exact seed score; if the
                 seed matched < k docs, grow B 4x and retry (when B
                 reaches every rarest block the seed result is already
                 the exact answer and no second pass runs).
          prune: for each rarest block r, every conjunctive match in
                 r's doc range scores at most
                     bound(r) = sum_t w_t * maxub_t(r)
                 where w_t sums the clause boosts on term t and
                 maxub_t(r) is the max block ub of t's blocks
                 overlapping r (a broadcast range join on metadata; a
                 term with NO overlapping block kills r outright —
                 the zipper's skip). Drop r where bound(r) < theta-eps;
                 keep other terms' blocks only where they overlap a
                 SURVIVING rarest range.

        Soundness: every posting of a doc lives in exactly one block
        per term, so dropping rarest block r removes exactly the docs
        in r's range, and each of those scores <= bound(r) < theta-eps
        while >= k seed docs score >= theta. Under round-before-rank,
        eps = one full rounding step guarantees round(pruned) <
        round(theta); with ``round_to=None`` a small RELATIVE eps
        (1e-9 * |theta|) guards the prune against last-ulp divergence
        between the seed plan's theta and the final plan's raw sums —
        raw-score mode is exact up to that guard, not bit-for-bit.
        Returns (result, stats) with blocks_total / blocks_decoded
        (seed + final) — the pruning evidence.

        ``min_prune_blocks`` (default WAND_MIN_PRUNE_BLOCKS) is the
        cost cutoff: with fewer candidate blocks than this, the pruning
        machinery costs more than decoding everything, so the query
        short-circuits to one exact decode+score (stats carry
        ``short_circuit``); likewise the bounds pass is skipped when it
        cannot save at least this many decodes (``bounds_skipped``).

        ``predicate`` adds the fast-field filter (topk_filtered
        semantics — the Tantivy filtered-search shape) UNDER the same
        pruning: theta comes from the k-th FILTERED seed score, and
        every block bound upper-bounds the unfiltered score, hence also
        any filtered doc's score — filtering only tightens theta, so
        pruning stays sound and results match topk_filtered exactly.

        ``clauses`` overrides the analyzer parse (the topk_wand_or
        contract): the mixed engine's term-only route delegates its
        PARSED (term, boost) list here, because re-analyzing a joined
        string re-derives boosts the lenient grammar deliberately set
        differently (a quoted token folds to 1.0; raw-case rules are
        lost after lowercasing).
        """
        from prosearch_spark.index.blocks import block_upper_bound_expr

        if clauses is None:
            clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})
        weights = {t: 0.0 for t in terms}
        for t, b in clauses:
            weights[t] += b

        def exact():
            # the unpruned engine with the same filter semantics
            if predicate is not None:
                return self.topk_filtered(q, predicate, k, round_to,
                                          clauses=clauses)
            return self.topk(q, k, round_to, clauses=clauses)

        if not terms:
            return exact(), {"blocks_total": 0, "blocks_decoded": 0}

        # ONE term-stats job serves the zero-posting check, the rarest
        # pick, and _pruned_blocks' range pruning
        ts = self.artifact.term_stats(terms)
        dfs = {r["term"]: r["df"] for r in ts.collect()}
        if len(terms) > 1 and len(dfs) < len(terms):
            # a clause with zero postings -> conjunction is empty;
            # route through the plain engine for the empty result shape
            return exact(), {"blocks_total": 0, "blocks_decoded": 0}
        blocks = self._pruned_blocks(terms, dfs)
        meta = (
            blocks.join(F.broadcast(ts), "term")
            .join(F.broadcast(self.artifact.stats()))
            .withColumn("ub", F.expr(block_upper_bound_expr()))
        ).persist()
        if min_prune_blocks is None:
            min_prune_blocks = WAND_MIN_PRUNE_BLOCKS
        try:
            # the rarest pick needs only dfs (already collected), so
            # n_blocks and n_rarest come from ONE metadata job — the
            # round-3 ladder paid a second rmeta.count() here, ~0.5 s
            # of local-mode scheduling per query (r3 verdict fix)
            rarest = min(terms, key=lambda t: (dfs.get(t, 0), t))
            cnt_rows = meta.groupBy(
                (F.col("term") == rarest).alias("is_r")
            ).agg(F.count("*").alias("n")).collect()
            n_blocks = sum(r["n"] for r in cnt_rows)
            n_rarest = sum(r["n"] for r in cnt_rows if r["is_r"])
            if n_blocks == 0:
                return exact(), {"blocks_total": 0, "blocks_decoded": 0}
            if n_blocks < min_prune_blocks:
                # cost cutoff: decoding everything beats ~6 extra
                # scheduled jobs of seed/bounds passes. Materialized so
                # the finally-unpersist can't force a recompute.
                from prosearch_spark.query.engine import materialize_topk

                out = materialize_topk(
                    self.spark,
                    self._engine_on_blocks(meta, terms, predicate)
                    .topk(q, k, round_to, clauses=clauses),
                )
                return out, {"blocks_total": n_blocks,
                             "blocks_decoded": n_blocks,
                             "blocks_seed": 0, "blocks_final": n_blocks,
                             "short_circuit": True}
            rmeta = meta.filter(F.col("term") == rarest)

            # -- seed: doubling prefix of rarest blocks by ub ----------
            from prosearch_spark.index.blocks import BLOCK_SIZE

            # the cap bounds EVERY driver-side collect, including the
            # first (a huge k must not translate into an unbounded
            # range pull)
            B = min(max(4, -(-k // BLOCK_SIZE) * 2), SEED_BLOCK_CAP)
            while True:
                covers_all = B >= n_rarest
                # metadata-only heap rows (payload binaries excluded);
                # orderBy+limit = TakeOrderedAndProject, never a
                # single-partition global sort
                ranges = [
                    (r["first_doc"], r["last_doc"])
                    for r in rmeta.select("ub", "first_doc", "last_doc")
                    .orderBy(F.desc("ub"), F.asc("first_doc"))
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
                # when the seed spans every rarest block the seed
                # result IS final — score it under the caller's
                # rounding directly (theta is only needed when a
                # second pass will prune); one decode+score, returned
                # as the already-collected local rows
                rt = round_to if covers_all else None
                seed_rows = self._engine_on_blocks(seed_blocks, terms,
                                                   predicate) \
                    .topk(q, k, round_to=rt, clauses=clauses).collect()
                if covers_all:
                    from prosearch_spark.query.engine import TOPK_SCHEMA

                    n_seed = seed_blocks.count()
                    out = local_frame(self.spark, seed_rows, TOPK_SCHEMA)
                    return out, {"blocks_total": n_blocks,
                                 "blocks_decoded": n_seed,
                                 "blocks_seed": n_seed, "blocks_final": 0}
                if len(seed_rows) >= k:
                    break
                B *= 4  # grow 4x per retry (NOT 2x: fewer rounds, each
                # bounded by SEED_BLOCK_CAP below)
                if min(B, n_rarest) > SEED_BLOCK_CAP:
                    # seeding would collect unbounded metadata to the
                    # driver — hand off to the exact range-pruned path
                    return exact(), {
                        "blocks_total": n_blocks,
                        "blocks_decoded": n_blocks,
                        "seed_capped": True,
                    }
            theta = min(r["score"] for r in seed_rows)
            # round_to: one FULL rounding step (CLAUDE.md invariant);
            # raw mode: relative guard against last-ulp plan divergence
            eps = (10 ** (-round_to) if round_to is not None
                   else 1e-9 * abs(theta))

            # n_seed is needed NOW only for the bounds-skip decision —
            # with the ladder forced (min_prune_blocks=0) that branch
            # is dead, so the count folds into the post-prune stats
            # job instead (one fewer scheduled job on the forced path;
            # r3 verdict item 3's "only compute what the branches
            # need")
            n_seed = None
            if min_prune_blocks > 0:
                # bounds-pass cost cutoff: it can save at most the
                # blocks the seed did not decode — if that is under
                # the pruning threshold, decode them outright (one job
                # instead of the range-join + aggregate + anti-join
                # ladder)
                n_seed = seed_blocks.count()
                if n_blocks - n_seed < min_prune_blocks:
                    out = self._engine_on_blocks(meta, terms,
                                                 predicate).topk(
                        q, k, round_to=round_to, clauses=clauses
                    )
                    return out, {"blocks_total": n_blocks,
                                 "blocks_decoded": n_blocks,
                                 "blocks_seed": n_seed,
                                 "blocks_final": n_blocks - n_seed,
                                 "bounds_skipped": True}

            # -- bound per rarest block (broadcast metadata range join)
            r_ranges = rmeta.select(
                F.col("first_doc").alias("rf"), F.col("last_doc").alias("rl"),
                F.col("ub").alias("rub"),
            )
            if len(terms) == 1:
                bounds = r_ranges.withColumn(
                    "bound", F.lit(weights[rarest]) * F.col("rub")
                )
            else:
                w_expr = None
                for t in terms:
                    e = F.when(F.col("term") == t, F.lit(weights[t]))
                    w_expr = e if w_expr is None else w_expr.when(
                        F.col("term") == t, F.lit(weights[t])
                    )
                others = meta.filter(F.col("term") != rarest).select(
                    "term", "first_doc", "last_doc",
                    (w_expr * F.col("ub")).alias("wub"),
                )
                per_term_max = (
                    others.join(
                        F.broadcast(r_ranges),
                        (F.col("first_doc") <= F.col("rl"))
                        & (F.col("last_doc") >= F.col("rf")),
                    )
                    .groupBy("rf", "rl", "rub", "term")
                    .agg(F.max("wub").alias("mx"))
                )
                bounds = (
                    per_term_max.groupBy("rf", "rl", "rub")
                    .agg(F.sum("mx").alias("osum"),
                         F.count("*").alias("nterms"))
                    # a rarest range overlapped by < n-1 other terms
                    # cannot host a conjunctive match at all
                    .filter(F.col("nterms") == len(terms) - 1)
                    .withColumn(
                        "bound",
                        F.lit(weights[rarest]) * F.col("rub") + F.col("osum"),
                    )
                )
            surviving_r = bounds.filter(
                F.col("bound") >= F.lit(theta - eps)
            ).select("rf", "rl")
            survivors = meta.join(
                F.broadcast(surviving_r),
                (F.col("first_doc") <= F.col("rl"))
                & (F.col("last_doc") >= F.col("rf")),
                "left_semi",
            )
            # blocks already decoded for the seed are not decoded again:
            # the final scoring set = seed blocks + surviving blocks the
            # seed did not cover (block_key: (term, first_doc), plus seg
            # on a live stack view — an upserted doc keeps its id, so
            # the seed anti-join must not conflate same-keyed blocks
            # from different segments). Extra seed blocks are
            # harmless: their docs score complete and below theta.
            key = block_key(seed_blocks)
            new_blocks = survivors.join(
                seed_blocks.select(*key), key, "left_anti",
            )
            if n_seed is None:
                # ONE tagged count job for both stats figures
                cnts = seed_blocks.select(F.lit(True).alias("s")) \
                    .unionByName(new_blocks.select(F.lit(False)
                                                   .alias("s"))) \
                    .groupBy("s").agg(F.count("*").alias("n")).collect()
                n_seed = sum(r["n"] for r in cnts if r["s"])
                n_new = sum(r["n"] for r in cnts if not r["s"])
            else:
                n_new = new_blocks.count()
            out = self._engine_on_blocks(
                seed_blocks.unionByName(new_blocks), terms, predicate
            ).topk(q, k, round_to=round_to, clauses=clauses)
            return out, {"blocks_total": n_blocks,
                         "blocks_decoded": n_seed + n_new,
                         "blocks_seed": n_seed, "blocks_final": n_new}
        finally:
            meta.unpersist()

    def topk_wand_or(self, q: str, k: int = 10,
                     round_to: int | None = None,
                     min_prune_blocks: int | None = None,
                     min_match: int = 1,
                     clauses: list[tuple[str, float]] | None = None
                     ) -> tuple[DataFrame, dict]:
        """DISJUNCTIVE Block-Max WAND top-k — match ANY clause, score =
        sum of matched contributions. This is the query shape the
        block-max skip structure was invented for (Ding & Suel 2011,
        PAPERS.md): with no required term there is no rarest-term
        zipper, so every block is its own candidate, bounded by

            bound(b) = wub(b) + sum_{t' != term(b)} max wub of t'-blocks
                       overlapping b's doc range

        (wub = clause-weight x block upper bound). Soundness: a doc d
        matching clause set S has, for each t in S, its posting in one
        block b_t(d); every other matched term's block contains d, so
        it overlaps b_t(d)'s range and its wub enters the max — hence
        bound(b_t(d)) >= score(d). If score(d) >= theta, ALL of d's
        blocks survive and d decodes completely (exact score); if any
        of d's blocks is pruned then score(d) <= bound < theta-eps and
        d cannot enter the top-k (>= k seed docs score >= theta).
        Partially-decoded survivors only UNDERSTATE their (sub-theta)
        scores, so they cannot displace anything either.

        The ladder (seed by weighted ub over ALL terms' blocks ->
        theta from exact seed scores -> per-block bound via one
        metadata self-range-join -> decode surviving blocks) and the
        cost cutoffs mirror topk_wand; the metadata join is
        blocks x blocks but only over the QUERY terms' blocks
        (sum_t df_t / BLOCK_SIZE rows), never the corpus.

        ``min_match`` adds minimum_should_match semantics (m-of-n):
        the per-block bounds dominate any clause subset's score, so
        the pruning argument is unchanged; only the final clause-count
        filter and the seed scoring apply the threshold. A partial doc
        can understate nmatch, but only below-theta docs decode
        partially, so nothing that belongs in the top-k is lost.
        """
        from prosearch_spark.index.blocks import (
            BLOCK_SIZE,
            block_upper_bound_expr,
        )
        from prosearch_spark.query.engine import (
            TOPK_SCHEMA,
            materialize_topk,
        )

        if clauses is None:
            clauses = analyze_query(q)
        terms = sorted({t for t, _ in clauses})
        weights = {t: 0.0 for t in terms}
        for t, b in clauses:
            weights[t] += b
        if not terms:
            return (local_frame(self.spark, [], TOPK_SCHEMA),
                    {"blocks_total": 0, "blocks_decoded": 0})
        if min_prune_blocks is None:
            min_prune_blocks = WAND_OR_MIN_PRUNE_BLOCKS

        w_expr = None
        for t in terms:
            e = F.when(F.col("term") == t, F.lit(weights[t]))
            w_expr = e if w_expr is None else w_expr.when(
                F.col("term") == t, F.lit(weights[t]))

        ts = self.artifact.term_stats(terms)
        meta = (
            self.artifact.blocks(terms)
            .join(F.broadcast(ts), "term")
            .join(F.broadcast(self.artifact.stats()))
            .withColumn("ub", F.expr(block_upper_bound_expr()))
            .withColumn("wub", w_expr * F.col("ub"))
        ).persist()

        def _eng(blks):
            return self._engine_on_blocks(blks, terms)

        def _topk_or(blks, rt):
            return _eng(blks).topk_or(q, k, round_to=rt,
                                      min_match=min_match,
                                      clauses=clauses)

        try:
            n_blocks = meta.count()
            if n_blocks == 0:
                return (local_frame(self.spark, [], TOPK_SCHEMA),
                        {"blocks_total": 0, "blocks_decoded": 0})
            if n_blocks < min_prune_blocks:
                out = materialize_topk(
                    self.spark, _topk_or(meta, round_to))
                return out, {"blocks_total": n_blocks,
                             "blocks_decoded": n_blocks,
                             "blocks_seed": 0, "blocks_final": n_blocks,
                             "short_circuit": True}

            # -- seed: doubling prefix of ALL blocks by weighted ub ----
            B = min(max(4, -(-k // BLOCK_SIZE) * 2), SEED_BLOCK_CAP)
            while True:
                covers_all = B >= n_blocks
                ranges = [
                    (r["first_doc"], r["last_doc"])
                    for r in meta.select("wub", "first_doc", "last_doc")
                    .orderBy(F.desc("wub"), F.asc("first_doc"))
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
                rt = round_to if covers_all else None
                seed_rows = _topk_or(seed_blocks, rt).collect()
                if covers_all:
                    n_seed = seed_blocks.count()
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

            # n_seed only gates the bounds-skip branch (dead when the
            # ladder is forced) — same count deferral as topk_wand
            n_seed = None
            if min_prune_blocks > 0:
                n_seed = seed_blocks.count()
                if n_blocks - n_seed < min_prune_blocks:
                    out = _topk_or(meta, round_to)
                    return out, {"blocks_total": n_blocks,
                                 "blocks_decoded": n_blocks,
                                 "blocks_seed": n_seed,
                                 "blocks_final": n_blocks - n_seed,
                                 "bounds_skipped": True}

            # -- per-block bound via ONE metadata self-range-join ------
            ra = meta.select(
                F.col("term").alias("rt"),
                F.col("first_doc").alias("rf"),
                F.col("last_doc").alias("rl"),
                F.col("wub").alias("rwub"),
            )
            others = meta.select("term", "first_doc", "last_doc", "wub")
            per_term_max = (
                others.join(
                    F.broadcast(ra),
                    (F.col("first_doc") <= F.col("rl"))
                    & (F.col("last_doc") >= F.col("rf"))
                    & (F.col("term") != F.col("rt")),
                )
                .groupBy("rt", "rf", "rl", "rwub", "term")
                .agg(F.max("wub").alias("mx"))
            )
            osum = per_term_max.groupBy("rt", "rf", "rl", "rwub").agg(
                F.sum("mx").alias("osum"))
            surviving = (
                ra.join(osum, ["rt", "rf", "rl", "rwub"], "left")
                .withColumn("bound",
                            F.col("rwub") + F.coalesce(F.col("osum"),
                                                       F.lit(0.0)))
                .filter(F.col("bound") >= F.lit(theta - eps))
                .select(F.col("rt").alias("term"),
                        F.col("rf").alias("first_doc"))
            )
            # decode set = the surviving BLOCKS themselves (unlike the
            # conjunctive ladder there is no driver-range expansion —
            # every qualifying doc's blocks each survive on their own).
            # On a live stack the (term, first_doc) semi-join may keep
            # a same-keyed sibling from another segment — conservative
            # (extra decode), never unsound; the seed ANTI-join keys on
            # the full block_key so no distinct block is dropped.
            survivors = meta.join(F.broadcast(surviving),
                                  ["term", "first_doc"], "left_semi")
            key = block_key(seed_blocks)
            new_blocks = survivors.join(
                seed_blocks.select(*key), key, "left_anti",
            )
            if n_seed is None:
                cnts = seed_blocks.select(F.lit(True).alias("s")) \
                    .unionByName(new_blocks.select(F.lit(False)
                                                   .alias("s"))) \
                    .groupBy("s").agg(F.count("*").alias("n")).collect()
                n_seed = sum(r["n"] for r in cnts if r["s"])
                n_new = sum(r["n"] for r in cnts if not r["s"])
            else:
                n_new = new_blocks.count()
            out = _topk_or(seed_blocks.unionByName(new_blocks),
                           round_to)
            return out, {"blocks_total": n_blocks,
                         "blocks_decoded": n_seed + n_new,
                         "blocks_seed": n_seed, "blocks_final": n_new}
        finally:
            meta.unpersist()

    def topk_not(self, q: str, exclude: str, k: int = 10,
                 round_to: int | None = None) -> DataFrame:
        """BooleanQuery must_not over the committed artifact: the
        bucket/term/range-pruned conjunctive decode anti-joined with
        the excluded terms' postings (their lookup is bucket-pruned
        like any query term's; exclusion never scores — Occur::MustNot
        semantics)."""
        from prosearch_spark.query.engine import rank_topk

        ex_terms = sorted({t for t, _ in analyze_query(exclude)})
        d = self._engine(q)._docs_scored(q)
        if ex_terms:
            ex_docs = self.artifact.postings(ex_terms).select("doc_id")
            d = d.join(ex_docs, "doc_id", "left_anti")
        return rank_topk(d, k, round_to)

    def more_like_this(self, seed_doc_id: int, k: int = 10,
                       max_terms: int = 8, min_df: int = 2,
                       round_to: int | None = None,
                       min_prune_blocks: int | None = None,
                       text_col: str = "text"
                       ) -> tuple[DataFrame, dict]:
        """MoreLikeThis over a COMMITTED artifact — the production
        related-docs shape (serve.rs:336-453 navigation analog; the
        flat-engine twin is SearchEngine.more_like_this).

        This implements the flat docstring's own 100 TB recipe: the
        seed's term frequencies come from the DOC-STORE POINT FETCH
        (S5) + re-analysis (T1, the white_lower Python twin — one doc,
        driver-side, no postings-scale scan), NOT a postings filter:
        postings are bucketed by TERM, so "all postings of one doc"
        would scan every bucket. Selection scoring is Spark-side with
        ``MLT_TERM_EXPR`` — the ONE SQL string shared with the flat
        engine and the DuckDB oracle — over the bucket-pruned
        term_stats of the seed's own terms (<= one doc's vocabulary),
        so the selected seed-term set is identical to the flat path by
        construction (6dp grid, ties -> term ASC, df >= min_df).

        The final query is DISJUNCTIVE Block-Max WAND (topk_wand_or)
        with uniform boost 1.0, asked for k+1 hits; the seed row is
        then dropped and ranks renumbered. Exactness: topk_wand_or is
        exact under (rounded score DESC, doc_id ASC), and the top-k of
        corpus-minus-seed is precisely the first k of the global
        top-(k+1) with the seed removed — whether or not the seed made
        the list. Excluding AFTER an exact k+1 ranking keeps the WAND
        theta sound (a pre-exclusion theta seeded off the usually
        top-ranked seed doc would be too tight for the survivors).
        """
        from prosearch_spark.analyzer import white_lower_py
        from prosearch_spark.query.bm25 import MLT_TERM_EXPR
        from prosearch_spark.query.engine import TOPK_SCHEMA

        store = self.artifact.doc_store()
        if store is None:
            raise ValueError(
                "more_like_this needs a doc_store (write_doc_store with "
                "the analyzed text column) for the S5 seed fetch")
        rows = (store.filter(F.col("doc_id") == seed_doc_id)
                .select(text_col).collect())
        empty = (local_frame(self.spark, [], TOPK_SCHEMA),
                 {"blocks_total": 0, "blocks_decoded": 0})
        if not rows or rows[0][0] is None:
            return empty
        from collections import Counter
        tf = Counter(white_lower_py(rows[0][0]))
        if not tf:
            return empty
        seed_tf = local_frame(
            self.spark, [(t, int(c)) for t, c in sorted(tf.items())],
            "term string, tf long")
        sel = (
            self.artifact.term_stats(sorted(tf))
            .filter(F.col("df") >= min_df)
            .join(F.broadcast(seed_tf), "term")
            .crossJoin(F.broadcast(self.artifact.stats()))
            .withColumn("mscore", F.expr(MLT_TERM_EXPR))
            .orderBy(F.desc("mscore"), F.asc("term"))
            .limit(max_terms)
        )
        clauses = [(r["term"], 1.0) for r in sel.select("term").collect()]
        if not clauses:
            return empty
        hits, stats = self.topk_wand_or(
            "", k + 1, round_to=round_to,
            min_prune_blocks=min_prune_blocks, clauses=clauses)
        from pyspark.sql import Window
        out = (
            hits.filter(F.col("doc_id") != seed_doc_id)
            # <= k+1 rows: the harmless k-row rank window
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.asc("rank"))).cast("int"))
            .filter(F.col("rank") <= k)
            .select("rank", "doc_id", "score")
        )
        return out, stats

    def multi_more_like_this(self, seed_doc_ids: list[int], k: int = 10,
                             max_terms: int = 8, min_df: int = 2,
                             round_to: int | None = None,
                             text_col: str = "text") -> DataFrame:
        """Batched MLT over the COMMITTED artifact — related docs for a
        whole result page in three jobs (the msearch contract; per-seed
        semantics identical to :meth:`more_like_this` minus the WAND
        physical plan, so one oracle gates flat and committed):

        1. ONE doc-store scan fetches every seed's stored text
           (``doc_id IN (...)`` — row-group skippable), re-analyzed
           driver-side (|seeds| docs, the T1 Python twin);
        2. ONE selection job: the union of seed vocabularies against
           bucket-pruned term_stats, scored by the shared
           ``MLT_TERM_EXPR``, ranked per seed by a PARTITIONED window;
           the <= |seeds| x max_terms winners collect;
        3. ONE scoring job: the selected terms' blocks decode once
           (bucket/term-pruned) and the shared disjunctive batch tail
           runs (engine._multi_mlt_rank — per-seed exclusion is
           ``doc_id != query_id``).

        Returns (query_id, rank, doc_id, score), query_id = seed
        doc_id.
        """
        from collections import Counter

        from prosearch_spark.analyzer import white_lower_py
        from prosearch_spark.query.bm25 import MLT_TERM_EXPR

        store = self.artifact.doc_store()
        if store is None:
            raise ValueError(
                "multi_more_like_this needs a doc_store (write_doc_store"
                " with the analyzed text column) for the seed fetch")
        seeds = [int(s) for s in seed_doc_ids]
        srows = (store.filter(F.col("doc_id").isin(seeds))
                 .select("doc_id", text_col).collect())
        tf_rows = [
            (int(r["doc_id"]), t, int(c))
            for r in srows if r[text_col] is not None
            for t, c in sorted(Counter(white_lower_py(r[text_col])).items())
        ]
        empty = local_frame(
            self.spark, [],
            "query_id long, rank int, doc_id long, score double")
        if not tf_rows:
            return empty
        seed_tf = local_frame(
            self.spark, tf_rows, "query_id long, term string, tf long")
        vocab = sorted({t for _q, t, _c in tf_rows})
        sel_rows = (
            self.artifact.term_stats(vocab)
            .filter(F.col("df") >= min_df)
            .join(F.broadcast(seed_tf), "term")
            .crossJoin(F.broadcast(self.artifact.stats()))
            .withColumn("mscore", F.expr(MLT_TERM_EXPR))
            .withColumn("mrank", F.row_number().over(
                Window.partitionBy("query_id")
                .orderBy(F.desc("mscore"), F.asc("term"))))
            .filter(F.col("mrank") <= max_terms)
            .select("query_id", "term")
            .collect()  # <= |seeds| x max_terms rows
        )
        if not sel_rows:
            return empty
        terms = sorted({r["term"] for r in sel_rows})
        eng = self._engine_on_blocks(self.artifact.blocks(terms), terms)
        sel = local_frame(
            self.spark, [(int(r["query_id"]), r["term"]) for r in sel_rows],
            "query_id long, term string")
        return eng._multi_mlt_rank(sel, k, round_to)

    def topk_filtered(self, q: str, predicate: str, k: int = 10,
                      round_to: int | None = None,
                      clauses: list[tuple[str, float]] | None = None
                      ) -> DataFrame:
        """Fast-field filtered top-k: matches are restricted by a SQL
        predicate over the typed doc_stats columns BEFORE ranking — the
        Tantivy fast-field collector filter (``fast:true`` columns,
        meta.json:34-46; typed-field options new.rs:136-231). The
        predicate is pushed into the doc_stats parquet scan (plan-
        pinned), then a semi-join keeps only qualifying docs; BM25
        stats (df/avgdl/N) stay corpus-global, exactly like a filtered
        Tantivy search."""
        idx = self.index_for(q, clauses)
        qualifying = self.artifact.doc_stats().filter(
            F.expr(predicate)
        ).select("doc_id")
        postings = idx.postings.join(qualifying, "doc_id", "left_semi")
        eng = SearchEngine(self.spark, InvertedIndex(
            postings=postings, term_stats=idx.term_stats, stats=idx.stats,
        ))
        return eng.topk(q, k, round_to, clauses=clauses)

    def count(self, q: str) -> DataFrame:
        return self._engine(q).count(q)

    def match_scan(self, q: str) -> DataFrame:
        return self._engine(q).match_scan(q)

    # -- committed-artifact paging / aggregation paths (r3 verdict 4) ------
    # Each is decode-then-flat-engine, exactly like topk: the
    # bucket/term-pruned block decode feeds the already-gated flat
    # operator, and group/value/date columns come from the artifact's
    # COLUMNAR fast fields (doc_stats), never a side-loaded corpus —
    # at 100 TB these read k buckets + a pruned doc_stats scan.

    def topk_after(self, q: str, k: int = 10,
                   round_to: int | None = None,
                   after: tuple[float, int] | None = None) -> DataFrame:
        """search_after pagination over the committed artifact."""
        return self._engine(q).topk_after(q, k, round_to, after)

    def terms_stats_agg(self, q: str, group_col: str,
                        value_col: str) -> DataFrame:
        """terms+stats agg tree over the artifact's fast fields."""
        return self._engine(q).terms_stats_agg(
            q, self.artifact.doc_stats(), group_col, value_col)

    def top_hits_by_group(self, q: str, group_col: str,
                          n_per_group: int = 3,
                          round_to: int | None = None) -> DataFrame:
        """Tantivy top_hits sub-aggregation over the COMMITTED
        artifact (round 6): the bucket/term-pruned decode feeds the
        flat per-group WindowGroupLimit algebra; the group key comes
        from the COLUMNAR fast-field doc_stats, never a side-loaded
        corpus. Pytest-pinned against the gated flat engine (the
        driver window is at capacity — the chunk/pack precedent)."""
        return self._engine(q).top_hits_by_group(
            q, self.artifact.doc_stats(), group_col, n_per_group,
            round_to)

    def collapse_topk(self, q: str, collapse_col: str, k: int = 10,
                      round_to: int | None = None) -> DataFrame:
        """Field collapsing over the COMMITTED artifact (round 6 —
        'one result per site' on the production deployment): pruned
        decode -> flat collapse algebra, collapse key from the
        fast-field doc_stats. Pytest-pinned against the gated flat
        engine."""
        return self._engine(q).collapse_topk(
            q, self.artifact.doc_stats(), collapse_col, k, round_to)

    def range_agg(self, q: str, value_col: str,
                  ranges: list[tuple[float | None, float | None]]
                  ) -> DataFrame:
        """ES/Tantivy range aggregation over the artifact's fast
        fields (half-open [lo, hi) buckets, ES overlap semantics)."""
        return self._engine(q).range_agg(
            q, self.artifact.doc_stats(), value_col, ranges)

    def percentiles_agg(self, q: str, value_col: str,
                        ps: list[float] | None = None,
                        round_to: int = 6) -> DataFrame:
        """Percentiles aggregation over the artifact's fast fields."""
        return self._engine(q).percentiles_agg(
            q, self.artifact.doc_stats(), value_col, ps, round_to)

    def percentiles_agg_approx(self, q: str, value_col: str,
                               ps: list[float] | None = None,
                               accuracy: int = 10000) -> DataFrame:
        """Sketch-based percentiles over the fast fields — the scale
        path (see SearchEngine.percentiles_agg_approx)."""
        return self._engine(q).percentiles_agg_approx(
            q, self.artifact.doc_stats(), value_col, ps, accuracy)

    def date_histogram(self, q: str, date_col: str) -> DataFrame:
        """Per-month date histogram over a Date fast field (Tantivy
        DateHistogramAggregation): pruned match set joined to the
        columnar doc_stats date, one groupBy."""
        m = self._engine(q).match_scan(q)
        ds = self.artifact.doc_stats().select("doc_id", date_col)
        return (
            m.join(ds, "doc_id")
            .withColumn("month",
                        F.date_format(F.date_trunc("month", date_col),
                                      "yyyy-MM-dd"))
            .groupBy("month").agg(F.count("*").alias("doc_count"))
            .orderBy("month")
        )

    def phrase_prefix_topk(self, phrase: str, prefix: str, k: int = 10,
                           round_to: int | None = None,
                           max_expansions: int | None = None) -> DataFrame:
        """Phrase + last-slot prefix (MultiPhraseQuery) over a
        committed POSITIONAL artifact: the prefix expansion reads the
        artifact's term_stats METADATA (vocabulary-sized parquet — the
        FST dictionary-walk analog, with the Lucene df DESC / term ASC
        cap), then ONLY the fixed + expansion terms' blocks decode
        (bucket/term-pruned). The r3 path grouped the passed postings
        to build its dictionary — a postings-scale shuffle this
        metadata read replaces."""
        from prosearch_spark.index.positions import (
            phrase_prefix_matches,
            phrase_scores,
        )
        from prosearch_spark.query.engine import materialize_topk, rank_topk
        from prosearch_spark.query.expand import MAX_EXPANSIONS, prefix_clauses

        terms = [t for t, _ in analyze_query(phrase)]
        exp = [t for t, _ in prefix_clauses(
            self.artifact.term_stats(None), prefix,
            max_expansions or MAX_EXPANSIONS)]
        needed = sorted(set(terms) | set(exp))
        postings = self.artifact.postings(needed)
        if "positions" not in postings.columns:
            raise ValueError("artifact was not built with_positions=True")
        m = phrase_prefix_matches(postings, terms, exp).persist()
        try:
            phrase_df = m.count()
            scored = phrase_scores(m, phrase_df, self.artifact.stats()) \
                .withColumnRenamed("s", "score")
            return materialize_topk(self.spark, rank_topk(scored, k, round_to))
        finally:
            m.unpersist()

    def facet_counts(self, q: str, facet_col: str = "facets") -> DataFrame:
        """Tantivy FacetCollector analog (r3 verdict 8): per facet PATH
        PREFIX, the number of matched docs carrying >= 1 facet under
        that prefix. Facets are '/'-separated paths in an array-typed
        fast field; every leading-segment prefix of every facet counts
        the doc once (dropDuplicates on (doc, path) — a doc with two
        facets under one subtree still counts once there, the Lucene
        doc-count rule). Prefix explosion multiplies rows by path
        depth (small constant); one distinct + one groupBy shuffle."""
        m = self._engine(q).match_scan(q)
        ds = self.artifact.doc_stats().select("doc_id", facet_col)
        segs = F.split(F.col("facet"), "/")
        pref = (
            ds.join(m, "doc_id", "left_semi")
            .select("doc_id", F.explode(facet_col).alias("facet"))
            .select("doc_id", F.explode(F.transform(
                F.sequence(F.lit(1), F.size(segs)),
                lambda i: F.concat_ws("/", F.slice(segs, F.lit(1), i)),
            )).alias("path"))
        )
        return (
            pref.dropDuplicates(["doc_id", "path"])
            .groupBy("path").agg(F.count("*").alias("doc_count"))
            .orderBy("path")
        )

    def mixed_topk(self, q: str, k: int = 10,
                   round_to: int | None = None,
                   return_stats: bool = False
                   ) -> DataFrame | tuple[DataFrame, dict]:
        """Lenient mixed term+phrase query over a COMMITTED positional
        artifact — the serving path at scale: bucket/term pruning
        fetches only the clause terms' (positional) postings, nothing
        re-tokenizes the corpus, and collection stats come from the
        manifest. Scoring algebra is shared with query/mixed (term BM25
        + phrase BM25, conjunction, clause scores summed).

        PRUNING before decode (the zipper's skip applied to the mixed
        grammar, reference: lenient parse serve.rs:407-409 feeding the
        BooleanQuery zipper serve.rs:413-419):

        - a query that parses to TERM clauses only IS a conjunction —
          it routes through the score-based Block-Max WAND ladder with
          the PARSED (term, boost) clause list passed through verbatim
          (re-analyzing a joined string would re-derive boosts the
          lenient grammar deliberately set differently: a quoted token
          folds to 1.0, and raw-case boost decisions are lost after
          lowercasing — r3 ADVICE finding);
        - a PHRASE's terms only decode blocks overlapping the block
          ranges of the phrase's rarest term — a doc containing the
          phrase contains every phrase term, so its postings all sit in
          overlapping blocks; phrase df stays EXACT because every doc
          that could contain the phrase survives;
        - TERM-clause blocks only decode where they overlap the FIRST
          PHRASE'S MATCH doc ranges (every final match matches every
          phrase). Match doc ids are collected capped at
          SEED_BLOCK_CAP and merged into intervals, exactly like the
          WAND seed's metadata pull; a phrase matching more docs than
          the cap falls back to the rarest clause term's block ranges.
          Sound either way: a dropped row's doc cannot pass the
          clause-count conjunction filter.

        ``return_stats=True`` additionally returns
        {blocks_total, blocks_decoded} — the pruning evidence (costs
        two extra metadata count jobs; the serving path skips them).
        """
        from prosearch_spark.analyzer import parse_query_lenient
        from prosearch_spark.query.engine import TOPK_SCHEMA
        from prosearch_spark.query.mixed import mixed_topk as _mixed

        def _ret(df: DataFrame, stats: dict):
            return (df, stats) if return_stats else df

        clauses = parse_query_lenient(q)
        if not clauses:
            return _ret(local_frame(self.spark, [], TOPK_SCHEMA),
                        {"blocks_total": 0, "blocks_decoded": 0})
        term_clauses = [c for kind, c in clauses if kind == "term"]
        phrase_clauses = [c for kind, c in clauses if kind == "phrase"]
        all_terms = sorted(
            {t for t, _ in term_clauses}
            | {t for terms in phrase_clauses for t in terms}
        )
        blocks = self.artifact.blocks(all_terms)
        if phrase_clauses and "positions" not in blocks.columns:
            raise ValueError("artifact was not built with_positions=True")
        dfs = {r["term"]: int(r["df"])
               for r in self.artifact.term_stats(all_terms).collect()}
        if any(t not in dfs for t in all_terms):
            # a clause term with zero postings -> conjunction is empty
            return _ret(local_frame(self.spark, [], TOPK_SCHEMA),
                        {"blocks_total": 0, "blocks_decoded": 0})

        def _ranges_of(term: str) -> DataFrame:
            return blocks.filter(F.col("term") == term).select(
                F.col("first_doc").alias("rf"),
                F.col("last_doc").alias("rl"),
            )

        def _overlap_semi(side: DataFrame, ranges: DataFrame) -> DataFrame:
            return side.join(
                F.broadcast(ranges),
                (F.col("first_doc") <= F.col("rl"))
                & (F.col("last_doc") >= F.col("rf")),
                "left_semi",
            )

        tc_terms = sorted({t for t, _ in term_clauses})
        if not phrase_clauses:
            # pure conjunction: the score-based ladder applies as-is,
            # with the parsed clause list (boosts preserved verbatim)
            out, wstats = self.topk_wand(q, k, round_to,
                                         clauses=term_clauses)
            return _ret(out, wstats)

        def _decode(needed: DataFrame) -> DataFrame:
            return apply_deletes(decode_blocks(needed),
                                 self.artifact.deletes())

        # -- phrase coverage (exact phrase df preserved) ------------------
        pieces: list[DataFrame] = []
        for terms_p in phrase_clauses:
            tp = sorted(set(terms_p))
            side = blocks.filter(F.col("term").isin(tp))
            if len(tp) > 1:
                rarest_p = min(tp, key=lambda t: (dfs[t], t))
                side = _overlap_semi(side, _ranges_of(rarest_p))
            pieces.append(side)
        ph_needed = pieces[0]
        for p in pieces[1:]:
            ph_needed = ph_needed.unionByName(p)
        # unique block key (per-term ranges are disjoint by the
        # range-partitioned writer; + seg on a live stack view)
        ph_needed = ph_needed.dropDuplicates(block_key(ph_needed))
        pp = _decode(ph_needed).persist()
        persisted = [pp]
        try:
            pp_terms = None
            tc_needed = None
            if tc_terms:
                from prosearch_spark.index.positions import phrase_matches

                tblocks = blocks.filter(F.col("term").isin(tc_terms))
                m0 = phrase_matches(pp, list(phrase_clauses[0]))
                ids = [
                    r["doc_id"]
                    for r in m0.select("doc_id").orderBy("doc_id")
                    .limit(SEED_BLOCK_CAP + 1).collect()
                ]
                if not ids:
                    # first phrase matches nothing -> conjunction dead
                    return _ret(
                        local_frame(self.spark, [], TOPK_SCHEMA),
                        {"blocks_total": blocks.count()
                         if return_stats else 0,
                         "blocks_decoded": 0},
                    )
                if len(ids) <= SEED_BLOCK_CAP:
                    # merge match ids into intervals (gap tolerance =
                    # one block span: finer ranges cannot skip more)
                    from prosearch_spark.index.blocks import BLOCK_SIZE

                    ranges: list[tuple[int, int]] = []
                    lo = prev = ids[0]
                    for d in ids[1:]:
                        if d - prev > BLOCK_SIZE:
                            ranges.append((lo, prev))
                            lo = d
                        prev = d
                    ranges.append((lo, prev))
                    ranges_df = local_frame(
                        self.spark, ranges, "rf long, rl long"
                    )
                    tc_needed = tblocks.join(
                        F.broadcast(ranges_df),
                        (F.col("first_doc") <= F.col("rl"))
                        & (F.col("last_doc") >= F.col("rf")),
                        "left_semi",
                    )
                else:
                    # phrase too common to collect: rarest clause
                    # term's block ranges still bound the candidates
                    g_rarest = min(all_terms, key=lambda t: (dfs[t], t))
                    tc_needed = _overlap_semi(tblocks, _ranges_of(g_rarest))
                pp_terms = _decode(tc_needed).persist()
                persisted.append(pp_terms)
            stats = {}
            if return_stats:
                needed = (ph_needed if tc_needed is None else
                          ph_needed.unionByName(tc_needed)
                          .dropDuplicates(block_key(ph_needed)))
                stats = {"blocks_total": blocks.count(),
                         "blocks_decoded": needed.count()}
            return _ret(_mixed(
                self.spark, None, q, k, round_to,
                pp=pp, stats=self.artifact.stats(),
                term_stats=self.artifact.term_stats(tc_terms)
                if term_clauses else None,
                pp_terms=pp_terms,
            ), stats)
        finally:
            for df in persisted:
                df.unpersist()

    def phrase_topk(self, phrase: str, k: int = 10,
                    round_to: int | None = None) -> DataFrame:
        """Exact-phrase BM25 over a positional artifact
        (save_index(with_positions=True)); positions decode only for
        the phrase's terms after bucket/term pruning."""
        from prosearch_spark.index.positions import (
            phrase_matches,
            phrase_topk as _pt,
        )

        terms = [t for t, _ in analyze_query(phrase)]
        postings = self.artifact.postings(sorted(set(terms)))
        if "positions" not in postings.columns:
            raise ValueError("artifact was not built with_positions=True")
        return _pt(self.spark, postings, self.artifact.stats(), phrase, k,
                   round_to)

    def phrase_slop_topk(self, phrase: str, slop: int, k: int = 10,
                         round_to: int | None = None) -> DataFrame:
        """Ordered proximity phrase (Tantivy PhraseQuery::set_slop
        parity) over a positional artifact: bucket/term-pruned decode
        of only the phrase's terms, then the shared greedy-chain
        matcher (index/positions.phrase_slop_topk — semantics and the
        greedy==exists proof live there)."""
        from prosearch_spark.index.positions import (
            phrase_slop_topk as _pst,
        )

        terms = [t for t, _ in analyze_query(phrase)]
        postings = self.artifact.postings(sorted(set(terms)))
        if "positions" not in postings.columns:
            raise ValueError("artifact was not built with_positions=True")
        return _pst(self.spark, postings, self.artifact.stats(), phrase,
                    slop, k, round_to)

    def mixed_slop_topk(self, q: str, k: int = 10,
                        round_to: int | None = None) -> DataFrame:
        """Proximity mixed grammar (``spark "join hash"~2``) over a
        COMMITTED positional artifact: bucket/term-pruned decode of
        exactly the clause terms' positional postings, manifest
        collection stats, scoring via the shared mixed body
        (query/mixed._mixed_impl — term BM25 + ordered-slop synthetic
        phrase BM25, conjunctive). No staged block pruning in this
        path (a slop clause's admissible doc ranges are WIDER than an
        exact phrase's; the exact-phrase route keeps its pruning) —
        the decode is still bounded by the clause terms' buckets."""
        from prosearch_spark.analyzer import parse_query_slop
        from prosearch_spark.query.engine import TOPK_SCHEMA
        from prosearch_spark.query.mixed import _mixed_impl

        clauses = parse_query_slop(q)
        if not clauses:
            return local_frame(self.spark, [], TOPK_SCHEMA)
        all_terms = sorted(
            {t for kind, c in clauses if kind == "term"
             for t in [c[0]]}
            | {t for kind, c in clauses if kind == "phrase" for t in c}
            | {t for kind, c in clauses if kind == "slop"
               for t in c[0]}
        )
        postings = self.artifact.postings(all_terms)
        needs_pos = any(kind in ("phrase", "slop") for kind, _ in clauses)
        if needs_pos and "positions" not in postings.columns:
            raise ValueError("artifact was not built with_positions=True")
        # persist: each clause kind (term scoring, every phrase/slop
        # side) reads the decode — unpersisted, the bucket-pruned
        # scan+decode would re-run once per side
        postings = postings.persist()
        try:
            return _mixed_impl(
                self.spark, None, clauses, k, round_to, "text",
                "doc_id", pp=postings, stats=self.artifact.stats(),
                term_stats=self.artifact.term_stats(all_terms),
                pp_terms=None)
        finally:
            postings.unpersist()

    def multi_mixed_topk(self, queries: list[str], k: int = 10,
                         round_to: int | None = None) -> DataFrame:
        """Batched msearch for MIXED (term + quoted-phrase) query
        batches over a positional artifact (round 5): the whole batch
        runs in a FIXED number of jobs — one decode + one plan per
        phrase SHAPE — instead of one route() job per quoted member.

        Why per-shape, not per-phrase: a phrase of n terms is an n-way
        position self-join, so its PLAN depends only on n. Every
        phrase of the same length across the whole batch shares one
        join chain, keyed by (query_id, clause_id): slot i's side =
        the one decoded postings frame semi-joined to a broadcast
        (query_id, clause_id, term) slot table. A 24-term + 8-phrase
        batch with phrase lengths {2, 3} costs one term-scoring plan
        plus two phrase plans, all unioned and ranked in one
        partitioned window (WindowGroupLimit, never a global sort).

        Per-query semantics are identical to :meth:`mixed_topk`
        (lenient parse, term BM25 + synthetic-term phrase BM25 with
        EXACT phrase df, conjunction over ALL clauses, round-before-
        rank, (score DESC, doc_id ASC)); a query with an unmatched
        clause simply never reaches its clause count — no per-query
        early exits, so one dead member cannot empty the batch (the
        multi_topk rule). Like multi_topk, the batch decodes the UNION
        of all clause terms' blocks with bucket/term pruning only —
        one member's conjunction pruning does not compose across a
        batch."""
        from prosearch_spark.analyzer import parse_query_slop
        from prosearch_spark.query.bm25 import SCORE_EXPR
        from prosearch_spark.query.engine import MULTI_TOPK_SCHEMA

        # parse_query_slop is a strict superset of the lenient
        # grammar (byte-identical clauses on every slop-free query),
        # so quoted batches keep their exact semantics and "..."~N
        # members batch too (round 6 — a slop clause's plan also
        # depends only on its LENGTH: the window bound rides along as
        # a broadcast column, so same-length slop phrases with
        # different slops share one join chain)
        parsed = [(qi, parse_query_slop(q))
                  for qi, q in enumerate(queries)]
        term_rows = []     # (query_id, clause_id, term, boost)
        by_len: dict[int, list] = {}   # n -> [(query_id, clause_id, terms)]
        # n -> [(query_id, clause_id, terms, window)] for "..."~N
        by_len_slop: dict[int, list] = {}
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

        all_terms = sorted({t for _q, _c, t, _b in term_rows}
                           | {t for g in by_len.values()
                              for _q, _c, ts in g for t in ts}
                           | {t for g in by_len_slop.values()
                              for _q, _c, ts, _w in g for t in ts})
        blocks = self.artifact.blocks(all_terms)
        if (by_len or by_len_slop) and "positions" not in blocks.columns:
            raise ValueError("artifact was not built with_positions=True")
        pp = apply_deletes(decode_blocks(blocks),
                           self.artifact.deletes()).persist()
        try:
            stats = self.artifact.stats()
            parts: list[DataFrame] = []
            if term_rows:
                qdf = local_frame(
                    self.spark, term_rows,
                    "query_id int, clause_id int, term string, "
                    "boost double")
                ts = self.artifact.term_stats(
                    sorted({t for _q, _c, t, _b in term_rows}))
                parts.append(
                    pp.select("term", "doc_id", "tf", "dl")
                    .join(F.broadcast(qdf), "term")
                    .join(F.broadcast(ts), "term")
                    .crossJoin(F.broadcast(stats))
                    .withColumn("s", F.expr(SCORE_EXPR))
                    .select("query_id", "clause_id", "doc_id", "s")
                )
            for n, group in sorted(by_len.items()):
                slot_rows = [(qi, ci, i, t)
                             for qi, ci, terms_p in group
                             for i, t in enumerate(terms_p)]
                slots = local_frame(
                    self.spark, slot_rows,
                    "query_id int, clause_id int, slot int, term string")
                def _shifted(by: int):
                    # NB: single-parameter lambda — F.transform binds
                    # a second parameter to the element INDEX
                    return F.transform("positions",
                                       lambda p: p - F.lit(by))

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
                    joined.withColumn("tf",
                                      F.size(inter).cast("long"))
                    .filter(F.col("tf") > 0)
                    .select("query_id", "clause_id", "doc_id", "dl",
                            "tf")
                )
                # exact per-phrase df (one row per matched doc by
                # construction: each side holds <=1 row per doc)
                pdf = matches.groupBy("query_id", "clause_id").agg(
                    F.count("*").alias("df"))
                parts.append(
                    matches.join(F.broadcast(pdf),
                                 ["query_id", "clause_id"])
                    .crossJoin(F.broadcast(stats))
                    .withColumn("boost", F.lit(1.0))
                    .withColumn("s", F.expr(SCORE_EXPR))
                    .select("query_id", "clause_id", "doc_id", "s")
                )
            for n, group in sorted(by_len_slop.items()):
                # slop phrases of length n share ONE unshifted n-way
                # join; the window bound w = (n-1)+slop is a broadcast
                # COLUMN, so mixed slops batch together. tf = the
                # greedy-chain start count (the single-query
                # phrase_slop_matches algebra with w as an outer
                # reference in the HOF)
                slot_rows = [(qi, ci, i, t)
                             for qi, ci, terms_p, _w in group
                             for i, t in enumerate(terms_p)]
                slots = local_frame(
                    self.spark, slot_rows,
                    "query_id int, clause_id int, slot int, term string")
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
                    "start, (acc, arr) -> CASE WHEN acc < 0 THEN -1 "
                    "ELSE coalesce(array_min(filter(arr, "
                    "x -> x > acc)), -1) END, "
                    "acc -> acc >= 0 AND acc - start <= w)))"
                )
                smatches = (
                    joined.withColumn("tf", F.expr(chain).cast("long"))
                    .filter(F.col("tf") > 0)
                    .select("query_id", "clause_id", "doc_id", "dl",
                            "tf")
                )
                spdf = smatches.groupBy("query_id", "clause_id").agg(
                    F.count("*").alias("df"))
                parts.append(
                    smatches.join(F.broadcast(spdf),
                                  ["query_id", "clause_id"])
                    .crossJoin(F.broadcast(stats))
                    .withColumn("boost", F.lit(1.0))
                    .withColumn("s", F.expr(SCORE_EXPR))
                    .select("query_id", "clause_id", "doc_id", "s")
                )
            scored = reduce(lambda a, b: a.unionByName(b), parts)
            ndf = local_frame(
                self.spark, [(qi, len(cls)) for qi, cls in parsed if cls],
                "query_id int, n_clauses int")
            # duplicate clauses carry distinct clause_ids, so the
            # DISTINCT count equals the clause count exactly when
            # every clause matched (the fielded-mixed conjunction
            # rule); their scores still both sum
            d = (
                scored.groupBy("query_id", "doc_id")
                .agg(F.sum("s").alias("score"),
                     F.countDistinct("clause_id").alias("nmatch"))
                .join(F.broadcast(ndf), "query_id")
                .filter(F.col("nmatch") == F.col("n_clauses"))
            )
            if round_to is not None:
                d = d.withColumn("score", F.round("score", round_to))
            from pyspark.sql import Window

            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id"))
            out = (
                d.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= k)
                .select("query_id", "rank", "doc_id", "score")
                .orderBy("query_id", "rank")
            )
            from prosearch_spark.query.engine import materialize_topk

            return materialize_topk(self.spark, out, MULTI_TOPK_SCHEMA)
        finally:
            pp.unpersist()
