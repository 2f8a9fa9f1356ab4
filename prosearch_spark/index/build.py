"""Distributed inverted-index construction.

The Spark rebuild of the reference's index-build pipeline
(tantivy-cli/src/commands/index.rs:28-98): per-thread in-memory segment
building becomes per-task partial aggregation; the background segment
merge (merge.rs:18-31) becomes the one repartition-by-term shuffle.

Logical ("flat") index layout — three DataFrames:

- ``postings(term, doc_id, tf, dl)``: one row per (term, doc) with term
  frequency AND the doc's token count denormalized in. Denormalizing
  ``dl`` is the Spark analog of Tantivy fieldnorms living next to the
  postings (meta.json:13,27): it removes the query-time join against a
  billion-row doc_stats table — BM25 needs only this one table plus two
  broadcast scalars.
- ``term_stats(term, df)``: document frequency per term.
- ``stats(n_docs, avgdl)``: one row; broadcast at query time.

Scale notes (100 TB / 10^12 files):
- tokenize+explode+partial-count pipelines inside one stage per input
  split (whole-stage codegen when the analyzer is the built-in
  white_lower expression; Arrow-batched when the code analyzer UDF runs).
- ``groupBy(doc_id, term)`` keys are near-unique -> map-side combine does
  almost all the work; no skew (doc_id spreads hot terms).
- ``groupBy(term)`` for df has partial aggregation, so hot terms ship one
  partial row per map task, not one row per posting.
- the only per-term materialization (sorted posting arrays) lives in
  ``blocks.py`` and uses a range-partitioned sort, never
  ``collect_list`` over a raw hot term.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from prosearch_spark.analyzer import code_tokens, white_lower_tokens
from prosearch_spark.session import local_frame


@dataclass
class InvertedIndex:
    """Handle to the three logical index DataFrames (+ provenance)."""

    postings: DataFrame  # term, doc_id, tf, dl
    term_stats: DataFrame  # term, df
    stats: DataFrame  # n_docs, avgdl  (single row)

    def cache(self) -> "InvertedIndex":
        self.postings = self.postings.cache()
        self.term_stats = self.term_stats.cache()
        self.stats = self.stats.cache()
        return self


def tokens(docs: DataFrame, text_col: str, id_col: str = "doc_id",
           analyzer: str = "white_lower", lang_col: str = "lang") -> DataFrame:
    """(doc_id, term) token stream — the B1 ``add_document`` analog.

    ``code`` uses the two-explode formulation: explode whitespace
    tokens (cheap generator), THEN per-token flat expressions, then
    explode the small emission array — keeping every regex top-level
    for whole-stage codegen (8x over nested-lambda / Arrow-UDF forms).
    """
    if analyzer == "white_lower":
        # row-level empty filter AFTER explode: an array-level
        # F.filter(lambda) is a non-codegen HOF and would push the
        # whole Generate out of WholeStageCodegen
        return (
            docs.select(
                F.col(id_col).alias("doc_id"),
                F.explode(F.split(F.lower(F.col(text_col)), r"\s+"))
                .alias("term"),
            )
            .filter(F.col("term") != "")
        )
    if analyzer == "code":
        return _code_token_stream(docs, text_col, id_col, lang_col)
    if analyzer == "code_udf":
        tok = code_tokens(text_col, lang_col, use_udf=True)
        return docs.select(F.col(id_col).alias("doc_id"),
                           F.explode(tok).alias("term"))
    raise ValueError(f"unknown analyzer {analyzer!r}")


# token is "unchanged" by identifier splitting iff it is a single run:
# all-lower / all-digit / all-upper / Capitalized (no separator, no
# camel or letter<->digit boundary). Matches analyze_code's
# "len(sub) > 1 or sub[0] != raw" condition exactly.
_UNCHANGED_RE = "^([a-z]+|[0-9]+|[A-Z]+|[A-Z][a-z]+)$"
_PATHLIKE_RE_SQL = r"^[\w.\-]+(/[\w.\-]+)+$"


def _code_token_stream(docs: DataFrame, text_col: str, id_col: str,
                       lang_col: str) -> DataFrame:
    """Code analyzer as a UNION of three flat JVM streams.

    Per-token array building inside higher-order-function lambdas runs
    interpreted (~25-50us/token) and Arrow UDFs anti-scale on this
    allocation-heavy shape, so every regex here is a flat top-level
    codegen expression and per-language stopword sets become a
    broadcast anti-join:

      A: verbatim lowercased whitespace tokens   (white_lower core)
      B: identifier subtokens, only for tokens the splitter CHANGES
         (cheap rlike pre-filter keeps the expensive split off ~75%
         of tokens), stopwords anti-joined per lang
      C: path-segment bigrams for path-like tokens (small minority)

    Multiset-identical to analyzer.analyze_code (pinned by tests).
    """
    from prosearch_spark.analyzer import _CAMEL_RE_SQL, LANG_STOPWORDS

    spark = docs.sparkSession
    raw = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.lower(F.col(lang_col)).alias("_lang"),
            F.explode(F.split(F.col(text_col), r"\s+")).alias("_raw"),
        )
        .filter(F.col("_raw") != "")
    )
    a = raw.select("doc_id", F.lower("_raw").alias("term"))

    stop_rows = [
        (lg, w) for lg, ws in LANG_STOPWORDS.items() for w in sorted(ws)
    ]
    stop_df = local_frame(spark, stop_rows, "_lang string, term string")
    b = (
        raw.filter(~F.col("_raw").rlike(_UNCHANGED_RE))
        .select(
            "doc_id", "_lang",
            F.explode(
                F.split(F.regexp_replace("_raw", _CAMEL_RE_SQL, " "),
                        "[^A-Za-z0-9]+")
            ).alias("_s"),
        )
        .filter(F.col("_s") != "")
        .select("doc_id", "_lang", F.lower("_s").alias("term"))
        .join(F.broadcast(stop_df), ["_lang", "term"], "left_anti")
        .select("doc_id", "term")
    )
    c = (
        raw.filter(F.col("_raw").rlike(_PATHLIKE_RE_SQL))
        .select("doc_id", F.split(F.lower("_raw"), "/").alias("_segs"))
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("_segs") - 1),
                    lambda i: F.concat(
                        F.element_at("_segs", i), F.lit("/"),
                        F.element_at("_segs", i + 1),
                    ),
                )
            ).alias("term"),
        )
    )
    return a.unionByName(b).unionByName(c)


def _code_term_frequencies(docs: DataFrame, text_col: str, id_col: str,
                           lang_col: str) -> DataFrame:
    return (
        _code_token_stream(docs, text_col, id_col, lang_col)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def term_frequencies(docs: DataFrame, text_col: str, id_col: str = "doc_id",
                     analyzer: str = "white_lower",
                     lang_col: str = "lang") -> DataFrame:
    """(doc_id, term, tf) — the aggregated form of the token stream.

    The code analyzer computes tf directly (weighted streams above);
    other analyzers go explode -> count.
    """
    if analyzer == "code":
        return _code_term_frequencies(docs, text_col, id_col, lang_col)
    return (
        tokens(docs, text_col, id_col, analyzer, lang_col)
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )


def build_index(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id", analyzer: str = "white_lower",
                lang_col: str = "lang") -> InvertedIndex:
    """Build the flat logical index from a document DataFrame.

    One wide plan: scan -> tokenize -> explode -> two aggregations.
    ``dl`` is attached with a window-sum over the already-shuffled
    (doc_id, term) aggregate — doc_id-partitioned, so one extra shuffle
    by doc_id and no join against a separate doc_stats table. Every
    derived table hangs off the ONE tf aggregate (total tokens =
    sum(tf)), so nothing tokenizes the corpus twice.
    """
    tf = term_frequencies(docs, text_col, id_col, analyzer, lang_col)
    postings = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("doc_id"))
    )
    term_stats = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    total_tokens = tf.select(F.sum("tf").alias("total_tokens"))
    stats = n_docs.crossJoin(total_tokens).select(
        "n_docs",
        (F.col("total_tokens").cast("double") / F.col("n_docs")).alias("avgdl"),
    )
    return InvertedIndex(postings=postings, term_stats=term_stats, stats=stats)


def doc_stats(docs: DataFrame, text_col: str = "text",
              id_col: str = "doc_id", analyzer: str = "white_lower",
              lang_col: str = "lang") -> DataFrame:
    """(doc_id, dl) — fieldnorm analog (B9, meta.json:13,27).

    ``dl`` is the exact token count (no 1-byte quantization: we fix one
    definition — exact dl — and use it in engine AND oracle, per
    SURVEY.md §4.3).
    """
    return (
        term_frequencies(docs, text_col, id_col, analyzer, lang_col)
        .groupBy("doc_id")
        .agg(F.sum("tf").alias("dl"))
    )


def build_fielded_index(docs: DataFrame, field_cols: dict[str, str],
                        id_col: str = "doc_id",
                        basic_fields: frozenset[str] = frozenset({"title"}),
                        analyzer: str = "white_lower",
                        lang_col: str = "lang") -> InvertedIndex:
    """Multi-field index with the reference's two-field semantics.

    ``field_cols`` maps field name -> column (e.g. {"title": "path",
    "body": "content"}). Fields in ``basic_fields`` are indexed
    ``record:"basic"`` (meta.json:12): their postings carry docids only,
    so query-time tf == 1 — we store tf=1.  Per-field df / avgdl / N are
    kept, exactly like per-field Tantivy segment stats.

    Output postings: (field, term, doc_id, tf, dl); term_stats:
    (field, term, df); stats: (field, n_docs, avgdl).
    """
    per_field_tf = []
    for field, col in field_cols.items():
        t = term_frequencies(docs, col, id_col, analyzer, lang_col)
        per_field_tf.append(
            t.select(F.lit(field).alias("field"), "doc_id", "term", "tf")
        )
    tf = per_field_tf[0]
    for t in per_field_tf[1:]:
        tf = tf.unionByName(t)

    postings = tf.withColumn(
        "dl", F.sum("tf").over(Window.partitionBy("field", "doc_id"))
    )
    if basic_fields:
        postings = postings.withColumn(
            "tf",
            F.when(F.col("field").isin([f for f in sorted(basic_fields)]),
                   F.lit(1).cast("long")).otherwise(F.col("tf")),
        )
    term_stats = tf.groupBy("field", "term").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    stats = (
        tf.groupBy("field").agg(F.sum("tf").alias("total_tokens"))
        .crossJoin(n_docs)
        .select(
            "field",
            "n_docs",
            (F.col("total_tokens").cast("double") / F.col("n_docs")).alias("avgdl"),
        )
    )
    return InvertedIndex(postings=postings, term_stats=term_stats, stats=stats)
