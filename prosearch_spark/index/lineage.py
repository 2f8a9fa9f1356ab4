"""Resumable, checkpointed index builds with per-partition lineage.

The Spark analog of the reference's crawl-state accounting
(Manager.java:209-229 restores per-host counts from ``domain_stats``
on startup; JdbcStoreEngine.java:343-353 re-queues; ProCrawler.java:
72-113 renames processed->cached on recrawl): the corpus is cut into
deterministic SPLITS (``pmod(xxhash64(doc_id), n_splits)``), each
split's partial postings land in their own directory with a lineage
row, and a restarted build SKIPS splits whose lineage row says done
(B11). ``finalize()`` merges partials into the queryable artifact and
emits build metrics — files/sec, postings/sec, bytes — the analog of
the reference's indexing telemetry (index.rs:164-189) (B10).

Resumability unit: ``run()`` builds ALL pending splits in one pass —
one scan of the input, one ``partitionBy(split)`` write with dynamic
partition overwrite (completed splits' directories are never touched),
one grouped accounting aggregate — then commits the lineage rows in
split order. A crash inside a pass loses that whole pass (its splits
have no lineage row and are rebuilt on resume); ``build_split(k)`` is
the same pass over one split, for callers that want a checkpoint per
split at the cost of one input scan per split.

Lineage row (FIXTURES.md §4): run_id, split_id, status, rows
(=postings), n_docs, tokens, bytes_in, content_sha256_xor (order-
insensitive 64-bit fold of per-row sha256 — the per-row invariant
digest), wall seconds. A pass charges each of its splits an equal
share of its wall, so ``metrics.json`` ``wall_sec`` (the sum over
rows plus finalize) is still the real build wall.

Layout:
    <dir>/partials/split=<k>/      partial postings parquet
    <dir>/lineage/<k>.json         lineage row, written AFTER the pass
    <dir>/metrics.json             build metrics, written by finalize()
    <dir>/index/                   final IndexArtifact (manifest-gated)
"""

from __future__ import annotations

import json
import os
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType

from prosearch_spark.index.artifact import IndexArtifact, _write_artifact
from prosearch_spark.index.build import term_frequencies


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


@dataclass
class BuildMetrics:
    n_docs: int
    n_postings: int
    n_tokens: int
    bytes_in: int
    wall_sec: float
    bytes_compressed: int = 0  # on-disk size of the committed index

    @property
    def files_per_sec(self) -> float:
        return self.n_docs / self.wall_sec if self.wall_sec else 0.0

    @property
    def postings_per_sec(self) -> float:
        return self.n_postings / self.wall_sec if self.wall_sec else 0.0


class ResumableIndexBuild:
    def __init__(self, spark: SparkSession, docs: DataFrame, path: str,
                 text_col: str = "text", id_col: str = "doc_id",
                 analyzer: str = "white_lower", lang_col: str = "lang",
                 n_splits: int = 8, run_id: str = "run0",
                 n_buckets: int = 16, with_positions: bool = False,
                 record_basic: bool = False,
                 fast_fields: dict[str, str] | None = None):
        """``with_positions`` / ``record_basic`` / ``fast_fields``
        mirror save_index: the production artifact shapes (positional
        body, record:basic title, typed fast fields) are crash-
        resumable with the same per-split lineage + sha256-XOR
        accounting as the flat build (r2 verdict item 6)."""
        if with_positions and record_basic:
            # same guard as save_index: tf delimits the position stream
            raise ValueError("record_basic and with_positions are "
                             "mutually exclusive")
        if with_positions and analyzer != "white_lower":
            raise ValueError("positional indexing implemented for the "
                             "white_lower analyzer")
        self.spark = spark
        self.docs = docs
        self.path = path
        self.text_col = text_col
        self.id_col = id_col
        self.analyzer = analyzer
        self.lang_col = lang_col
        self.n_splits = n_splits
        self.run_id = run_id
        self.n_buckets = n_buckets
        self.with_positions = with_positions
        self.record_basic = record_basic
        self.fast_fields = dict(fast_fields or {})
        os.makedirs(os.path.join(path, "lineage"), exist_ok=True)

    # -- lineage ---------------------------------------------------------------

    def _lineage_path(self, split: int) -> str:
        return os.path.join(self.path, "lineage", f"{split}.json")

    def completed_splits(self) -> set[int]:
        out = set()
        for k in range(self.n_splits):
            p = self._lineage_path(k)
            if os.path.exists(p):
                with open(p) as f:
                    if json.load(f).get("status") == "done":
                        out.add(k)
        return out

    def lineage(self) -> list[dict]:
        rows = []
        for k in sorted(self.completed_splits()):
            with open(self._lineage_path(k)) as f:
                rows.append(json.load(f))
        return rows

    # -- split build -------------------------------------------------------------

    def _split_of(self, col: str):
        return F.pmod(F.xxhash64(F.col(col)), F.lit(self.n_splits))

    def _partial(self, docs: DataFrame) -> DataFrame:
        """(term, doc_id, tf, dl[, positions]) postings of ``docs``."""
        if self.with_positions:
            from prosearch_spark.index.positions import positional_postings

            return positional_postings(docs, text_col=self.text_col,
                                       id_col=self.id_col)
        tf = term_frequencies(docs, self.text_col, self.id_col,
                              self.analyzer, self.lang_col)
        return tf.withColumn(
            "dl", F.sum("tf").over(Window.partitionBy("doc_id")))

    def _read_partials(self) -> DataFrame:
        # explicit schema: a pass whose splits hold no postings writes
        # no part file to infer one from
        schema = self._partial(self.docs).schema.add("split", IntegerType())
        return self.spark.read.schema(schema).parquet(
            os.path.join(self.path, "partials"))

    def _build_pass(self, pending: list[int],
                    fail_at_split: int | None = None) -> list[dict]:
        """Tokenize and write every pending split in ONE pass, then
        commit their lineage rows in split order.

        Partial = (term, doc_id, tf, dl[, positions]) under
        ``partials/split=<k>/``: dl is per-doc so it is complete within
        the split; global df/avgdl are finalize()'s job. The write
        overwrites dynamically — only the pending splits' directories
        are replaced, a completed split's files are never touched.
        ``fail_at_split`` simulates a crash just before that split's
        lineage row (tests): the splits before it stay committed.
        """
        t0 = time.perf_counter()
        sd = self.docs.withColumn("_split", self._split_of(self.id_col)) \
            .filter(F.col("_split").isin(pending))
        partial = self._partial(sd)
        out = os.path.join(self.path, "partials")
        for k in pending:
            # a crashed pass may have left a pending split's directory;
            # a split with no postings this pass writes none to replace it
            shutil.rmtree(os.path.join(out, f"split={k}"), ignore_errors=True)
        (partial.withColumn("split", self._split_of("doc_id"))
         .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
         .partitionBy("split").parquet(out))

        acct = {r["_split"]: r.asDict() for r in sd.groupBy("_split").agg(
            F.count("*").alias("n_docs"),
            F.sum(F.length(self.text_col)).alias("bytes_in"),
            F.bit_xor(
                F.conv(F.substring(F.sha2(F.col(self.text_col), 256), 1, 15),
                       16, 10).cast("long")
            ).alias("sha_xor"),
        ).collect()}
        n_postings = {r["split"]: r["count"] for r in (
            self._read_partials().filter(F.col("split").isin(pending))
            .groupBy("split").count().collect())}
        # the pass is shared: each split is charged an equal share, so
        # the rows still sum to the real wall
        wall = round((time.perf_counter() - t0) / len(pending), 4)

        rows = []
        for k in pending:
            if k == fail_at_split:
                raise RuntimeError(
                    f"simulated crash before lineage commit, split {k}")
            a = acct.get(k, {})
            row = {
                "run_id": self.run_id,
                "split_id": k,
                "status": "done",
                "rows": int(n_postings.get(k, 0)),
                "n_docs": int(a.get("n_docs") or 0),
                "bytes_in": int(a.get("bytes_in") or 0),
                "content_sha256_xor": int(a.get("sha_xor") or 0),
                "wall_sec": wall,
            }
            tmp = self._lineage_path(k) + ".tmp"
            with open(tmp, "w") as f:
                json.dump(row, f)
            os.replace(tmp, self._lineage_path(k))
            rows.append(row)
        return rows

    def build_split(self, split: int, fail_before_commit: bool = False) -> dict:
        """Build one split's partial postings + lineage commit — the
        one-pass build over a single pending split, for callers that
        want a checkpoint per split. ``fail_before_commit`` simulates a
        crash for tests."""
        return self._build_pass(
            [split], fail_at_split=split if fail_before_commit else None)[0]

    def run(self, fail_at_split: int | None = None) -> list[dict]:
        """Build every incomplete split in one pass (resume = call run()
        again: only splits without a lineage row are rebuilt)."""
        done = self.completed_splits()
        pending = [k for k in range(self.n_splits) if k not in done]
        if not pending:
            return []
        return self._build_pass(pending, fail_at_split)

    # -- finalize -----------------------------------------------------------------

    def finalize(self) -> tuple[IndexArtifact, BuildMetrics]:
        """Merge partials -> global stats -> committed artifact + metrics.

        The one repartition-by-term shuffle of the whole build happens
        here (merge.rs:18-31 analog), inside encode_blocks' range
        partitioning.
        """
        missing = set(range(self.n_splits)) - self.completed_splits()
        if missing:
            raise RuntimeError(f"cannot finalize; incomplete splits: {sorted(missing)}")
        idx_path = os.path.join(self.path, "index")
        if os.path.exists(os.path.join(idx_path, "manifest.json")):
            # resume path (B11): a previous finalize() already published
            # the manifest (and possibly crashed before metrics.json).
            # _write_artifact refuses to overwrite a live commit, so
            # load it and complete the metrics write idempotently.
            artifact = IndexArtifact.load(self.spark, idx_path)
            return artifact, self._write_metrics(artifact, extra_wall=0.0)
        t0 = time.perf_counter()
        partials = self._read_partials()
        cols = ["term", "doc_id", "tf", "dl"] + (
            ["positions"] if self.with_positions else []
        )
        postings = partials.select(*cols)
        if self.record_basic:
            # record:"basic" (meta.json:12): same tf semantics as
            # save_index, applied at finalize so split partials keep
            # true tf (dl accounting needs it anyway)
            postings = postings.withColumn("tf", F.lit(1).cast("long"))
        # one n_docs definition across ALL commit paths (save_index/
        # merge/upsert/finalize): doc_stats covers every corpus doc,
        # zero-token docs at dl=0 — otherwise the same corpus would get
        # different n_docs/avgdl (hence different BM25 scores) depending
        # on which build path committed it.
        ff = self.fast_fields
        doc_stats = self.docs.select(
            F.col(self.id_col).alias("doc_id"),
            *[F.col(src).alias(name) for name, src in ff.items()],
        ).join(partials.select("doc_id", "dl").distinct(), "doc_id", "left"
               ).select("doc_id",
                        F.coalesce("dl", F.lit(0)).cast("long").alias("dl"),
                        *ff.keys())
        agg = doc_stats.agg(
            F.count("*").alias("n"), F.sum("dl").alias("total")
        ).collect()[0]
        n_docs = int(agg["n"] or 0)
        avgdl = (agg["total"] or 0) / n_docs if n_docs else 0.0
        artifact = _write_artifact(
            self.spark, os.path.join(self.path, "index"),
            postings, doc_stats,
            n_docs=n_docs, avgdl=avgdl,
            n_buckets=self.n_buckets, analyzer=self.analyzer,
            record_basic=self.record_basic,
            fast_fields=self.fast_fields or None,
            total_dl=int(agg["total"] or 0),
        )
        return artifact, self._write_metrics(
            artifact, extra_wall=time.perf_counter() - t0
        )

    def _write_metrics(self, artifact: IndexArtifact,
                       extra_wall: float) -> BuildMetrics:
        lineage = self.lineage()
        build_wall = sum(r["wall_sec"] for r in lineage) + extra_wall
        bytes_out = _dir_bytes(os.path.join(self.path, "index"))
        metrics = BuildMetrics(
            n_docs=sum(r["n_docs"] for r in lineage),
            n_postings=sum(r["rows"] for r in lineage),
            n_tokens=0,
            bytes_in=sum(r["bytes_in"] for r in lineage),
            wall_sec=round(build_wall, 4),
            bytes_compressed=bytes_out,
        )
        with open(os.path.join(self.path, "metrics.json"), "w") as f:
            json.dump({
                "run_id": self.run_id,
                "n_docs": metrics.n_docs,
                "n_postings": metrics.n_postings,
                "bytes_in": metrics.bytes_in,
                "bytes_compressed": metrics.bytes_compressed,
                "compression_ratio": round(
                    metrics.bytes_in / metrics.bytes_compressed, 3
                ) if metrics.bytes_compressed else None,
                "wall_sec": metrics.wall_sec,
                "files_per_sec": round(metrics.files_per_sec, 2),
                "postings_per_sec": round(metrics.postings_per_sec, 2),
            }, f)
        return metrics

    def verify_content_sha(self) -> bool:
        """Per-row invariant (input_hint): the XOR-fold of sha256 over
        what the build consumed equals the same fold over the source."""
        src = self.docs.agg(
            F.bit_xor(
                F.conv(F.substring(F.sha2(F.col(self.text_col), 256), 1, 15),
                       16, 10).cast("long")
            ).alias("x")
        ).collect()[0]["x"]
        mine = 0
        for r in self.lineage():
            mine ^= r["content_sha256_xor"]
        return int(src or 0) == mine
