"""Block-encoded postings: delta+varint compression with block-max
metadata.

The Spark re-expression of Tantivy's posting-list layout (SURVEY.md
§1.2): per term, docids are stored as delta+bitpacked 128-doc blocks
with per-block max-tf enabling Block-Max WAND pruning (reference:
space report tantivy-cli/src/commands/inspect.rs:64-69; the block
format itself lives in the pinned tantivy library, Cargo.toml:31).

Our payload per block row:

    term        string   -- one row per (term, block)
    first_doc   long     -- block min docid  (pruning metadata)
    last_doc    long     -- block max docid  (pruning metadata)
    n           int      -- docs in block (<= BLOCK_SIZE)
    max_tf      int      -- block-max term frequency (WAND bound)
    min_dl      long     -- block-min doc length (tightens the bound)
    docs        binary   -- varint deltas from first_doc
    tfs         binary   -- varint tfs
    dls         binary   -- varint doc lengths

Build shape (scale-safe — NO collect_list over a hot term, NO window
over a skewed term partition): ``repartitionByRange(term, doc_id)`` →
``sortWithinPartitions`` → ``mapInArrow`` over a vectorized numpy/
pyarrow kernel (``_cut_blocks``): term runs start where one
``pc.not_equal`` over adjacent terms fires, blocks start every
BLOCK_SIZE rows into a run, max_tf/min_dl are ``reduceat``s over the
cuts, and every varint stream of the batch is LEB128-encoded at once
(``_leb128``) with each binary column assembled by
``pa.Array.from_buffers`` over the block byte offsets — no per-term
or per-block Python loop. A hot term spanning several range
partitions simply yields several independent block runs —
semantically equivalent, and each task's memory is bounded by its
partition, not by the term.

Decode is the inverse ``mapInPandas``: each binary column of a batch
decodes as one concatenated LEB128 stream (``_decode_np``) and
per-block running sums restore absolute doc ids and positions — no
per-block loop either. ``decode_varints`` is the pure-Python reference
decoder.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BLOCK_SIZE = 128

BLOCK_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("first_doc", LongType(), False),
    StructField("last_doc", LongType(), False),
    StructField("n", IntegerType(), False),
    StructField("max_tf", IntegerType(), False),
    StructField("min_dl", LongType(), False),
    StructField("docs", BinaryType(), False),
    StructField("tfs", BinaryType(), False),
    StructField("dls", BinaryType(), False),
])

# record:"position" layout (meta.json:21-33): per block, the per-
# posting position lists are stored as one varint stream of deltas
# (first position absolute per posting, then gaps); poslens is absent
# because tfs already encodes each posting's position count.
BLOCK_SCHEMA_POS = StructType(
    BLOCK_SCHEMA.fields + [StructField("positions", BinaryType(), False)]
)

POSTING_SCHEMA = StructType([
    StructField("term", StringType(), False),
    StructField("doc_id", LongType(), False),
    StructField("tf", LongType(), False),
    StructField("dl", LongType(), False),
])

POSTING_SCHEMA_POS = StructType(
    POSTING_SCHEMA.fields
    + [StructField("positions", ArrayType(IntegerType()), False)]
)


# -- varint primitives (LEB128, unsigned) -------------------------------------

# a value needs one more LEB128 byte at each of these thresholds
# (2^7, 2^14, ..., 2^56); int64 values top out at 9 bytes
_LEB_THRESH = np.array([1 << (7 * k) for k in range(1, 9)], dtype=np.int64)


def _leb128(values: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128-encode every value at once.

    Returns ``(data, offsets)``: the concatenated bytes and the
    ``len(values) + 1`` byte offsets of each value's encoding. Lengths
    come from the shift thresholds; bytes are written by one scatter
    per byte position (at most 9), never by a per-value loop.
    """
    v = np.asarray(values, dtype=np.int64)
    if v.size and v.min() < 0:
        # unsigned LEB128 only: a negative value (e.g. deltas from
        # UNSORTED doc_ids) has no encoding
        raise ValueError("encode_varints requires non-negative values")
    if not v.size or v.max() < 128:
        return v.astype(np.uint8), np.arange(v.size + 1)
    lens = 1 + np.searchsorted(_LEB_THRESH, v, side="right")
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    out = np.empty(int(offsets[-1]), dtype=np.uint8)
    pos, rem, left = offsets[:-1], v, lens
    while pos.size:
        more = left > 1
        out[pos] = (rem & 0x7F) | (more.astype(np.int64) << 7)
        pos, rem, left = pos[more] + 1, rem[more] >> 7, left[more] - 1
    return out, offsets


def encode_varints(values) -> bytes:
    """LEB128-encode one stream (the block kernel's codec)."""
    return _leb128(values)[0].tobytes()


def decode_varints(buf: bytes) -> list[int]:
    """Pure-Python LEB128 decode — the reference the vectorized
    ``_decode_np`` is tested against."""
    out: list[int] = []
    cur = 0
    shift = 0
    for x in bytes(buf):
        cur |= (x & 0x7F) << shift
        if x & 0x80:
            shift += 7
        else:
            out.append(cur)
            cur = 0
            shift = 0
    return out


def _decode_np(buf: bytes) -> np.ndarray:
    """Vectorized LEB128 decode: a value ends at every byte with the
    high bit clear; each value is ``np.add.reduceat`` of its 7-bit
    groups shifted by 7 x their position in the value. An unterminated
    tail (no end byte) is dropped, as in ``decode_varints``."""
    b = np.frombuffer(buf, dtype=np.uint8)
    last = b < 0x80
    if last.all():
        return b.astype(np.int64)  # all single-byte
    ends = np.flatnonzero(last)
    if not ends.size:
        return np.empty(0, dtype=np.int64)
    b = b[:ends[-1] + 1]
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    shift = 7 * (np.arange(b.size) - np.repeat(starts, ends - starts + 1))
    return np.add.reduceat((b & 0x7F).astype(np.int64) << shift, starts)


# -- encode / decode kernels ----------------------------------------------------

_BLOCK_ARROW = to_arrow_schema(BLOCK_SCHEMA)
_BLOCK_ARROW_POS = to_arrow_schema(BLOCK_SCHEMA_POS)


def _binary(data: np.ndarray, offsets: np.ndarray) -> pa.Array:
    """A binary column whose i-th value is ``data[offsets[i]:offsets[i+1]]``."""
    return pa.Array.from_buffers(
        pa.binary(), offsets.size - 1,
        [None, pa.py_buffer(offsets.astype(np.int32)), pa.py_buffer(data)])


def _cut_blocks(batch: pa.RecordBatch, flush: bool
                ) -> tuple[pa.RecordBatch | None, pa.RecordBatch | None]:
    """Sorted (term, doc_id, tf, dl[, positions]) rows -> (block rows,
    carried rows).

    Term runs start where a term differs from its predecessor; blocks
    start every BLOCK_SIZE rows into a run. Unless ``flush``, an
    incomplete last block (the open tail of the batch's last term) is
    returned uncut as the carry for the next batch.
    """
    n = batch.num_rows
    terms = batch.column("term")
    new_run = np.ones(n, dtype=bool)
    if n > 1:
        new_run[1:] = pc.not_equal(terms.slice(1), terms.slice(0, n - 1)) \
            .to_numpy(zero_copy_only=False)
    idx = np.arange(n)
    run_start = np.maximum.accumulate(np.where(new_run, idx, 0))
    cuts = np.flatnonzero((idx - run_start) % BLOCK_SIZE == 0)
    end = n
    rest = None
    if not flush and n - cuts[-1] < BLOCK_SIZE:
        end = int(cuts[-1])
        cuts = cuts[:-1]
        rest = batch.slice(end)
    if not cuts.size:
        return None, rest
    bounds = np.append(cuts, end)

    doc = batch.column("doc_id").to_numpy()[:end]
    tf = batch.column("tf").to_numpy()[:end]
    dl = batch.column("dl").to_numpy()[:end]
    # deltas from each block's first doc: 0 at every cut
    delta = np.empty(end, dtype=np.int64)
    delta[0] = 0
    np.subtract(doc[1:], doc[:-1], out=delta[1:])
    delta[cuts] = 0
    cols = [
        terms.take(pa.array(cuts)),
        pa.array(doc[cuts]),
        pa.array(doc[bounds[1:] - 1]),
        pa.array(np.diff(bounds).astype(np.int32)),
        pa.array(np.maximum.reduceat(tf, cuts).astype(np.int32)),
        pa.array(np.minimum.reduceat(dl, cuts)),
    ]
    for vals in (delta, tf, dl):
        data, off = _leb128(vals)
        cols.append(_binary(data, off[bounds]))
    if "positions" not in batch.schema.names:
        return pa.RecordBatch.from_arrays(cols, schema=_BLOCK_ARROW), rest
    # one varint stream per block: per posting, first position absolute
    # then gaps; tfs delimits the stream
    lists = batch.column("positions")
    loff = np.asarray(lists.offsets)[:end + 1].astype(np.int64)
    pos = lists.values.to_numpy(zero_copy_only=False)[loff[0]:loff[-1]] \
        .astype(np.int64)
    loff -= loff[0]
    gaps = np.empty_like(pos)
    if pos.size:
        gaps[0] = pos[0]
        np.subtract(pos[1:], pos[:-1], out=gaps[1:])
        firsts = loff[:-1][loff[:-1] < pos.size]
        gaps[firsts] = pos[firsts]
    data, off = _leb128(gaps)
    cols.append(_binary(data, off[loff[bounds]]))
    return pa.RecordBatch.from_arrays(cols, schema=_BLOCK_ARROW_POS), rest


def _encode_partition(batches: Iterator[pa.RecordBatch]
                      ) -> Iterator[pa.RecordBatch]:
    """Input: sorted (term, doc_id, tf, dl[, positions]) Arrow batches.
    Output: block rows, one batch per input batch.

    Carries the open last block across Arrow batches so blocks fill to
    BLOCK_SIZE even when a term straddles batch boundaries.
    """
    pend: pa.RecordBatch | None = None
    for batch in batches:
        if pend is not None:
            batch = pa.RecordBatch.from_arrays(
                [pa.concat_arrays([pend.column(i), batch.column(i)])
                 for i in range(batch.num_columns)],
                schema=batch.schema)
            pend = None
        if not batch.num_rows:
            continue
        out, pend = _cut_blocks(batch, flush=False)
        if out is not None:
            yield out
    if pend is not None:
        out, _ = _cut_blocks(pend, flush=True)
        yield out


def _segment_cumsum(vals: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Running sums of ``vals`` that restart at every segment of ``lens``."""
    cs = np.concatenate(([0], np.cumsum(vals)))
    return cs[1:] - np.repeat(cs[np.cumsum(lens) - lens], lens)


def _decode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Block rows -> postings, one batch at a time: each binary column
    of the batch decodes as ONE concatenated LEB128 stream (a block's
    values are the next ``n`` of it), so there is no per-block loop."""
    for batch in batches:
        with_pos = "positions" in batch.columns
        # `seg` is an opaque per-block passthrough tag (the live
        # segment-stack view labels each block with its source segment
        # so per-segment tombstones can anti-join after decode)
        with_seg = "seg" in batch.columns
        n = batch["n"].to_numpy(dtype=np.int64)
        tf = _decode_np(b"".join(batch["tfs"]))
        # first stored delta is 0, so a per-block running sum plus
        # first_doc restores absolute ids
        out = {
            "term": np.repeat(batch["term"].to_numpy(dtype=object), n),
            "doc_id": _segment_cumsum(_decode_np(b"".join(batch["docs"])), n)
            + np.repeat(batch["first_doc"].to_numpy(dtype=np.int64), n),
            "tf": tf,
            "dl": _decode_np(b"".join(batch["dls"])),
        }
        if with_pos:
            # per posting: first position absolute, then gaps; tf
            # delimits the stream
            pos = _segment_cumsum(_decode_np(b"".join(batch["positions"])),
                                  tf).astype(np.int32)
            out["positions"] = [p.tolist() for p in
                                np.split(pos, np.cumsum(tf)[:-1])] \
                if tf.size else []
        if with_seg:
            out["seg"] = np.repeat(batch["seg"].to_numpy(dtype=object), n)
        yield pd.DataFrame(out)


# -- public API ----------------------------------------------------------------

def encode_blocks(postings: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """(term, doc_id, tf, dl[, positions]) -> block rows.
    Range-partitioned by (term, doc_id) so each task sees contiguous
    sorted runs. A ``positions`` column triggers the record:"position"
    layout (extra varint position stream per block)."""
    with_pos = "positions" in postings.columns
    cols = ["term", "doc_id", "tf", "dl"] + (["positions"] if with_pos else [])
    np_ = num_partitions or postings.sparkSession.sparkContext.defaultParallelism
    arranged = (
        postings.select(*cols)
        .repartitionByRange(np_, "term", "doc_id")
        .sortWithinPartitions("term", "doc_id")
    )
    schema = BLOCK_SCHEMA_POS if with_pos else BLOCK_SCHEMA
    return arranged.mapInArrow(_encode_partition, schema)


def decode_blocks(blocks: DataFrame) -> DataFrame:
    """Block rows -> (term, doc_id, tf, dl[, positions][, seg]).

    A ``seg`` column on the input passes through per decoded posting
    (each posting tagged with its block's segment) — the hook the live
    segment-stack view uses to apply per-segment tombstones after
    decode (apply_deletes, index/artifact.py)."""
    with_pos = "positions" in blocks.columns
    schema = POSTING_SCHEMA_POS if with_pos else POSTING_SCHEMA
    if "seg" in blocks.columns:
        schema = StructType(
            schema.fields + [StructField("seg", StringType(), False)])
    return blocks.mapInPandas(_decode_partition, schema)


def block_upper_bound_expr(n_docs: str = "n_docs", avgdl: str = "avgdl",
                           df: str = "df") -> str:
    """Per-block BM25 upper bound (Block-Max WAND, conservative):
    idf * (k1+1)*max_tf / (max_tf + k1*(1-b+b*min_dl/avgdl)).
    min_dl minimizes the denominator => maximizes the score bound."""
    return (
        f"ln(1.0 + ({n_docs} - {df} + 0.5) / ({df} + 0.5))"
        f" * (max_tf * (1.2 + 1.0))"
        f" / (max_tf + 1.2 * (1.0 - 0.75 + 0.75 * min_dl / {avgdl}))"
    )
