"""Property-based invariants (hypothesis) — SURVEY.md §5 implication (f).

Pure-Python properties run broadly; the Spark engine property runs on
bounded random corpora (one SparkSession, deadline disabled).
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings, strategies as st

from prosearch_spark.analyzer import analyze_code, analyze_query, white_lower_py
from prosearch_spark.index.blocks import decode_varints, encode_varints
from prosearch_spark.oracle import build_oracle_index, topk as oracle_topk
from prosearch_spark.query.snippet import make_snippet_py

TEXT = st.text(
    alphabet=st.characters(min_codepoint=0x20, max_codepoint=0x7E),
    max_size=200,
)


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varint_roundtrip_prop(vals):
    assert decode_varints(encode_varints(vals)) == vals


@given(TEXT)
def test_white_lower_props(text):
    toks = white_lower_py(text)
    assert all(t == t.lower() for t in toks)
    assert all(t for t in toks)  # no empties
    assert all(" " not in t for t in toks)


@given(TEXT, st.sampled_from(["python", "java", "md", None, "XX"]))
def test_code_analyzer_superset_prop(text, lang):
    toks = analyze_code(text, lang)
    base = white_lower_py(text)
    c = Counter(toks)
    for t, n in Counter(base).items():
        assert c[t] >= n  # verbatim tokens always kept


@given(TEXT)
def test_analyze_query_lowercases(q):
    for term, boost in analyze_query(q):
        assert term == term.lower()
        assert boost in (1.0, 2.5)


@given(TEXT, st.sets(st.text(
    alphabet=st.characters(min_codepoint=0x61, max_codepoint=0x7A),
    min_size=1, max_size=8), max_size=5))
def test_snippet_bounded_and_safe(text, terms):
    s = make_snippet_py(text, terms, window=10)
    # never longer than the window in tokens
    assert len(s.split()) <= 10
    # highlighting only wraps whole tokens
    assert s.count("<b>") == s.count("</b>")


def _arrow_batches(df, sizes=None):
    """A pandas postings frame as Arrow batches of the given row counts
    (one batch when ``sizes`` is None), typed as Spark sends them."""
    import pyarrow as pa

    fields = [("term", pa.string()), ("doc_id", pa.int64()),
              ("tf", pa.int64()), ("dl", pa.int64())]
    if "positions" in df.columns:
        fields.append(("positions", pa.list_(pa.int32())))
    schema = pa.schema(fields)
    sizes = sizes or [len(df)]
    out, at = [], 0
    for n in sizes:
        out.append(pa.RecordBatch.from_pandas(
            df.iloc[at:at + n].reset_index(drop=True), schema=schema,
            preserve_index=False))
        at += n
    return out


def _encode(batches):
    """The block kernel over Arrow batches, as one pandas frame."""
    import pyarrow as pa

    from prosearch_spark.index.blocks import _encode_partition

    return pa.Table.from_batches(list(_encode_partition(iter(batches)))) \
        .to_pandas()


def _ref_varints(values) -> bytes:
    out = bytearray()
    for v in values:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


def _ref_encode(df):
    """Reference block cutter: a per-term loop over the sorted postings
    (128-posting blocks from each term's first posting), pure-Python
    LEB128 — what the vectorized kernel must reproduce byte for byte."""
    import pandas as pd

    with_pos = "positions" in df.columns
    rows = []
    for term, g in df.groupby("term", sort=False):
        docs, tfs, dls = (g[c].tolist() for c in ("doc_id", "tf", "dl"))
        poss = g["positions"].tolist() if with_pos else None
        for s in range(0, len(docs), 128):
            e = min(s + 128, len(docs))
            d = docs[s:e]
            row = {
                "term": term, "first_doc": d[0], "last_doc": d[-1],
                "n": e - s, "max_tf": max(tfs[s:e]), "min_dl": min(dls[s:e]),
                "docs": _ref_varints([0] + [b - a for a, b in zip(d, d[1:])]),
                "tfs": _ref_varints(tfs[s:e]),
                "dls": _ref_varints(dls[s:e]),
            }
            if with_pos:
                stream = []
                for plist in poss[s:e]:
                    stream += [p if i == 0 else p - plist[i - 1]
                               for i, p in enumerate(plist)]
                row["positions"] = _ref_varints(stream)
            rows.append(row)
    return pd.DataFrame(rows)


# values on both sides of every LEB128 length step the inputs must cross
_EDGES = [0, 1, 127, 128, 2**14 - 1, 2**14, 2**35 - 1, 2**35, 2**40]


@st.composite
def _postings(draw):
    """Sorted (term, doc_id, tf, dl[, positions]) runs: several terms,
    run lengths at and around the 128-posting block size, doc gaps, tfs,
    dls and position gaps crossing 2^7, 2^14 and 2^35."""
    import pandas as pd

    rnd = draw(st.randoms(use_true_random=False))
    with_pos = draw(st.booleans())
    lens = draw(st.lists(st.sampled_from([1, 2, 127, 128, 129, 256])
                         | st.integers(1, 300), min_size=1, max_size=4))
    rows = []
    for t, n in enumerate(lens):
        doc = rnd.choice(_EDGES)
        for _ in range(n):
            tf = rnd.choice([1, 2, 127, 128, 2**14, 2**30])
            row = [f"t{t}", doc, tf, rnd.choice(_EDGES[1:])]
            if with_pos:
                p, plist = -1, []
                for _ in range(rnd.randint(0, 4)):
                    p += rnd.choice([1, 127, 128, 2**14, 2**20])
                    plist.append(p)
                row.append(plist)
            rows.append(row)
            doc += rnd.choice(_EDGES[1:])
    cols = ["term", "doc_id", "tf", "dl"] + (["positions"] if with_pos else [])
    df = pd.DataFrame(rows, columns=cols)
    cuts = sorted(set(draw(st.lists(st.integers(1, max(1, len(df) - 1)),
                                    max_size=5))))
    bounds = [0] + [c for c in cuts if c < len(df)] + [len(df)]
    return df, [b - a for a, b in zip(bounds, bounds[1:])]


@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_postings())
def test_block_kernel_matches_reference_bytes(case):
    """The vectorized kernel's blocks equal the per-term reference
    encoder's byte for byte, however the input is cut into batches."""
    df, sizes = case
    got = _encode(_arrow_batches(df, sizes))
    ref = _ref_encode(df)
    assert list(got.columns) == list(ref.columns)
    for c in ref.columns:
        assert got[c].tolist() == ref[c].tolist(), c


@settings(deadline=None, suppress_health_check=[HealthCheck.too_slow])
@given(_postings(), st.integers(0, 10**6), st.booleans())
def test_block_decode_roundtrips_postings(case, cut, with_seg):
    """Encode then decode returns every posting exactly, positions
    included, and passes a per-block ``seg`` tag through to each of the
    block's postings, wherever the blocks are cut into decode batches."""
    import numpy as np
    import pandas as pd

    from prosearch_spark.index.blocks import _decode_partition

    df, sizes = case
    if "positions" in df.columns:
        # a posting's tf is its position count (tf delimits the stream)
        df["positions"] = [p or [0] for p in df["positions"]]
        df["tf"] = [len(p) for p in df["positions"]]
    blocks = _encode(_arrow_batches(df, sizes))
    if with_seg:
        blocks["seg"] = [f"s{i % 3}" for i in range(len(blocks))]
    cut %= len(blocks) + 1
    parts = [blocks.iloc[:cut].reset_index(drop=True),
             blocks.iloc[cut:].reset_index(drop=True)]
    got = pd.concat(list(_decode_partition(iter(parts))), ignore_index=True)
    for c in df.columns:
        assert got[c].tolist() == df[c].tolist(), c
    if with_seg:
        assert got["seg"].tolist() == \
            np.repeat(blocks["seg"].to_numpy(), blocks["n"]).tolist()


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_vectorized_varint_decode_matches_reference(vals):
    from prosearch_spark.index.blocks import _decode_np

    buf = _ref_varints(vals)
    assert encode_varints(vals) == buf
    assert _decode_np(buf).tolist() == decode_varints(buf) == vals


@given(st.lists(
    st.tuples(st.integers(0, 2**40), st.integers(1, 1000),
              st.integers(1, 10**6)),
    min_size=1, max_size=400,
))
def test_block_cut_covers_all_postings(rows):
    """Block cutting (pure kernel): every posting appears exactly once
    across blocks, sorted, with correct metadata."""
    import pandas as pd

    df = pd.DataFrame(
        sorted({r[0]: r for r in rows}.values()),
        columns=["doc_id", "tf", "dl"],
    )
    df.insert(0, "term", "t")
    blocks = _encode(_arrow_batches(df))
    got = []
    for b in blocks.itertuples(index=False):
        docs = decode_varints(b.docs)
        d = b.first_doc
        acc = []
        for delta in docs:
            d += delta
            acc.append(d)
        assert acc[0] == b.first_doc and acc[-1] == b.last_doc
        assert len(acc) == b.n <= 128
        tfs = decode_varints(b.tfs)
        assert max(tfs) == b.max_tf
        got.extend(zip(acc, tfs, decode_varints(b.dls)))
    assert got == list(map(tuple, df[["doc_id", "tf", "dl"]].to_numpy()))


@given(st.lists(st.integers(0, 2**40), min_size=1, max_size=50),
       st.integers(2, 5))
def test_block_cut_batch_boundary_invariance(doc_ids, n_chunks):
    """Cutting the same sorted run delivered in arbitrary Arrow batch
    splits yields identical blocks (the cross-batch carry logic)."""
    import pandas as pd

    ids = sorted(set(doc_ids))
    df = pd.DataFrame({"term": "t", "doc_id": ids,
                       "tf": [1] * len(ids), "dl": [7] * len(ids)})
    whole = _encode(_arrow_batches(df))
    size = max(1, len(df) // n_chunks)
    sizes = [min(size, len(df) - i) for i in range(0, len(df), size)]
    split = _encode(_arrow_batches(df, sizes))
    assert whole.equals(split)


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(
    st.lists(
        st.text(alphabet="abcd ", min_size=1, max_size=40),
        min_size=2, max_size=12,
    ),
    st.sampled_from(["a", "ab", "a b", "abc abcd"]),
)
def test_oracle_self_consistency(contents, q):
    """The brute-force oracle's own invariants: conjunction semantics,
    rank monotonic, tie-break by doc_id."""
    docs = [{"doc_id": i, "content": c} for i, c in enumerate(contents)]
    idx = build_oracle_index(docs, {"body": "content"})
    res = oracle_topk(idx, q, 100, fields=("body",), field_boosts={"body": 1.0})
    terms = [t for t, _ in analyze_query(q)]
    for did, score in res:
        toks = set(white_lower_py(contents[did]))
        assert all(t in toks for t in terms)
        assert score > 0
    scores = [s for _, s in res]
    assert scores == sorted(scores, reverse=True)
    for (d1, s1), (d2, s2) in zip(res, res[1:]):
        if s1 == s2:
            assert d1 < d2


@given(st.text(max_size=60))
def test_parse_query_lenient_never_raises(q):
    """LENIENT means lenient: any user string parses to a well-formed
    clause list (serve.rs:407-409 drops bad clauses, never errors)."""
    from prosearch_spark.analyzer import parse_query_lenient

    clauses = parse_query_lenient(q)
    for kind, payload in clauses:
        if kind == "term":
            term, boost = payload
            assert term and term == term.lower() and '"' not in term
            assert boost in (1.0, 2.5)
        else:
            assert kind == "phrase"
            assert len(payload) >= 2
            assert all(t and t == t.lower() for t in payload)


@given(st.lists(
    st.sampled_from(["a", "b", "c1", ".", "..", ".a", "..b", "...", "x.y"]),
    min_size=0, max_size=9,
))
def test_dot_segment_rewrite_matches_rfc_random(segs):
    """The bounded regex rewrite equals pure RFC 3986 5.2.4 on random
    dot-heavy paths (deeper than the exhaustive depth-4 sweep)."""
    import re

    from prosearch_spark.functions.text import (
        _DOT_RULES,
        DOT_PASSES,
        remove_dot_segments_py,
    )

    path = "/" + "/".join(segs) if segs else "/"
    out = path
    for _ in range(DOT_PASSES):
        for pat, rep in _DOT_RULES:
            out = re.sub(pat, rep, out)
    assert out == remove_dot_segments_py(path), path


@given(st.floats(min_value=0.0, max_value=1.0),
       st.floats(min_value=0.0, max_value=1.0))
def test_rate_threshold_hex_monotone_prop(r1, r2):
    """Sampling-rate -> hex-threshold mapping is monotone under the
    STRING comparison both engines use (fixed-width lowercase hex), so
    raising a stratum's rate can only ADD kept docs — the property
    that makes rate changes append-only for pipeline snapshots."""
    from prosearch_spark.ops.curate import rate_threshold_hex

    a, b = rate_threshold_hex(r1), rate_threshold_hex(r2)
    assert len(a) == len(b) == 8
    if r1 <= r2:
        assert a <= b
    else:
        assert a >= b


@given(st.integers(min_value=0, max_value=10**13),
       st.dictionaries(st.text(st.characters(min_codepoint=97,
                                             max_codepoint=122),
                               min_size=1, max_size=6),
                       st.floats(min_value=0.0, max_value=1.0),
                       max_size=8))
def test_mixture_budgets_props(budget, weights):
    """Integer mixture budgets: each stratum gets floor(w x budget)
    exactly, and when the weights are a (sub-)distribution the summed
    budgets never exceed the global budget — token mass is conserved
    no matter how the mixture is sliced."""
    import math

    from prosearch_spark.ops.curate import mixture_budgets

    out = mixture_budgets(budget, weights)
    assert set(out) == set(weights)
    for s, w in weights.items():
        assert out[s] == int(float(w) * budget)
        assert out[s] <= math.floor(w * budget) + 1  # int() truncation
    if sum(weights.values()) <= 1.0:
        # truncation loses mass vs the exact products; the only growth
        # source is float rounding of w*budget near an integer, worth
        # at most 1 token per stratum
        assert sum(out.values()) <= budget + len(weights)


# -- SQ8 quantization twin parity (round 6) ----------------------------------
# The ADC candidate rule's determinism rests on the Python query-side
# quantizer (VectorArtifact.sq_topk._qcode's algebra) landing on the
# SAME integer as the Spark/DuckDB column expression for ANY bounds
# and input — same subtraction/multiply/divide order, floor, clamp.

def _qcode_py(x: float, gmin: float, gmax: float) -> int:
    import math

    if gmax == gmin:
        return 0
    c = math.floor((float(x) - gmin) * 255.0 / (gmax - gmin))
    return min(max(c, 0), 255)


@given(
    st.lists(st.floats(min_value=-1e6, max_value=1e6,
                       allow_nan=False, allow_infinity=False,
                       width=32),
             min_size=1, max_size=16),
    st.floats(min_value=-1e6, max_value=1e6, allow_nan=False),
    st.floats(min_value=1e-6, max_value=1e6, allow_nan=False),
)
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_sq_quantize_python_twin_matches_spark(spark, xs, gmin, span):
    from pyspark.sql import functions as F

    from prosearch_spark.ops.similarity import sq_quantize_col

    gmax = gmin + span
    row = spark.createDataFrame(
        [(xs,)], "v array<double>").select(
        sq_quantize_col(F.col("v"), F.lit(float(gmin)),
                        F.lit(float(gmax))).alias("c")).head()
    got = [int(c) for c in row["c"]]
    want = [_qcode_py(x, gmin, gmax) for x in xs]
    assert got == want


@given(st.text(alphabet=st.characters(
    blacklist_categories=("Cs",)), max_size=120))
def test_parse_query_slop_never_errors_and_is_lenient_superset(q):
    """The proximity grammar is total (never raises on any input) and
    a STRICT superset of the lenient grammar: on any query with no
    ``~`` character the two parses are byte-identical, and in general
    the slop parse differs only by (a) converting a phrase clause to
    a slop clause or (b) dropping a glued ~suffix token the lenient
    parse would have read as a bare term."""
    from prosearch_spark.analyzer import (
        parse_query_lenient,
        parse_query_slop,
    )

    lenient = parse_query_lenient(q)
    slop = parse_query_slop(q)  # must not raise
    if "~" not in q:
        assert slop == lenient
    # structural invariants hold on every input
    for kind, payload in slop:
        assert kind in ("term", "phrase", "slop")
        if kind == "slop":
            terms, n = payload
            assert len(terms) >= 2 and n >= 1
    # folding slop clauses back to phrases yields a SUBSEQUENCE of the
    # lenient parse's clause list (the slop parse only ever drops
    # glued ~tokens, never reorders or invents clauses)
    folded = [("phrase", list(p[0])) if k == "slop" else (k, p)
              for k, p in slop]
    it = iter(lenient)
    assert all(any(c == lc for lc in it) for c in folded)
