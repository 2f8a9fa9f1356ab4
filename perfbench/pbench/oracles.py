"""Answer checks, run off the clock.

``compare`` is the one comparator: an answer is a ranked list of
(rank, doc_id, score) rows and must equal the oracle's rank for rank,
doc for doc, with scores equal within ``tol`` (both sides round to 6
decimals before ranking, so equal answers differ by float noise only).
"""

from __future__ import annotations

import decimal
import math
import re

SCORE_TOL = 1e-9


def compare(got: list[tuple], want: list[tuple],
            tol: float = SCORE_TOL) -> str | None:
    """None when ``got`` equals ``want``; otherwise a short reason."""
    if len(got) != len(want):
        return f"{len(got)} hits, oracle has {len(want)}"
    for g, w in zip(got, want):
        if int(g[0]) != int(w[0]) or int(g[1]) != int(w[1]):
            return f"rank {w[0]}: got doc {g[1]} at rank {g[0]}, " \
                   f"oracle doc {w[1]}"
        gs, ws = float(g[2]), float(w[2])
        if math.isnan(gs) or abs(gs - ws) > tol:
            return f"rank {w[0]}: score {gs!r} != oracle {ws!r}"
    return None


def round_half_up(x: float, places: int = 6) -> float:
    """Decimal HALF_UP rounding of a double's shortest repr — the
    rounding Spark's ``round`` applies."""
    q = decimal.Decimal(1).scaleb(-places)
    return float(decimal.Decimal(repr(x)).quantize(
        q, rounding=decimal.ROUND_HALF_UP))


def rerank_rounded(scored: list[tuple[int, float]], k: int,
                   places: int = 6) -> list[tuple[int, int, float]]:
    """Round raw (doc_id, score) pairs, then rank by (score DESC, doc_id
    ASC) — the round-before-rank rule every engine path follows."""
    rows = sorted(((d, round_half_up(s, places)) for d, s in scored),
                  key=lambda r: (-r[1], r[0]))
    return [(i + 1, d, s) for i, (d, s) in enumerate(rows[:k])]


def split_ctes(sql: str) -> tuple[list[tuple[str, str]], str] | None:
    """A ``WITH a AS (...), b(x) AS (...) SELECT ...`` statement as
    ([(head, body), ...], tail); None for any other shape. Quote- and
    paren-aware, so regexes and nested subqueries inside bodies pass."""
    s = sql.lstrip()
    if not s[:4].upper() == "WITH":
        return None
    out, i = [], 4
    while True:
        j = s.find(" AS (", i)
        if j < 0:
            return None
        head = s[i:j].strip()
        depth, quoted = 0, False
        for m in range(j + 4, len(s)):
            c = s[m]
            if quoted:
                quoted = c != "'"
            elif c == "'":
                quoted = True
            elif c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
        else:
            return None
        out.append((head, s[j + 5:m]))
        rest = s[m + 1:].lstrip()
        if not rest.startswith(","):
            return out, rest
        i = len(s) - len(rest) + 1


def _name(head: str) -> str:
    return head.split("(")[0].strip()


class DuckOracle:
    """The repo's DuckDB SQL twins (query/oracle_sql.py) over a
    ``documents`` table holding the given (doc_id, text) rows.

    Every twin recomputes the corpus-level relations (token stream,
    postings, term stats, positions) inside its own WITH clause. Those
    relations are computed once per corpus instead: a CTE whose text is
    the same in the twins of different queries, and that refers to no
    query-specific CTE, is materialized as a table on first use and the
    statement reads the table in its place. The statements are otherwise
    run as generated."""

    def __init__(self, docs: list[dict]):
        import duckdb
        import pandas as pd

        self.con = duckdb.connect()
        frame = pd.DataFrame({"doc_id": [d["doc_id"] for d in docs],
                              "text": [d["text"] for d in docs]})
        self.con.register("documents_src", frame)
        self.con.execute("CREATE TABLE documents AS "
                         "SELECT doc_id::BIGINT AS doc_id, text "
                         "FROM documents_src")
        self.con.unregister("documents_src")
        self._shared = self._corpus_ctes()
        self._tables: dict[tuple[str, str], str] = {}

    @staticmethod
    def _corpus_ctes() -> set[tuple[str, str]]:
        from prosearch_spark.query.oracle_sql import mixed_topk_sql, topk_sql

        shared: set[tuple[str, str]] = set()
        for a, b in ((topk_sql("pa pb"), topk_sql("pc")),
                     (mixed_topk_sql('pa "pb pc"'),
                      mixed_topk_sql('"pd pe pf" pg'))):
            ca, cb = split_ctes(a)[0], split_ctes(b)[0]
            same = set(ca) & set(cb)
            local = {_name(h) for h, _ in ca if (h, _) not in same}
            changed = True
            while changed:  # drop CTEs that read a query-specific one
                changed = False
                for h, body in list(same):
                    if any(re.search(rf"\b{n}\b", body) for n in local):
                        same.discard((h, body))
                        local.add(_name(h))
                        changed = True
            shared |= same
        return shared

    def _rewrite(self, sql: str) -> str:
        parts = split_ctes(sql)
        if parts is None:
            return sql
        ctes, tail = parts
        out = []
        for head, body in ctes:
            if (head, body) in self._shared:
                table = self._tables.get((head, body))
                if table is None:
                    table = f"pb_corpus_{len(self._tables)}"
                    prefix = ",\n".join(out)
                    self.con.execute(
                        f"CREATE TABLE {table} AS WITH "
                        + (prefix + ",\n" if prefix else "")
                        + f"{head} AS ({body}) SELECT * FROM {_name(head)}")
                    self._tables[(head, body)] = table
                body = f"SELECT * FROM {table}"
            out.append(f"{head} AS ({body})")
        return "WITH " + ",\n".join(out) + "\n" + tail

    def close(self) -> None:
        self.con.close()

    def query(self, sql: str) -> list[tuple]:
        return [tuple(r) for r in
                self.con.execute(self._rewrite(sql)).fetchall()]

    def topk(self, q: str, k: int = 10) -> list[tuple]:
        from prosearch_spark.query.oracle_sql import mixed_topk_sql, topk_sql

        return self.query(mixed_topk_sql(q, k) if '"' in q
                          else topk_sql(q, k))

    def multi_topk(self, queries: list[str], k: int = 10
                   ) -> dict[str, list[tuple]]:
        """Answers for every distinct query of a pool."""
        return {q: self.topk(q, k) for q in sorted(set(queries))}


def code_oracle(files: list[dict]):
    """Brute-force Python BM25 index (prosearch_spark.oracle) over the
    code corpus with the code analyzer."""
    from prosearch_spark.oracle import build_oracle_index

    return build_oracle_index(files, {"body": "content"}, analyzer="code")


def code_topk(idx, q: str, k: int = 10) -> list[tuple[int, int, float]]:
    from prosearch_spark.oracle import topk

    return rerank_rounded(topk(idx, q, k=idx.n_docs, fields=("body",)), k)
