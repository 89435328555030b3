"""Independent references the workloads' outputs are checked against.

Computed outside the timed region: numpy for the hybrid retrieval
scores, DuckDB for the registry queries' oracle SQL.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import re

import numpy as np
import pyarrow.parquet as pq

from datagen import TABLES

K1, B = 1.2, 0.75
TOL = 1e-9


class HybridReference:
    """Okapi BM25 (k1=1.2, b=0.75) over the documents plus (cosine+1)
    of each embedding against vec_id 0, each max-normalised over the
    documents that have an embedding and fused 0.5/0.5."""

    def __init__(self, sf_dir: str) -> None:
        docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pydict()
        self.doc_ids = np.array(docs["doc_id"], dtype=np.int64)
        self.tokens = [re.sub(r"\s+", " ", t.lower()).strip(" ").split(" ")
                       for t in docs["text"]]
        self.dl = np.array([len(t) for t in self.tokens], dtype=np.float64)
        self._tf: dict[str, np.ndarray] = {}
        emb = pq.read_table(os.path.join(sf_dir, "embeddings.parquet")).to_pydict()
        vec_ids = np.array(emb["vec_id"], dtype=np.int64)
        e = np.array(emb["embedding"], dtype=np.float32).astype(np.float64)
        q = e[vec_ids == 0][0]
        # sequential left folds, the order the Spark expression sums in
        dot = np.zeros(len(e))
        na = np.zeros(len(e))
        nq = 0.0
        for i in range(e.shape[1]):
            dot = dot + e[:, i] * q[i]
            na = na + e[:, i] * e[:, i]
            nq = nq + q[i] * q[i]
        self.vec = dict(zip(vec_ids.tolist(),
                            (dot / (np.sqrt(na) * math.sqrt(nq)) + 1.0).tolist()))

    def tf(self, term: str) -> np.ndarray:
        if term not in self._tf:
            self._tf[term] = np.array([t.count(term) for t in self.tokens],
                                      dtype=np.float64)
        return self._tf[term]

    def topk(self, terms: tuple[str, ...], k: int) -> list[tuple[int, float]]:
        n = float(len(self.doc_ids))
        avgdl = self.dl.sum() / n
        score = np.zeros(len(self.doc_ids))
        for term in terms:
            tf = self.tf(term)
            df = float((tf > 0).sum())
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            score = score + idf * (tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * self.dl / avgdl)))
        joined = [(int(d), s, self.vec[int(d)])
                  for d, s in zip(self.doc_ids, score) if int(d) in self.vec]
        max_lex = max(s for _, s, _ in joined)
        max_vec = max(v for _, _, v in joined)
        fused = [(d, 0.5 * (s / max_lex) + 0.5 * (v / max_vec)) for d, s, v in joined]
        fused.sort(key=lambda x: (-x[1], x[0]))
        return fused[:k]

    def compare(self, terms, rows: list[tuple[int, float]], k: int) -> str | None:
        want = self.topk(terms, k)
        if [d for d, _ in rows] != [d for d, _ in want] or any(
            abs(a - b) > TOL for (_, a), (_, b) in zip(rows, want)
        ):
            return f"top-{k} differs: got {rows[:3]}... want {want[:3]}..."
        return None


# ---------------------------------------------------------------------------
# registry oracles (DuckDB)

def duckdb_con(sf_dir: str, spill_dir: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET memory_limit='1GB'")
    con.execute("SET threads=2")
    con.execute(f"SET temp_directory='{spill_dir}'")
    for t in TABLES:  # every table write_tables makes
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell(v[k])}" for k in sorted(v)) + "}"
    if hasattr(v, "asDict"):
        return _cell(v.asDict())
    return str(v)


def canonical(rows, cols: list[str]) -> list[tuple[str, ...]]:
    """Rows as sorted tuples of stringified cells, columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_cell(r[i]) for i in order) for r in rows)


def oracle_rows(con, sql: str) -> tuple[list[str], list[tuple[str, ...]]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return sorted(cols), canonical(res.fetchall(), cols)


def compare_oracle(want: tuple[list[str], list], cols: list[str], rows) -> str | None:
    o_cols, o_rows = want
    if sorted(cols) != o_cols:
        return f"columns differ: {sorted(cols)} vs {o_cols}"
    if len(rows) != len(o_rows):
        return f"row count {len(rows)} vs oracle {len(o_rows)}"
    got = canonical(rows, cols)
    if got != o_rows:
        bad = sum(a != b for a, b in zip(got, o_rows))
        return f"{bad} rows differ from the oracle"
    return None
