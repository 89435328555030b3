"""Seeded inputs for the three workloads.

``write_tables`` writes the ten sf0.1 tables the registry queries read
(TPC-H star, documents, embeddings, events) with the row counts and
value shapes of the repository's sf0.1 test corpus: a 30-word uniform
document vocabulary plus ``dup``-marked near-duplicates, unit-norm 64-d
embeddings in ten labelled clusters, and single-row-group parquet
files.  The tables come from a fixed data seed so every workload and
every ``--seed`` sees the same corpus; ``--seed`` varies only the serve
query stream and the ingest batches.

``serve_queries`` and ``IngestModel`` are the per-seed generators.
``IngestModel`` also keeps the expected Silver state, so each batch
carries the upsert/delete/quarantine counts the pipeline must report.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 20261016
SF = 0.1

VOCAB = (
    "spark merge vector batch part line column order small sort fast value "
    "scan hash slow group agg filter query big key window row table stream "
    "data join customer a the"
).split()
DUP_MARK = "dup"
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.4, 0.15, 0.15, 0.15, 0.15)
MKT = ("AUTOMOBILE", "BUILDING", "FURNITURE", "MACHINERY", "HOUSEHOLD")
PRIO = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PNAME_ADJ = ("large", "hot", "blue", "old", "cold", "small", "dark", "new")
PNAME_NOUN = ("ring", "bolt", "plate", "case", "wheel", "box", "cap",
              "rod", "widget", "gear")
ETYPES = ("click", "error", "purchase", "signup", "view")
DAY_US = 86_400_000_000


def _days(d) -> pa.Array:
    return pa.array((np.asarray(d, np.int64) * DAY_US).astype("datetime64[us]"),
                    pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.array(values)[rng.choice(len(values), n, p=p)])


def write_tables(out: str, tables: tuple[str, ...] | None = None,
                 sf: float = SF) -> dict[str, int]:
    """Write ``tables`` (default: all ten) to ``out``; returns rows per
    table.  Each table group draws from its own stream of the data seed,
    so a subset is identical to the same tables of the full set."""
    tables = TABLES if tables is None else tables
    os.makedirs(out, exist_ok=True)
    rows: dict[str, int] = {}
    for group, (gen, names) in enumerate(_GROUPS):
        if not set(names) & set(tables):
            continue
        for name, cols in gen(np.random.default_rng([DATA_SEED, group]), sf).items():
            if name in tables:
                t = pa.table(cols)
                pq.write_table(t, os.path.join(out, f"{name}.parquet"))
                rows[name] = t.num_rows
    return rows


def _tpch(rng, sf: float) -> dict[str, dict]:
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    out = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())},
        "customer": {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
            "c_mktsegment": _pick(rng, MKT, n_cust),
        },
        "supplier": {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
        },
    }
    adj = np.array(PNAME_ADJ)[rng.integers(0, len(PNAME_ADJ), n_part)]
    noun = np.array(PNAME_NOUN)[rng.integers(0, len(PNAME_NOUN), n_part)]
    out["part"] = {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": pa.array(np.char.add(np.char.add(adj, " "), noun)),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + np.arange(n_part) % 1000 / 10.0, 2),
    }
    # orders over 1995-01-01 .. 2001-08-01; ~4 lines per order, tail to 17
    odays = rng.integers(9131, 11535 + 1, n_ord)
    out["orders"] = {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(850.0, 400_000.0, n_ord), 2),
        "o_orderdate": _days(odays),
        "o_orderpriority": _pick(rng, PRIO, n_ord),
    }
    nlines = np.clip(1 + rng.poisson(3.0, n_ord), 1, 17)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), nlines)
    starts = np.repeat(np.cumsum(nlines) - nlines, nlines)
    n_li = len(okey)
    lag = np.where(rng.random(n_li) < 0.02, rng.integers(366, 2400, n_li),
                   rng.integers(1, 95, n_li))
    order = rng.permutation(n_li)  # the test corpus is not key-clustered
    li = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100.0, 2),
        "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
        "l_linestatus": _pick(rng, ("F", "O"), n_li),
        "l_shipdate": _days(np.repeat(odays, nlines) + lag),
    }
    out["lineitem"] = {k: pa.array(v).take(order) for k, v in li.items()}
    return out


def _events(rng, sf: float) -> dict[str, dict]:
    n_ev = int(1_000_000 * sf)
    ts = np.sort(rng.integers(0, 30 * DAY_US, n_ev)) + 19723 * DAY_US  # 2024-01
    return {"events": {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, int(15_000 * sf), n_ev), pa.int64()),
        "event_type": _pick(rng, ETYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }}


def _corpus(rng, sf: float) -> dict[str, dict]:
    # documents: uniform draws from the 30-word vocabulary; 5% are an
    # earlier document with " dup" appended (near-duplicate positives)
    n_doc, n_emb = int(50_000 * sf), int(20_000 * sf)
    lens = rng.integers(10, 101, n_doc)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    bounds = np.concatenate(([0], np.cumsum(lens)))
    texts = [" ".join(words[bounds[i]:bounds[i + 1]]) for i in range(n_doc)]
    dups = rng.choice(np.arange(1, n_doc), n_doc // 20, replace=False)
    for d in np.sort(dups):
        texts[d] = f"{texts[rng.integers(0, d)]} {DUP_MARK}"
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    emb = centers[label] + rng.normal(0.0, 0.8, (n_emb, 64))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    return {
        "documents": {
            "doc_id": pa.array(range(n_doc), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        },
        "embeddings": {
            "vec_id": pa.array(range(n_emb), pa.int64()),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        },
    }


_GROUPS = (
    (_tpch, ("region", "nation", "customer", "supplier", "part", "orders", "lineitem")),
    (_events, ("events",)),
    (_corpus, ("documents", "embeddings")),
)
TABLES = tuple(n for _, names in _GROUPS for n in names)


# ---------------------------------------------------------------------------
# serve: query stream


def serve_queries(seed: int, n: int, stopwords: tuple[str, ...]) -> list[str]:
    """``n`` distinct raw query strings of 1-4 vocabulary words, each with
    at least one non-stopword.  Words repeat across queries; whole
    queries never do.  The word count cycles 1, 2, 3, 4 -- request cost
    grows with it -- so every seed sends the same mix in the same order.
    One-word queries are the scarce kind (one per content word); once
    they are used up the count cycles 2, 3, 4.  Two-word queries are
    next (896), which caps ``n`` a little above 2,700."""
    if n > 2_600:
        raise ValueError("at most 2,600 distinct queries")
    rng = np.random.default_rng([seed, 1])
    one_word = 4 * len(CONTENT_WORDS)  # positions of the 1, 2, 3, 4 cycle
    seen: set[tuple[str, ...]] = set()
    out: list[str] = []
    while len(out) < n:
        pos = len(out)
        k = 1 + pos % 4 if pos < one_word else 2 + (pos - one_word) % 3
        q = tuple(VOCAB[i] for i in rng.integers(0, len(VOCAB), k))
        if q in seen or all(w in stopwords for w in q):
            continue
        seen.add(q)
        out.append(" ".join(q))
    return out


# ---------------------------------------------------------------------------
# ingest: landed bronze batches and the expected Silver state

SOURCES = (  # (bronze "source" field, url host, silver source_system)
    ("MIT OCW", "ocw.mit.edu", "mit_ocw"),
    ("OpenStax", "openstax.org", "openstax"),
    ("Open Textbook Library", "open.umn.edu", "otl"),
    (None, "ocw.mit.edu", "mit_ocw"),
)
# Assumed, not measured: no recorded scrape traffic gives the share of
# each record kind or the corrupt lines per batch.  The re-send share
# bounds what skipping no-op records can gain.
KIND_SHARES = {"new": 0.25, "changed": 0.25, "resend": 0.30, "drop_assets": 0.20}
CONTENT_WORDS = VOCAB[:-2]  # without the stopwords "a" and "the"
CORRUPT_PER_BATCH = 5


def fingerprint(title: str, description: str, url: str, paths: list[str]) -> str:
    """Python twin of ``normalize_bronze``'s record fingerprint."""
    body = "|".join([title, description, url,
                     json.dumps(paths, separators=(",", ":"))])
    return hashlib.md5(body.encode()).hexdigest()


def resource_uid(rid: str) -> str:
    return hashlib.sha256(rid.encode()).hexdigest()


@dataclass
class Resource:
    rid: str
    source: int
    title: str
    description: str
    paths: list[str]
    scraped_day: int

    @property
    def url(self) -> str:
        return f"https://{SOURCES[self.source][1]}/r/{self.rid}"

    @property
    def source_system(self) -> str:
        return SOURCES[self.source][2]

    def fingerprint(self) -> str:
        return fingerprint(self.title, self.description, self.url, self.paths)

    def quality(self) -> float:
        """Python twin of ``normalize_bronze``'s quality score for the
        fields this generator always fills."""
        return round(0.3 + (0.3 if len(self.description) >= 80 else 0.0)
                     + 0.2 + 0.1 + (0.1 if self.paths else 0.0), 9)

    def record(self) -> dict:
        rec = {
            "id": self.rid, "title": self.title, "description": self.description,
            "url": self.url, "authors": [f"author {self.rid}"],
            "language": "en", "license": "CC-BY",
            "year": 2000 + int(self.rid[1:]) % 24,
            "scraped_at": f"2026-{1 + self.scraped_day // 28:02d}-"
                          f"{1 + self.scraped_day % 28:02d}T00:00:00Z",
            "pdf_paths": self.paths,
        }
        if SOURCES[self.source][0] is not None:
            rec["source"] = SOURCES[self.source][0]
        return rec


@dataclass
class Batch:
    lines: list[str]
    kinds: dict[str, int]
    expected: dict[str, int]
    landed_bytes: int = 0
    touched: list[str] = field(default_factory=list)


class IngestModel:
    """Generates bronze batches over a fixed key space and tracks the
    Silver state the pipeline must converge to."""

    def __init__(self, seed: int, key_space: int, batch_size: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.key_space = key_space
        self.batch_size = batch_size
        self.state: dict[str, Resource] = {}
        self.next_key = 0
        self.day = 0
        self.n_batches = 0
        self.history: list[dict[str, int]] = []  # record kinds per timed batch

    def _new(self) -> Resource:
        rid = f"r{self.next_key:07d}"
        self.next_key += 1
        n_assets = int(self.rng.integers(1, 5))
        return Resource(
            rid=rid, source=int(self.rng.integers(0, len(SOURCES))),
            title=f"{CONTENT_WORDS[int(self.rng.integers(0, len(CONTENT_WORDS)))]} "
                  f"course {rid}",
            description=" ".join(np.array(CONTENT_WORDS)[self.rng.integers(
                0, len(CONTENT_WORDS), int(self.rng.integers(4, 24)))]),
            paths=[f"/landing/{rid}/asset{j}.pdf" for j in range(n_assets)],
            scraped_day=self.day,
        )

    def initial_load(self) -> Batch:
        """Every key of the key space, as one batch of new resources."""
        return self._emit([self._new() for _ in range(self.key_space)],
                          {"new": self.key_space}, corrupt=0)

    def next_batch(self) -> Batch:
        self.day += 1
        n = self.batch_size
        counts = {k: int(round(s * n)) for k, s in KIND_SHARES.items()}
        counts["resend"] += n - sum(counts.values())
        live = sorted(self.state)
        picks = self.rng.choice(len(live), n - counts["new"], replace=False)
        olds = iter([self.state[live[i]] for i in picks])
        out: list[Resource] = [self._new() for _ in range(counts["new"])]
        for _ in range(counts["changed"]):
            r = next(olds)
            out.append(Resource(r.rid, r.source, r.title,
                                f"{r.description} rev{self.day}", list(r.paths), self.day))
        out.extend(next(olds) for _ in range(counts["resend"]))
        n_drop = 0
        for _ in range(counts["drop_assets"]):
            r = next(olds)
            if len(r.paths) < 2:  # keep >=1 asset; a 1-asset resource gains one
                paths = r.paths + [f"/landing/{r.rid}/asset-d{self.day}.pdf"]
            else:
                paths = r.paths[:-1]
                n_drop += 1
            out.append(Resource(r.rid, r.source, r.title, r.description, paths, self.day))
        counts["drop_assets"] = n_drop
        counts["add_asset"] = len(out) - counts["new"] - counts["changed"] - \
            counts["resend"] - n_drop
        batch = self._emit(out, counts, corrupt=CORRUPT_PER_BATCH)
        self.history.append(batch.kinds)
        return batch

    def _emit(self, resources: list[Resource], kinds: dict, corrupt: int) -> Batch:
        exp = {"resources_upserted": 0, "documents_upserted": 0,
               "documents_deleted": 0, "rows_quarantined": corrupt}
        for r in resources:
            old = self.state.get(r.rid)
            if old is None or old.fingerprint() != r.fingerprint() or \
                    r.scraped_day > old.scraped_day:
                exp["resources_upserted"] += 1
            old_assets = {(p, j) for j, p in enumerate(old.paths)} if old else set()
            new_assets = {(p, j) for j, p in enumerate(r.paths)}
            old_paths = {p for p, _ in old_assets}
            new_paths = {p for p, _ in new_assets}
            exp["documents_upserted"] += len(new_assets - old_assets)
            exp["documents_deleted"] += len(old_paths - new_paths)
            self.state[r.rid] = r
        lines = [json.dumps(r.record()) for r in resources]
        lines += [f'{{"id": "broken-{self.n_batches}-{j}", "title": ' for j in range(corrupt)]
        order = self.rng.permutation(len(lines))
        lines = [lines[i] for i in order]
        self.n_batches += 1
        kinds = dict(kinds, corrupt=corrupt)
        return Batch(lines=lines, kinds=kinds, expected=exp,
                     touched=[r.rid for r in resources])

    def gold_fact(self) -> dict[str, tuple]:
        """Expected coverage fact: source_system -> (total_resources,
        resources_with_assets, total_documents, avg_quality)."""
        acc: dict[str, list] = {}
        for r in self.state.values():
            a = acc.setdefault(r.source_system, [0, 0, 0, 0.0])
            a[0] += 1
            a[1] += 1 if r.paths else 0
            a[2] += len(r.paths)
            a[3] += r.quality()
        return {k: (a[0], a[1], a[2], a[3] / a[0]) for k, a in acc.items()}
