"""Seeded inputs for the benchmark: the engine's ten tables and contact CSVs.

Everything here is a pure function of the seed.  The engine only ever
sees the files written here; the expectations derived alongside the
contact CSVs stay in the benchmark.

Tables follow the layout the engine's loaders expect (``tables.py``):
one parquet file per table with the same column names, types, value
domains and scaling rules as the fixture tables (row counts grow with
``sf``; ``documents`` and ``embeddings`` have a floor of 500 rows).
"""

from __future__ import annotations

import csv
import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a agg batch big column customer data dup fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

_DAY_US = 86_400 * 1_000_000


def _days(rng, n, lo: str, hi: str) -> np.ndarray:
    lo_d = np.datetime64(lo, "D").astype(np.int64)
    hi_d = np.datetime64(hi, "D").astype(np.int64)
    return (rng.integers(lo_d, hi_d + 1, n) * _DAY_US).astype("datetime64[us]")


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def write_tables(out_dir: str, seed: int, sf: float) -> None:
    """Write the ten tables for scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = max(15, int(150_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{k}" for k in range(25)],
        "n_regionkey": pa.array([k % 5 for k in range(25)], pa.int32()),
    })
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{k:09d}" for k in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{k:09d}" for k in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, n_part),
                                              rng.choice(PART_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 2),
    })
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # Distinct, sorted microsecond timestamps across January 2024.
    span_us = 30 * _DAY_US
    ts = np.sort(rng.choice(span_us, n_ev, replace=False))
    ts = (ts + np.datetime64("2024-01-01", "us").astype(np.int64))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for _ in range(n_docs):
        if texts and rng.random() < 0.1:
            # Near-duplicate of an earlier document: a few words swapped.
            words = texts[rng.integers(0, len(texts))].split()
            for i in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[i] = WORDS[rng.integers(0, len(WORDS))]
        else:
            words = list(rng.choice(WORDS, rng.integers(10, 110)))
        texts.append(" ".join(words))
    _write(out_dir, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n_docs, p=LANG_P),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.normal(0.0, 1.0, (10, 64))
    vecs = centroids[labels] * 0.3 + rng.normal(0.0, 1.0, (n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32),
    })


# --- contact-import inputs --------------------------------------------------

EMAIL_RE = r"^[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}$"
_INVALID = ["{u}-at-example.com", "{u}@example", "{u}@example.c",
            "{u} x@example.com", "@{u}.example.com"]


@dataclass
class ContactJob:
    """One generated upload and what the lifecycle must make of it."""

    job_id: int
    path: str
    #: Job status after initial processing (COMPLETED or NEEDS_REVIEW).
    status: str
    #: Unresolved issues after initial processing: distinct (type, key).
    issues: int
    #: Rows that pass validation; they become contacts once the job
    #: completes (right away, or after the review tail discards the rest).
    valid: int
    #: Normalized emails this job adds to the tenant's contacts.
    emails: list[str] = field(default_factory=list)


def _verdicts(rows: list[tuple[str, str, str, str]],
              existing: set[str]) -> list[tuple[str | None, str]]:
    """Reference rules, row by row: (issue type or None, issue key)."""
    norm = [r[0].strip().lower() for r in rows]
    counts: dict[str, int] = {}
    for e in norm:
        counts[e] = counts.get(e, 0) + 1
    out = []
    for (email, first, last, company), e in zip(rows, norm):
        if any(not v.strip() for v in (email, first, last, company)):
            kind = "MISSING_REQUIRED_FIELD"
        elif not re.match(EMAIL_RE, email.strip()):
            kind = "INVALID_EMAIL"
        elif counts[e] > 1:
            kind = "DUPLICATE_EMAIL"
        elif e in existing:
            kind = "EXISTING_EMAIL"
        else:
            kind = None
        out.append((kind, e))
    return out


def contact_job(out_dir: str, seed: int, job_id: int, n_rows: int,
                existing: list[str], clean: bool) -> ContactJob:
    """Write one contacts CSV and derive its expected outcome.

    A job that is not ``clean`` gets planted faults: invalid emails,
    in-file duplicates (case and padding variants of one address),
    collisions with ``existing`` (contacts consolidated earlier) and
    rows with a blank required field.  Valid addresses are unique to
    the job, so outcomes do not depend on how jobs share a microbatch.
    """
    rng = np.random.default_rng([seed, 2, job_id])
    rows = [(f"c{job_id}.{r}@bench{r % 7}.example.com", f"First{r}",
             f"Last{r}", f"Company {r % 13}") for r in range(n_rows)]
    if not clean:
        n_fault = max(4, n_rows // 25)
        slots = rng.permutation(n_rows)
        for i, r in enumerate(slots[:n_fault]):
            email, first, last, company = rows[r]
            kind = i % 4
            if kind == 0:
                email = _INVALID[i // 4 % len(_INVALID)].format(u=f"x{job_id}r{r}")
            elif kind == 1:
                # Duplicate the address of another row, varying case/padding.
                src = slots[n_fault + i // 4]
                email = f"  {rows[src][0].upper()} "
            elif kind == 2 and existing:
                email = existing[rng.integers(0, len(existing))].title()
            elif kind == 3:
                first, company = ("", company) if r % 2 else (first, "")
            rows[r] = (email, first, last, company)
    verdicts = _verdicts(rows, set(existing))
    issues = {(k, e) for k, e in verdicts if k is not None}
    good = [e for k, e in verdicts if k is None]
    path = os.path.join(out_dir, f"contacts-{job_id}.csv")
    with open(path, "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(["email", "first_name", "last_name", "company"])
        w.writerows(rows)
    return ContactJob(job_id, path,
                      "NEEDS_REVIEW" if issues else "COMPLETED",
                      len(issues), len(good), good)
