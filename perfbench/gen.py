"""Seeded inputs for the benchmark, with the outcome each record must get.

Everything here is a pure function of the seed. The expected outcomes are
computed from how a record was generated, never by calling the package's
parser, so a parser bug shows up as a mismatch instead of moving the
expectation with it.

Ingest file: ``id,amount,active,note`` typed ``string,number,boolean,string``,
CRLF line endings, about a third of the notes quoted with an embedded comma,
and about 2% malformed lines of three kinds:

- ``fields``: one field too few or too many;
- ``number``: a non-numeric ``amount``;
- ``boolean``: an ``active`` value other than true/false.

Tables: the ten parquet tables the query registry reads, in the schemas and
value domains of the package's test data, scaled by ``sf`` like TPC-H.
"""

from __future__ import annotations

import datetime
import hashlib
import os
from dataclasses import dataclass, field

import numpy as np

CSV_HEADERS = "id,amount,active,note"
CSV_TYPES = "string,number,boolean,string"
MALFORMED_SHARE = 0.02
REJECT_PER_MILLE = 20  # the stub answers 422 to ~2% of the records it gets

# Substring of the BatchStatus ``error`` each malformed kind must produce.
ERROR_TEXT = {
    "fields": "data fields",
    "number": "Invalid number value",
    "boolean": "Invalid boolean value",
}

_WORDS = (
    "alpha beta gamma delta omega north south east west red green blue "
    "fast slow big small batch stream table column"
).split()


def rec_key(rec_id: int) -> str:
    """The ``id`` field of line ``rec_id`` (1-based), which the stub sees."""
    return f"r{rec_id:07d}"


def rest_verdict(seed: int, key: str) -> int:
    """HTTP status the stub answers for the record with ``id`` = ``key``."""
    h = hashlib.blake2b(f"{seed}:{key}".encode(), digest_size=8).digest()
    return 422 if int.from_bytes(h, "little") % 1000 < REJECT_PER_MILLE else 200


@dataclass
class IngestExpectation:
    """What one generated file must produce, line by line."""

    n_lines: int
    malformed: dict[int, str] = field(default_factory=dict)  # recId -> kind
    rejected: set[int] = field(default_factory=set)  # parsed recIds the stub 422s

    def parsed_ids(self) -> set[int]:
        return set(range(1, self.n_lines + 1)) - set(self.malformed)

    def counts(self, rest: bool) -> dict[str, int]:
        """Expected ``IngestResult.counts`` (and BatchRun counts)."""
        failed = len(self.malformed) + (len(self.rejected) if rest else 0)
        return {
            "totalRecordCount": self.n_lines,
            "successCount": self.n_lines - failed,
            "failureCount": failed,
        }


def write_ingest_csv(path: str, n_lines: int, seed: int, stub_seed: int) -> IngestExpectation:
    """Write the ingest file and return its expected outcomes; ``stub_seed``
    is the seed the stub server decides its 422s with."""
    rng = np.random.default_rng(seed)
    kinds = rng.choice(
        ["ok", "fields", "number", "boolean"],
        size=n_lines,
        p=[1 - MALFORMED_SHARE] + [MALFORMED_SHARE / 3] * 3,
    )
    amounts = rng.integers(-100_000, 1_000_000, size=n_lines)
    amount_form = rng.integers(0, 4, size=n_lines)
    active = rng.choice(["true", "false", "TRUE", "False"], size=n_lines)
    quoted = rng.random(n_lines) < 0.35
    w1 = rng.integers(0, len(_WORDS), size=n_lines)
    w2 = rng.integers(0, len(_WORDS), size=n_lines)
    extra = rng.random(n_lines) < 0.5
    exp = IngestExpectation(n_lines=n_lines)
    lines = []
    for i in range(n_lines):
        rec_id = i + 1
        key = rec_key(rec_id)
        a = int(amounts[i])
        form = amount_form[i]
        if form == 0:
            amount = f"{a // 100}.{abs(a) % 100:02d}" if a >= 0 else f"-{-a // 100}.{-a % 100:02d}"
        elif form == 1:
            amount = str(a)
        elif form == 2:
            amount = f"{a}e-2"
        else:
            amount = f"+{abs(a)}"
        flag = str(active[i])
        if quoted[i]:
            note = f'"{_WORDS[w1[i]]}, {_WORDS[w2[i]]}"'
        else:
            note = _WORDS[w1[i]]
        kind = str(kinds[i])
        if kind == "number":
            amount = f"{abs(a)}x"
        elif kind == "boolean":
            flag = ("yes", "1", "no", "t")[a % 4]
        fields = [key, amount, flag, note]
        if kind == "fields":
            fields = fields[:3] if extra[i] else fields + ["spare"]
        if kind != "ok":
            exp.malformed[rec_id] = kind
        elif rest_verdict(stub_seed, key) == 422:
            exp.rejected.add(rec_id)
        lines.append(",".join(fields))
    with open(path, "w", newline="") as f:
        f.write("\r\n".join(lines))
        f.write("\r\n")
    return exp


# --- query tables --------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DAY_US = 86_400 * 1_000_000


def _days_us(start: datetime.date, days: np.ndarray) -> np.ndarray:
    epoch_day = (start - datetime.date(1970, 1, 1)).days
    return (epoch_day + days).astype(np.int64) * _DAY_US


def _cents(rng, lo: int, hi: int, n: int) -> np.ndarray:
    return rng.integers(lo, hi, size=n) / 100.0


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(1, int(150_000 * sf)),
        "supplier": max(1, int(10_000 * sf)),
        "part": max(1, int(200_000 * sf)),
        "orders": max(1, int(1_500_000 * sf)),
        "lineitem": max(1, int(6_000_000 * sf)),
        "events": max(1, int(1_000_000 * sf)),
        "documents": max(500, int(50_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def make_tables(rng: np.random.Generator, sf: float) -> dict[str, dict[str, object]]:
    """Column arrays for every table, drawn from ``rng``."""
    n = table_sizes(sf)
    t: dict[str, dict[str, object]] = {}
    t["region"] = {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": _REGIONS}
    t["nation"] = {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }
    nc = n["customer"]
    t["customer"] = {
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _cents(rng, -99_999, 1_000_000, nc),
        "c_mktsegment": [_SEGMENTS[i] for i in rng.integers(0, 5, nc)],
    }
    ns = n["supplier"]
    t["supplier"] = {
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _cents(rng, -99_999, 1_000_000, ns),
    }
    npart = n["part"]
    t["part"] = {
        "p_partkey": np.arange(npart, dtype=np.int64),
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": [_PTYPES[i] for i in rng.integers(0, 6, npart)],
        "p_size": rng.integers(1, 51, npart).astype(np.int32),
        "p_retailprice": (9000 + np.arange(npart) % 1000) / 10.0,
    }
    no = n["orders"]
    t["orders"] = {
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, no)],
        "o_totalprice": _cents(rng, 100_000, 50_000_000, no),
        "o_orderdate": _days_us(datetime.date(1995, 1, 1), rng.integers(0, 2404, no)),
        "o_orderpriority": [_PRIORITIES[i] for i in rng.integers(0, 5, no)],
    }
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, 90_000, 210_000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, nl)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, nl)],
        "l_shipdate": _days_us(datetime.date(1995, 1, 2), rng.integers(0, 2499, nl)),
    }
    ne = n["events"]
    month_us = 30 * _DAY_US
    t["events"] = {
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": _days_us(datetime.date(2024, 1, 1), np.zeros(ne, dtype=np.int64))
        + np.sort(rng.integers(0, month_us, ne)),
        "user_id": rng.integers(0, max(1, nc // 10), ne).astype(np.int64),
        "event_type": [_EVENT_TYPES[i] for i in rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(50.0, ne), 2) + 0.01,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    }
    nd = n["documents"]
    texts = []
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        words = rng.integers(0, len(_DOC_WORDS), int(rng.integers(8, 100)))
        texts.append(" ".join(_DOC_WORDS[w] for w in words))
    t["documents"] = {
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": [_LANGS[i] for i in rng.integers(0, 5, nd)],
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    }
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, nv).astype(np.int32),
    }
    return t


def write_tables(sf_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write ``<sf_dir>/<table>.parquet`` for every table; returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    rows = {}
    for name, cols in make_tables(np.random.default_rng(seed), sf).items():
        arrays = {}
        for col, values in cols.items():
            if col in ("o_orderdate", "l_shipdate", "ts"):
                arrays[col] = pa.array(values, type=pa.timestamp("us"))
            elif col == "embedding":
                arrays[col] = pa.array([v.tolist() for v in values], type=pa.list_(pa.float32()))
            else:
                arrays[col] = pa.array(values)
        table = pa.table(arrays)
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows
