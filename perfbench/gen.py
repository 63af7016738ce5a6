"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, sizes)``: a numpy
``default_rng`` seeded from the run seed (plus a per-file salt) draws
the rows, and the writers format every value explicitly, so the same
seed gives byte-identical files. The program under test only ever sees
the written files; the generator also returns what it knows about them
(row counts, frozen types, exact aggregates, reference states) so the
benchmark can check each operation's output.

The table shapes and value domains follow the TPC-H-like star schema of
the repository's parquet fixtures (``FIXTURES.md``): the same column
names, types and categorical vocabularies, drawn afresh from the seed.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def rng_for(seed: int, salt: str) -> np.random.Generator:
    """Independent stream per (seed, file): adding a file never shifts
    the draws of another."""
    return np.random.default_rng([seed, *salt.encode()])


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two decimals, returned as integer cents so
    sums stay exact."""
    return rng.integers(int(lo * 100), int(hi * 100) + 1, n)


def _dates(rng: np.random.Generator, start: str, days: int, n: int) -> np.ndarray:
    return np.datetime64(start, "D") + rng.integers(0, days, n).astype("timedelta64[D]")


def _texts(rng: np.random.Generator, n: int, lo: int = 8, hi: int = 60) -> list[str]:
    lens = rng.integers(lo, hi, n)
    picks = rng.integers(0, len(WORDS), int(lens.sum()))
    out, at = [], 0
    for k in lens:
        out.append(" ".join(WORDS[i] for i in picks[at : at + k]))
        at += k
    return out


def _write_parquet(df: pd.DataFrame, path: str, schema: pa.Schema) -> None:
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


# --------------------------------------------------------------------------
# Star-schema tables for the query workload
# --------------------------------------------------------------------------

def table_rows(sf: float) -> dict[str, int]:
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        "documents": int(50_000 * sf),
        "embeddings": int(50_000 * sf),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten parquet tables the query slate reads; returns row
    counts."""
    os.makedirs(out_dir, exist_ok=True)
    n = table_rows(sf)
    r = rng_for(seed, "tables")
    ms = pa.timestamp("ms")

    _write_parquet(
        pd.DataFrame({"r_regionkey": np.arange(5, dtype="int32"), "r_name": REGIONS}),
        os.path.join(out_dir, "region.parquet"),
        pa.schema([("r_regionkey", pa.int32()), ("r_name", pa.string())]),
    )
    _write_parquet(
        pd.DataFrame(
            {
                "n_nationkey": np.arange(25, dtype="int32"),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype("int32"),
            }
        ),
        os.path.join(out_dir, "nation.parquet"),
        pa.schema(
            [("n_nationkey", pa.int32()), ("n_name", pa.string()), ("n_regionkey", pa.int32())]
        ),
    )
    nc, ns, np_, no, nl = (n[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    _write_parquet(
        pd.DataFrame(
            {
                "c_custkey": np.arange(nc, dtype="int64"),
                "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                "c_nationkey": r.integers(0, 25, nc).astype("int32"),
                "c_acctbal": _money(r, -999.99, 9999.99, nc) / 100,
                "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, nc)],
            }
        ),
        os.path.join(out_dir, "customer.parquet"),
        pa.schema(
            [
                ("c_custkey", pa.int64()), ("c_name", pa.string()),
                ("c_nationkey", pa.int32()), ("c_acctbal", pa.float64()),
                ("c_mktsegment", pa.string()),
            ]
        ),
    )
    _write_parquet(
        pd.DataFrame(
            {
                "s_suppkey": np.arange(ns, dtype="int64"),
                "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                "s_nationkey": r.integers(0, 25, ns).astype("int32"),
                "s_acctbal": _money(r, -999.99, 9999.99, ns) / 100,
            }
        ),
        os.path.join(out_dir, "supplier.parquet"),
        pa.schema(
            [
                ("s_suppkey", pa.int64()), ("s_name", pa.string()),
                ("s_nationkey", pa.int32()), ("s_acctbal", pa.float64()),
            ]
        ),
    )
    names = np.array([f"{a} {b}" for a in PART_ADJ for b in PART_NOUN])
    _write_parquet(
        pd.DataFrame(
            {
                "p_partkey": np.arange(np_, dtype="int64"),
                "p_name": names[r.integers(0, len(names), np_)],
                "p_brand": [f"Brand#{i}" for i in r.integers(1, 26, np_)],
                "p_type": np.array(PART_TYPES)[r.integers(0, 6, np_)],
                "p_size": r.integers(1, 51, np_).astype("int32"),
                "p_retailprice": (90000 + np.arange(np_) % 1000) / 100,
            }
        ),
        os.path.join(out_dir, "part.parquet"),
        pa.schema(
            [
                ("p_partkey", pa.int64()), ("p_name", pa.string()), ("p_brand", pa.string()),
                ("p_type", pa.string()), ("p_size", pa.int32()), ("p_retailprice", pa.float64()),
            ]
        ),
    )
    _write_parquet(
        pd.DataFrame(
            {
                "o_orderkey": np.arange(no, dtype="int64"),
                "o_custkey": r.integers(0, nc, no),
                "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, no)],
                "o_totalprice": _money(r, 1000, 500000, no) / 100,
                "o_orderdate": _dates(r, "1995-01-01", 2400, no).astype("datetime64[ms]"),
                "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, no)],
            }
        ),
        os.path.join(out_dir, "orders.parquet"),
        pa.schema(
            [
                ("o_orderkey", pa.int64()), ("o_custkey", pa.int64()),
                ("o_orderstatus", pa.string()), ("o_totalprice", pa.float64()),
                ("o_orderdate", ms), ("o_orderpriority", pa.string()),
            ]
        ),
    )
    _write_parquet(
        pd.DataFrame(
            {
                "l_orderkey": r.integers(0, no, nl),
                "l_partkey": r.integers(0, np_, nl),
                "l_suppkey": r.integers(0, ns, nl),
                "l_linenumber": r.integers(1, 8, nl).astype("int32"),
                "l_quantity": r.integers(1, 51, nl).astype("float64"),
                "l_extendedprice": _money(r, 900, 105000, nl) / 100,
                "l_discount": r.integers(0, 11, nl) / 100,
                "l_tax": r.integers(0, 9, nl) / 100,
                "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, nl)],
                "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, nl)],
                "l_shipdate": _dates(r, "1995-01-02", 2500, nl).astype("datetime64[ms]"),
            }
        ),
        os.path.join(out_dir, "lineitem.parquet"),
        pa.schema(
            [
                ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()), ("l_suppkey", pa.int64()),
                ("l_linenumber", pa.int32()), ("l_quantity", pa.float64()),
                ("l_extendedprice", pa.float64()), ("l_discount", pa.float64()),
                ("l_tax", pa.float64()), ("l_returnflag", pa.string()),
                ("l_linestatus", pa.string()), ("l_shipdate", ms),
            ]
        ),
    )
    ne = n["events"]
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        r.integers(0, 30 * 86_400_000_000, ne)
    ).astype("timedelta64[us]")
    _write_parquet(
        pd.DataFrame(
            {
                "event_id": np.arange(ne, dtype="int64"),
                "ts": ts,
                "user_id": r.integers(0, 150, ne),
                "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, ne)],
                "value": _money(r, 0.01, 490, ne) / 100,
                "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, ne)],
            }
        ),
        os.path.join(out_dir, "events.parquet"),
        pa.schema(
            [
                ("event_id", pa.int64()), ("ts", pa.timestamp("us")), ("user_id", pa.int64()),
                ("event_type", pa.string()), ("value", pa.float64()), ("props", pa.string()),
            ]
        ),
    )
    nd = n["documents"]
    texts = _texts(r, nd, 8, 90)
    # Plant near-duplicates (one word changed) so the dedup keys find pairs.
    for i in range(0, nd, 10):
        j = min(nd - 1, i + 1 + int(r.integers(0, 9)))
        words = texts[i].split()
        words[int(r.integers(0, len(words)))] = "dup"
        texts[j] = " ".join(words)
    _write_parquet(
        pd.DataFrame(
            {
                "doc_id": np.arange(nd, dtype="int64"),
                "text": texts,
                "lang": np.array(LANGS)[r.integers(0, 5, nd)],
                "source": [f"src{i % 20}" for i in range(nd)],
                "n_chars": np.array([len(t) for t in texts], dtype="int64"),
            }
        ),
        os.path.join(out_dir, "documents.parquet"),
        pa.schema(
            [
                ("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                ("source", pa.string()), ("n_chars", pa.int64()),
            ]
        ),
    )
    nv = n["embeddings"]
    labels = r.integers(0, 10, nv)
    centers = r.standard_normal((10, 64))
    vecs = centers[labels] + 0.8 * r.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype("float32")
    _write_parquet(
        pd.DataFrame(
            {
                "vec_id": np.arange(nv, dtype="int64"),
                "embedding": list(vecs),
                "label": labels.astype("int32"),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
        pa.schema(
            [("vec_id", pa.int64()), ("embedding", pa.list_(pa.float32())), ("label", pa.int32())]
        ),
    )
    return n


# --------------------------------------------------------------------------
# Files for the ingest workload
# --------------------------------------------------------------------------

def _csv_line(values) -> str:
    return ",".join(values) + "\n"


def write_ingest_files(out_dir: str, seed: int, sizes: dict) -> list[dict]:
    """Write the three ingest inputs. Returns one truth record per file:
    path, rows, frozen SQL type per column and exact integer aggregates
    (``count``, ``sum(key)``, ``sum(round(amount*100))``)."""
    os.makedirs(out_dir, exist_ok=True)
    out = []

    # lineitem-shaped CSV
    n = sizes["lineitem_csv_rows"]
    r = rng_for(seed, "ingest-lineitem")
    ok = r.integers(0, n // 4 + 1, n)
    cents = _money(r, 900, 105000, n)
    qty = r.integers(1, 51, n)
    disc = r.integers(0, 11, n)
    flag = np.array(["A", "N", "R"])[r.integers(0, 3, n)]
    ship = _dates(r, "1995-01-02", 2500, n).astype(str)
    path = os.path.join(out_dir, "lineitem.csv")
    with open(path, "w") as f:
        f.write("l_orderkey,l_linenumber,l_quantity,l_extendedprice,l_discount,l_returnflag,l_shipdate\n")
        for i in range(n):
            f.write(
                f"{ok[i]},{i % 7 + 1},{qty[i]},{cents[i] // 100}.{cents[i] % 100:02d},"
                f"0.{disc[i]:02d},{flag[i]},{ship[i]}\n"
            )
    out.append(
        {
            "kind": "csv",
            "path": path,
            "rows": n,
            "key": "l_orderkey",
            "amount": "l_extendedprice",
            "sum_key": int(ok.sum()),
            "sum_cents": int(cents.sum()),
            "types": {
                "l_orderkey": "INTEGER", "l_linenumber": "INTEGER", "l_quantity": "INTEGER",
                "l_extendedprice": "REAL", "l_discount": "REAL", "l_returnflag": "TEXT",
                "l_shipdate": "DATE",
            },
        }
    )

    # orders as one JSON array (multiLine, so one unsplittable task)
    n = sizes["orders_json_rows"]
    r = rng_for(seed, "ingest-orders")
    okey = np.arange(n, dtype="int64") * 3 + r.integers(0, 3, n)
    cust = r.integers(0, 150_000, n)
    cents = _money(r, 1000, 500000, n)
    status = np.array(["F", "O", "P"])[r.integers(0, 3, n)]
    odate = _dates(r, "1995-01-01", 2400, n).astype(str)
    prio = np.array(PRIORITIES)[r.integers(0, 5, n)]
    recs = [
        f'{{"o_orderkey": {okey[i]}, "o_custkey": {cust[i]}, "o_orderstatus": "{status[i]}", '
        f'"o_totalprice": {cents[i] // 100}.{cents[i] % 100:02d}, "o_orderdate": "{odate[i]}", '
        f'"o_orderpriority": "{prio[i]}"}}'
        for i in range(n)
    ]
    types = {
        "o_orderkey": "INTEGER", "o_custkey": "INTEGER", "o_orderstatus": "TEXT",
        "o_totalprice": "REAL", "o_orderdate": "DATE", "o_orderpriority": "TEXT",
    }
    truth = {
        "rows": n, "key": "o_orderkey", "amount": "o_totalprice",
        "sum_key": int(okey.sum()), "sum_cents": int(cents.sum()), "types": types,
    }
    path = os.path.join(out_dir, "orders.json")
    with open(path, "w") as f:
        f.write("[\n" + ",\n".join(recs) + "\n]\n")
    out.append({"kind": "json", "path": path, **truth})

    # dirty CSV: mixed types, nulls, emails/urls with bad values, short rows
    n = sizes["dirty_csv_rows"]
    r = rng_for(seed, "ingest-dirty")
    ids = np.arange(1, n + 1, dtype="int64")
    cents = _money(r, 0, 5000, n)
    u = r.random((n, 4))
    path = os.path.join(out_dir, "dirty.csv")
    sum_cents = 0
    with open(path, "w") as f:
        f.write("id,mixed,note,email,url,amount\n")
        for i in range(n):
            mixed = f"{int(u[i, 0] * 1000)}" if u[i, 0] < 0.7 else f"w{int(u[i, 0] * 100)}"
            note = "" if u[i, 1] < 0.2 else f"note {i % 13}"
            email = f"user{i}@example.com" if u[i, 2] < 0.9 else f"user{i}-at-example"
            url = f"https://example.com/p/{i}" if u[i, 3] < 0.9 else f"example.com/p/{i}"
            amount = f"{cents[i] // 100}.{cents[i] % 100:02d}"
            if i % 50 == 49:
                # malformed: the row stops after two fields; PERMISSIVE
                # parsing keeps it with nulls in the missing columns
                f.write(_csv_line([str(ids[i]), mixed]))
            else:
                f.write(_csv_line([str(ids[i]), mixed, note, email, url, amount]))
                sum_cents += int(cents[i])
    out.append(
        {
            "kind": "dirty",
            "path": path,
            "rows": n,
            "key": "id",
            "amount": "amount",
            "sum_key": int(ids.sum()),
            "sum_cents": sum_cents,
            "types": {
                "id": "INTEGER", "mixed": "TEXT", "note": "TEXT", "email": "TEXT",
                "url": "TEXT", "amount": "REAL",
            },
            "issues": {
                "mixed": "Mixed data types detected",
                "note": "Contains null values",
                "email": "Inconsistent formatting",
                "url": "Inconsistent formatting",
            },
        }
    )
    return out


# --------------------------------------------------------------------------
# Epoch files for the stream workload
# --------------------------------------------------------------------------

class StreamFeeds:
    """Generates epoch ``k``'s three landing files and keeps the
    references they imply: the latest-wins CDC state, the landed event
    counts and the set of distinct document texts."""

    def __init__(self, seed: int, sizes: dict):
        self.seed = seed
        self.sizes = sizes
        self.cdc_state: dict[int, tuple[int, str, int, bool]] = {}
        self.next_seq = 0
        self.next_doc = 0
        self.seen_texts: set[str] = set()
        self.last_novel: set[str] = set()
        self.text_pool = _texts(rng_for(seed, "doc-pool"), sizes["doc_pool"], 6, 40)

    def write_epoch(self, k: int, cdc_dir: str, events_dir: str, docs_dir: str) -> dict:
        s = self.sizes
        r = rng_for(self.seed, f"epoch-{k}")

        # CDC changes: seq strictly increasing, one change per row
        n = s["cdc_rows"]
        keys = r.integers(0, s["cdc_key_space"], n)
        deletes = r.random(n) < s["cdc_delete_frac"]
        amounts = r.integers(0, 1_000_000, n)
        seqs = self.next_seq + np.arange(n)
        self.next_seq += n
        lines = ["op,id,seq,name,amount\n"]
        for i in range(n):
            op = "delete" if deletes[i] else "upsert"
            name = f"n{amounts[i] % 997}"
            lines.append(f"{op},{keys[i]},{seqs[i]},{name},{amounts[i]}\n")
            self.cdc_state[int(keys[i])] = (int(seqs[i]), name, int(amounts[i]), bool(deletes[i]))
        cdc_path = os.path.join(cdc_dir, f"changes-{k:05d}.csv")
        _atomic_write(cdc_path, "".join(lines))

        # events JSONL with truncated lines
        n = s["event_rows"]
        bad = r.random(n) < s["event_bad_frac"]
        base = k * n
        vals = r.integers(0, 100_000, n)
        etype = np.array(EVENT_TYPES)[r.integers(0, 5, n)]
        out = []
        for i in range(n):
            rec = f'{{"event_id": {base + i}, "user_id": {vals[i] % 500}, "event_type": "{etype[i]}", "value": {vals[i]}}}'
            out.append(rec[: len(rec) // 2] if bad[i] else rec)
        ev_path = os.path.join(events_dir, f"events-{k:05d}.jsonl")
        _atomic_write(ev_path, "\n".join(out) + "\n")

        # documents: draws from a finite pool, so exact duplicates recur
        # within and across epochs
        n = s["doc_rows"]
        picks = r.integers(0, len(self.text_pool), n)
        texts = [self.text_pool[i] for i in picks]
        novel = []
        lines = ["doc_id,text\n"]
        for t in texts:
            lines.append(f"{self.next_doc},{t}\n")
            if t not in self.seen_texts:
                self.seen_texts.add(t)
                novel.append(t)
            self.next_doc += 1
        self.last_novel = set(novel)
        doc_path = os.path.join(docs_dir, f"docs-{k:05d}.csv")
        _atomic_write(doc_path, "".join(lines))

        return {
            "cdc_rows": s["cdc_rows"],
            "event_rows": s["event_rows"],
            "event_bad": int(bad.sum()),
            "doc_rows": n,
            "doc_novel": len(set(novel)),
            "bytes": sum(os.path.getsize(p) for p in (cdc_path, ev_path, doc_path)),
        }

    def live_cdc(self) -> pd.DataFrame:
        """Latest-wins reference: one row per key whose last change is
        an upsert."""
        rows = [
            (k, seq, name, amount)
            for k, (seq, name, amount, deleted) in self.cdc_state.items()
            if not deleted
        ]
        return pd.DataFrame(rows, columns=["id", "seq", "name", "amount"])


def _atomic_write(path: str, text: str) -> None:
    """Land a file the way an extractor does: write aside, then rename,
    so a directory listing never sees a partial file."""
    d, base = os.path.split(path)
    tmp = os.path.join(d, f".{base}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def digest_dir(path: str) -> str:
    """sha256 over every file (name and bytes) under ``path``."""
    import hashlib

    h = hashlib.sha256()
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            p = os.path.join(root, name)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()

