"""Seeded input generation for the benchmark workloads.

Two kinds of input, both pure functions of ``(seed, size)``:

- :func:`write_tables` writes the ten source tables the query registry
  reads (``calaspark.TABLES``) as one parquet file each, with the
  column names, types and value distributions of the engine's real
  inputs as ``FIXTURES.md`` gives them (TPC-H-like star schema, an
  ``events`` stream, a ``documents`` corpus with injected
  near-duplicates, unit ``embeddings``). ``events.ts`` is
  ``timestamp[ns]`` with sub-microsecond digits and the order and ship
  dates are ``timestamp[ms]``, so ``tables.load_table`` takes its
  ns→µs branch exactly as it does on real inputs.
- :func:`write_dirty_tsv` writes CAL-ACCESS raw TSVs for the ingest
  path. Columns and kinds come from
  ``calaspark.ingest.schemas.SCHEMAS``; fixed pathology rates make
  quarantine and typing do real work, and the returned
  :class:`TsvTruth` records exactly what was injected so the ingest
  outputs can be checked.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_LANGS = np.array(["en", "zh", "fr", "es", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_PART_ADJ = ["red", "new", "hot", "small", "cold", "large", "old", "blue"]
_PART_NOUN = ["bolt", "anvil", "ring", "rod", "plate", "gear", "widget", "nut"]
_PART_TYPES = ["LARGE", "ECONOMY", "SMALL", "STANDARD", "MEDIUM", "PROMO"]
_SEGMENTS = ["FURNITURE", "MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["error", "view", "signup", "purchase", "click"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_EPOCH_1995 = dt.datetime(1995, 1, 1)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform amounts with two exact decimals (cents drawn as ints)."""
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _day_ts(days: np.ndarray) -> pa.Array:
    base = np.datetime64(_EPOCH_1995, "ms")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("ms"))


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng: np.random.Generator, n: int) -> dict:
    """Word bags over a 30-word vocabulary, 10–100 words each (evenly
    spread); 5% of the rows are a copy of an earlier row plus a trailing
    ``dup`` token (near-duplicates) and 0.2% are exact copies."""
    vocab = np.array(_VOCAB)
    # the same multiset of lengths for every seed: how many long (and so
    # mutually similar) documents a corpus holds sets the pair counts
    lens = rng.permutation(10 + np.arange(n) * 91 // n)
    words = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    texts = [" ".join(w) for w in np.split(words, np.cumsum(lens)[:-1])]
    n_near, n_exact = n // 20, n // 500
    targets = rng.choice(np.arange(1, n), n_near + n_exact, replace=False)
    for j, t in enumerate(targets):
        src = texts[int(rng.integers(0, t))]
        texts[t] = src + " dup" if j < n_near else src
    text = pa.array(texts, pa.string())
    return {
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": text,
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array(np.char.add("src", (np.arange(n) % 20).astype(str))),
        "n_chars": pc.cast(pc.utf8_length(text), pa.int64()),
    }


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> dict:
    x = rng.standard_normal((n, dim))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    flat = pa.array(x.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    }


def write_tables(out_dir: str, seed: int, sf: float, n_docs: int, n_vecs: int) -> None:
    """Write every source table for scale factor ``sf`` into ``out_dir``.
    Same ``(seed, sf, n_docs, n_vecs)``, same bytes."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(1_000, int(1_000_000 * sf))
    n_users = max(100, n_cust // 10)

    _write(out_dir, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(_REGIONS),
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    ck = np.arange(n_cust, dtype=np.int64)
    _write(out_dir, "customer", {
        "c_custkey": pa.array(ck),
        "c_name": pa.array(np.char.add("Customer#", np.char.zfill(ck.astype(str), 9))),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    _write(out_dir, "supplier", {
        "s_suppkey": pa.array(sk),
        "s_name": pa.array(np.char.add("Supplier#", np.char.zfill(sk.astype(str), 9))),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = np.char.add(
        np.char.add(rng.choice(_PART_ADJ, n_part), " "), rng.choice(_PART_NOUN, n_part)
    )
    _write(out_dir, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(names),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str))),
        "p_type": pa.array(rng.choice(_PART_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    odays = rng.integers(0, 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _day_ts(odays),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_ord)),
    })
    lok = rng.integers(0, n_ord, n_line)
    _write(out_dir, "lineitem", {
        "l_orderkey": pa.array(lok),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["N", "A", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_line)),
        "l_shipdate": _day_ts(odays[lok] + rng.integers(1, 122, n_line)),
    })
    ns = np.sort(rng.integers(0, 30 * 86_400 * 10**9, n_ev))
    _write(out_dir, "events", {
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(np.datetime64("2024-01-01", "ns") + ns.astype("timedelta64[ns]"), pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array(np.char.add(np.char.add('{"k": ', rng.integers(0, 100, n_ev).astype(str)), "}")),
    })
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))


# ------------------------------------------------------------------ TSVs

#: Fixed pathology rates (one in N body rows). Short and long rows are
#: quarantined by the field-count rule; bad dates and empty amounts
#: pass the split and are typed to NULL.
SHORT_EVERY, LONG_EVERY, BAD_DATE_EVERY, EMPTY_AMOUNT_EVERY = 1000, 1000, 500, 200


@dataclass(frozen=True)
class TsvTruth:
    """What one generated TSV holds, for checking the ingest outputs."""

    table: str
    path: str
    body_rows: int
    quarantined: int  # short + long rows
    date_col: str
    bad_dates: int  # among good rows
    amount_col: str
    empty_amounts: int  # among good rows
    raw_bytes: int


def _kind_values(rng: np.random.Generator, kind: str, n: int, pool: int = 512) -> pa.Array:
    """``n`` clean raw-text values for one schema kind, drawn from a
    per-column pool so the column has realistic repetition."""
    if kind == "string":
        letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
        lens = rng.integers(3, 13, pool)
        chars = letters[rng.integers(0, 26, int(lens.sum()))]
        vals = np.array(["".join(w) for w in np.split(chars, np.cumsum(lens)[:-1])])
    elif kind == "int":
        vals = rng.integers(0, 10_000, pool).astype(str)
    elif kind == "long":
        vals = rng.integers(1, 2_000_000_000, pool).astype(str)
    elif kind.startswith("decimal"):
        cents = rng.integers(0, 10_000_000, pool)
        vals = np.char.add(np.char.add((cents // 100).astype(str), "."),
                           np.char.zfill((cents % 100).astype(str), 2))
    elif kind == "date_mdy":
        d = rng.integers(0, 9000, pool)
        vals = np.array([(dt.date(2000, 1, 1) + dt.timedelta(days=int(x))).strftime("%-m/%-d/%Y") for x in d])
    elif kind == "ts_mdy12":
        s = rng.integers(0, 9000 * 86_400, pool)
        vals = np.array([(dt.datetime(2000, 1, 1) + dt.timedelta(seconds=int(x))).strftime("%-m/%-d/%Y %-I:%M:%S %p") for x in s])
    elif kind == "yn":
        vals = np.array(["Y", "N", ""])
    else:
        raise ValueError(f"no generator for schema kind {kind!r}")
    return pa.array(vals[rng.integers(0, len(vals), n)], pa.string())


def write_dirty_tsv(path: str, table: str, n_rows: int, seed: int) -> TsvTruth:
    """One raw TSV for ``table`` (header + ``n_rows`` body lines) with
    the fixed pathology rates injected at disjoint seeded positions."""
    from calaspark.ingest.schemas import SCHEMAS

    schema = SCHEMAS[table]
    cols = list(schema)
    rng = np.random.default_rng([seed, sum(map(ord, table))])
    date_col = next(c for c, k in schema.items() if k == "date_mdy")
    amount_col = next(c for c, k in schema.items() if k.startswith("decimal"))
    n_short, n_long = n_rows // SHORT_EVERY, n_rows // LONG_EVERY
    n_date, n_amt = n_rows // BAD_DATE_EVERY, n_rows // EMPTY_AMOUNT_EVERY
    pos = rng.permutation(n_rows)
    short = pos[:n_short]
    long_ = pos[n_short : n_short + n_long]
    k = n_short + n_long
    bad_date = pos[k : k + n_date]
    empty_amt = pos[k + n_date : k + n_date + n_amt]

    values = {}
    for c, kind in schema.items():
        v = _kind_values(rng, kind, n_rows)
        if c == date_col:
            mask = np.zeros(n_rows, bool)
            mask[bad_date] = True
            v = pc.if_else(pa.array(mask), pa.scalar("13/45/20X1"), v)
        elif c == amount_col:
            mask = np.zeros(n_rows, bool)
            mask[empty_amt] = True
            v = pc.if_else(pa.array(mask), pa.scalar(""), v)
        values[c] = v
    lines = pc.binary_join_element_wise(*values.values(), "\t").to_numpy(zero_copy_only=False)
    lines = lines.astype(object)
    for i in short:  # drop the trailing third of the fields
        lines[i] = "\t".join(lines[i].split("\t")[: (2 * len(cols)) // 3])
    for i in long_:
        lines[i] = lines[i] + "\tEXTRA\tFIELDS"
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        fh.write("\t".join(cols) + "\n")
        fh.write("\n".join(lines))
        fh.write("\n")
    return TsvTruth(
        table=table, path=path, body_rows=n_rows, quarantined=n_short + n_long,
        date_col=date_col, bad_dates=n_date, amount_col=amount_col,
        empty_amounts=n_amt, raw_bytes=os.path.getsize(path),
    )
