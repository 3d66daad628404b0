"""Seeded input generators owned by the benchmark.

Everything a workload reads is made here from ``--seed`` with numpy and
pyarrow, so an engine change cannot change the benchmark's inputs. The
PaySim distributions start from ``tools/gen_paysim.py`` (type mix,
~0.13% fraud rate, the TRANSFER > 200k flagging rule, zero-inflated
balances); every money value carries exactly two decimals.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv

TYPES = np.array(["PAYMENT", "CASH_OUT", "TRANSFER", "CASH_IN", "DEBIT"])
TYPE_P = np.array([0.34, 0.35, 0.08, 0.22, 0.01])


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _names(rng: np.random.Generator, n: int, prefix) -> pa.Array:
    digits = pa.array(rng.integers(10**9, 2 * 10**9, n)).cast(pa.string())
    return pc.binary_join_element_wise(prefix, digits, "")


def paysim(rng: np.random.Generator, n: int) -> pa.Table:
    """``n`` PaySim-shaped transactions with the CSV's 11 columns."""
    typ = TYPES[rng.choice(len(TYPES), size=n, p=TYPE_P)]
    amount = _money(rng.lognormal(9.0, 1.5, n))
    old_org = np.where(rng.random(n) < 0.45, 0.0, _money(rng.lognormal(10.0, 1.6, n)))
    new_org = np.where(
        rng.random(n) < 0.9,
        _money(np.maximum(old_org - amount, 0.0)),
        _money(rng.lognormal(9.5, 1.5, n)),
    )
    old_dest = np.where(rng.random(n) < 0.35, 0.0, _money(rng.lognormal(10.5, 1.7, n)))
    new_dest = np.where(
        rng.random(n) < 0.8, _money(old_dest + amount), _money(rng.lognormal(10.5, 1.7, n))
    )
    dest_prefix = pa.array(np.where(rng.random(n) < 0.66, "C", "M"))
    return pa.table(
        {
            "step": pa.array(rng.integers(1, 744, n).astype(np.int32)),
            "type": pa.array(typ),
            "amount": amount,
            "nameOrig": _names(rng, n, "C"),
            "oldbalanceOrg": old_org,
            "newbalanceOrig": new_org,
            "nameDest": _names(rng, n, dest_prefix),
            "oldbalanceDest": old_dest,
            "newbalanceDest": new_dest,
            "isFraud": pa.array((rng.random(n) < 0.00129).astype(np.int32)),
            "isFlaggedFraud": pa.array(((typ == "TRANSFER") & (amount > 200_000.0)).astype(np.int32)),
        }
    )


def write_csv(table: pa.Table, path: str) -> None:
    pacsv.write_csv(table, path, pacsv.WriteOptions(quoting_style="none"))


def fraud_counts(table: pa.Table) -> tuple[int, int, int]:
    """Independent reference for the fraud ETL: (fetched, valid, fraud).

    Both predicates are evaluated with numpy's half-even ``round`` on the
    generated values, not with any engine code."""
    col = {c: table.column(c).to_numpy() for c in (
        "amount", "oldbalanceOrg", "newbalanceOrig", "oldbalanceDest", "newbalanceDest",
        "isFraud", "isFlaggedFraud")}
    valid = (np.round(col["oldbalanceOrg"] - col["newbalanceOrig"], 2) >= col["amount"]) | (
        np.round(col["oldbalanceDest"] + col["amount"], 2) >= col["newbalanceDest"]
    )
    fraud = valid & ((col["isFraud"] == 1) | (col["isFlaggedFraud"] == 1))
    return table.num_rows, int(valid.sum()), int(fraud.sum())


# -- query_mix: the star-schema fixture tables -------------------------------

PART_WORDS = (["blue", "cold", "hot", "large", "new", "old", "red", "small"],
              ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"])
DOC_WORDS = ("a the spark window merge table column vector stream value data small join "
             "filter big group hash customer sort order slow line part fast row agg key "
             "query scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _days(rng, n, start: str, end: str) -> pa.Array:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    d = lo + rng.integers(0, (hi - lo).astype(np.int64) + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _pick(rng, values, n) -> pa.Array:
    return pa.array(np.array(values)[rng.integers(0, len(values), n)])


def star_tables(rng: np.random.Generator, sf: float = 0.1) -> dict[str, pa.Table]:
    """The ten fixture tables the registered queries read, TPC-H-like
    plus ``events``, ``documents`` and ``embeddings``. Column names, types
    and value domains follow the engine's fixture contract; sizes scale
    with ``sf`` (sf 0.1: 600k lineitems, 150k orders, 100k events)."""
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb, n_users = int(50_000 * sf), int(20_000 * sf), int(15_000 * sf)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": _money(rng.uniform(-999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": _money(rng.uniform(-999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_WORDS[0] for b in PART_WORDS[1]]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng.uniform(1000.0, 500_000.0, n_ord)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    order = np.sort(rng.integers(0, n_ord, n_line))
    first = np.r_[True, order[1:] != order[:-1]]
    run_start = np.maximum.accumulate(np.where(first, np.arange(n_line), 0))
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(order),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line)),
        "l_linenumber": pa.array((np.minimum(np.arange(n_line) - run_start, 6) + 1).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng.uniform(900.0, 105_000.0, n_line)),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.sort(
        rng.integers(0, 30 * 86_400 * 10**6, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, n_users // 10, n_ev)),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng.exponential(50.0, n_ev)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    words = np.array(DOC_WORDS)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in rng.integers(10, 101, n_doc)]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # near duplicates
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64)),
    })
    label = rng.integers(0, 10, n_emb)
    centers = rng.normal(0, 1, (10, 64))
    vec = centers[label] + rng.normal(0, 1.5, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), 64).cast(pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })
    return t
