"""Seeded input generators. Everything the program sees is made here
from the ``--seed`` argument: the same seed gives the same inputs.

Also holds the pure-Python replica of the lending medallion transform
(`etl.silver_transform` + `etl.gold_transform`), which the lending
checker uses as the independent model of the gold table.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

from ent_fins_lakehouse_spark.etl import FINAL_STATUSES as FINAL
from ent_fins_lakehouse_spark.etl import LOAN_COLUMNS

# ------------------------------------------------------------ lending

GOLD_COLUMNS = LOAN_COLUMNS + [
    "bad_loan", "issue_year", "earliest_year", "credit_length_in_years", "net",
]  # fmt: skip
OPEN = ["Current", "Late (31-120 days)", "In Grace Period"]
STATES = ["CA", "TX", "NY", "FL", "IL", "PA", "OH", "GA", "NC", "MI"]
PURPOSES = ["debt_consolidation", "credit_card", "home_improvement", "car", "medical", "other"]
EMP = ["< 1 year", "1 year", "2 years", "3 years", "5 years", "7 years", "10+ years", "n/a"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]


def raw_loan(rng: random.Random, loan_id: int, final_only: bool = False) -> list[str]:
    """One Lending-Club-shaped CSV record (all strings, as landed):
    ``%`` rates, empty ``revol_util``, ``n/a`` ``emp_length`` and
    non-final statuses that the silver filter drops."""
    status = rng.choice(FINAL) if final_only or rng.random() < 0.7 else rng.choice(OPEN)
    issue_year = rng.randint(2010, 2018)
    return [
        str(loan_id),
        status,
        f"{rng.randint(500, 2600) / 100:.2f}%",
        "" if rng.random() < 0.05 else f"{rng.randint(0, 1000) / 10:.1f}%",
        f"{rng.choice(MONTHS)}-{issue_year}",
        f"{rng.choice(MONTHS)}-{issue_year - rng.randint(2, 25)}",
        rng.choice(EMP),
        rng.choice(["Verified", "Source Verified", "Not Verified"]),
        f"{rng.randint(0, 4_500_000) / 100:.2f}",
        str(rng.randint(40, 1600) * 25),
        rng.choice("ABCDEFG"),
        str(rng.randint(15, 250) * 1000),
        f"{rng.randint(0, 4000) / 100:.2f}",
        rng.choice(STATES),
        rng.choice(["36 months", "60 months"]),
        rng.choice(["RENT", "OWN", "MORTGAGE"]),
        rng.choice(PURPOSES),
        rng.choice(["Individual", "Joint App"]),
        str(rng.randint(0, 5)),
        str(rng.randint(2, 60)),
    ]


def write_loans_csv(path: str, rows: list[list[str]]) -> None:
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(",".join(LOAN_COLUMNS) + "\n")
        for r in rows:
            fh.write(",".join(r) + "\n")


def _f32(s: str) -> float:
    return float(np.float32(s))


def _emp_length(s: str) -> float | None:
    c = re.sub(r"( *[a-zA-Z].*)|(n/a)", "", s).strip()
    c = c.replace("< 1", "0").strip()
    c = c.replace("10+", "10").strip()
    return float(np.float32(c)) if c else None


def round2(x: float) -> float:
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def gold_row(raw: list[str]) -> tuple | None:
    """Python replica of silver→gold for one raw record; None when the
    silver filter drops it. Types follow CSV schema inference."""
    r = dict(zip(LOAN_COLUMNS, raw))
    if r["loan_status"] not in FINAL:
        return None
    issue_year = float(r["issue_d"][4:8])
    earliest_year = float(r["earliest_cr_line"][4:8])
    total_pymnt, loan_amnt = float(r["total_pymnt"]), int(r["loan_amnt"])
    return (
        int(r["id"]),
        r["loan_status"],
        _f32(r["int_rate"].replace("%", "")),
        _f32(r["revol_util"].replace("%", "")) if r["revol_util"] else None,
        r["issue_d"],
        r["earliest_cr_line"],
        _emp_length(r["emp_length"]),
        r["verification_status"].replace("Source Verified", "Verified").strip(),
        total_pymnt,
        loan_amnt,
        r["grade"],
        int(r["annual_inc"]),
        float(r["dti"]),
        r["addr_state"],
        r["term"],
        r["home_ownership"],
        r["purpose"],
        r["application_type"],
        int(r["delinq_2yrs"]),
        int(r["total_acc"]),
        "true" if r["loan_status"] != "Fully Paid" else "false",
        issue_year,
        earliest_year,
        issue_year - earliest_year,
        round2(total_pymnt - loan_amnt),
    )


# --------------------------------------------------- Auto Loader landing

def json_file_records(rng: random.Random, file_no: int, first_id: int, n: int, dirty: bool):
    """Lines for one landing file plus what the checker needs: the ids
    of well-formed records, the number that should be rescued and the
    well-formed records' ``loan_amnt`` total. With
    ``dirty``, about 3% of records are malformed (truncated JSON) and
    about 3% carry a key outside the inferred schema."""
    lines, ids, rescued, amount = [], [], 0, 0
    for i in range(n):
        rid = first_id + i
        rec = {
            "id": rid,
            "loan_status": rng.choice(FINAL + OPEN),
            "int_rate": f"{rng.randint(500, 2600) / 100:.2f}%",
            "loan_amnt": rng.randint(40, 1600) * 25,
            "grade": rng.choice("ABCDEFG"),
            "addr_state": rng.choice(STATES),
            "issue_d": f"{rng.choice(MONTHS)}-{rng.randint(2010, 2018)}",
            "src_file": file_no,
        }
        u = rng.random() if dirty else 1.0
        if u < 0.03:
            lines.append(json.dumps(rec)[: rng.randint(5, 30)])
            rescued += 1
            continue
        if u < 0.06:
            rec["promo_code"] = f"P{rng.randint(100, 999)}"
            rescued += 1
        lines.append(json.dumps(rec))
        ids.append(rid)
        amount += rec["loan_amnt"]
    return lines, ids, rescued, amount


def land_file(landing_dir: str, name: str, lines: list[str]) -> int:
    """Write then rename, so the stream never lists a partial file
    (names starting with ``.`` are ignored by Spark's file source)."""
    tmp = os.path.join(landing_dir, f".{name}.tmp")
    data = ("\n".join(lines) + "\n").encode()
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.rename(tmp, os.path.join(landing_dir, name))
    return len(data)


# --------------------------------------------------------------- corpus


def corpus(seed: int, parts: int, docs_per_part: int, vecs_per_part: int, dim: int = 32):
    """Seeded documents and embeddings with duplicates injected at a
    known rate: per part, 5% of documents are exact copies, 10% are
    near-duplicates (about 3% of tokens replaced) and 10% of vectors are
    near-copies (small Gaussian noise). Returns pyarrow tables and the
    injected (original, copy) pair lists."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    vocab = [f"w{i:04d}" for i in range(4000)]
    doc_id, text, part_col, near_pairs = [], [], [], []
    next_id = 0
    for p in range(parts):
        base: list[tuple[int, list[str]]] = []
        n_orig = int(docs_per_part * 0.85)
        for _ in range(n_orig):
            toks = [vocab[j] for j in rng.integers(0, len(vocab), int(rng.integers(40, 120)))]
            base.append((next_id, toks))
            next_id += 1
        extra = []
        for k in range(docs_per_part - n_orig):
            src_id, toks = base[int(rng.integers(0, n_orig))]
            toks = list(toks)
            if k % 3 != 0:  # near-duplicate; every third copy is exact
                for j in rng.choice(len(toks), max(1, len(toks) // 33), replace=False):
                    toks[j] = vocab[int(rng.integers(0, len(vocab)))]
            near_pairs.append((src_id, next_id))
            extra.append((next_id, toks))
            next_id += 1
        for i, toks in base + extra:
            doc_id.append(i)
            text.append(" ".join(toks))
            part_col.append(p)
    docs = pa.table(
        {
            "doc_id": pa.array(doc_id, pa.int64()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(["en"] * len(doc_id), pa.string()),
            "source": pa.array([f"src{i % 7}" for i in doc_id], pa.string()),
            "n_chars": pa.array([len(t) for t in text], pa.int64()),
            "part": pa.array(part_col, pa.int32()),
        }
    )
    vec_id, vecs, labels, vparts, vec_pairs = [], [], [], [], []
    next_id = 0
    for p in range(parts):
        n_orig = int(vecs_per_part * 0.9)
        base_v = rng.normal(size=(n_orig, dim)).astype(np.float32)
        lab = rng.integers(0, 10, n_orig)
        for i in range(n_orig):
            vec_id.append(next_id + i)
            vecs.append(base_v[i])
            labels.append(int(lab[i]))
            vparts.append(p)
        for k in range(vecs_per_part - n_orig):
            j = int(rng.integers(0, n_orig))
            v = (base_v[j] + rng.normal(scale=0.05, size=dim)).astype(np.float32)
            vid = next_id + n_orig + k
            vec_id.append(vid)
            vecs.append(v)
            labels.append(int(lab[j]))
            vparts.append(p)
            vec_pairs.append((next_id + j, vid))
        next_id += vecs_per_part
    emb = pa.table(
        {
            "vec_id": pa.array(vec_id, pa.int64()),
            "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
            "part": pa.array(vparts, pa.int32()),
        }
    )
    return docs, emb, near_pairs, vec_pairs


# ------------------------------------------------------ TPC-H-ish tables

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


def tpch_tables(seed: int, orders: int) -> dict:
    """The star schema the ``plans.relational`` queries read, in the
    column names and types of the repository's sf fixture tables. Keys are
    unique per table; order lines are numbered 1..n per order."""
    import pyarrow as pa

    rng = np.random.default_rng(seed + 7)
    n_cust, n_supp, n_part = max(orders // 10, 20), max(orders // 150, 10), max(orders // 15, 20)
    epoch = dt.datetime(1992, 1, 1)
    ts = pa.timestamp("us")

    def days(lo: int, hi: int, n: int):
        return [epoch + dt.timedelta(days=int(d)) for d in rng.integers(lo, hi, n)]

    region = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(range(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
            "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]),
        }
    )
    supplier = pa.table(
        {
            "s_suppkey": pa.array(range(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
        }
    )
    part = pa.table(
        {
            "p_partkey": pa.array(range(n_part), pa.int64()),
            "p_name": pa.array([f"part {i}" for i in range(n_part)]),
            "p_brand": pa.array([f"Brand#{1 + i % 5}{1 + i % 4}" for i in range(n_part)]),
            "p_type": pa.array([f"TYPE {i % 6}" for i in range(n_part)]),
            "p_size": pa.array(rng.integers(1, 50, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_part), 2)),
        }
    )
    o_dates = days(0, 2400, orders)
    orderst = pa.table(
        {
            "o_orderkey": pa.array(range(orders), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, orders), pa.int64()),
            "o_orderstatus": pa.array([["F", "O", "P"][i] for i in rng.integers(0, 3, orders)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, orders), 2)),
            "o_orderdate": pa.array(o_dates, ts),
            "o_orderpriority": pa.array(
                [["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"][i] for i in rng.integers(0, 5, orders)]
            ),
        }
    )
    lines = rng.integers(1, 8, orders)
    okey = np.repeat(np.arange(orders), lines)
    lnum = np.concatenate([np.arange(1, n + 1) for n in lines])
    n_li = len(okey)
    ship = [o_dates[k] + dt.timedelta(days=int(d)) for k, d in zip(okey, rng.integers(1, 120, n_li))]
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(okey, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(lnum, pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900, 100000, n_li), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
            "l_returnflag": pa.array([["R", "A", "N"][i] for i in rng.integers(0, 3, n_li)]),
            "l_linestatus": pa.array([["O", "F"][i] for i in rng.integers(0, 2, n_li)]),
            "l_shipdate": pa.array(ship, ts),
        }
    )
    return {
        "region": region, "nation": nation, "customer": customer, "supplier": supplier,
        "part": part, "orders": orderst, "lineitem": lineitem,
    }  # fmt: skip


def write_parquet_dir(tables: dict, out_dir: str) -> None:
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
