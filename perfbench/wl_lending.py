"""``lending_dml``: closed loop, one client, commits beside reads on the
gold table of the reference's medallion pipeline.

Set-up generates Lending-Club-shaped loans, runs
``Medallion.run_lending_pipeline`` and writes the gold frame as a
public-format ``DeltaLogTable`` registered with ``CREATE TABLE … USING
DELTA LOCATION``. Each cycle of the timed loop commits one change from
the seeded feed (MERGE upsert keyed on ``id``, GDPR ``DELETE … WHERE
addr_state=… AND id=…`` or ``UPDATE``), runs one aggregate
read-after-write through ``LakehouseSession.sql`` and then twelve reads
taken in a fixed rotation: 02-SQL aggregations, selective predicates
that data skipping can prune, ``VERSION AS OF`` reads and a
``plans.relational`` named query over seeded TPC-H-shaped tables.
MERGE and UPDATE change the newest loans; DELETE removes old ones, so
the oldest file carries a deletion vector that every read after the
warm-up meets.
In a traced run, a corpus dedup pass (exact dedup, MinHash LSH and
blocked cosine pairs over one part of seeded documents/embeddings with
injected duplicates) runs in the warm-up and once more after the loop
for the per-layer figures; it is never inside the timed region.

Before the timed region every op kind runs untimed (warm-up: first use
of each code path in the JVM); those ops are checked but not timed.

Every result is checked against an in-memory replay of the feed (the
gold model starts from a Python replica of the medallion transform) or,
for the named queries, against their DuckDB oracle.
"""

from __future__ import annotations

import itertools
import json
import math
import os
import random
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor

from perfbench import check, gen
from perfbench.corpus_ops import JACCARD, Corpus
from perfbench.harness import dir_bytes, median, weighted_quantile
from perfbench.metrics import RELATIONAL

#: the tables set-up writes and loads: the named query reads lineitem
FIXTURES = ["lineitem", "documents", "embeddings"]
TABLE = "lending.gold_lending"
RAW_SQL = f"SELECT grade, COUNT(*) AS n, SUM(loan_amnt) AS amt FROM {TABLE} GROUP BY grade"
BI_SQL = [  # `02- Databricks_SQL_Scripts.sql` shapes
    f"SELECT purpose, SUM(loan_amnt) AS total_loan FROM {TABLE} GROUP BY purpose",
    f"SELECT addr_state, verification_status, COUNT(id) AS n FROM {TABLE} "
    "GROUP BY addr_state, verification_status",
    f"SELECT COUNT(*) AS n, SUM(loan_amnt) AS amt FROM {TABLE}",
]
COL = {c: i for i, c in enumerate(gen.GOLD_COLUMNS)}
#: Table scale, set by the run budget: 48 runs in 3420 s leave ~71 s a
#: run. A lending run at 4k loans (~2.8k gold rows) took 63-82 s on a
#: 4-core host; at 20k loans 84-105 s and at 40k 90-93 s, too long for
#: the budget and with fewer, slower ops in the timed window. A
#: 400k-loan table (~300k gold rows) takes ~26 s per set-up pipeline
#: alone. NOTES.md lists what this smaller table leaves out. A MERGE
#: upserts 20 rows, 0.7% of the table (a ~900-row MERGE into a 300k-row
#: table is 0.3%).
N_LOANS, N_FILES = 4000, 8
#: The driver JVM's young generation is fixed at 2 GB; the heap keeps
#: the program's size. Sized adaptively by G1 (up to 60% of the 8 GB
#: heap), it grew by a different amount in each run, and the JVM's
#: resident peak with it: 2126 and 3022 MB in two runs of one seed,
#: IQR / median 0.28 over five seeds, 0.01 with this setting (ten
#: seeds). Retained memory still grows the old generation, and so the
#: peak. The ingest workload keeps G1's sizing: fixing its young
#: generation made its batch times, and so its freshness, unsteady.
JVM_OPTIONS = "-Xmn2g"
MERGE_UPDATES, MERGE_INSERTS, UPDATE_WIDTH, SKIP_WIDTH, PARTS = 10, 10, 40, 30, 4
#: Where the feed's changes fall, as shares of the id-ordered table.
#: MERGE and UPDATE change the newest tenth of the loans (the book
#: still in repayment), so they rewrite only the newest files; a GDPR
#: DELETE removes one of the oldest sixteenth, always in the first of
#: the table's range-partitioned files, so that file keeps a single,
#: growing deletion vector that no rewrite clears. Every read after the
#: warm-up's DELETE therefore takes the deletion-vector path. When the
#: UPDATE and MERGE hit ids at random, whether a read saw a deletion
#: vector depended on how far the run had got (~1.6x the latency with
#: one: ~500 vs ~300 ms), and the run's median moved with it.
RECENT_SHARE, OLD_SHARE = 10, 16
#: a short run holds two or three cycles; the long MERGE goes first so
#: that every run holds exactly one, instead of one or two by timing
COMMIT_ROTATION = ["merge", "delete", "update", "merge"]
#: the DELETE goes first so that every warm-up commit, like every timed
#: one, meets the deletion vector. A first MERGE took ~7 s, the second
#: ~4 s and later ones 3-4 s, so one warm-up call of each kind suffices.
WARM_COMMITS = ["delete", "merge", "update"]
#: each commit is followed by its read-after-write and one whole
#: rotation of reads. Reads are mostly the fast BI kinds, so the op
#: median falls inside one latency mode instead of on the boundary
#: between fast reads and the slow commits and named query (with ~20
#: ops a run, a median on that boundary swung by 50%); the named query
#: sits early so that every run, however short, holds one
READ_ROTATION = [
    "bi_sql", "relational", "skip", "time_travel", "bi_sql", "skip",
    "bi_sql", "time_travel", "skip", "bi_sql", "time_travel", "bi_sql",
]  # fmt: skip


def _agg(state: dict, keys: list[str], value: str | None, count_col: str | None = None):
    out: dict = {}
    for row in state.values():
        k = tuple(row[COL[c]] for c in keys)
        n, s = out.get(k, (0, 0))
        inc = 1 if count_col is None or row[COL[count_col]] is not None else 0
        out[k] = (n + inc, s + (row[COL[value]] if value else 0))
    return out


def expected(sql: str, state: dict) -> list[tuple]:
    """The model's answer to each SQL shape the loop issues."""
    if sql == RAW_SQL:
        return [(k[0], n, s) for k, (n, s) in _agg(state, ["grade"], "loan_amnt").items()]
    if sql == BI_SQL[0]:
        return [(k[0], s) for k, (n, s) in _agg(state, ["purpose"], "loan_amnt").items()]
    if sql == BI_SQL[1]:
        groups = _agg(state, ["addr_state", "verification_status"], None, "id")
        return [(k[0], k[1], n) for k, (n, s) in groups.items()]
    return [_count_sum(state)]


def _count_sum(rows) -> tuple:
    rows = list(rows.values()) if isinstance(rows, dict) else rows
    return (len(rows), sum(r[COL["loan_amnt"]] for r in rows) if rows else None)


def mix_figures(ops) -> dict:
    """Rate, median and tail latency of the designed op mix. A run stops
    at its deadline part-way through the rotations, so its op kinds come
    in different proportions from run to run (one MERGE more or less
    moved the plain rate and median by a quarter). Each op is weighted
    by its kind's share of the full rotations over the kind's count in
    the run (a stratified estimate); the rate is one client's closed
    loop over that mix, 1 / (weighted mean latency). The tail is taken
    at the highest percentile that leaves ten samples beyond it, as
    ``harness.tail``: with the 22-30 ops a run holds that is p54-p66,
    an upper-middle percentile, and the report prints which one it was."""
    share = Counter(COMMIT_ROTATION) + Counter(READ_ROTATION * len(COMMIT_ROTATION))
    share["read_after_write"] = len(COMMIT_ROTATION)
    count = Counter(o.kind for o in ops)
    lat = [o.ms for o in ops]
    w = [share[o.kind] / count[o.kind] for o in ops]
    n = len(ops)
    q = (max(n - 11, 0) + 1) / n
    return {
        "ops_per_s": 1000.0 * sum(w) / sum(wi * x for wi, x in zip(w, lat)),
        "op_p50_ms": weighted_quantile(lat, w, 0.5),
        "op_tail_ms": weighted_quantile(lat, w, q),
        "op_tail_pct": math.floor(100 * q),
        "op_samples": n,
    }


def run(r) -> dict:
    from pyspark.sql import functions as F

    from ent_fins_lakehouse_spark.etl import Medallion
    from ent_fins_lakehouse_spark.plans.registry import oracle_sql_map, queries_map
    from ent_fins_lakehouse_spark.sources.catalog import LakehouseSession
    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable
    from ent_fins_lakehouse_spark.sources.readers import load_table, read_csv

    tr = r.tracer
    n_loans, n_files, n_orders, per_part = (600, 4, 300, 60) if r.tiny else (N_LOANS, N_FILES, 3000, 250)
    rng = random.Random(r.seed)
    raws = [gen.raw_loan(rng, i) for i in range(1, n_loans + 1)]
    model = {g[0]: g for g in map(gen.gold_row, raws) if g is not None}
    lineitem = gen.tpch_tables(r.seed, n_orders)["lineitem"]
    corpus = Corpus(r.seed, PARTS, per_part)

    def build(rep: int):
        spark = r.session(JVM_OPTIONS)
        base = os.path.join(r.root, f"setup{rep}")
        csv = r.path(f"setup{rep}", "landing", "loans.csv")
        gen.write_loans_csv(csv, raws)
        fixtures = os.path.join(base, "fixtures")
        gen.write_parquet_dir({"lineitem": lineitem, **corpus.tables()}, fixtures)
        with tr.span("sources.readers.read_csv"):
            raw_df = read_csv(spark, csv, infer_schema=True)
        med = Medallion(spark, os.path.join(base, "lake"))
        med.write = tr.wrap("etl.{0}", med.write)
        with tr.span("etl.run_lending_pipeline"):
            gold = med.run_lending_pipeline(raw_df)
        dl = DeltaLogTable(spark, os.path.join(base, "gold_delta"))
        with tr.span("sources.lakehouse.write"):
            dl.write(gold.repartitionByRange(n_files, "id"), mode="append")
        lh = LakehouseSession(spark, os.path.join(base, "warehouse"))
        with tr.span("sources.catalog.sql"):
            lh.sql("CREATE DATABASE IF NOT EXISTS lending")
        with tr.span("sources.catalog.sql"):
            lh.sql(f"CREATE TABLE {TABLE} USING DELTA LOCATION '{dl.path}'")
        frames = {}
        for name in FIXTURES:
            with tr.span("sources.readers.load_table"):
                frames[name] = load_table(spark, fixtures, name)
        return spark, dl, lh, fixtures, frames["documents"], frames["embeddings"]

    spark, dl, lh, fixtures, docs, vecs = r.setup(build, reps=3)
    qmap = queries_map()
    schema = dl.read().schema
    s = {"state": model, "ids": sorted(model), "next_id": n_loans + 1, "change_bytes": 0}
    versions = {dl.latest_version(): model}
    counters = {"bi_sql": 0, "time_travel": 0, "relational": 0, "corpus": 0}

    def commit(kind: str, timed: bool = True) -> None:
        state, ids = s["state"], s["ids"]
        recent = ids[-len(ids) // RECENT_SHARE :]
        new_state = dict(state)
        if kind == "merge":
            rows = []
            for i in rng.sample(recent, MERGE_UPDATES):
                row = list(state[i])
                status = rng.choice(gen.FINAL)
                row[COL["loan_status"]] = status
                row[COL["bad_loan"]] = "true" if status != "Fully Paid" else "false"
                row[COL["int_rate"]] = float(rng.randint(20, 104)) / 4
                row[COL["total_pymnt"]] = rng.randint(0, 4_500_000) / 100
                row[COL["net"]] = gen.round2(row[COL["total_pymnt"]] - row[COL["loan_amnt"]])
                rows.append(tuple(row))
            for _ in range(MERGE_INSERTS):
                rows.append(gen.gold_row(gen.raw_loan(rng, s["next_id"], final_only=True)))
                s["next_id"] += 1
            for row in rows:
                new_state[row[0]] = row
            s["change_bytes"] += sum(len(json.dumps(row)) for row in rows)
            with r.op("merge", timed) as o:
                with tr.span("spark.create_dataframe"):
                    src = spark.createDataFrame(rows, schema)
                with tr.span("sources.lakehouse.merge"):
                    o.result = dl.merge(src, on=["id"])
                tr.record("sources.lakehouse.files_rewritten_per_merge", o.result["files_rewritten"])
        elif kind == "delete":
            victim = rng.choice(ids[: len(ids) // OLD_SHARE])
            pred = f"addr_state = '{state[victim][COL['addr_state']]}' AND id = {victim}"
            del new_state[victim]
            s["change_bytes"] += len(pred)
            with r.op("delete", timed, expect_rows=1) as o:
                with tr.span("sources.lakehouse.delete"):
                    o.result = dl.delete(pred)
                tr.record("sources.lakehouse.files_touched_per_delete", o.result["files_touched"])
        else:
            lo = rng.choice(recent[: len(recent) // 2])
            pred = f"id >= {lo} AND id < {lo + UPDATE_WIDTH}"
            hit = [i for i in ids if lo <= i < lo + UPDATE_WIDTH]
            for i in hit:
                row = list(state[i])
                row[COL["dti"]] = row[COL["dti"]] + 1
                row[COL["verification_status"]] = "Verified"
                new_state[i] = tuple(row)
            assign = {"dti": "dti + 1", "verification_status": "'Verified'"}
            s["change_bytes"] += len(pred) + len(json.dumps(assign))
            with r.op("update", timed, expect_rows=len(hit)) as o:
                with tr.span("sources.lakehouse.update"):
                    o.result = dl.update(assign, pred)
        if o.error is None:
            s["state"], s["ids"] = new_state, sorted(new_state)
        versions[dl.latest_version()] = s["state"]
        with r.op("read_after_write", timed, sql=RAW_SQL, state=s["state"]) as o:
            o.result = _sql(tr, lh, RAW_SQL)

    def read(kind: str, timed: bool = True) -> None:
        state, ids = s["state"], s["ids"]
        n = counters.get(kind, 0)
        counters[kind] = n + 1
        if kind == "bi_sql":
            sql = BI_SQL[n % len(BI_SQL)]
            with r.op("bi_sql", timed, sql=sql, state=state) as o:
                o.result = _sql(tr, lh, sql)
        elif kind == "skip":
            lo = rng.choice(ids[len(ids) // 4 : -len(ids) // 4])
            pred = f"id >= {lo} AND id < {lo + SKIP_WIDTH}"
            hit = [state[i] for i in ids if lo <= i < lo + SKIP_WIDTH]
            with r.op("skip", timed, state=hit) as o:
                with tr.span("sources.lakehouse.read"):
                    df = dl.read(where=pred)
                with tr.span("spark.collect"):
                    o.result = df.agg(F.count("*"), F.sum("loan_amnt")).collect()
            if tr.enabled:
                with tr.span("sources.lakehouse.scan_info"):
                    info = dl.scan_info(pred)
                tr.record("sources.skipping.files_read_ratio", info["n_read"] / info["n_active"])
        elif kind == "time_travel" and n % 2 == 0:
            # the version before the last commit: with a random one, a
            # run's time-travel latency depended on the seed
            v = sorted(versions)[-2]
            sql = f"SELECT COUNT(*) AS n, SUM(loan_amnt) AS amt FROM {TABLE} VERSION AS OF {v}"
            with r.op("time_travel", timed, state=versions[v]) as o:
                o.result = _sql(tr, lh, sql)
        elif kind == "time_travel":
            with r.op("time_travel", timed, state=versions[min(versions)]) as o:
                with tr.span("sources.lakehouse.read_version_as_of"):
                    df = dl.read(version_as_of=0)
                with tr.span("spark.collect"):
                    o.result = df.agg(F.count("*"), F.sum("loan_amnt")).collect()
        elif kind == "relational":
            with r.op("relational", timed, name=RELATIONAL) as o:
                with tr.span(f"plans.relational.{RELATIONAL}"):
                    df = qmap[RELATIONAL](spark, fixtures)
                    with tr.span("spark.collect"):
                        o.result = (df.columns, [tuple(x) for x in df.collect()])
        else:
            with r.op("corpus", timed, part=n % PARTS) as o:
                o.result = corpus.run_pass(tr, docs, vecs, n % PARTS)

    # ------------------------------------------- warm-up, then timed loop
    # The fixture reads use no seeded draw and touch no table the
    # commits change, so their first-use cost overlaps the commits'.
    # The corpus pass runs only in a traced run (see below).
    # Warm-up ops are checked but leave no spans or counts: the
    # per-layer figures describe set-up, the timed region and the
    # corpus pass after it.
    traced, tr.enabled = tr.enabled, False
    fixture_kinds = ["relational", "corpus"] if traced else ["relational"]
    with r.phase("warm-up"), ThreadPoolExecutor(1) as pool:
        fixture_reads = pool.submit(lambda: [read(k, timed=False) for k in fixture_kinds])
        for kind in WARM_COMMITS:
            commit(kind, timed=False)
        for kind in ["bi_sql"] * len(BI_SQL) + ["skip", "time_travel", "time_travel"]:
            read(kind, timed=False)
        fixture_reads.result()
    tr.enabled = traced
    bytes_before, change_before = dir_bytes(dl.path), s["change_bytes"]
    # fixed cyclic order: every run issues the same sequence of kinds,
    # the seed decides only their inputs
    commits = itertools.cycle(COMMIT_ROTATION)
    deadline = time.perf_counter() + r.seconds
    while time.perf_counter() < deadline:
        commit(next(commits))
        for kind in READ_ROTATION:
            if time.perf_counter() >= deadline:
                break
            read(kind)
    bytes_after = dir_bytes(dl.path)
    # The corpus operators run in a traced run only: a warm-up pass and
    # one traced pass after the timed loop, for the operators' spans.
    # No end-to-end metric reads them; inside the loop a pass (about
    # 3 s, a fifth of the window) made the op rate swing by a third,
    # and in an untraced run's warm-up it slowed the first commits.
    if tr.enabled:
        read("corpus", timed=False)
        last_pass = r.untimed[-1]
        # the window holds the UPDATE in about half the runs; a traced
        # run without one makes one here, so update_s is always measured
        if not any(o.kind == "update" for o in r.ops):
            commit("update", timed=False)

    # --------------------------------------------------------------- checks
    with r.phase("checks"):
        if r.args.corrupt:
            o = next(o for o in r.ops if o.kind == "read_after_write" and o.error is None)
            o.result = [(g, n, amt + 1) for g, n, amt in o.result]
        oracles = oracle_sql_map()
        oracle_rows: dict[str, tuple] = {}
        found_pairs: set = set()
        lsh_parts: set = set()
        for o in r.untimed + r.ops:
            if o.error is not None:
                continue
            if o.kind in ("delete", "update"):
                got = o.result["rows_deleted" if o.kind == "delete" else "rows_updated"]
                if got != o.meta["expect_rows"]:
                    o.error = f"{o.kind} reported {got} rows, model {o.meta['expect_rows']}"
            elif o.kind in ("read_after_write", "bi_sql"):
                o.error = check.same_rows([tuple(x) for x in o.result], expected(o.meta["sql"], o.meta["state"]))
            elif o.kind in ("skip", "time_travel"):
                o.error = check.same_rows([tuple(x) for x in o.result], [_count_sum(o.meta["state"])])
            elif o.kind == "relational":
                name = o.meta["name"]
                if name not in oracle_rows:
                    oracle_rows[name] = check.duckdb_oracle(fixtures, oracles[name])
                (cols, rows), (dcols, drows) = o.result, oracle_rows[name]
                if sorted(cols) != sorted(dcols):
                    o.error = f"columns {cols} != {dcols}"
                else:
                    o.error = check.same_rows(check.by_name(cols, rows), check.by_name(dcols, drows))
            elif o.kind == "corpus":
                o.error = corpus.check_pass(o.meta["part"], o.result)
                lsh_parts.add(o.meta["part"])
                found_pairs.update((a, b) for a, b, j in o.result["minhash_lsh_pairs"] if j >= JACCARD)
        final = r.add_check("final_table")
        got = [tuple(x) for x in dl.read().select(*gen.GOLD_COLUMNS).collect()]
        final.error = check.same_rows(got, list(s["state"].values()), rel=1e-6)

    # ----------------------------------------------------- storage figures
    with r.phase("storage"):
        once = DeltaLogTable(spark, os.path.join(r.root, "final_once"))
        once.write(dl.read().repartitionByRange(n_files, "id"), mode="append")
    out = {
        **mix_figures(r.ops),
        "read_after_write_p50_ms": median([o.ms for o in r.ops if o.kind == "read_after_write"]),
        "write_amp": (bytes_after - bytes_before) / max(s["change_bytes"] - change_before, 1),
        "space_amp": dir_bytes(dl.path) / dir_bytes(once.path),
    }
    if tr.enabled:
        out["docs_per_s"] = corpus.docs_in(last_pass.meta["part"]) / (last_pass.end - last_pass.start)
        out["lsh_recall"] = corpus.recall(found_pairs, lsh_parts)
        out["sources.lakehouse.log_versions_end"] = dl.latest_version() + 1
        out["sources.lakehouse.active_files_end"] = dl.scan_info()["n_active"]
    return out


def _sql(tr, lh, sql: str):
    with tr.span("sources.catalog.sql"):
        df = lh.sql(sql)
    tr.record("sources.catalog.sql_calls", 1)
    with tr.span("spark.collect"):
        return df.collect()
