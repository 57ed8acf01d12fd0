"""``autoloader_ingest``: open loop. One generator thread lands seeded
JSON loan files at a fixed rate; ``AutoLoader.stream`` feeds a
``DeltaStreamSink`` bronze table. A small share of records is
malformed or carries a key outside the inferred schema, so
``_rescued_data`` is exercised. The run ends with a burst of files
drained by an ``availableNow`` query on the same checkpoint, four
times: the first warms the path, the median of the other three is
reported (one drain is one batch, and a single batch time varies by a
fifth from run to run).

An operation is one file landed in the timed part of the open loop,
after a lead-in at the same rate; its latency is its freshness: from
the file's scheduled landing time to the end of the sink commit that
makes its rows visible. The file→commit map is read
afterwards from the public Delta log (``txn`` action → batch id,
``add`` actions → data files → their ``src_file`` values).
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time

from perfbench import gen
from perfbench.harness import Op, dir_bytes, median, tail

APP_ID = "perfbench-ingest"
DRAINS = 3
#: seconds of the open loop that run before timing starts. A few
#: seconds into the loop one batch ran long (1.5-3 s instead of ~0.5 s),
#: and from then on the stream took 7-9 files a batch instead of 2-3,
#: with freshness about twice as high; when that happened varied from
#: run to run and moved the freshness median by a fifth. The lead-in
#: puts that switch before the timed window.
LEAD_S = 6.0


def run(r) -> dict:
    from pyspark.sql import functions as F

    from ent_fins_lakehouse_spark.sources.lakehouse import DeltaLogTable
    from ent_fins_lakehouse_spark.streaming.autoloader import AutoLoader, DeltaStreamSink

    tr = r.tracer
    # the rate stays below what the sink drains, so the backlog at the
    # end of the open loop is the batch in flight, not a growing queue
    rate, rows_per_file = (4.0, 20) if r.tiny else (8.0, 50)
    n_seed, burst_files, burst_rows = (2, 4, 100) if r.tiny else (4, 40, 500)
    rng = random.Random(r.seed)
    landed: dict[int, dict] = {}  # file no -> what was landed, and when
    commits: dict[int, float] = {}  # batch id -> end of its sink commit
    replayed = [0]
    next_id = [1]

    def records(file_no: int, n: int, dirty: bool):
        lines, ids, rescued, amount = gen.json_file_records(rng, file_no, next_id[0], n, dirty)
        next_id[0] += n
        return lines, {"ids": ids, "rescued": rescued, "amount": amount}

    seed = [records(i, rows_per_file, False) for i in range(n_seed)]

    def build(rep: int):
        spark = r.session()
        base = os.path.join(r.root, f"setup{rep}")
        landing = os.path.join(base, "landing")
        os.makedirs(landing)
        for i, (lines, _info) in enumerate(seed):
            gen.land_file(landing, f"loans-{i:06d}.json", lines)
        al = AutoLoader(spark, landing, os.path.join(base, "schema"))
        with tr.span("streaming.autoloader.resolve_schema"):
            al.resolve_schema()
        with tr.span("streaming.autoloader.stream"):
            stream_df = al.stream()
        table = DeltaLogTable(spark, os.path.join(base, "bronze"))
        table.write = tr.wrap("sources.lakehouse.write", table.write)
        sink = DeltaStreamSink(table, APP_ID)
        write_batch = sink.write_batch

        def timed_write(df, batch_id):
            replayed[0] += batch_id in commits
            with tr.span("streaming.autoloader.write_batch"):
                write_batch(df, batch_id)
            commits[batch_id] = time.perf_counter()

        sink.write_batch = timed_write
        commits.clear()
        ckpt = os.path.join(base, "checkpoint")
        q = sink.start(stream_df, ckpt, available_now=False)
        q.processAllAvailable()
        if rep < 2:
            q.stop()
        return landing, table, sink, stream_df, ckpt, q

    landing, table, sink, stream_df, ckpt, q = r.setup(build, reps=3)
    for i, (_lines, info) in enumerate(seed):
        landed[i] = {**info, "bytes": 0, "due": None, "phase": "seed"}
    replayed[0] = 0
    bytes_before = dir_bytes(table.path)

    def land(file_no: int, n: int, phase: str, due: float | None) -> None:
        lines, info = records(file_no, n, True)
        nbytes = gen.land_file(landing, f"loans-{file_no:06d}.json", lines)
        landed[file_no] = {**info, "bytes": nbytes, "due": due, "at": time.perf_counter(), "phase": phase}

    # warm-up: two dirty files through the running stream before timing
    # (first rescued records, first batches after the seed batch)
    n_warm = 2
    for k in range(n_warm):
        land(n_seed + k, rows_per_file, "warm", None)
    q.processAllAvailable()
    first_open = n_seed + n_warm
    seed_batches = set(commits)

    # -------------------------------------- open loop: lead-in, then timed
    n_lead = 0 if r.tiny else int(rate * LEAD_S)
    n_files = max(int(rate * r.seconds), 1)
    t0 = time.perf_counter() + 0.05

    def generator():
        for k in range(n_lead + n_files):
            due = t0 + k / rate
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            land(first_open + k, rows_per_file, "lead" if k < n_lead else "open", due)

    g = threading.Thread(target=generator, name="perfbench-generator")
    g.start()
    g.join()
    first_open += n_lead
    t_end = t0 + (n_lead + n_files) / rate
    time.sleep(max(t_end - time.perf_counter(), 0.0))
    q.processAllAvailable()
    progress = q.recentProgress
    q.stop()
    open_batches = set(commits) - seed_batches

    # ------------------------------------------------- closing burst drains
    drains = []
    with r.phase("drains"):
        for d in range(DRAINS + 1):
            first = first_open + n_files + d * burst_files
            for k in range(burst_files):
                land(first + k, burst_rows, "burst", None)
            t = time.perf_counter()
            with tr.span("streaming.autoloader.drain"):
                sink.start(stream_df, ckpt, available_now=True)
            rows = sum(len(landed[first + k]["ids"]) for k in range(burst_files))
            drains.append((time.perf_counter() - t, rows))
    drains = sorted(drains[1:])  # the first availableNow query warms the path
    drain_s, drained_rows = drains[len(drains) // 2]

    # -------------------------------------------------------------- checks
    with r.phase("checks"):
        by_batch, rows_by_batch = _log_batches(table.path)
        file_batch = {f: b for b, files in by_batch.items() for f in files}
        df = table.read()
        if r.args.corrupt:
            df = df.filter(F.col("id") != landed[first_open]["ids"][0])
        got = df.select("id", "loan_amnt", F.col("_rescued_data").isNotNull().alias("rescued")).collect()
        seen: dict[int, int] = {}
        for row in got:
            if row["id"] is not None:
                seen[row["id"]] = seen.get(row["id"], 0) + 1
        fresh_ms, backlog = [], 0
        for f in sorted(landed):
            info = landed[f]
            if info["phase"] == "open":
                o = Op("file")
                r.ops.append(o)
                b = file_batch.get(f)
                o.start = info["due"]
                o.end = commits.get(b, o.start)
                if b not in commits:
                    o.error = f"file {f}: no sink commit holds its rows"
                    continue
                fresh_ms.append(o.ms)
                backlog += commits[b] > t_end
            else:
                o = r.add_check(f"{info['phase']}_file")
            bad = [i for i in info["ids"] if seen.get(i) != 1]
            if bad:
                o.error = f"file {f}: {len(bad)} ids not visible exactly once (first {bad[0]})"
        rescued = sum(1 for row in got if row["rescued"])
        want_rescued = sum(info["rescued"] for info in landed.values())
        c = r.add_check("rescued_rows")
        if rescued != want_rescued:
            c.error = f"rescued rows {rescued} != injected {want_rescued}"
        amount = sum(row["loan_amnt"] for row in got if row["id"] is not None)
        want_amount = sum(info["amount"] for info in landed.values())
        c = r.add_check("loan_amnt_total")
        if amount != want_amount:
            c.error = f"loan_amnt total {amount} != landed {want_amount}"

    # ----------------------------------------------------------- figures
    landed_bytes = sum(info["bytes"] for info in landed.values())
    value, pct, n = tail(fresh_ms)
    # a file waits from its due time until the trigger that picks it up
    # starts: the batch's commit end minus that trigger's execution time
    exec_s = {p["batchId"]: p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress}
    waits = [
        max(commits[b] - exec_s.get(b, 0.0) - landed[f]["due"], 0.0)
        for f, b in file_batch.items()
        if landed.get(f, {}).get("phase") == "open" and b in commits
    ]
    return {
        "ops_per_s": burst_files / drain_s,
        "op_p50_ms": median(fresh_ms),
        "op_tail_ms": value,
        "op_tail_pct": pct,
        "op_samples": n,
        "freshness_p50_ms": median(fresh_ms),
        "freshness_tail_ms": value,
        "drain_rows_per_s": drained_rows / drain_s,
        "write_amp": (dir_bytes(table.path) - bytes_before) / max(landed_bytes, 1),
        "generator.late_ms": median([(i["at"] - i["due"]) * 1000.0 for i in landed.values() if i["due"]]),
        "backlog_files_end": backlog,
        "streaming.autoloader.batches": len(open_batches),
        "streaming.autoloader.rows_per_batch": median(
            [rows_by_batch[b] for b in open_batches if b in rows_by_batch]
        ),
        "streaming.autoloader.replayed_batches": replayed[0],
        "streaming.autoloader.trigger_wait_s": median(waits),
        "sources.lakehouse.log_versions_end": table.latest_version() + 1,
        "sources.lakehouse.active_files_end": table.scan_info()["n_active"],
    }


def _log_batches(table_path: str) -> tuple[dict[int, set[int]], dict[int, int]]:
    """Batch id → landed file numbers, and batch id → rows, from the
    public Delta log: each sink commit carries a ``txn`` action and the
    ``add`` actions of its data files."""
    import pyarrow.parquet as pq

    files: dict[int, set[int]] = {}
    rows: dict[int, int] = {}
    for commit in sorted(glob.glob(os.path.join(table_path, "_delta_log", "*.json"))):
        batch, adds = None, []
        with open(commit, encoding="utf-8") as fh:
            for line in fh:
                action = json.loads(line)
                if "txn" in action and action["txn"].get("appId") == APP_ID:
                    batch = int(action["txn"]["version"])
                elif "add" in action:
                    adds.append(action["add"]["path"])
        if batch is None:
            continue
        for rel in adds:
            t = pq.read_table(os.path.join(table_path, rel), columns=["src_file"])
            files.setdefault(batch, set()).update(v for v in t.column(0).to_pylist() if v is not None)
            rows[batch] = rows.get(batch, 0) + t.num_rows
    return files, rows
