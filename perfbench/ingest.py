"""The `ingest_stream` workload: a seeded synthetic TTN V2/V3 envelope
stream goes through `streaming.pipeline.run_lines_stream` into a fresh
day-partitioned merge archive, in two phases on one checkpoint.

- backfill (closed loop): a fixed backlog of drop files spanning three
  days is drained FILES_PER_TRIGGER files per micro-batch. Each batch is a
  large multi-day merge into a growing archive. Reported as `batch_s`, the
  drain time.
- live (open loop): the generator lands a drop file every 1 / LIVE_RATE
  seconds, whatever the stream (running on the JVM's threads) is doing,
  and the stream runs with trigger=None. A file's latency runs from its
  due time to the commit of the micro-batch that archived it, read from
  the checkpoint's source, offset and commit logs. Reported as
  `latency_geomean_s`.

Envelopes carry port-2/4 MySense datagrams from N_KITS kits. Some arrive
late (up to 90 minutes, inside the 2 h watermark, some across midnight),
lines inside a file are shuffled, about 3% are redelivered and a few
lines are corrupt. The archive must equal the latest row per key of
`run_file_batch` over the same files, and corrupt lines must leave no rows.
"""

from __future__ import annotations

import base64
import datetime as dt
import glob
import json
import os
import random
import shutil
import struct
import sys
import time

from common import geomean, median, python_ops, start_session

N_KITS = 500
T0 = dt.datetime(2026, 1, 5, tzinfo=dt.timezone.utc)
BACKLOG_FILES = 12
BACKLOG_SLICE = dt.timedelta(hours=6)  # event time one backlog file covers
FILES_PER_TRIGGER = 6
LIVE_RATE = 20.0  # files per second: 160 envelopes/s, a sixth of the backfill's rate on 4 cores
LIVE_ENVELOPES = 8  # per live file
LIVE_SLICE = dt.timedelta(minutes=2)
MAX_LATE = dt.timedelta(minutes=90)  # inside the pipeline's 2 h watermark
KEYS = ["kit_id", "ts", "field"]
COLS = ["kit_id", "serial", "ts", "sensor_type", "field", "value", "unit", "category", "valid"]


def _iso(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%dT%H:%M:%S.%fZ")


def _payload(rng: random.Random, port: int) -> str:
    pm = [rng.randint(1, 900) for _ in range(3)]  # pm1, pm25, pm10 (x10)
    meteo = [
        rng.randint(200, 650),  # (temp + 30) x10
        rng.randint(200, 990),  # rv x10
        rng.randint(980, 1040),  # hPa
    ]
    if port == 2:  # PM mass + meteo + GPS
        body = struct.pack(
            ">B3H3H3L", 0x80 | 0x01 | 0x08, *pm, *meteo,
            rng.randint(5_080_000, 5_350_000), rng.randint(330_000, 720_000), rng.randint(1, 900),
        )
    else:  # PM mass + port-4 particle counts + meteo
        counts = [rng.randint(1, 30000) for _ in range(6)]
        body = struct.pack(">B3H6H3H", 0x80 | 0x01 | 0x02, *pm, *counts, *meteo)
    return base64.b64encode(body).decode()


def _envelope(rng: random.Random, kit: int, t_event: dt.datetime, counter: int, corrupt: bool = False) -> str:
    app, dev = f"mysense-{kit % 8}", (f"corrupt-{kit:04d}" if corrupt else f"kit-{kit:04d}")
    port = 2 if kit % 3 else 4
    payload = base64.b64encode(b"\x87\x00").decode() if corrupt else _payload(rng, port)
    airtime_us = rng.randint(40_000, 120_000)
    rx = _iso(t_event + dt.timedelta(microseconds=airtime_us))
    gw = [(f"gw-{(kit + j) % 37}", -rng.randint(60, 125), round(rng.uniform(-10, 10), 1)) for j in range(1 + kit % 3)]
    if kit % 2 == 0:  # TTN V2
        env = {
            "app_id": app, "dev_id": dev, "hardware_serial": f"{kit:016X}", "port": port,
            "counter": counter, "payload_raw": payload,
            "metadata": {"time": rx, "airtime": airtime_us * 1000, "gateways": [
                {"gtw_id": g, "rssi": r, "snr": s} for g, r, s in gw]},
        }
        topic = f"{app}/devices/{dev}/up"
    else:  # TTN V3
        env = {
            "end_device_ids": {"device_id": dev, "dev_eui": f"{kit:016X}",
                               "application_ids": {"application_id": app}},
            "received_at": rx,
            "uplink_message": {
                "f_port": port, "f_cnt": counter, "frm_payload": payload, "received_at": rx,
                "rx_metadata": [{"gateway_ids": {"gateway_id": g}, "rssi": r, "snr": s} for g, r, s in gw],
                "settings": {"airtime": f"{airtime_us / 1e6:.6f}s"},
            },
        }
        topic = f"v3/{app}@ttn/devices/{dev}/up"
    line = f"{topic} {json.dumps(env, separators=(',', ':'))}"
    if corrupt and counter % 2:
        return line[: len(line) // 2]  # truncated mid-object
    return line


def make_files(seed: int, n_live: int) -> tuple[list[list[str]], list[list[str]]]:
    """Lines of every backlog file and every live file, from the seed."""
    rng = random.Random(seed)
    slices = [(T0 + i * BACKLOG_SLICE, BACKLOG_SLICE, list(range(N_KITS))) for i in range(BACKLOG_FILES)]
    live0 = T0 + BACKLOG_FILES * BACKLOG_SLICE
    slices += [
        (live0 + i * LIVE_SLICE, LIVE_SLICE,
         [(i * LIVE_ENVELOPES + j) % N_KITS for j in range(LIVE_ENVELOPES)])
        for i in range(n_live)
    ]
    files: list[list[str]] = [[] for _ in slices]
    counter = 0
    for i, (start, width, kits) in enumerate(slices):
        for kit in kits:
            counter += 1
            t = start + dt.timedelta(microseconds=rng.randrange(int(width.total_seconds() * 1e6)))
            line = _envelope(rng, kit, t, counter)
            nxt = slices[i + 1][0] if i + 1 < len(slices) else None
            within = nxt is not None and t >= nxt - MAX_LATE
            # late: delivered with the next file; redelivered: twice
            target = i + 1 if within and rng.random() < 0.1 else i
            files[target].append(line)
            if rng.random() < 0.03:
                files[i + 1 if within and rng.random() < 0.5 else i].append(line)
        if rng.random() < 0.3:
            counter += 1
            files[i].append(_envelope(rng, rng.randrange(N_KITS), start, counter, corrupt=True))
    for lines in files:
        rng.shuffle(lines)
    return files[:BACKLOG_FILES], files[BACKLOG_FILES:]


def _write(path: str, lines: list[str], stage: str, mtime: float | None = None) -> None:
    tmp = os.path.join(stage, os.path.basename(path))
    with open(tmp, "w") as fh:
        fh.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def _stream(spark, drop: str, ckpt: str, out: str, trigger, max_files: int | None):
    from mysense_spark.streaming.pipeline import run_lines_stream

    reader = spark.readStream
    if max_files:
        reader = reader.option("maxFilesPerTrigger", max_files)
    return run_lines_stream(reader.text(drop), ckpt, out, trigger=trigger)


def _backfill(spark, sb, files: list[list[str]], drop: str, ckpt: str, out: str) -> tuple[float, list[dict]]:
    stage = sb.path("stage")
    base = time.time() - 10 * len(files)
    for i, lines in enumerate(files):  # the source orders files by mtime
        _write(os.path.join(drop, f"backlog-{i:05d}.mqtt"), lines, stage, base + 10 * i)
    t0 = time.perf_counter()
    q = _stream(spark, drop, ckpt, out, "available_now", FILES_PER_TRIGGER)
    q.awaitTermination()
    drain_s = time.perf_counter() - t0
    if q.exception() is not None:
        raise RuntimeError(f"backfill stream failed: {q.exception()}")
    return drain_s, [json.loads(p.json) for p in q.recentProgress]


def _file_batches(ckpt: str) -> dict[str, int]:
    """Drop-file name -> id of the micro-batch that read it. The file
    source logs each file under its own log id; the query's offset log
    records, per micro-batch, the last source log id it read up to."""
    log: dict[str, int] = {}
    for path in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        with open(path) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    log[os.path.basename(e["path"])] = e["batchId"]
    ends = []
    for path in glob.glob(os.path.join(ckpt, "offsets", "[0-9]*")):
        with open(path) as fh:
            offset = fh.read().strip().split("\n")[-1]
        if offset.startswith("{"):
            ends.append((json.loads(offset)["logOffset"], int(os.path.basename(path))))
    ends.sort()
    out = {}
    for name, log_id in log.items():
        batch = next((b for end, b in ends if end >= log_id), None)
        if batch is not None:
            out[name] = batch
    return out


def _commit_time(ckpt: str, batch: int) -> float | None:
    try:
        return os.stat(os.path.join(ckpt, "commits", str(batch))).st_mtime
    except FileNotFoundError:
        return None


def _live(spark, sb, files: list[list[str]], drop: str, ckpt: str, out: str, timeout: float):
    stage = sb.path("stage")
    q = _stream(spark, drop, ckpt, out, None, None)
    while q.lastProgress is None and q.isActive:  # first (empty) trigger ran
        time.sleep(0.05)
    names = [f"live-{i:05d}.mqtt" for i in range(len(files))]
    due: dict[str, float] = {}
    lag: list[float] = []
    t0 = time.time() + 0.2

    # the generator: the stream runs on the JVM's own threads meanwhile
    for i, (name, lines) in enumerate(zip(names, files)):
        due[name] = t0 + i / LIVE_RATE
        wait = due[name] - time.time()
        if wait > 0:
            time.sleep(wait)
        _write(os.path.join(drop, name), lines, stage)
        lag.append(time.time() - due[name])
    deadline = time.time() + timeout
    commits: dict[str, float] = {}
    while q.isActive and time.time() < deadline:
        batches = _file_batches(ckpt)
        commits = {n: _commit_time(ckpt, batches[n]) for n in names if n in batches}
        if len(commits) == len(names) and None not in commits.values():
            break
        time.sleep(0.1)
    progress = [json.loads(p.json) for p in q.recentProgress]
    exc = q.exception()
    # stop between triggers: stopping the query while its Python
    # foreachBatch runs kills the stream thread with a StackOverflowError
    # (Spark matches the long Python error message with a recursive regex)
    idle, settle = 0, time.time() + 10
    while q.isActive and idle < 3 and time.time() < settle:
        idle = 0 if q.status["isTriggerActive"] else idle + 1
        time.sleep(0.05)
    q.stop()
    if exc is not None or len(commits) != len(names) or None in commits.values():
        raise RuntimeError(f"live stream did not archive every file: {exc}")
    return due, commits, lag, progress


def _check(spark, drop: str, out: str) -> bool:
    """Archive == latest row per key of the batch pipeline over the same
    files, and no row from a corrupt line."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from mysense_spark.streaming.pipeline import run_file_batch

    ref = (
        run_file_batch(spark, drop)
        .withColumn("_rn", F.row_number().over(Window.partitionBy(*KEYS).orderBy(F.desc("ingest_ts"))))
        .where("_rn = 1")
        .select(*COLS)
        .persist()
    )
    arc = spark.read.parquet(out).select(*COLS)
    try:
        return (
            ref.count() > 0
            and arc.where(F.col("kit_id").contains("corrupt")).limit(1).count() == 0
            and ref.exceptAll(arc).limit(1).count() == 0
            and arc.exceptAll(ref).limit(1).count() == 0
        )
    finally:
        ref.unpersist()


def setup(sb, repeats: int = 3):
    """Session start, `repeats` times; then, once, the stream over a small
    warm-up file into a scratch archive, which starts the decode UDF's
    Python workers and loads the streaming, state-store and sink code."""
    warm_dir = sb.path("warm")
    rng = random.Random(0)
    with open(os.path.join(warm_dir, "warm.mqtt"), "w") as fh:
        fh.write("\n".join(_envelope(rng, k, T0 - dt.timedelta(days=1), k) for k in range(50)) + "\n")
    starts = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark = start_session()
        starts.append(time.perf_counter() - t0)
    t1 = time.perf_counter()
    _stream(spark, warm_dir, sb.fresh("ckpt"), sb.fresh("archive"), "available_now", None).awaitTermination()
    warm_s = time.perf_counter() - t1
    return spark, {
        "setup_s": median(starts) + warm_s,
        "session.start_s": median(starts),
        "io.warm_s": warm_s,
    }


def run(sb, seed: int, seconds: int, tracer, probe) -> dict:
    """`seconds` sets the live phase: LIVE_RATE files a second for a
    quarter of it, and never fewer than 100 files (one latency sample each)."""
    n_live = max(100, round(LIVE_RATE * seconds / 4))
    backlog, live = make_files(seed, n_live)
    w0 = time.perf_counter()
    spark, setup_times = setup(sb)
    w1 = time.perf_counter()
    probes = [probe(spark)]
    drop, ckpt, out = sb.path("drop"), sb.fresh("ckpt"), sb.fresh("archive")
    n_files = len(backlog) + len(live)
    failed = 0
    try:
        drain_s, backfill_progress = _backfill(spark, sb, backlog, drop, ckpt, out)
        due, commits, lag, progress = _live(spark, sb, live, drop, ckpt, out, timeout=120)
        lat = [commits[n] - due[n] for n in due]
    except Exception as exc:  # a failed stream fails every file
        print(f"# ingest failed: {exc!r}"[:500], flush=True)
        return {"spark": spark, "attempted": n_files, "failed": n_files, "setup": setup_times, "e2e": None}
    w2 = time.perf_counter()
    probes.append(probe(spark))
    ok = _check(spark, drop, out)
    print(f"# wall: setup {w1 - w0:.1f} s, backfill {drain_s:.1f} s, stream total {w2 - w1:.1f} s, "
          f"check {time.perf_counter() - w2:.1f} s", file=sys.stderr)
    if not ok:
        print("# archive differs from the batch-pipeline reference", flush=True)
        failed = n_files
    res = {
        "spark": spark,
        "attempted": n_files,
        "failed": failed,
        "setup": setup_times,
        "probes": probes,
        "e2e": {
            "setup_s": setup_times["setup_s"],
            "batch_s": drain_s,
            "latency_geomean_s": geomean(lat),
        },
        "record": {
            "envelopes_per_s": sum(len(f) for f in backlog) / drain_s,
            "gen_lag_max_s": max(lag),
            "latencies": lat,
        },
    }
    if tracer:
        layers, res["spark"] = _layers(
            spark, sb, tracer, backlog, drop, drain_s, due, commits, lag, backfill_progress, progress
        )
        res["layers"] = {
            "session.start_s": setup_times["session.start_s"],
            "io.warm_s": setup_times["io.warm_s"],
            **layers,
        }
    return res


def _progress_layers(backfill: list[dict], live: list[dict]) -> dict:
    """Live-phase micro-batch costs from the stream's progress reports;
    watermark drops over both phases."""
    ran = [p for p in live if "addBatch" in p.get("durationMs", {})]
    ops = [p.get("stateOperators", []) for p in ran]
    return {
        "streaming.batches": len(ran),
        "streaming.add_batch_s": median([p["durationMs"]["addBatch"] / 1000 for p in ran]),
        "streaming.trigger_overhead_s": median(
            [(p["durationMs"]["triggerExecution"] - p["durationMs"]["addBatch"]) / 1000 for p in ran]
        ),
        "streaming.state_rows": sum(o["numRowsTotal"] for o in ops[-1]) if ops else 0,
        "streaming.state_commit_s": median([sum(o["commitTimeMs"] for o in x) / 1000 for x in ops]),
        "streaming.dropped_rows": sum(
            o.get("numRowsDroppedByWatermark", 0) for p in backfill + live for o in p.get("stateOperators", [])
        ),
    }


def _snapshot(root: str) -> dict[str, tuple]:
    snap = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                st = os.stat(os.path.join(dirpath, f))
                snap[os.path.join(dirpath, f)] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return snap


def _direct_calls(spark, sb, tracer, backlog: list[list[str]], drop: str) -> dict:
    """parse_envelopes, run_file_batch and upsert_parquet_partitioned
    called directly on the backfill's micro-batches, timed one by one."""
    from mysense_spark.sinks.upsert import upsert_parquet_partitioned
    from mysense_spark.sources.ttn import parse_envelopes
    from mysense_spark.streaming.pipeline import run_file_batch

    archive = sb.fresh("direct-archive")
    parse_s = decode_s = 0.0
    merges, rewritten, days, written = [], 0, 0, 0
    py_stages = 0
    for b in range(0, len(backlog), FILES_PER_TRIGGER):
        names = [f"backlog-{i:05d}.mqtt" for i in range(b, min(b + FILES_PER_TRIGGER, len(backlog)))]
        path = os.path.join(drop, "{" + ",".join(names) + "}")
        t0 = time.perf_counter()
        parse_envelopes(spark.read.text(path)).write.format("noop").mode("overwrite").save()
        t1 = time.perf_counter()
        fact = run_file_batch(spark, path)
        fact.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        py_stages = max(py_stages, python_ops(fact))
        before = _snapshot(archive)
        t3 = time.perf_counter()
        upsert_parquet_partitioned(run_file_batch(spark, path), archive, keys=KEYS, order_col="ingest_ts", ts_col="ts")
        t4 = time.perf_counter()
        after = _snapshot(archive)
        changed = {p for p, v in after.items() if before.get(p) != v}
        gone = set(before) - set(after)
        rewritten += len(gone | {p for p in changed if p in before})
        days += len({os.path.dirname(p) for p in changed | gone})
        written += sum(after[p][0] for p in changed)
        parse_s += t1 - t0
        decode_s += max(0.0, (t2 - t1) - (t1 - t0))
        merges.append(t4 - t3)
        tracer.add("parse_envelopes", t0, t1, "direct", batch=b // FILES_PER_TRIGGER)
        tracer.add("run_file_batch", t1, t2, "direct", batch=b // FILES_PER_TRIGGER)
        tracer.add("upsert_parquet_partitioned", t3, t4, "direct", batch=b // FILES_PER_TRIGGER)
    stored = sum(v[0] for v in _snapshot(archive).values())
    return {
        "sources.parse_s": parse_s,
        "sources.decode_s": decode_s,
        "sources.python_stages": py_stages,
        "sinks.upsert.merge_s": median(merges),
        "sinks.upsert.bytes_written_ratio": written / stored,
        "sinks.upsert.files_rewritten": rewritten,
        "sinks.upsert.days_touched": days,
    }


def _layers(spark, sb, tracer, backlog, drop, drain_s, due, commits, lag, backfill_progress, progress):
    """Per-layer metrics of the ingest path; returns them and the session
    left running."""
    c0 = time.perf_counter()
    layers = _progress_layers(backfill_progress, progress)
    layers["gen.lag_s"] = max(lag)
    layers["ingest.backlog_files"] = max(
        sum(1 for n in due if due[n] <= c < commits[n]) for c in commits.values()
    )
    tracer.overhead_s += time.perf_counter() - c0
    for n in due:
        tracer.add(f"file.{n}", due[n], commits[n], "live")
    layers.update(_direct_calls(spark, sb, tracer, backlog, drop))
    # the backfill again on all cores and on one core, each in a fresh
    # session with a fresh checkpoint and archive, so both runs start from
    # the same state
    solo = sb.path("drop-rerun")
    for f in glob.glob(os.path.join(drop, "backlog-*")):
        shutil.copy2(f, solo)
    drains = {}
    for cores in (None, 1):
        spark_c = start_session(cores=cores)
        drains[cores], _ = _backfill(spark_c, sb, [], solo, sb.fresh("ckpt"), sb.fresh("archive"))
    layers["ingest.scaling_x"] = drains[1] / drains[None]
    return layers, spark_c
