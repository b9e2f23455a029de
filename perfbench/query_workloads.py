"""The two query workloads: one client runs a fixed set of registry
queries in a seed-shuffled order (closed loop), timing each query's build,
plan and collect, then checks each result against its oracle fingerprint
outside the timed region.

- `sensor_queries`: every other query of each MySense-surface module,
  in registry order (35 of 65). They sit on Spark's scheduling
  floor, so per-job and planning overhead dominate. No similarity or
  dedup code runs, so this is the no-change control for ANN and dedup
  work.
- `corpus_queries`: a fixed sample of the training-data modules (see
  CORPUS_SAMPLE), with the persisted ANN index it reads built during
  set-up. This is where ANN, dedup and job-count work acts, and no
  MySense-surface operator runs.

Set-up ends with WARMUP: the first queries of a fresh JVM run up to four
times slower (class loading, JIT, Python worker start), which would make
the figures depend on which queries the seed puts first.
"""

from __future__ import annotations

import random
import sys
import time

from common import (
    DATA_DIR,
    SparkCounters,
    Tracer,
    geomean,
    median,
    python_ops,
    start_session,
)

SENSOR_MODULES = ("ingest", "geo", "qc", "regression", "indices", "relational", "timeseries")
CORPUS_MODULES = ("dedup", "similarity", "text", "multimodal", "sampling")

# All 85 training-data queries take about 60 s per pass on 4 cores, plus
# about 35 s of index builds: more than one run can hold. The fixed sample
# keeps every module: the ANN tiers with the most Spark jobs, the SQ8
# persisted-index lifecycle, the _LABELS_MEMO pair (neardup_clusters,
# dedup_keep_best), the heaviest BPE and packing queries, and cheap
# queries from each module. The SRP index lifecycles are left out:
# building and deleting their 2 048-directory layout alone takes about 20 s.
CORPUS_SAMPLE = (
    # similarity
    "ann_ivfpq_kmeans", "ann_pq", "ann_ivf_trained", "ann_ivf", "ann_sq8",
    "ann_sq8_persisted", "knn_bruteforce", "semdedup", "embedding_dim_stats",
    # dedup
    "neardup_clusters", "dedup_keep_best", "minhash_lsh_pairs", "dedup_exact",
    "decontam_report",
    # text
    "bpe_train", "bm25_search", "c4_filter", "token_count", "lang_id", "pii_scrub",
    # multimodal
    "media_structure", "blob_metadata", "frame_sample", "media_embed",
    # sampling
    "packed_ids", "url_filter", "hash_sample", "weighted_sample", "corpus_build",
    "stratified_sample",
)


# About the seconds one pass of either workload takes on 4 cores. A run
# makes round(seconds / NOMINAL_PASS_S) passes: a count that depends on
# --seconds only, never on how fast the program is, so a faster program
# is not measured over more (and warmer) passes.
NOMINAL_PASS_S = 25

# Cheap sensor queries run once, untimed, at the end of set-up: SQL
# aggregates, windows and pandas UDFs. None of them fills a
# cross-query memo.
WARMUP = ("pricing_summary", "hourly_stats", "ttn_decode", "grubbs_outliers")


def index_builds() -> dict:
    """query name -> the public ensure_* function that builds the
    persisted index the query reads."""
    from mysense_spark.operators import similarity as s

    return {
        "ann_ivfadc_persisted": s.ensure_ivfadc_index,
        "ann_srp_persisted": s.ensure_srp_index,
        "ann_srp_incremental": s.ensure_srp_index_incremental,
        "ann_srp_compacted": s.ensure_srp_index_compacted,
        "ann_sq8_persisted": s.ensure_sq8_index,
    }


def module_of(name: str) -> str:
    import importlib

    for mod in SENSOR_MODULES + CORPUS_MODULES:
        if name in importlib.import_module(f"mysense_spark.operators.{mod}").QUERIES:
            return mod
    raise KeyError(f"{name!r} is in no operator module")


def workload_queries(workload: str) -> list[str]:
    import importlib

    if workload == "sensor_queries":
        return [
            n
            for mod in SENSOR_MODULES
            for i, n in enumerate(importlib.import_module(f"mysense_spark.operators.{mod}").QUERIES)
            if i % 2 == 0
        ]
    if workload == "corpus_queries":
        return list(CORPUS_SAMPLE)
    raise KeyError(workload)


def setup(names: list[str], repeats: int = 3):
    """Session start and table warm-up, `repeats` times (the session is
    restarted each time), then, once, the index builds the queries need
    and the WARMUP queries. Returns the last session and the set-up times."""
    from mysense_spark.io import TABLES, load
    from mysense_spark.queries import spark_queries

    starts, warms = [], []
    for _ in range(repeats):
        t0 = time.perf_counter()
        spark = start_session()
        t1 = time.perf_counter()
        for t in TABLES:
            load(spark, DATA_DIR, t).count()
        t2 = time.perf_counter()
        starts.append(t1 - t0)
        warms.append(t2 - t1)
    t3 = time.perf_counter()
    builds = index_builds()
    for name in names:
        if name in builds:
            builds[name](spark, DATA_DIR)
    t4 = time.perf_counter()
    fns = spark_queries()
    for name in WARMUP:
        fns[name](spark, DATA_DIR).toPandas()
    warmup_s = time.perf_counter() - t4
    times = {
        "setup_s": median([s + w for s, w in zip(starts, warms)]) + (t4 - t3) + warmup_s,
        "session.start_s": median(starts),
        "io.warm_s": median(warms) + warmup_s,
        "similarity.index_build_s": t4 - t3,
    }
    return spark, times


def run(workload: str, seed: int, seconds: int, tracer: Tracer | None, probe) -> dict:
    from mysense_spark.queries import spark_queries

    import reference

    names = workload_queries(workload)
    ref = reference.load()
    w0 = time.perf_counter()
    spark, setup_times = setup(names)
    w1 = time.perf_counter()
    probes = [probe(spark)]
    fns = spark_queries()
    order = list(names)
    random.Random(seed).shuffle(order)

    counters = SparkCounters(spark) if tracer else None
    lat: dict[str, list[float]] = {n: [] for n in names}
    per_query: dict[str, dict] = {}
    attempted = failed = 0
    passes = max(1, round(seconds / NOMINAL_PASS_S))
    for p in range(passes):
        for name in order:
            attempted += 1
            groups = (f"{p}:{name}:build", f"{p}:{name}:exec")
            try:
                if tracer:
                    spark.sparkContext.setJobGroup(groups[0], name)
                t0 = time.perf_counter()
                df = fns[name](spark, DATA_DIR)
                t1 = time.perf_counter()
                if tracer:
                    spark.sparkContext.setJobGroup(groups[1], name)
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                pdf = df.toPandas()
                t3 = time.perf_counter()
            except Exception as exc:  # a failing query is counted, not fatal
                print(f"# {name} failed: {exc!r}"[:500], flush=True)
                failed += 1
                continue
            if reference.fingerprint(pdf) != ref[name]["fingerprint"]:
                print(f"# {name}: result differs from the oracle fingerprint", flush=True)
                failed += 1
            lat[name].append(t3 - t0)
            if tracer:
                c0 = time.perf_counter()
                counters.settle()
                build, exe = counters.group(groups[0]), counters.group(groups[1])
                rec = {
                    "module": ref[name]["module"],
                    "build_s": t1 - t0, "plan_s": t2 - t1, "exec_s": t3 - t2,
                    "build_jobs": build["jobs"],
                    "jobs": build["jobs"] + exe["jobs"],
                    "stages": build["stages"] + exe["stages"],
                    "tasks": build["tasks"] + exe["tasks"],
                    "shuffle_bytes": build["shuffle_bytes"] + exe["shuffle_bytes"],
                    "python_stages": python_ops(df),
                    "persisted_rdds": counters.persisted_rdds(),
                    "counts_stable": ref[name]["counts_stable"],
                }
                tracer.overhead_s += time.perf_counter() - c0
                tracer.add(f"query.{name}", t0, t3, None, run_pass=p, **rec)
                tracer.add("build", t0, t1, f"query.{name}")
                tracer.add("plan", t1, t2, f"query.{name}")
                tracer.add("exec", t2, t3, f"query.{name}")
                if p == 0:
                    per_query[name] = rec

    w2 = time.perf_counter()
    probes.append(probe(spark))
    print(f"# wall: setup {w1 - w0:.1f} s, queries {w2 - w1:.1f} s", file=sys.stderr)
    per = [median(v) for v in lat.values() if v]
    out = {
        "spark": spark,
        "probes": probes,
        "attempted": attempted,
        "failed": failed,
        "setup": setup_times,
        "e2e": {
            "setup_s": setup_times["setup_s"],
            "batch_s": sum(per),
            "latency_geomean_s": geomean(per),
        } if per else None,
        "record": {"latencies": lat},
    }
    if tracer:
        out["layers"] = _layers(per_query, ref, setup_times)
    return out


def _layers(per_query: dict, ref: dict, setup_times: dict) -> dict:
    layers: dict[str, float] = {
        k: setup_times[k] for k in ("session.start_s", "io.warm_s", "similarity.index_build_s")
    }
    for mod in SENSOR_MODULES + CORPUS_MODULES:
        recs = [r for r in per_query.values() if r["module"] == mod]
        stable = [r for r in recs if r["counts_stable"]]
        layers.update(
            {
                f"{mod}.build_s": sum(r["build_s"] for r in recs),
                f"{mod}.plan_s": sum(r["plan_s"] for r in recs),
                f"{mod}.exec_s": sum(r["exec_s"] for r in recs),
                f"{mod}.jobs": sum(r["jobs"] for r in stable),
                f"{mod}.stages": sum(r["stages"] for r in stable),
                f"{mod}.shuffle_bytes": sum(r["shuffle_bytes"] for r in recs),
                f"{mod}.python_stages": sum(r["python_stages"] for r in recs),
            }
        )
    layers["cache.live_persists_max"] = max((r["persisted_rdds"] for r in per_query.values()), default=0)
    layers["cache.cross_query_hits"] = sum(
        1
        for n, r in per_query.items()
        if ref[n]["build_jobs_min"] < ref[n]["build_jobs"] and r["build_jobs"] <= ref[n]["build_jobs_min"]
    )
    return layers
