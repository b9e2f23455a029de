"""IVFADC append recall drift (r15, VERDICT #3): `ivfadc_index_append`
documents the frozen-codebook trade — appended vectors are quantized
under a coarse directory and PQ codebook trained before they existed,
so a DRIFTING corpus degrades recall until the compaction-cadence
rebuild — but r14 never quantified it. This probe does, so SCALING.md
can state a rebuild cadence from numbers.

Method: start from a real corpus (default /tmp/scale/emb200k), carve a
drifted population with `similarity.drift_shift` (deterministic column
math: v' = normalize(alpha*v + (1-alpha)*ones-direction) — no RNG, so
every run measures the same thing; determinism is pytest-pinned), and:

  1. write a base population (5 drifted queries + the unshifted corpus)
     and train the persisted index on it once;
  2. append cumulative 20% / 50% / 100% batches of drifted vectors via
     ivfadc_index_append (frozen codebook — the nightly-ingest move);
  3. at each point, search the appended index AND a fresh rebuild on
     the same combined corpus, score both against exact brute-force
     cosine top-k (recall@5 over the 5 drifted queries — the query
     population that actually lives where the codebook never trained);
  4. report recall_appended vs recall_rebuilt per point: the gap IS the
     drift cost, and the fraction where it exceeds tolerance is the
     rebuild cadence.

Usage: python tools/ivfadc_drift_probe.py [sf_dir] [out_json]
           [--fracs 0.2,0.5,1.0] [--alpha 0.4] [--topk 5]
Defaults: /tmp/scale/emb200k, /tmp/ivfadc_drift.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

WORK = "/tmp/ivfadc_drift_work"


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if len(args) > 0 else "/tmp/scale/emb200k"
    out_path = args[1] if len(args) > 1 else "/tmp/ivfadc_drift.json"

    def opt(name, default, conv):
        return (
            conv(sys.argv[sys.argv.index(name) + 1]) if name in sys.argv else default
        )

    fracs = opt("--fracs", [0.2, 0.5, 1.0], lambda s: [float(x) for x in s.split(",")])
    alpha = opt("--alpha", 0.4, float)
    top_k = opt("--topk", 5, int)
    n_q = opt("--queries", 25, int)  # 5-query recall@5 has 0.04 granularity
    # — too coarse to separate drift from noise; 25 queries gives 0.008

    from pyspark.sql import functions as F

    from mysense_spark.cache import begin_query
    from mysense_spark.operators import similarity as S
    from mysense_spark.session import get_spark

    spark = get_spark("ivfadc-drift-probe")
    # widen the query population for this session: every search and
    # re-rank fence in similarity.py keys off _N_QUERIES (vec_id < Q)
    S._N_QUERIES = n_q
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)

    base = S._vectors(spark, sf_dir)
    n = base.count()

    def as_emb(vecs):
        """(vec_id, v, ...) -> the embeddings.parquet shape; everything
        downstream re-reads through _vectors so float32 rounding is
        applied uniformly to both search and ground truth."""
        return vecs.select(
            "vec_id",
            F.lit("drift").alias("label"),
            F.col("v").cast("array<float>").alias("embedding"),
        )

    # base population: n_q drifted queries (ids 0..n_q-1) + corpus (+n_q)
    queries = S.drift_shift(base.where(F.col("vec_id") < n_q), alpha, 0)
    corpus = base.select((F.col("vec_id") + n_q).alias("vec_id"), "v", "norm")
    d_base = f"{WORK}/base"
    as_emb(queries).unionByName(as_emb(corpus)).coalesce(4).write.parquet(
        f"{d_base}/embeddings.parquet"
    )

    idx_appended = f"{WORK}/idx_appended"
    begin_query()  # release prior phase's tracked persists
    t0 = time.monotonic()
    S.build_ivfadc_index(spark, d_base, idx_appended)
    base_build_sec = time.monotonic() - t0

    def exact_top(vecs):
        pool = vecs.where(F.col("vec_id") >= n_q).select(
            F.col("vec_id").alias("cand_id")
        )
        return {
            (r["query_id"], r["cand_id"])
            for r in S._rerank_pool(vecs, pool, top_k=top_k).collect()
        }

    def recall(found_rows, truth):
        found = {(r["query_id"], r["cand_id"]) for r in found_rows}
        return len(found & truth) / len(truth)

    results = []
    prev = 0.0
    prev_dir = d_base
    for frac in fracs:
        lo, hi = int(prev * n), int(frac * n)
        batch = S.drift_shift(
            base.where((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)),
            alpha,
            n + n_q,
        )
        d_f = f"{WORK}/f{int(frac * 100)}"
        spark.read.parquet(f"{prev_dir}/embeddings.parquet").unionByName(
            as_emb(batch)
        ).coalesce(4).write.parquet(f"{d_f}/embeddings.parquet")
        vecs_f = S._vectors(spark, d_f)

        begin_query()
        t0 = time.monotonic()
        S.ivfadc_index_append(
            spark, vecs_f.where(F.col("vec_id") >= n + n_q + lo), idx_appended
        )
        append_sec = time.monotonic() - t0

        idx_rebuilt = f"{WORK}/idx_f{int(frac * 100)}"
        begin_query()
        t0 = time.monotonic()
        S.build_ivfadc_index(spark, d_f, idx_rebuilt)
        rebuild_sec = time.monotonic() - t0

        begin_query()
        truth = exact_top(vecs_f)
        appended = S.ann_ivfadc_search_indexed(spark, vecs_f, idx_appended).collect()
        rebuilt = S.ann_ivfadc_search_indexed(spark, vecs_f, idx_rebuilt).collect()
        row = {
            "append_frac": frac,
            "n_total": n + n_q + hi,
            "recall_appended": round(recall(appended, truth), 3),
            "recall_rebuilt": round(recall(rebuilt, truth), 3),
            "append_sec": round(append_sec, 1),
            "rebuild_sec": round(rebuild_sec, 1),
        }
        results.append(row)
        print(json.dumps(row), flush=True)
        prev, prev_dir = frac, d_f

    out = {
        "sf_dir": sf_dir,
        "n_corpus": n,
        "alpha": alpha,
        "top_k": top_k,
        "n_queries": n_q,
        "base_build_sec": round(base_build_sec, 1),
        "points": results,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=2)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
