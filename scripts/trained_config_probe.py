"""Do the SHIPPED serving configs separate on structured data? —
the v25-adoption evidence (r11).

scripts/residual_recall_probe.py (r10) established the REGIME:
residual encoding pays only with Lloyd-trained centroids at
n_cells > K, measured with its own inline pipeline.  This probe
measures the two configs the catalog actually SERVES — v22/v23's
untrained md5 quantizer at 16 cells vs v25/v26's one-Lloyd-iteration
quantizer at 64 cells — end-to-end through the registry's own
builders and batch-probe plan (`_trained_residual_serving`,
`_residual_batch_probe`), on a controlled clustered corpus (64
well-separated centers, the geometry IVF-PQ is built for; the
driver's isotropic synthetic embeddings put both arms at the noise
floor, the documented r10 caveat).  Truth = exact L2 top-k over the
indexed split for every held-out probe (`exact_l2_topk_arrow`).

Run:  python scripts/trained_config_probe.py [n_vectors] [--iters=1,2,5]
Prints one JSON line per arm:
  {"arm": ..., "recall_at_10": r, "probes": P, "wall_warm_s": w}

--iters (r12, VERDICT r11 item 5): additionally measure the trained
arm at each listed Lloyd iteration count — the recall-vs-iterations
knee table that picks `catalog._V25_ITERS`.  Each count trains and
serves its own tagged artifact set (`tr{i}`), so the arms never
share a layout; train wall (the extra assignment scans) is reported
separately from the warm serve wall.
"""

from __future__ import annotations

import json
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

_args = sys.argv[1:]
ITERS: list[int] = []
for _a in list(_args):
    if _a.startswith("--iters="):
        ITERS = [int(x) for x in _a.split("=", 1)[1].split(",")]
        _args.remove(_a)
N = int(_args[0]) if _args else 20000


def main() -> int:
    import numpy as np
    from pyspark.sql import functions as F

    from stampede_to_fresco_etl_spark import catalog as C
    from stampede_to_fresco_etl_spark.functions import md5_int63
    from stampede_to_fresco_etl_spark.operators.similarity import (
        exact_l2_topk_arrow,
    )
    from stampede_to_fresco_etl_spark.session import get_spark

    spark = get_spark(
        app_name="trained-config-probe", shuffle_partitions=32
    )
    dim = C._PQ_M * C._PQ_DIMS
    rng = np.random.default_rng(11)
    centers = rng.normal(0.0, 1.0, (64, dim))
    pts = centers[np.arange(N) % 64] + rng.normal(
        0.0, 0.05, (N, dim)
    )
    corpus_dir = tempfile.mkdtemp(prefix="trained_cfg_")
    spark.createDataFrame(
        [(int(i), [float(x) for x in pts[i]]) for i in range(N)],
        "vec_id long, embedding array<double>",
    ).repartition(8).write.parquet(f"{corpus_dir}/embeddings.parquet")

    emb = C.load(spark, corpus_dir, "embeddings")
    h = md5_int63("vec_id", salt=C.INGEST_SPLIT_SALT)
    idx = emb.filter(h < F.lit(C.INGEST_IDX_BOUND)).select(
        "vec_id", F.col("embedding").alias("cv")
    )
    probes = emb.filter(h >= F.lit(C.INGEST_IDX_BOUND))
    probe_rows = [
        (int(r["vec_id"]), [float(x) for x in r["embedding"]])
        for r in probes.limit(512).collect()
    ]
    truth: dict[int, set[int]] = {}
    for r in exact_l2_topk_arrow(
        idx, probe_rows, k=C._V19_TOPK
    ).collect():
        truth.setdefault(int(r["probe_id"]), set()).add(
            int(r["vec_id"])
        )
    probe_ids = set(truth)

    def run_arm(name, fn, train_s=None):
        fn(spark, corpus_dir).write.format("noop").mode(
            "overwrite"
        ).save()  # warm: artifact build charged here
        t0 = time.time()
        got: dict[int, set[int]] = {}
        for r in fn(spark, corpus_dir).collect():
            p = int(r["probe_id"])
            if p in probe_ids:
                got.setdefault(p, set()).add(int(r["vec_id"]))
        wall = round(time.time() - t0, 2)
        hits = sum(
            len(got.get(p, set()) & truth[p]) for p in probe_ids
        )
        rec = {
            "arm": name,
            "recall_at_10": round(
                hits / (len(probe_ids) * C._V19_TOPK), 4
            ),
            "probes": len(probe_ids),
            "wall_warm_s": wall,
        }
        if train_s is not None:
            rec["train_s"] = train_s
        print(json.dumps(rec), flush=True)

    arms = (
        ("residual_md5_16c", C.q_ivfpq_residual_batch_probe),
        ("residual_trained_64c", C.q_ivfpq_trained_batch_probe),
    )
    for name, fn in arms:
        run_arm(name, fn)

    # the knee sweep: train+serve the trained config at each listed
    # iteration count under its own tag, so layouts never collide
    base_iters, base_tag = C._V25_ITERS, C._V25_TAG
    for it in ITERS:
        C._V25_ITERS, C._V25_TAG = it, f"tr{it}"
        C._TRAINED_SERVING_CACHE.clear()
        t0 = time.time()
        # training cost in isolation: the centroid chain alone
        emb_idx = emb.filter(h < F.lit(C.INGEST_IDX_BOUND))
        C._trained_centroids(spark, emb_idx, corpus_dir, iters=it)
        train_s = round(time.time() - t0, 2)
        run_arm(
            f"residual_trained_64c_it{it}",
            C.q_ivfpq_trained_batch_probe,
            train_s=train_s,
        )
    C._V25_ITERS, C._V25_TAG = base_iters, base_tag
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
