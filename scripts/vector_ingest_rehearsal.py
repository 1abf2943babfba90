"""10× rehearsal of the composed VECTOR ingest pipeline (VERDICT r9
item 5): fp-gate → ann growth → codes growth → derived-ivfpq
invalidation → re-derived serving, at sf0.1 AND sf1 — bootstrap
(80%) plus two steady waves of the SAME absolute size at both
scales.  If the steady-wave wall is flat while the indexed corpus
grows 10×, the per-batch cost is corpus-size-independent.  After the
waves the re-derived IVF-PQ layout is checked against source truth
(assignment ⋈ codes): every admitted NEW vector serves, every gated
duplicate payload is absent.

Run:  python scripts/vector_ingest_rehearsal.py [wave_vecs]
Prints one JSON line per scale:
  {"sf_dir": ..., "bootstrap_vecs": N, "bootstrap_s": w,
   "waves": [{"vecs": n, "wall_s": w, "admitted": a, "gated": g}...],
   "layout_rows": L, "layout_equals_sources": true}
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

# default sized to fit twice inside sf0.1's ~430-vector held-out set
WAVE_VECS = int(sys.argv[1]) if len(sys.argv) > 1 else 150
SF_DIRS = ("/root/testdata/sf0.1", "/root/repo/testdata_sf1")
TAG = "vecingest"
NEW_OFFSET = 10_000_000


def run_scale(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from stampede_to_fresco_etl_spark import index_store
    from stampede_to_fresco_etl_spark.catalog import (
        INGEST_IDX_BOUND,
        INGEST_SPLIT_SALT,
        load,
    )
    from stampede_to_fresco_etl_spark.functions import md5_int63
    from stampede_to_fresco_etl_spark.streaming.vector_ingest_pipeline import (  # noqa: E501
        apply_vector_ingest_batch,
        bootstrap_vector_fps,
    )

    work = Path(tempfile.mkdtemp(prefix="vec_ingest_"))
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    h = md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
    idx = emb.filter(h < F.lit(INGEST_IDX_BOUND))
    held = emb.filter(h >= F.lit(INGEST_IDX_BOUND))

    t0 = time.perf_counter()
    index_dir, cent_dir = index_store.ann_index_dirs(
        spark, sf_dir, idx, 16, tag=TAG
    )
    codes_dir, codebook_dir = index_store.pq_codes_index_dirs(
        spark, sf_dir, idx, tag=f"16c_{TAG}"
    )
    fp_dir = str(work / "vec_fps")
    bootstrap_vector_fps(spark, idx, fp_dir)
    n_idx = idx.count()
    bootstrap_s = round(time.perf_counter() - t0, 3)

    # two steady waves of the SAME absolute size at both scales:
    # the WAVE_VECS highest held-out ids per wave (bounded collect of
    # the two cut points), each wave half genuinely-new payloads and
    # half exact re-sends of indexed payloads under fresh ids
    top = [
        r["vec_id"]
        for r in held.select("vec_id")
        .orderBy(F.col("vec_id").desc())
        .limit(2 * WAVE_VECS)
        .collect()
    ]
    w_mid, w_lo = top[WAVE_VECS - 1], top[2 * WAVE_VECS - 1]
    new_slices = [
        held.filter(F.col("vec_id") >= w_mid),
        held.filter(
            (F.col("vec_id") >= w_lo) & (F.col("vec_id") < w_mid)
        ),
    ]
    dup_src = idx.orderBy("vec_id").limit(WAVE_VECS)
    waves = []
    report_waves = []
    for i, new_slice in enumerate(new_slices, start=1):
        wave = new_slice.select(
            (F.col("vec_id") + NEW_OFFSET).alias("vec_id"), "embedding"
        ).unionByName(
            dup_src.select(
                (F.col("vec_id") + i * 100_000_000).alias("vec_id"),
                "embedding",
            )
        )
        n_wave = wave.count()
        before = index_store.read_ann_index(spark, index_dir).count()
        t0 = time.perf_counter()
        apply_vector_ingest_batch(
            spark,
            wave,
            i,
            fp_dir,
            index_dir,
            str(work / "matches"),
            cent_dir,
            codes_dir,
            codebook_dir,
            n_centroids=16,
        )
        wall = round(time.perf_counter() - t0, 3)
        after = index_store.read_ann_index(spark, index_dir).count()
        report_waves.append(
            {
                "vecs": n_wave,
                "wall_s": wall,
                "admitted": after - before,
                "gated": n_wave - (after - before),
            }
        )
        waves.append(wave)

    # re-derived serving layout ≡ source truth (assignment ⋈ codes)
    grown = index_store.read_ann_index(spark, index_dir)
    codes = index_store.read_pq_codes(spark, codes_dir).select(
        "vec_id", "code0", "code1", "code2", "code3"
    )
    serving = index_store.ivfpq_dir(
        spark, sf_dir, grown, codes, n_centroids=16, tag=TAG
    )
    layout = index_store.read_ivfpq(spark, serving)
    layout_rows = layout.count()
    src_rows = grown.join(codes, "vec_id").count()
    new_served = layout.filter(
        (F.col("vec_id") >= NEW_OFFSET)
        & (F.col("vec_id") < 100_000_000)
    ).count()
    expect_new = sum(w["admitted"] for w in report_waves)
    equals = (
        layout_rows == src_rows == n_idx + expect_new
        and new_served == expect_new
        and layout.filter(F.col("vec_id") >= 100_000_000).count() == 0
    )
    shutil.rmtree(work, ignore_errors=True)
    return {
        "sf_dir": sf_dir,
        "bootstrap_vecs": n_idx,
        "bootstrap_s": bootstrap_s,
        "waves": report_waves,
        "layout_rows": layout_rows,
        "layout_equals_sources": equals,
    }


def main() -> int:
    from stampede_to_fresco_etl_spark.session import get_spark

    spark = get_spark(
        app_name="vector-ingest-rehearsal", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")
    for sf_dir in SF_DIRS:
        print(json.dumps(run_scale(spark, sf_dir)), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
