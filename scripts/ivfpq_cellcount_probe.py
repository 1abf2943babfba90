"""IVF-PQ serving probe vs cell count — the inverse-scaling check.

The v19 serving layout is parquet partitioned BY CELL; a probe scans
n_probe cells' partitions.  Growing the cell count should SHRINK the
per-probe scan (each inverted list holds n_probe/n_cells of the
corpus); at small corpora the WALL is per-call overhead-bound, so
the script reports both the 3-run wall bracket and the rows scanned
behind the partition filter — the quantity that is the cost at 10⁹
vectors.  Artifact builds (the ann assignment at each cell count,
the ivfpq join) are charged to an untimed warm call, as in
scripts/rehearse.py.

Run:  python scripts/ivfpq_cellcount_probe.py [sf_dir] [cells ...]
Default: /root/repo/testdata_sf1 at 16 and 64 cells.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)


def main() -> int:
    from pyspark.sql import functions as F

    from stampede_to_fresco_etl_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/testdata_sf1"
    cells = [int(a) for a in sys.argv[2:]] or [16, 64]
    spark = get_spark(
        app_name="ivfpq-cellcount-probe", shuffle_partitions=32
    )
    from stampede_to_fresco_etl_spark import index_store
    from stampede_to_fresco_etl_spark.catalog import (
        _V17_PROBES,
        _V19_NPROBE,
        INGEST_IDX_BOUND,
        INGEST_SPLIT_SALT,
        _ivfpq_probe_cells,
        _ivfpq_topk,
        load,
    )
    from stampede_to_fresco_etl_spark.functions import md5_int63

    for n in cells:
        df = _ivfpq_topk(spark, sf_dir, n, _V19_NPROBE)
        df.write.format("noop").mode("overwrite").save()  # warm + build
        walls = []
        for _ in range(3):
            t0 = time.monotonic()
            _ivfpq_topk(spark, sf_dir, n, _V19_NPROBE).write.format(
                "noop"
            ).mode("overwrite").save()
            walls.append(time.monotonic() - t0)
        walls.sort()
        # the quantity that scales: candidate rows actually scanned
        # behind the partition filter, via the SAME routing helper
        # the query runs
        serving = index_store.read_ivfpq(
            spark, index_store.ivfpq_path(sf_dir, n)
        )
        total = serving.count()
        emb = load(spark, sf_dir, "embeddings")
        idx = emb.filter(
            md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
            < F.lit(INGEST_IDX_BOUND)
        )
        _i, cent_dir = index_store.ann_index_dirs(spark, sf_dir, idx, n)
        cells_of = _ivfpq_probe_cells(spark, emb, cent_dir, _V19_NPROBE)
        probe_cells = sorted(
            {c for cs in cells_of.values() for c in cs}
        )
        per_cell = {
            r["cell"]: r["n"]
            for r in serving.groupBy("cell")
            .agg(F.count("*").alias("n"))
            .collect()
        }
        scanned = sum(
            per_cell.get(c, 0)
            for cs in cells_of.values()
            for c in cs
        )
        print(
            f"cells={n:4d} n_probe={_V19_NPROBE}: "
            f"median {walls[1]:.2f}s (runs {[round(w, 2) for w in walls]}), "
            f"rows scanned {scanned}/{total} "
            f"({100.0 * scanned / (total or 1):.1f}% of corpus across "
            f"{_V17_PROBES} probes; cells probed {probe_cells})"
        )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
