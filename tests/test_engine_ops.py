"""Independent recompute checks for the r5b engine-surface operators:
the DuckDB oracles prove cross-engine SQL parity; these recompute the
same answers a THIRD way (pandas/numpy over the raw parquet) and pin
structural invariants the SQL comparison can't express (interval
contiguity, survivor uniqueness, median selection semantics)."""

from __future__ import annotations

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

from stampede_to_fresco_etl_spark.catalog import REGISTRY, load

SF = "/root/testdata/sf0.001"


def _events() -> pd.DataFrame:
    return duckdb.sql(
        f"SELECT * FROM read_parquet('{SF}/events.parquet')"
    ).df()


def test_exact_median_matches_python_recompute(spark):
    got = (
        REGISTRY["a16_exact_median"][0](spark, SF)
        .toPandas()
        .set_index("event_type")
    )
    ev = _events()
    ev["value_i"] = (ev["value"] * 10000.0).apply(
        lambda x: int(x // 1)
    )  # floor
    for et, grp in ev.groupby("event_type"):
        vals = sorted(grp["value_i"])
        n = len(vals)
        mid = (
            [vals[(n - 1) // 2]]
            if n % 2
            else [vals[n // 2 - 1], vals[n // 2]]
        )
        want = sum(mid) / (len(mid) * 10000.0)
        assert got.loc[et, "median_value"] == want
        assert got.loc[et, "n_rows"] == n


def test_upsert_latest_survivors(spark):
    got = REGISTRY["s19_upsert_latest"][0](spark, SF).toPandas()
    ev = _events()
    ev = ev[ev["user_id"].notna()]
    # exactly one survivor per live (user, type) key
    keys = got[["user_id", "event_type"]]
    assert not keys.duplicated().any()
    live = ev[["user_id", "event_type"]].drop_duplicates()
    assert len(got) == len(live)
    # each survivor is that key's max-(ts, event_id) row
    best = ev.sort_values(["ts", "event_id"]).groupby(
        ["user_id", "event_type"], as_index=False
    ).last()
    merged = got.merge(
        best, on=["user_id", "event_type"], suffixes=("", "_want")
    )
    assert len(merged) == len(got)
    assert (merged["event_id"] == merged["event_id_want"]).all()


def test_scd2_intervals_partition_the_timeline(spark):
    got = REGISTRY["t9_scd2_intervals"][0](spark, SF).toPandas()
    ev = _events()
    ev = ev[ev["user_id"].notna()]
    # run counts sum back to each user's event count
    per_user = got.groupby("user_id")["n_events"].sum()
    want = ev.groupby("user_id").size()
    assert per_user.sort_index().equals(want.sort_index())
    for uid, grp in got.groupby("user_id"):
        grp = grp.sort_values("valid_from").reset_index(drop=True)
        # exactly one open-ended current record per user, and it's last
        assert grp["valid_to"].isna().sum() == 1
        assert pd.isna(grp["valid_to"].iloc[-1])
        # contiguity: each interval closes where the next opens
        closed = grp.iloc[:-1]
        assert (
            closed["valid_to"].values
            == grp["valid_from"].iloc[1:].values
        ).all()
        # runs genuinely alternate: consecutive rows change type
        types = grp["event_type"].tolist()
        assert all(a != b for a, b in zip(types, types[1:]))


def test_interval_overlap_pairs_are_attributable(spark):
    """Every j10 pair is a same-user purchase/click with |Δt| inside
    the summed half-windows — recomputed from raw timestamps."""
    got = REGISTRY["j10_interval_overlap"][0](spark, SF).toPandas()
    ev = _events()
    p = ev[ev["event_type"] == "purchase"].set_index("event_id")
    c = ev[ev["event_type"] == "click"].set_index("event_id")
    assert len(got) > 0
    for r in got.itertuples():
        pr, cl = p.loc[r.purchase_id], c.loc[r.click_id]
        assert pr["user_id"] == cl["user_id"] == r.user_id
        # [p-1h, p+1h) x [c-30m, c+30m) overlap (exclusive ends)
        dt_s = abs((pr["ts"] - cl["ts"]).total_seconds())
        assert dt_s < 90 * 60

# Degenerate corpora for the queries whose session calibration is
# replayed as a literal `FROM VALUES` relation: w10/w11 (per-type
# median/MAD) and v14 (k-means iter-1 counts).  With no calibration
# rows the literal relation has no tuples, which does not parse; each
# query must instead return an empty result of the usual schema.


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    """A corpus whose events all carry a null `value` and whose
    embeddings table is empty (same schemas as the testdata)."""
    d = str(tmp_path_factory.mktemp("degenerate_sf"))
    load(spark, SF, "events").withColumn(
        "value", F.lit(None).cast("double")
    ).write.parquet(f"{d}/events.parquet")
    load(spark, SF, "embeddings").limit(0).write.parquet(
        f"{d}/embeddings.parquet"
    )
    return d


@pytest.mark.parametrize(
    "name", ["w10_mad_outliers", "w11_cusum_drift", "v14_kmeans_refine"]
)
def test_calibrated_query_on_degenerate_corpus_is_empty(
    spark, degenerate_sf, name
):
    fn, _sql = REGISTRY[name]
    out = fn(spark, degenerate_sf)
    assert out.collect() == []
    assert out.dtypes == fn(spark, SF).dtypes
