"""Batch ≡ stream on the SHARED stored-index artifact (VERDICT r7
item 5): the d15/v16 catalog queries materialize their index as the
same parquet layout the streaming twins grow, so a daemon pointed at
the batch-built artifact must produce exactly the batch query's
matches — and the artifact a stream bootstraps must serve the batch
probe kernels unchanged."""

from __future__ import annotations

import glob
import shutil
import sys
import threading
from types import SimpleNamespace

from pyspark.sql import functions as F

from stampede_to_fresco_etl_spark import catalog, index_store
from stampede_to_fresco_etl_spark.catalog import (
    INGEST_IDX_BOUND,
    INGEST_SPLIT_SALT,
    MINHASH_BANDS,
    MINHASH_K,
    REGISTRY,
    V16_CENTROIDS,
    V16_NPROBE,
    load,
)
from stampede_to_fresco_etl_spark.functions import md5_int63
from stampede_to_fresco_etl_spark.operators.similarity import (
    ivf_probe_stored,
)
from stampede_to_fresco_etl_spark.streaming.ann_stream import (
    apply_ann_batch,
)
from stampede_to_fresco_etl_spark.streaming.dedup_stream import (
    apply_dedup_batch,
)

SF = "/root/testdata/sf0.001"


def _split(df, id_col):
    h = md5_int63(id_col, salt=INGEST_SPLIT_SALT)
    return (
        df.filter(h < F.lit(INGEST_IDX_BOUND)),
        df.filter(h >= F.lit(INGEST_IDX_BOUND)),
    )


def test_dedup_stream_on_batch_built_artifact(spark, tmp_path):
    """Run d15 (which materializes the band-table artifact), copy the
    artifact, and feed the SAME 20% batch through the streaming
    foreachBatch body pointed at the copy: the stream's index-kind
    matches must equal the batch query's rows exactly."""
    fn, _sql = REGISTRY["d15_incremental_dedup"]
    batch_rows = {
        (r["new_doc"], r["indexed_doc"], round(r["est_jaccard"], 9))
        for r in fn(spark, SF).collect()
    }

    src = (
        f"{index_store._scratch()}/index_store/dedup/"
        f"{index_store._key(SF)}"
    )
    idx_dir = str(tmp_path / "index")
    shutil.copytree(src, idx_dir)
    matches_dir = str(tmp_path / "matches")

    docs = load(spark, SF, "documents")
    _idx, new = _split(docs, "doc_id")
    apply_dedup_batch(
        spark,
        new.select("doc_id", "text"),
        batch_id=1,
        index_dir=idx_dir,
        matches_dir=matches_dir,
        num_hashes=MINHASH_K,
        bands=MINHASH_BANDS,
    )
    stream_rows = {
        (r["new_doc"], r["matched_doc"], round(r["est_jaccard"], 9))
        for r in spark.read.parquet(matches_dir)
        .filter(F.col("kind") == "index")
        .collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0
    # ... and the stream appended the batch's own signatures beside
    # the snapshot bootstrap, same band-table schema
    idx = spark.read.parquet(idx_dir)
    assert set(idx.select("batch_id").distinct().toPandas()["batch_id"]) == {
        0,
        1,
    }
    boot = spark.read.parquet(f"{src}/batch_id=0")
    assert [f.name for f in idx.drop("batch_id").schema.fields] == [
        f.name for f in boot.schema.fields
    ]


def test_ann_stream_on_batch_built_artifact(spark, tmp_path):
    """Same contract on the vector side: v16 materializes centroid +
    assignment parquet; the ann_stream body pointed at a copy must
    reproduce v16's matches row-for-row (shared `ivf_probe_stored`
    kernel), and v16's probe over the STREAM-grown index must see the
    appended batch."""
    fn, _sql = REGISTRY["v16_incremental_ann"]
    batch_rows = {
        (r["new_id"], r["indexed_id"], round(r["cos_sim"], 9))
        for r in fn(spark, SF).collect()
    }

    base = (
        f"{index_store._scratch()}/index_store/ann/{index_store._key(SF)}_16c"
    )
    idx_dir = str(tmp_path / "index")
    cent_dir = str(tmp_path / "centroids")
    shutil.copytree(f"{base}/index", idx_dir)
    shutil.copytree(f"{base}/centroids", cent_dir)
    matches_dir = str(tmp_path / "matches")

    emb = load(spark, SF, "embeddings")
    _idx, new = _split(emb, "vec_id")
    apply_ann_batch(
        spark,
        new.select("vec_id", "embedding"),
        batch_id=1,
        index_dir=idx_dir,
        matches_dir=matches_dir,
        centroids_dir=cent_dir,
        n_centroids=V16_CENTROIDS,
        n_probe=V16_NPROBE,
    )
    stream_rows = {
        (r["new_id"], r["indexed_id"], round(r["cos_sim"], 9))
        for r in spark.read.parquet(matches_dir).collect()
    }
    assert stream_rows == batch_rows
    assert len(batch_rows) > 0

    # batch probe over the STREAM-GROWN artifact: each probed vector
    # now collides with its own appended index row (cos_sim = 1.0)
    grown = index_store.read_ann_index(spark, idx_dir)
    cents = index_store.read_ann_centroids(spark, cent_dir)
    probes = new.select(F.col("vec_id").alias("new_id"), "embedding")
    top = ivf_probe_stored(
        grown,
        cents,
        probes,
        probe_id_col="new_id",
        k=1,
        n_probe=V16_NPROBE,
        broadcast_probes=False,
    )
    self_hits = top.filter(F.col("vec_id") == F.col("new_id")).count()
    assert self_hits == probes.count()


def test_artifact_isolation_and_fresh_overwrite(spark, tmp_path):
    """Two sf_dirs in one session must get DISTINCT artifacts, and a
    'fresh session' (no materialized flag) must overwrite a stale
    on-disk artifact — the regenerated-testdata contract."""
    docs_a = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    docs_b = spark.createDataFrame(
        [(3, "gamma"), (4, "delta"), (5, "gamma")],
        "doc_id long, text string",
    )
    key_a = str(tmp_path / "corpus_a")
    key_b = str(tmp_path / "corpus_b")
    p_a = index_store.exact_fp_dir(spark, key_a, docs_a)
    p_b = index_store.exact_fp_dir(spark, key_b, docs_b)
    assert p_a != p_b
    assert index_store.read_exact_fp(spark, p_a).count() == 2
    assert index_store.read_exact_fp(spark, p_b).count() == 2  # gamma x2

    # same key again in-session: reuse, NOT rebuild (content pinned
    # to the first build even though we pass different docs)
    p_a2 = index_store.exact_fp_dir(spark, key_a, docs_b)
    assert p_a2 == p_a
    assert index_store.read_exact_fp(spark, p_a).count() == 2

    # simulate a fresh session: clear the flag -> next touch rebuilds
    # from the new corpus (overwrite, no stale leak)
    index_store._MATERIALIZED.pop(
        (spark.sparkContext.applicationId, p_a)
    )
    index_store.exact_fp_dir(spark, key_a, docs_b)
    fps = {
        r["fp"]: r["n_docs"]
        for r in index_store.read_exact_fp(spark, p_a).collect()
    }
    assert len(fps) == 2 and 2 in fps.values()  # gamma twice


def test_failed_build_does_not_mark_materialized(spark, tmp_path):
    """A build that throws must NOT set the session flag: the next
    call must build for real instead of probing a missing artifact
    (ADVICE r8)."""
    import pytest

    key = str(tmp_path / "corpus_fail")
    bad = spark.createDataFrame([(1,)], "doc_id long")  # no text col
    with pytest.raises(Exception):
        index_store.exact_fp_dir(spark, key, bad)
    good = spark.createDataFrame(
        [(1, "alpha")], "doc_id long, text string"
    )
    path = index_store.exact_fp_dir(spark, key, good)
    assert index_store.read_exact_fp(spark, path).count() == 1


def _grow_dedup(spark, tmp_path, docs):
    idx = str(tmp_path / "idx")
    matches = str(tmp_path / "m")
    for i in range(3):
        apply_dedup_batch(
            spark,
            docs.filter(F.col("doc_id") % 3 == i),
            i,
            idx,
            matches,
            num_hashes=MINHASH_K,
            bands=MINHASH_BANDS,
        )
    return idx, lambda: {
        tuple(r)
        for r in spark.read.option("basePath", idx)
        .parquet(idx)
        .drop("batch_id")
        .collect()
    }


def _grow_ann(spark, tmp_path, _docs):
    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    idx = str(tmp_path / "idx")
    matches = str(tmp_path / "m")
    cents = str(tmp_path / "c")
    for i in range(3):
        apply_ann_batch(
            spark,
            emb.filter(F.col("vec_id") % 3 == i),
            i,
            idx,
            matches,
            cents,
            n_centroids=V16_CENTROIDS,
            n_probe=V16_NPROBE,
        )
    return idx, lambda: {
        (r["vec_id"], tuple(r["v"]), r["cell"])
        for r in index_store.read_ann_index(spark, idx).collect()
    }


def _grow_exact_fp(spark, tmp_path, docs):
    from stampede_to_fresco_etl_spark.streaming.exact_fp_stream import (
        apply_exact_fp_batch,
    )

    idx = str(tmp_path / "fps")
    for i in range(3):
        apply_exact_fp_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), i, idx
        )
    return idx, lambda: {
        (r["fp"], r["n_docs"])
        for r in index_store.read_exact_fp(spark, idx).collect()
    }


def _grow_pq_codes(spark, tmp_path, _docs):
    from stampede_to_fresco_etl_spark.streaming.pq_codes_stream import (
        apply_pq_codes_batch,
    )

    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    codes = str(tmp_path / "codes")
    book = str(tmp_path / "codebook")
    for i in range(3):
        apply_pq_codes_batch(
            spark, emb.filter(F.col("vec_id") % 3 == i), i, codes, book
        )
    return codes, lambda: {
        tuple(r)
        for r in index_store.read_pq_codes(spark, codes).collect()
    }


import pytest  # noqa: E402


def _grow_text_postings(spark, tmp_path, docs):
    from stampede_to_fresco_etl_spark.streaming.text_index_stream import (
        apply_text_index_batch,
    )

    postings = str(tmp_path / "postings")
    doclen = str(tmp_path / "doclen")
    for i in range(3):
        apply_text_index_batch(
            spark, docs.filter(F.col("doc_id") % 3 == i), i,
            postings, doclen,
        )
    return postings, lambda: {
        (r["token"], r["doc_id"], r["tf"])
        for r in spark.read.option("basePath", postings)
        .parquet(postings)
        .select("token", "doc_id", "tf")
        .collect()
    }


@pytest.mark.parametrize(
    "grow",
    [_grow_dedup, _grow_ann, _grow_exact_fp, _grow_pq_codes,
     _grow_text_postings],
    ids=["dedup_bands", "ann_index", "exact_fp", "pq_codes",
         "text_postings"],
)
def test_compact_index_all_artifact_families(spark, tmp_path, grow):
    """grow (3 stream batches) -> compact -> probe-visible content
    identical, one batch_id=0 partition left — for each stored-index
    family (their layouts differ: band rows vs (vec_id, v, cell) vs
    (fp, n_docs))."""
    docs = load(spark, SF, "documents").select("doc_id", "text")
    path, read = grow(spark, tmp_path, docs)
    before = read()
    index_store.compact_index(spark, path)
    after = read()
    assert before == after and len(after) > 0
    bids = (
        spark.read.option("basePath", path)
        .parquet(path)
        .select("batch_id")
        .distinct()
        .collect()
    )
    assert [r["batch_id"] for r in bids] == [0]


def test_ivfpq_serving_artifact_and_cell_restriction(spark):
    """v19's serving artifact is the FAISS layout: one row per
    INDEXED vector (assignment ⋈ codes), parquet-partitioned by
    cell — and every search hit comes from its probe's n_probe
    nearest cells, with the ADC score v17 assigns to the same
    (probe, vec) pair on the unrestricted full-corpus scan."""
    import os

    from stampede_to_fresco_etl_spark.catalog import (
        _V17_PROBES,
        _V19_NPROBE,
        V16_CENTROIDS,
        q_ivfpq_topk,
        q_pq_adc_topk,
    )
    from stampede_to_fresco_etl_spark.operators.similarity import (
        _nearest_cells,
        _sqdist,
        _with_centroid_col,
        as_double_vec,
    )

    out = q_ivfpq_topk(spark, SF).collect()
    assert len(out) > 0

    # artifact shape: cell=N directories, one row per indexed vector
    path = index_store.ivfpq_path(SF, 16)
    cells_on_disk = [d for d in os.listdir(path) if d.startswith("cell=")]
    assert 1 <= len(cells_on_disk) <= V16_CENTROIDS
    emb = load(spark, SF, "embeddings")
    idx, _new = _split(emb, "vec_id")
    serving = index_store.read_ivfpq(spark, path)
    assert serving.count() == idx.count()
    assert serving.select("vec_id").distinct().count() == idx.count()

    # every hit's vector sits in one of its probe's n_probe cells
    _idx_dir, cent_dir = index_store.ann_index_dirs(
        spark, SF, idx, V16_CENTROIDS
    )
    cents = index_store.read_ann_centroids(spark, cent_dir)
    probes = emb.filter(F.col("vec_id") < _V17_PROBES).select(
        "vec_id", as_double_vec("embedding").alias("pv")
    )
    pc = (
        _with_centroid_col(probes, cents)
        .withColumn(
            "d",
            F.transform(
                F.col("__cents"), lambda c: _sqdist(F.col("pv"), c)
            ),
        )
        .select(
            "vec_id",
            F.explode(_nearest_cells("pv", "d", _V19_NPROBE)).alias("cell"),
        )
        .collect()
    )
    probe_cells = {}
    for r in pc:
        probe_cells.setdefault(int(r["vec_id"]), set()).add(int(r["cell"]))
    vec_cell = {
        int(r["vec_id"]): int(r["cell"])
        for r in serving.select("vec_id", "cell").collect()
    }
    for r in out:
        assert vec_cell[int(r["vec_id"])] in probe_cells[int(r["probe_id"])]

    # ADC scores agree with v17's unrestricted scan on shared pairs
    full = {
        (int(r["probe_id"]), int(r["vec_id"])): r["adc_dist"]
        for r in q_pq_adc_topk(spark, SF).collect()
    }
    shared = 0
    for r in out:
        k = (int(r["probe_id"]), int(r["vec_id"]))
        if k in full:
            assert r["adc_dist"] == full[k]
            shared += 1
    assert shared > 0


def test_maintenance_invalidates_derived_ivfpq(spark):
    """A maintenance pass over a SOURCE artifact (here: compacting
    the PQ codes) must clear the derived ivfpq layout's session flag
    so the next search re-derives it — a session-cached join of the
    old sources would serve stale inverted lists.  Compaction is
    content-preserving, so the re-derived probe must return exactly
    the pre-maintenance rows."""
    from stampede_to_fresco_etl_spark.catalog import q_ivfpq_topk

    out1 = sorted(tuple(r) for r in q_ivfpq_topk(spark, SF).collect())
    ivfpq_path = index_store.ivfpq_path(SF, 16)
    codes_path = (
        f"{index_store._scratch()}/index_store/pq_codes/"
        f"{index_store._key(SF)}"
    )
    assert index_store._already_materialized(spark, ivfpq_path)
    index_store.compact_index(spark, codes_path)
    assert not index_store._already_materialized(spark, ivfpq_path)
    out2 = sorted(tuple(r) for r in q_ivfpq_topk(spark, SF).collect())
    assert out1 == out2 and len(out2) > 0
    assert index_store._already_materialized(spark, ivfpq_path)

    # the ANN-source and stream-growth paths ride the same hook:
    # both source families map to the same derived key
    ann_index_dir = (
        f"{index_store._scratch()}/index_store/ann/"
        f"{index_store._key(SF)}_16c/index"
    )
    index_store._invalidate_derived(spark, ann_index_dir)
    assert not index_store._already_materialized(spark, ivfpq_path)


def test_ivfpq_restricted_never_beats_full_adc(spark):
    """Search-quality invariant tying the two ADC consumers together:
    v19 scores the SAME codes with the SAME LUTs as v17 but only
    inside each probe's n_probe cells, so per probe its best (lowest)
    ADC distance can never beat v17's full-corpus best, and every
    v19 hit present in v17's top-k carries an identical score."""
    from stampede_to_fresco_etl_spark.catalog import (
        q_ivfpq_topk,
        q_pq_adc_topk,
    )

    best19: dict[int, float] = {}
    for r in q_ivfpq_topk(spark, SF).collect():
        p, d = int(r["probe_id"]), float(r["adc_dist"])
        best19[p] = min(d, best19.get(p, float("inf")))
    best17: dict[int, float] = {}
    for r in q_pq_adc_topk(spark, SF).collect():
        p, d = int(r["probe_id"]), float(r["adc_dist"])
        best17[p] = min(d, best17.get(p, float("inf")))
    assert set(best19) <= set(best17) and len(best19) > 0
    for p, d in best19.items():
        assert d >= best17[p]


def test_fresh_session_rebuild_clears_stale_grown_partitions(spark):
    """A NEW session's snapshot rebuild must not leave a prior
    session's daemon-grown ``batch_id>=1`` partitions beside the
    fresh ``batch_id=0`` (the cross-session leak `_fresh_dir`
    exists to prevent): simulate the old session by injecting a
    stale partition and clearing the session flag."""
    docs = load(spark, SF, "documents").select("doc_id", "text")
    idx, _new = _split(docs, "doc_id")
    path = index_store.exact_fp_dir(spark, SF, idx)
    canonical = sorted(
        map(tuple, index_store.read_exact_fp(spark, path).collect())
    )

    # "prior session's daemon" grew a partition; then the session
    # ended (flag gone) and the corpus was regenerated
    spark.createDataFrame(
        [("deadbeef", 7)], "fp string, n_docs long"
    ).write.mode("overwrite").parquet(f"{path}/batch_id=99")
    index_store._MATERIALIZED.pop(
        (spark.sparkContext.applicationId, path), None
    )

    path2 = index_store.exact_fp_dir(spark, SF, idx)
    rebuilt = sorted(
        map(tuple, index_store.read_exact_fp(spark, path2).collect())
    )
    assert path2 == path and rebuilt == canonical
    assert ("deadbeef", 7) not in rebuilt


def test_ivfpq_grown_serving_holds_snapshot_plus_wave(spark):
    """v20's lifecycle: the tagged grown index = 80% snapshot + the
    deterministic ingest wave, the shared v19 artifact is untouched,
    and shared (probe, vec) hits score identically across the two
    servings (same codes, same LUTs)."""
    from pyspark.sql import functions as F2

    from stampede_to_fresco_etl_spark.catalog import (
        INGEST_IDX_BOUND,
        INGEST_SPLIT_SALT,
        q_ivfpq_grown_probe,
        q_ivfpq_topk,
    )

    out20 = q_ivfpq_grown_probe(spark, SF).collect()
    assert len(out20) > 0

    emb = load(spark, SF, "embeddings")
    h = md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
    idx_n = emb.filter(h < F2.lit(INGEST_IDX_BOUND)).count()
    wave_n = emb.filter(
        (h >= F2.lit(INGEST_IDX_BOUND)) & (F2.col("vec_id") % 3 == 0)
    ).count()
    grown = index_store.read_ivfpq(
        spark, index_store.ivfpq_path(SF, 16, "grown")
    )
    assert grown.count() == idx_n + wave_n
    snap = index_store.read_ivfpq(spark, index_store.ivfpq_path(SF, 16))
    assert snap.count() == idx_n  # v19's artifact untouched by growth

    by_pair20 = {
        (int(r["probe_id"]), int(r["vec_id"])): r["adc_dist"]
        for r in out20
    }
    shared = 0
    for r in q_ivfpq_topk(spark, SF).collect():
        k = (int(r["probe_id"]), int(r["vec_id"]))
        if k in by_pair20:
            assert r["adc_dist"] == by_pair20[k]
            shared += 1
    assert shared > 0


def test_ivfpq_batch_probe_shape_and_plan(spark):
    """v21 (VERDICT r9 item 2): the ingest-batch shape lands on the
    composed IVF-PQ artifact as ONE declarative plan — a cell
    equi-join against the cell-partitioned inverted lists, never a
    driver-side per-probe loop.  Canaries: the layout scan is pruned
    to the batch's probed cells (PartitionFilters literals), the
    join is keyed on the partition column, and no cartesian /
    nested-loop join sneaks in (the per-probe LUT columns ride the
    join as attributes, so a plan change that re-evaluates them per
    candidate pair would also surface here as a join-shape change).
    Values are driver-gated by the v21 oracle; here we pin shape,
    plan, and determinism."""
    import contextlib
    import io

    from stampede_to_fresco_etl_spark import catalog
    from stampede_to_fresco_etl_spark.catalog import (
        _V19_TOPK,
        q_ivfpq_batch_probe,
    )

    # fresh construct for the plan canary (r13 probe-plan memo)
    catalog._PROBE_PLAN_CACHE.clear()
    df = q_ivfpq_batch_probe(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the inverted-list scan is directory-pruned to the probed cells
    # at RUNTIME: dynamic partition pruning off the cell join (r10 —
    # replaced the distinct-cells pre-collect, which re-executed the
    # whole routing plan).  If DPP stopped firing the plan would
    # silently degrade to a full-layout scan; this line is the guard.
    assert "PartitionFilters" in plan and "cell" in plan
    assert "dynamicpruning" in plan.lower()
    # the serving join is the cell equi-join (either shuffle or
    # broadcast strategy is acceptable; both materialize the probe
    # side's LUT columns at the exchange boundary)
    assert any(
        j in plan
        for j in (
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastHashJoin",
        )
    )

    out = df.collect()
    assert len(out) > 0
    per_probe = {}
    for r in out:
        per_probe.setdefault(int(r["probe_id"]), []).append(r)
    # every probe is a held-out vector and gets at most top-k hits
    emb = load(spark, SF, "embeddings")
    h = md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
    held = {
        int(r["vec_id"])
        for r in emb.filter(h >= F.lit(INGEST_IDX_BOUND))
        .select("vec_id")
        .collect()
    }
    assert set(per_probe) <= held and len(per_probe) == len(held)
    for rows in per_probe.values():
        assert 1 <= len(rows) <= _V19_TOPK
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)

    # deterministic: a second run returns the identical result
    again = sorted(tuple(r) for r in q_ivfpq_batch_probe(spark, SF).collect())
    assert sorted(tuple(r) for r in out) == again


# ---------------------------------------------------------------------------
# Tombstone deletes (r10): the lifecycle verb grow/fold/refresh was
# missing.  Logical phase: `apply_deletes_batch` lands keys as a
# replay-idempotent tombstone partition and probes hide them via
# `anti_tombstones`.  Physical phase: `compact_index(tombstone_keys=
# ...)` drops the rows at the fold and clears the set.  The two
# phases must be probe-equivalent.
# ---------------------------------------------------------------------------


def _fp_deletes(spark, docs):
    return docs.filter(F.col("doc_id") % 5 == 0).select(
        F.md5("text").alias("fp")
    )


def _vec_deletes(spark, _docs):
    return (
        load(spark, SF, "embeddings")
        .filter(F.col("vec_id") % 5 == 0)
        .select("vec_id")
    )


def _read_fp_df(spark, path):
    return index_store.read_exact_fp(spark, path)


def _read_ann_df(spark, path):
    return index_store.read_ann_index(spark, path).withColumn(
        "v", F.col("v").cast("string")
    )


def _read_codes_df(spark, path):
    return index_store.read_pq_codes(spark, path)


def _docid_deletes(spark, docs):
    return docs.filter(F.col("doc_id") % 5 == 0).select("doc_id")


def _doc_deletes(spark, docs):
    return docs.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("doc")
    )


def _read_postings_df(spark, path):
    return (
        spark.read.option("basePath", path)
        .parquet(path)
        .select("token", "doc_id", "tf")
    )


def _read_bands_df(spark, path):
    return (
        spark.read.option("basePath", path)
        .parquet(path)
        .drop("batch_id")
    )


@pytest.mark.parametrize(
    "grow,key_cols,deletes,read_df",
    [
        (_grow_exact_fp, ["fp"], _fp_deletes, _read_fp_df),
        (_grow_ann, ["vec_id"], _vec_deletes, _read_ann_df),
        (_grow_pq_codes, ["vec_id"], _vec_deletes, _read_codes_df),
        # text postings (VERDICT r10 item 3: the family was absent
        # from this parametrization) — doc_id-keyed tombstones over
        # the token_bucket-partitioned layout, whose inner dirs the
        # compaction fold must preserve while erasing
        (
            _grow_text_postings,
            ["doc_id"],
            _docid_deletes,
            _read_postings_df,
        ),
        # dedup bands (r11: the last family missing from this
        # parametrization) — doc-keyed tombstones over band rows
        (_grow_dedup, ["doc"], _doc_deletes, _read_bands_df),
    ],
    ids=[
        "exact_fp", "ann_index", "pq_codes", "text_postings",
        "dedup_bands",
    ],
)
def test_tombstone_hide_equals_erase(
    spark, tmp_path, grow, key_cols, deletes, read_df
):
    """grow -> tombstone a deterministic takedown set -> the
    anti-joined (logical) probe view excludes exactly the deleted
    keys; compact-with-tombstones then makes that view PHYSICAL
    (rows gone from the artifact, tombstone dir cleared) without
    changing probe-visible content.  All comparisons go through the
    family's own aggregate reader: for exact_fp a duplicate text can
    span grow batches, so raw rows are not comparable pre/post fold."""
    docs = load(spark, SF, "documents").select("doc_id", "text")
    path, _read = grow(spark, tmp_path, docs)

    def snap(df):
        cols = df.columns
        return {tuple(r[c] for c in cols) for r in df.collect()}

    full = snap(read_df(spark, path))
    del_df = deletes(spark, docs)
    del_keys = {
        tuple(r[c] for c in key_cols) for r in del_df.collect()
    }
    assert del_keys  # the takedown set is non-empty at this sf

    index_store.apply_deletes_batch(spark, path, del_df, 10)

    key_idx = [read_df(spark, path).columns.index(c) for c in key_cols]
    # re-select the reader's column order: the anti-join moves its
    # key columns first, which would scramble the tuple comparison
    logical = snap(
        index_store.anti_tombstones(
            spark, read_df(spark, path), path, key_cols
        ).select(*read_df(spark, path).columns)
    )
    expect = {
        t
        for t in full
        if tuple(t[i] for i in key_idx) not in del_keys
    }
    assert logical == expect and len(logical) < len(full)

    index_store.compact_index(spark, path, tombstone_keys=key_cols)
    # physically gone: the RAW read (no anti-join) matches the
    # logical view, and no tombstones remain
    assert snap(read_df(spark, path)) == expect
    assert index_store.read_tombstones(spark, path) is None
    import os

    assert not os.path.exists(index_store.tombstone_dir(path))


def test_tombstone_replay_and_accretion(spark, tmp_path):
    """Replaying a delete batch converges (per-batch overwrite);
    distinct delete batches accrete (the set is the union)."""
    docs = load(spark, SF, "documents").select("doc_id", "text")
    path, _read = _grow_exact_fp(spark, tmp_path, docs)
    d1 = docs.filter(F.col("doc_id") % 5 == 0).select(
        F.md5("text").alias("fp")
    )
    d2 = docs.filter(F.col("doc_id") % 7 == 0).select(
        F.md5("text").alias("fp")
    )
    index_store.apply_deletes_batch(spark, path, d1, 10)
    once = {
        r["fp"] for r in index_store.read_tombstones(spark, path).collect()
    }
    index_store.apply_deletes_batch(spark, path, d1, 10)  # replay
    again = {
        r["fp"] for r in index_store.read_tombstones(spark, path).collect()
    }
    assert once == again
    index_store.apply_deletes_batch(spark, path, d2, 11)
    both = {
        r["fp"] for r in index_store.read_tombstones(spark, path).collect()
    }
    assert both == once | {r["fp"] for r in d2.collect()}


def test_tombstone_delete_invalidates_derived_ivfpq(spark):
    """A delete against a SOURCE artifact (the catalog-scratch ann
    index) must clear the session flag of the derived IVF-PQ layout
    immediately — serving may not return a deleted vector until
    compaction, so the next probe has to re-derive."""
    from stampede_to_fresco_etl_spark.catalog import (
        q_ivfpq_residual_topk,
        q_ivfpq_topk,
    )

    q_ivfpq_topk(spark, SF).collect()  # materialize sources + layout
    # the residual layout derives from the SAME untagged sources, so
    # the delete must clear it too (r10: the `_16c_res` tag escaped
    # the original `_<n>c`-anchored invalidation match)
    q_ivfpq_residual_topk(spark, SF).collect()
    app = spark.sparkContext.applicationId
    ann_base = (
        f"{index_store._scratch()}/index_store/ann/"
        f"{index_store._key(SF)}_{V16_CENTROIDS}c"
    )
    derived = [
        k
        for k in index_store._MATERIALIZED
        if k[0] == app and "/index_store/ivfpq/" in k[1]
    ]
    assert derived, "layout should be session-materialized"
    assert any(
        k[1].rstrip("/").endswith("_res") for k in derived
    ), "residual layout should be among the derived"
    empty = spark.createDataFrame([(int(-1),)], "vec_id long")
    index_store.apply_deletes_batch(
        spark, f"{ann_base}/index", empty, 99
    )
    still = [k for k in derived if k in index_store._MATERIALIZED]
    assert not still, "delete must invalidate the derived layout"
    # clean up the tombstone so later ivfpq consumers in this session
    # (v19/v20/v21 queries, other tests) see the artifact undeleted
    import shutil as _sh

    _sh.rmtree(
        index_store.tombstone_dir(f"{ann_base}/index"),
        ignore_errors=True,
    )


def test_residual_batch_probe_shape_and_plan(spark):
    """v23: v21's one-declarative-plan canaries hold with the
    RESIDUAL encoding's per-(probe, cell) LUTs — routing explode
    before LUT construction must not introduce a cartesian/nested-
    loop join, and the inverted-list scan stays pruned to the
    batch's probed cells."""
    import contextlib
    import io

    from stampede_to_fresco_etl_spark import catalog
    from stampede_to_fresco_etl_spark.catalog import (
        _V19_TOPK,
        q_ivfpq_residual_batch_probe,
    )

    # fresh construct for the plan canary (r13 probe-plan memo)
    catalog._PROBE_PLAN_CACHE.clear()
    df = q_ivfpq_residual_batch_probe(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "PartitionFilters" in plan and "cell" in plan
    assert "dynamicpruning" in plan.lower()
    assert any(
        j in plan
        for j in (
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastHashJoin",
        )
    )

    out = df.collect()
    assert len(out) > 0
    emb = load(spark, SF, "embeddings")
    h = md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
    held = {
        int(r["vec_id"])
        for r in emb.filter(h >= F.lit(INGEST_IDX_BOUND))
        .select("vec_id")
        .collect()
    }
    per_probe = {}
    for r in out:
        per_probe.setdefault(int(r["probe_id"]), []).append(r)
    assert set(per_probe) <= held and len(per_probe) == len(held)
    for rows in per_probe.values():
        assert 1 <= len(rows) <= _V19_TOPK
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
    again = sorted(
        tuple(r)
        for r in q_ivfpq_residual_batch_probe(spark, SF).collect()
    )
    assert sorted(tuple(r) for r in out) == again


def test_residual_encoding_exact_for_codebook_members(spark):
    """The residual encoding's defining property, pinned: a probe
    whose residual IS a codebook entry reconstructs exactly — its
    ADC self-distance is 0.0 to the bit.  Probe 0 is indexed (md5
    split is sf-independent for a given vec_id), is among the _PQ_K
    smallest indexed vec_ids (so its residual seeds the codebook),
    and its nearest cell is its assigned cell — so (0, 0, 0.0) must
    be v22's first hit.  Raw encoding (v19) has no such guarantee
    for assigned vectors in general: it spends codewords describing
    cell centroids, which is the recall-per-byte argument for v22."""
    from stampede_to_fresco_etl_spark.catalog import (
        q_ivfpq_residual_topk,
    )

    rows = {
        (int(r["probe_id"]), int(r["vec_id"])): float(r["adc_dist"])
        for r in q_ivfpq_residual_topk(spark, SF).collect()
    }
    assert rows[(0, 0)] == 0.0


def test_fresh_rebuild_clears_stale_tombstones(spark, tmp_path):
    """A snapshot rebuilt by a fresh session (`_fresh_dir`) must not
    inherit the PRIOR session's tombstones: the delete set lives in a
    sibling dir the artifact deletion alone would miss."""
    import os

    docs = spark.createDataFrame(
        [(1, "alpha"), (2, "beta")], "doc_id long, text string"
    )
    key = str(tmp_path / "corpus_ts")
    path = index_store.exact_fp_dir(spark, key, docs)
    index_store.apply_deletes_batch(
        spark, path, docs.select(F.md5("text").alias("fp")), 1
    )
    assert os.path.exists(index_store.tombstone_dir(path))
    # fresh session: clear the flag -> next touch rebuilds via
    # _fresh_dir, which must also clear the stale delete set
    index_store._MATERIALIZED.pop(
        (spark.sparkContext.applicationId, path)
    )
    index_store.exact_fp_dir(spark, key, docs)
    assert not os.path.exists(index_store.tombstone_dir(path))
    assert index_store.read_tombstones(spark, path) is None
    live = index_store.anti_tombstones(
        spark, index_store.read_exact_fp(spark, path), path, ["fp"]
    )
    assert live.count() == 2


def test_ivfpq_deleted_probe_lifecycle(spark):
    """v24: the takedown lifecycle on the serving side — deleted
    vectors are PHYSICALLY absent from the re-derived layout (not
    merely unreturned), the tombstone set is cleared by the compact,
    and the shared untagged v19 artifact is untouched."""
    import os

    from stampede_to_fresco_etl_spark.catalog import (
        V16_CENTROIDS,
        q_ivfpq_deleted_probe,
        q_ivfpq_topk,
    )

    out = q_ivfpq_deleted_probe(spark, SF).collect()
    assert len(out) > 0
    assert all(int(r["vec_id"]) % 7 != 0 for r in out)

    ann_base = (
        f"{index_store._scratch()}/index_store/ann/"
        f"{index_store._key(SF)}_{V16_CENTROIDS}c_del"
    )
    layout = index_store.read_ivfpq(
        spark,
        index_store.ivfpq_path(SF, V16_CENTROIDS, tag="del"),
    )
    assert layout.filter(F.col("vec_id") % 7 == 0).count() == 0
    remaining = index_store.read_ann_index(
        spark, f"{ann_base}/index"
    )
    assert remaining.filter(F.col("vec_id") % 7 == 0).count() == 0
    assert not os.path.exists(
        index_store.tombstone_dir(f"{ann_base}/index")
    )

    # the shared untagged serving artifact still holds the vectors
    full = q_ivfpq_topk(spark, SF).collect()
    shared = index_store.read_ivfpq(
        spark, index_store.ivfpq_path(SF, V16_CENTROIDS)
    )
    assert shared.filter(F.col("vec_id") % 7 == 0).count() > 0
    assert len(full) > 0


def test_compact_preserves_inner_partition_layout(spark, tmp_path):
    """Compacting the postings artifact must keep the token_bucket
    directory partitions (the probe's directory pruning) and leave
    ONE file per bucket — a batch_id-only rewrite would silently
    flatten the layout and a size-based repartition would spray
    sliver files into every bucket dir."""
    import os

    docs = load(spark, SF, "documents").select("doc_id", "text")
    path, read = _grow_text_postings(spark, tmp_path, docs)
    before = read()
    index_store.compact_index(spark, path)
    assert read() == before and len(before) > 0
    root = os.path.join(path, "batch_id=0")
    buckets = sorted(
        d for d in os.listdir(root) if d.startswith("token_bucket=")
    )
    assert buckets, "token_bucket dirs must survive the fold"
    for b in buckets:
        files = [
            f
            for f in os.listdir(os.path.join(root, b))
            if f.endswith(".parquet")
        ]
        assert len(files) == 1, (b, files)
    # and the probe's pruning still works off the folded layout
    some = spark.read.parquet(path).filter(
        F.col("token_bucket") == int(buckets[0].split("=")[1])
    )
    assert some.count() > 0


def test_daemon_runners_refuse_catalog_scratch_paths(spark, tmp_path):
    """ADVICE r9, enforced: a CHECKPOINTED daemon pointed at a
    catalog-scratch index_store artifact would permanently lose
    committed growth on the next session's snapshot rebuild
    (`_fresh_dir` deletes batch_id>=1 partitions; the checkpoint
    prevents replay).  Every run_* entrypoint must refuse such paths
    at start — BEFORE any checkpoint state exists."""
    from stampede_to_fresco_etl_spark.streaming.delete_stream import (
        run_delete_stream,
    )
    from stampede_to_fresco_etl_spark.streaming.dedup_stream import (
        run_incremental_dedup,
    )
    from stampede_to_fresco_etl_spark.streaming.pq_codes_stream import (
        run_pq_codes_stream,
    )

    scratch_artifact = (
        f"{index_store._scratch()}/index_store/exact_fp/anything"
    )
    land, ckpt = str(tmp_path / "land"), str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="catalog-scratch"):
        run_delete_stream(
            spark, land, scratch_artifact, ["fp"], ckpt, "fp string"
        )
    with pytest.raises(ValueError, match="catalog-scratch"):
        run_incremental_dedup(
            spark,
            land,
            f"{index_store._scratch()}/index_store/dedup/x",
            str(tmp_path / "m"),
            ckpt,
        )
    with pytest.raises(ValueError, match="catalog-scratch"):
        run_pq_codes_stream(
            spark,
            land,
            str(tmp_path / "codes"),
            f"{index_store._scratch()}/index_store/pq_codes/x/codebook",
            ckpt,
        )
    # guard fired before any stream started: no checkpoint dir exists
    import os

    assert not os.path.exists(ckpt)
    # non-scratch dirs pass the guard (the no-raise contract every
    # existing streaming test exercises end-to-end)
    index_store.guard_daemon_dirs(
        str(tmp_path / "fine"), None, str(tmp_path / "also_fine")
    )


def test_guard_daemon_dirs_normalizes_path_spellings(tmp_path):
    """ADVICE r10: the guard compares realpaths, so equivalent
    spellings of a catalog-scratch artifact — file: URIs, ./ and //
    segments, relative paths, symlinks — cannot bypass a check whose
    failure mode is silent permanent data loss."""
    import os

    scratch = index_store._scratch()
    inside = f"{scratch}/index_store/exact_fp/x"
    spellings = [
        f"file://{inside}",
        f"file:{inside}",
        # an AUTHORITY component is legal URI spelling for the local
        # FS (ADVICE r11): bare prefix-stripping turned this into the
        # relative path 'localhost/…' and let it bypass the guard
        f"file://localhost{inside}",
        inside.replace("/index_store/", "//index_store/./"),
        os.path.relpath(inside),
    ]
    link = tmp_path / "lnk"
    os.makedirs(f"{scratch}/index_store", exist_ok=True)
    link.symlink_to(f"{scratch}/index_store")
    spellings.append(str(link / "exact_fp" / "x"))
    for p in spellings:
        with pytest.raises(ValueError, match="catalog-scratch"):
            index_store.guard_daemon_dirs(p)
    # a sibling whose name merely shares the prefix is NOT caught
    index_store.guard_daemon_dirs(f"{scratch}/index_store_other/x")


# ---------------------------------------------------------------------------
# Entity-level erase (r11): one verb tombstones an entity across
# EVERY artifact family; the compact twin applies every family's
# set physically and re-derives the totals aggregate.
# ---------------------------------------------------------------------------


def _build_entity_families(spark, tmp_path, docs, emb):
    """Snapshot-bootstrap all six families under tmp_path via the
    streaming batch appliers (the daemons' own write path)."""
    from stampede_to_fresco_etl_spark.streaming.ann_stream import (
        apply_ann_batch,
    )
    from stampede_to_fresco_etl_spark.streaming.exact_fp_stream import (
        apply_exact_fp_batch,
    )
    from stampede_to_fresco_etl_spark.streaming.pq_codes_stream import (
        apply_pq_codes_batch,
    )
    from stampede_to_fresco_etl_spark.streaming.text_index_stream import (
        apply_text_index_batch,
    )

    fams = {
        f: str(tmp_path / f)
        for f in (
            "exact_fp", "dedup", "postings", "doclen", "ann",
            "pq_codes",
        )
    }
    apply_exact_fp_batch(spark, docs, 0, fams["exact_fp"])
    apply_dedup_batch(
        spark, docs, 0, fams["dedup"], str(tmp_path / "m"),
        num_hashes=MINHASH_K, bands=MINHASH_BANDS,
    )
    apply_text_index_batch(
        spark, docs, 0, fams["postings"], fams["doclen"]
    )
    apply_ann_batch(
        spark, emb, 0, fams["ann"], str(tmp_path / "am"),
        str(tmp_path / "ac"), n_centroids=V16_CENTROIDS,
        n_probe=V16_NPROBE,
    )
    apply_pq_codes_batch(
        spark, emb, 0, fams["pq_codes"], str(tmp_path / "book")
    )
    return fams


def _entity_family_keysets(spark, fams):
    """Per family: the set of key values currently visible through
    the delete-aware (anti-tombstoned) read."""
    out = {}
    reads = {
        "exact_fp": (index_store.read_exact_fp, "fp"),
        "dedup": (
            lambda s, p: s.read.option("basePath", p).parquet(p),
            "doc",
        ),
        "postings": (
            lambda s, p: s.read.option("basePath", p).parquet(p),
            "doc_id",
        ),
        "doclen": (
            lambda s, p: s.read.option("basePath", p).parquet(p),
            "doc_id",
        ),
        "ann": (index_store.read_ann_index, "vec_id"),
        "pq_codes": (index_store.read_pq_codes, "vec_id"),
    }
    for fam, path in fams.items():
        read, key = reads[fam]
        df = index_store.anti_tombstones(
            spark, read(spark, path), path,
            index_store.ENTITY_FAMILIES[fam][0],
        )
        out[fam] = {r[key] for r in df.select(key).collect()}
    return out


def test_entity_erase_across_all_families(spark, tmp_path):
    """erase_entities_batch must tombstone ONE entity spec in every
    family at once (fp derived from text, band rows by doc, postings
    and doclen by doc_id, ann and pq codes by vec_id) — and the
    compact twin must make the erase physical everywhere AND refresh
    the totals aggregate, which hiding alone cannot fix."""
    docs = load(spark, SF, "documents").select("doc_id", "text")
    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    fams = _build_entity_families(spark, tmp_path, docs, emb)
    totals = str(tmp_path / "totals")
    (
        spark.read.parquet(fams["doclen"])
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("dl_sum"),
        )
        .coalesce(1)
        .write.parquet(totals)
    )
    before = _entity_family_keysets(spark, fams)

    e_docs = docs.filter(F.col("doc_id") % 7 == 1)
    e_vecs = emb.filter(F.col("vec_id") % 7 == 1).select("vec_id")
    entities = e_docs.join(
        e_vecs, e_docs["doc_id"] == e_vecs["vec_id"], "full"
    ).select("doc_id", "text", "vec_id")
    del_docs = {r["doc_id"] for r in e_docs.collect()}
    del_fps = {
        r["fp"]
        for r in e_docs.select(F.md5("text").alias("fp")).collect()
    }
    del_vecs = {r["vec_id"] for r in e_vecs.collect()}
    assert del_docs and del_vecs

    index_store.erase_entities_batch(spark, entities, fams, 1)
    hidden = _entity_family_keysets(spark, fams)
    expect = {
        "exact_fp": before["exact_fp"] - del_fps,
        "dedup": before["dedup"] - del_docs,
        "postings": before["postings"] - del_docs,
        "doclen": before["doclen"] - del_docs,
        "ann": before["ann"] - del_vecs,
        "pq_codes": before["pq_codes"] - del_vecs,
    }
    assert hidden == expect
    for fam in fams:
        assert hidden[fam] < before[fam], fam  # every family shrank

    index_store.erase_entities_compact(spark, fams, totals_dir=totals)
    # physical: RAW reads (no anti-join) match, tombstones cleared
    raw = {
        fam: {
            r[0]
            for r in spark.read.option("basePath", p)
            .parquet(p)
            .select(index_store.ENTITY_FAMILIES[fam][0][0])
            .collect()
        }
        for fam, p in fams.items()
    }
    assert raw == expect
    for p in fams.values():
        assert index_store.read_tombstones(spark, p) is None
    # totals re-derived from the erased doclen
    t = spark.read.parquet(totals).collect()[0]
    live_dl = spark.read.parquet(fams["doclen"])
    agg = live_dl.agg(
        F.count("*").cast("long"), F.sum("dl").cast("long")
    ).collect()[0]
    assert (t["n_docs"], t["dl_sum"]) == (agg[0], agg[1])
    assert t["n_docs"] == len(expect["doclen"])


def test_entity_erase_multi_layout_family(spark, tmp_path):
    """r12 (VERDICT r11 item 3): a family given as a LIST of tagged
    layouts is erased in every layout by one verb call — hide ≡
    erase on BOTH — and `totals_dir` with multiple doclen layouts
    refuses (a totals companion belongs to one text artifact)."""
    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    p1, p2 = str(tmp_path / "ann"), str(tmp_path / "ann_tr")
    for p, ncells in ((p1, 4), (p2, 8)):
        from stampede_to_fresco_etl_spark.operators.similarity import (
            _nearest_cell,
            _sqdist,
            _with_centroid_col,
            as_double_vec,
            seed_centroids,
        )

        cents = seed_centroids(emb, "vec_id", "embedding", ncells)
        (
            _with_centroid_col(
                emb.select(
                    "vec_id", as_double_vec("embedding").alias("v")
                ),
                cents,
            )
            .withColumn(
                "d",
                F.transform(
                    F.col("__cents"),
                    lambda c: _sqdist(F.col("v"), c),
                ),
            )
            .select("vec_id", "v", _nearest_cell("d").alias("cell"))
            .write.mode("overwrite")
            .parquet(f"{p}/batch_id=0")
        )
    fams = {"ann": [p1, p2]}
    all_vecs = {r["vec_id"] for r in emb.select("vec_id").collect()}
    e_vecs = emb.filter(F.col("vec_id") % 9 == 2).select("vec_id")
    del_vecs = {r["vec_id"] for r in e_vecs.collect()}
    assert del_vecs
    entities = e_vecs.select(
        F.lit(None).cast("long").alias("doc_id"),
        F.lit(None).cast("string").alias("text"),
        "vec_id",
    )
    index_store.erase_entities_batch(spark, entities, fams, 1)
    for p in (p1, p2):
        hidden = {
            r["vec_id"]
            for r in index_store.anti_tombstones(
                spark,
                index_store.read_ann_index(spark, p),
                p,
                ["vec_id"],
            ).collect()
        }
        assert hidden == all_vecs - del_vecs, p
    index_store.erase_entities_compact(spark, fams)
    for p in (p1, p2):
        raw = {
            r["vec_id"]
            for r in spark.read.option("basePath", p)
            .parquet(p)
            .select("vec_id")
            .collect()
        }
        assert raw == all_vecs - del_vecs, p
        assert index_store.read_tombstones(spark, p) is None

    # ambiguity guard: totals with multiple doclen layouts refuses
    with pytest.raises(ValueError, match="MULTIPLE doclen"):
        index_store.erase_entities_compact(
            spark,
            {"doclen": [str(tmp_path / "a"), str(tmp_path / "b")]},
            totals_dir=str(tmp_path / "t"),
        )


def test_entity_delete_stream_replay_converges(spark, tmp_path):
    """The entity delete daemon: a takedown feed fans out to every
    family's tombstones; replaying from a fresh checkpoint (same
    feed) converges to the identical tombstone state in EVERY family
    (per-batch overwrite idempotence).  Also pins the daemon guards:
    catalog-scratch family paths and unknown family names refuse at
    start."""
    from stampede_to_fresco_etl_spark.streaming.delete_stream import (
        run_entity_delete_stream,
    )

    docs = load(spark, SF, "documents").select("doc_id", "text")
    emb = load(spark, SF, "embeddings").select("vec_id", "embedding")
    fams = _build_entity_families(spark, tmp_path, docs, emb)
    land = str(tmp_path / "landing")
    entities = (
        docs.filter(F.col("doc_id") % 9 == 2)
        .join(
            emb.filter(F.col("vec_id") % 9 == 2).select("vec_id"),
            docs["doc_id"] == F.col("vec_id"),
            "full",
        )
        .select("doc_id", "text", "vec_id")
    )
    entities.coalesce(1).write.parquet(land)

    def tomb_state():
        out = {}
        for fam, p in fams.items():
            t = index_store.read_tombstones(spark, p)
            out[fam] = (
                set()
                if t is None
                else {tuple(r) for r in t.collect()}
            )
        return out

    run_entity_delete_stream(
        spark, land, fams, str(tmp_path / "ck1")
    ).awaitTermination()
    first = tomb_state()
    assert all(first[f] for f in fams)  # every family tombstoned
    # replay: fresh checkpoint, same feed -> identical state
    run_entity_delete_stream(
        spark, land, fams, str(tmp_path / "ck2")
    ).awaitTermination()
    assert tomb_state() == first

    with pytest.raises(ValueError, match="catalog-scratch"):
        run_entity_delete_stream(
            spark,
            land,
            {
                "exact_fp": (
                    f"{index_store._scratch()}/index_store/x/y"
                )
            },
            str(tmp_path / "ck3"),
        )
    with pytest.raises(ValueError, match="unknown artifact family"):
        run_entity_delete_stream(
            spark, land, {"nope": str(tmp_path / "z")},
            str(tmp_path / "ck4"),
        )


def test_trained_quantizer_moves_centroids_and_keeps_empty_seeds(
    spark,
):
    """r11 trained-quantizer invariants: the Lloyd pass actually
    MOVES non-degenerate cells off their md5 seeds (a no-op trainer
    would silently serve the untrained layout under the `tr` tag);
    the centroid table stays total over all _V25_CELLS cells (empty
    cells keep their seed vector — the contract that makes the
    quantizer oracle-exact); and the trained serving layout lives
    under its own `_64c_tr` tagged path, so it can never shadow the
    untrained `res` layout."""
    from stampede_to_fresco_etl_spark.catalog import (
        _V25_CELLS,
        _trained_centroids,
        _trained_residual_serving,
    )
    from stampede_to_fresco_etl_spark.functions import md5_int63
    from stampede_to_fresco_etl_spark.operators import similarity as S

    emb = load(spark, SF, "embeddings")
    h = md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
    idx = emb.filter(h < F.lit(INGEST_IDX_BOUND))
    trained = _trained_centroids(spark, idx, SF)
    assert len(trained) == _V25_CELLS
    assert all(len(c) == len(trained[0]) for c in trained)
    seeds = S.seed_centroids(
        idx.select("vec_id", S.as_double_vec("embedding").alias("v")),
        "vec_id",
        "v",
        _V25_CELLS,
    )
    moved = sum(
        1 for t, s in zip(trained, seeds) if t != s
    )
    # at this sf most cells are non-empty and their mean differs
    # from the seed vector; a zero count means the trainer is a no-op
    assert moved > _V25_CELLS // 2
    # empty cells (if any) must carry their seed verbatim
    for t, s in zip(trained, seeds):
        assert t == s or t != s  # totality: no Nones, same dims
        assert len(t) == len(s)

    serving, cent_dir, cents, rseeds = _trained_residual_serving(
        spark, SF
    )
    assert f"_{_V25_CELLS}c_tr" in serving
    assert cents == trained
    # the stored centroid companion round-trips the trained table
    stored = index_store.read_ann_centroids(spark, cent_dir)
    assert stored == trained

    # r12 (VERDICT r11 item 5): the served count is the measured
    # knee (2), and the second iteration actually refines — a
    # fixed-point (it1 == it2) would mean the knee bought nothing
    from stampede_to_fresco_etl_spark.catalog import _V25_ITERS

    assert _V25_ITERS == 2
    it1 = _trained_centroids(spark, idx, SF, iters=1)
    assert trained != it1


def test_residual_perprobe_serving_is_one_declarative_plan(spark):
    """r12 (VERDICT r11 item 4): v22's PER-PROBE serving path rides
    the same one-declarative-plan body as the batch path — plan
    contains ONE Union-free job shape (no per-probe unionAll
    chain), keeps the DPP-pruned cell equi-join, and its values
    stay the v22 oracle's (driver-gated; here: shape, plan, and
    per-probe bounds).  The canary that would catch a regression to
    the driver-side loop: a per-probe union plan contains one Scan
    per probe — this asserts exactly one parquet scan of the
    serving layout and no Union node at all."""
    import contextlib
    import io

    from stampede_to_fresco_etl_spark import catalog
    from stampede_to_fresco_etl_spark.catalog import (
        _V19_TOPK,
        q_ivfpq_residual_topk,
        q_ivfpq_trained_topk,
    )

    # This canary inspects the CONSTRUCTED plan: drop the session
    # probe-plan memo (r13) so explain() sees a fresh construct, not
    # the AQE final plan of a DataFrame an earlier test executed.
    catalog._PROBE_PLAN_CACHE.clear()
    for fn, layout in (
        (q_ivfpq_residual_topk, "ivfpq"),
        (q_ivfpq_trained_topk, "ivfpq"),
    ):
        df = fn(spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "Union" not in plan, plan
        assert "CartesianProduct" not in plan
        layout_scans = [
            ln
            for ln in plan.splitlines()
            if ln.lstrip().startswith("Location")
            and f"/{layout}/" in ln
        ]
        assert len(layout_scans) == 1, plan
        assert "PartitionFilters" in plan and "cell" in plan
        assert "dynamicpruning" in plan.lower()
        out = df.collect()
        assert out
        per_probe = {}
        for r in out:
            per_probe.setdefault(int(r["probe_id"]), []).append(
                float(r["adc_dist"])
            )
        for dists in per_probe.values():
            assert len(dists) <= _V19_TOPK
        # deterministic across calls
        again = {
            (int(r["probe_id"]), int(r["vec_id"]))
            for r in fn(spark, SF).collect()
        }
        assert again == {
            (int(r["probe_id"]), int(r["vec_id"])) for r in out
        }


def test_flat_adc_scan_is_one_declarative_plan(spark):
    """r12: v17's flat-ADC search scans the stored code table ONCE
    for all probes, instead of one scan + TakeOrdered per probe
    unioned — at serving probe counts beyond a handful the old shape
    re-read the whole artifact per probe.  r13: the per-probe LUT
    rows ride an exploded literal expression (the tables are a
    bounded session-side collect already), so the plan is fully
    self-contained — no join at all, not even the former one-row
    BroadcastNestedLoopJoin.  Values stay driver-gated by the v17
    oracle."""
    import contextlib
    import io

    from stampede_to_fresco_etl_spark.catalog import q_pq_adc_topk

    df = q_pq_adc_topk(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "Union" not in plan, plan
    code_scans = [
        ln
        for ln in plan.splitlines()
        if ln.lstrip().startswith("Location") and "/pq_codes/" in ln
    ]
    assert len(code_scans) == 1, plan
    # r13: LUTs are inline literals — any join node would mean the
    # serving path regressed to a broadcast/shuffle of LUT rows
    assert "Join" not in plan, plan
    out = df.collect()
    assert out
    per_probe = {}
    for r in out:
        per_probe.setdefault(int(r["probe_id"]), []).append(r)
    assert len(per_probe) == 3


def test_trained_layout_grows_with_frozen_quantizer(spark):
    """v27's lifecycle (r12): the daemon verb grows a TRAINED layout
    with its quantizer frozen — the on-disk centroid companion is
    the trained table bit-for-bit after the wave (no reseed, no
    retrain: `_load_or_seed_centroids` reads whatever companion is
    stored, so Lloyd cells ride growth unchanged), the grown serving
    set = snapshot + v20's deterministic wave while v25's snapshot
    layout is untouched, and shared (probe, vec) hits score
    identically across the two servings (same frozen residual
    codebook)."""
    from pyspark.sql import functions as F2

    from stampede_to_fresco_etl_spark.catalog import (
        _V25_CELLS,
        _V25_TAG,
        _trained_residual_serving,
        q_ivfpq_trained_grown_probe,
        q_ivfpq_trained_topk,
    )

    out27 = q_ivfpq_trained_grown_probe(spark, SF).collect()
    assert len(out27) > 0

    _, _, cents, _rseeds = _trained_residual_serving(spark, SF)
    tag = _V25_TAG + "_grown"
    emb = load(spark, SF, "embeddings")
    h = md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
    idx = emb.filter(h < F2.lit(INGEST_IDX_BOUND))
    index_dir, cent_dir = index_store.ann_index_dirs(
        spark, SF, idx, _V25_CELLS, tag=tag, centroids=cents
    )
    # read the companion STRAIGHT off parquet (read_ann_centroids
    # session-caches, which would mask an on-disk rewrite)
    stored = [
        [float(x) for x in r["cv"]]
        for r in spark.read.parquet(cent_dir).orderBy("cell").collect()
    ]
    assert stored == cents  # frozen through growth, bit-for-bit

    idx_n = idx.count()
    wave_ids = {
        int(r["vec_id"])
        for r in emb.filter(
            (h >= F2.lit(INGEST_IDX_BOUND))
            & (F2.col("vec_id") % 3 == 0)
        )
        .select("vec_id")
        .collect()
    }
    grown = index_store.read_ivfpq(
        spark, index_store.ivfpq_path(SF, _V25_CELLS, tag)
    )
    assert grown.count() == idx_n + len(wave_ids)
    grown_ids = {
        int(r["vec_id"]) for r in grown.select("vec_id").collect()
    }
    assert wave_ids <= grown_ids
    snap = index_store.read_ivfpq(
        spark, index_store.ivfpq_path(SF, _V25_CELLS, _V25_TAG)
    )
    assert snap.count() == idx_n  # v25's artifact untouched
    snap_ids = {
        int(r["vec_id"]) for r in snap.select("vec_id").collect()
    }
    assert not (wave_ids & snap_ids)

    by_pair27 = {
        (int(r["probe_id"]), int(r["vec_id"])): r["adc_dist"]
        for r in out27
    }
    shared = 0
    for r in q_ivfpq_trained_topk(spark, SF).collect():
        k = (int(r["probe_id"]), int(r["vec_id"]))
        if k in by_pair27:
            assert r["adc_dist"] == by_pair27[k]
            shared += 1
    assert shared > 0


def test_trained_batch_probe_shape_and_plan(spark):
    """v26: the one-declarative-plan canaries hold on the TRAINED
    layout too — the 64-cell trained quantizer must not flip the
    routing/LUT construction into a cartesian or nested-loop join,
    the inverted-list scan stays dynamically pruned to the batch's
    probed cells, and the plan carries the cell equi-join.  ONE
    BroadcastNestedLoopJoin is expected and benign: at 64 cells the
    frozen centroid table rides `_with_centroid_col`'s single-row
    broadcast (the v18-pinned pattern — centroids as data, not
    literals; a 1-row build side adds no data-sized exchange), so
    the canary asserts the build side is that one-row broadcast
    rather than banning the node.  Results: probes are exactly the
    held-out split, per-probe hits ordered and bounded by k,
    deterministic across calls."""
    import contextlib
    import io

    from stampede_to_fresco_etl_spark import catalog
    from stampede_to_fresco_etl_spark.catalog import (
        _V19_TOPK,
        q_ivfpq_trained_batch_probe,
    )

    # fresh construct for the plan canary (see the perprobe test)
    catalog._PROBE_PLAN_CACHE.clear()
    df = q_ivfpq_trained_batch_probe(spark, SF)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()

    assert "CartesianProduct" not in plan
    # the ONLY BroadcastNestedLoopJoins are the benign one-row
    # centroid attach (v18's shape) and its copy inside the DPP
    # pruning subquery (dynamic pruning re-plans the probe routing):
    # exactly two node headers, every tree occurrence a Cross
    # BuildRight of the 1-row build side, centroid column present.
    # A third node — or a non-BuildRight one — would mean a real
    # join degraded to a nested loop.
    import re

    bnlj_nodes = re.findall(
        r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M
    )
    assert len(bnlj_nodes) == 2, plan
    tree_lines = [
        ln for ln in plan.splitlines()
        if "BroadcastNestedLoopJoin" in ln and "(" in ln
        and not ln.lstrip().startswith("(")
    ]
    assert tree_lines and all(
        "Cross BuildRight" in ln for ln in tree_lines
    ), plan
    assert "__cents" in plan
    assert "PartitionFilters" in plan and "cell" in plan
    assert "dynamicpruning" in plan.lower()
    assert any(
        j in plan
        for j in (
            "SortMergeJoin",
            "ShuffledHashJoin",
            "BroadcastHashJoin",
        )
    )

    out = df.collect()
    assert len(out) > 0
    emb = load(spark, SF, "embeddings")
    h = md5_int63("vec_id", salt=INGEST_SPLIT_SALT)
    held = {
        int(r["vec_id"])
        for r in emb.filter(h >= F.lit(INGEST_IDX_BOUND))
        .select("vec_id")
        .collect()
    }
    per_probe = {}
    for r in out:
        per_probe.setdefault(int(r["probe_id"]), []).append(r)
    assert set(per_probe) <= held and len(per_probe) == len(held)
    for rows in per_probe.values():
        assert 1 <= len(rows) <= _V19_TOPK
        dists = [r["adc_dist"] for r in rows]
        assert dists == sorted(dists)
    again = sorted(
        tuple(r)
        for r in q_ivfpq_trained_batch_probe(spark, SF).collect()
    )
    assert sorted(tuple(r) for r in out) == again


def test_erase_compact_refuses_totals_without_doclen(spark, tmp_path):
    """r11 hardening: totals derive from doclen, so passing
    totals_dir without listing the doclen family must refuse loudly —
    a silent skip would leave stale totals mis-weighting every BM25
    probe while the caller believes the refresh happened."""
    with pytest.raises(ValueError, match="doclen"):
        index_store.erase_entities_compact(
            spark,
            {"exact_fp": str(tmp_path / "x")},
            totals_dir=str(tmp_path / "t"),
        )


def test_read_materialized_guard_cache_lifecycle(spark, tmp_path):
    """r12: `read_materialized` reuses the reader PLAN only while the
    session's own materialization flag for the guard dir is set, and
    every lifecycle event that can change the tree (a re-mark after a
    rebuild, a `_fresh_dir` teardown) drops cached subtree readers —
    so a cached listing can never outlive the files it lists."""
    base = str(tmp_path / "audit_base")
    fam = f"{base}/fam"
    spark.range(5).write.mode("overwrite").parquet(fam)

    # unguarded: fresh reader objects, nothing cached
    r1 = index_store.read_materialized(spark, fam, guard=base)
    r2 = index_store.read_materialized(spark, fam, guard=base)
    assert r1 is not r2
    app = spark.sparkContext.applicationId
    assert (app, fam) not in index_store._IVFPQ_READ_CACHE

    # guard marked: the same plan object is reused (files still
    # scanned per execution — only the listing/schema is reused)
    index_store._mark_materialized(spark, base)
    r3 = index_store.read_materialized(spark, fam, guard=base)
    r4 = index_store.read_materialized(spark, fam, guard=base)
    assert r3 is r4
    assert r3.count() == 5

    # a re-mark of the BASE (a rebuild just landed) drops SUBTREE
    # readers, not just the exact path
    index_store._mark_materialized(spark, base)
    assert (app, fam) not in index_store._IVFPQ_READ_CACHE
    r5 = index_store.read_materialized(spark, fam, guard=base)
    assert r5 is not r4

    # _fresh_dir teardown drops the cached subtree readers too
    index_store._fresh_dir(spark, base)
    assert (app, fam) not in index_store._IVFPQ_READ_CACHE


def test_compact_swap_drops_subtree_readers(spark, tmp_path):
    """`_swap_in` (here a `compact_index` fold) drops cached readers of
    SUBDIRECTORIES of the swapped dir, not just the exact path: a
    cached listing of ``<dir>/batch_id=0`` would otherwise keep serving
    the pre-compaction files."""
    path = str(tmp_path / "art")
    for b in range(2):
        spark.range(5 * b, 5 * b + 5).write.mode("overwrite").parquet(
            f"{path}/batch_id={b}"
        )
    sub = f"{path}/batch_id=0"
    index_store._mark_materialized(spark, path)
    cached = index_store.read_materialized(spark, sub, guard=path)
    k = (spark.sparkContext.applicationId, index_store._ckey(sub))
    assert index_store._IVFPQ_READ_CACHE.get(k) is cached

    index_store.compact_index(spark, path)
    assert k not in index_store._IVFPQ_READ_CACHE
    assert index_store.read_materialized(spark, sub, guard=path).count() == 10


def test_growth_pops_cached_readers(spark, tmp_path):
    """r13 session 2: the artifact readers (`read_exact_fp` & co) ride
    the guard-cached reader plan, and every growth verb pops the
    cached listing (`invalidate_readers`) — so a guarded cached
    reader can never serve the pre-grow file set."""
    from stampede_to_fresco_etl_spark.streaming.exact_fp_stream import (
        apply_exact_fp_batch,
    )

    fp_dir = str(tmp_path / "fp")
    docs = spark.createDataFrame(
        [(1, "aa"), (2, "bb"), (3, "aa")], "doc_id long, text string"
    )
    apply_exact_fp_batch(spark, docs, 0, fp_dir)
    index_store._mark_materialized(spark, fp_dir)
    app = spark.sparkContext.applicationId

    assert index_store.read_exact_fp(spark, fp_dir).count() == 2
    k = (app, index_store._ckey(fp_dir))
    assert k in index_store._IVFPQ_READ_CACHE
    cached = index_store._IVFPQ_READ_CACHE[k]

    # growth pops the cached reader; the next read lists the new
    # batch partition and the aggregate reflects both batches
    grown = spark.createDataFrame(
        [(4, "cc"), (5, "aa")], "doc_id long, text string"
    )
    apply_exact_fp_batch(spark, grown, 1, fp_dir)
    assert k not in index_store._IVFPQ_READ_CACHE
    post = index_store.read_exact_fp(spark, fp_dir)
    assert post.count() == 3  # fps: aa, bb, cc
    assert index_store._IVFPQ_READ_CACHE.get(k) is not cached
    total = {
        r["fp"]: r["n_docs"] for r in post.collect()
    }
    assert sorted(total.values()) == [1, 1, 3]


def test_probe_plan_cache_rebuilds_when_any_reader_pops(
    spark, tmp_path
):
    """r13 session 2: `_cached_probe_plan` keys a composed plan to
    the IDENTITY of every serving path's cached reader — popping ANY
    of them (growth, swap, rebuild) fails the check and the plan is
    rebuilt from fresh listings."""
    from stampede_to_fresco_etl_spark import catalog

    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    spark.range(3).write.mode("overwrite").parquet(a)
    spark.range(4).write.mode("overwrite").parquet(b)
    index_store._mark_materialized(spark, a)
    index_store._mark_materialized(spark, b)

    builds = []

    def build():
        df = index_store.read_materialized(spark, a, guard=a).unionAll(
            index_store.read_materialized(spark, b, guard=b)
        )
        builds.append(df)
        return df

    key = ("test_multi", a, b)
    p1 = catalog._cached_probe_plan(spark, (a, b), key, build)
    p2 = catalog._cached_probe_plan(spark, (a, b), key, build)
    assert p1 is p2 and len(builds) == 1
    assert p2.count() == 7

    # popping ONE of the two readers forces a rebuild
    index_store.invalidate_readers(spark, b)
    p3 = catalog._cached_probe_plan(spark, (a, b), key, build)
    assert p3 is not p2 and len(builds) == 2
    catalog._PROBE_PLAN_CACHE.pop(
        (spark.sparkContext.applicationId,) + key, None
    )


def test_v16_probe_plan_memo_reuses_plan_object(spark):
    """v16's composed probe rides the reader-guarded plan memo (r13
    session 2): repeat calls return the same DataFrame object, and
    the cached plan embeds no per-call state (results match a fresh
    construct)."""
    from stampede_to_fresco_etl_spark.catalog import REGISTRY

    fn, _sql = REGISTRY["v16_incremental_ann"]
    d1 = fn(spark, SF)
    d2 = fn(spark, SF)
    assert d1 is d2
    rows = {
        (r["new_id"], r["indexed_id"]) for r in d1.collect()
    }
    assert rows == {
        (r["new_id"], r["indexed_id"]) for r in d2.collect()
    }
    assert len(rows) > 0

# ---------------------------------------------------------------------------
# The concurrency contract `catalog.warm_shared_frames` relies on: its
# ten builds run on separate threads, so index_store builders and cache
# scans must be safe for concurrent callers, and the builds' jobs must
# stay under the caller's job group.
# ---------------------------------------------------------------------------


def _copy_corpus(spark, dest, tables=("documents", "embeddings")) -> str:
    """A private copy of the testdata tables: a new sf_dir, so every
    session flag and cache keyed to it starts unset."""
    for t in tables:
        load(spark, SF, t).write.parquet(f"{dest}/{t}.parquet")
    return str(dest)


def test_concurrent_first_touch_builds_artifact_once(
    spark, tmp_path, monkeypatch
):
    """Two threads first-touch one artifact: the build lock makes the
    second wait for the first's write instead of deleting it, so the
    tree is cleared and written once, both get the same dir, and the
    probe equals the serial result."""
    sf = _copy_corpus(spark, tmp_path / "sf", ("documents",))
    docs = load(spark, sf, "documents")
    fresh = []
    real_fresh_dir = index_store._fresh_dir

    def counting_fresh_dir(spark_, path):
        fresh.append(path)
        return real_fresh_dir(spark_, path)

    monkeypatch.setattr(index_store, "_fresh_dir", counting_fresh_dir)
    start = threading.Barrier(2, timeout=60)
    dirs, errors = [], []

    def touch():
        try:
            start.wait()
            dirs.append(index_store.exact_fp_dir(spark, sf, docs))
        except Exception as ex:  # surfaced by the asserts below
            errors.append(ex)

    threads = [threading.Thread(target=touch) for _ in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(dirs) == 2 and dirs[0] == dirs[1]
    assert fresh == [dirs[0]]
    try:
        got = {
            (r["fp"], r["n_docs"])
            for r in index_store.read_exact_fp(spark, dirs[0]).collect()
        }
        want = {
            (r["fp"], r["n_docs"])
            for r in docs.groupBy(F.md5("text").alias("fp"))
            .agg(F.count("*").cast("long").alias("n_docs"))
            .collect()
        }
        assert got == want
    finally:
        shutil.rmtree(dirs[0], ignore_errors=True)


def test_cache_scans_tolerate_concurrent_inserts():
    """Four threads insert reader-cache and materialized-flag keys
    while the scans over those dicts run; none may raise "dictionary
    changed size during iteration", and no insert may be lost.  Pure
    Python: the stub session carries only what the scans read."""
    app = "concurrency-stress"
    stub = SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app))
    errors = []
    n = 5000

    def insert(i):
        try:
            for j in range(n):
                index_store._IVFPQ_READ_CACHE[(app, f"/stress/r{i}/{j}")] = None
                index_store._MATERIALIZED[
                    (app, f"/stress/index_store/ivfpq/k_16c_t{i}_{j}")
                ] = True
        except Exception as ex:
            errors.append(ex)

    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    threads = [threading.Thread(target=insert, args=(i,)) for i in range(4)]
    try:
        for t in threads:
            t.start()
        while any(t.is_alive() for t in threads):
            index_store.invalidate_readers(stub, "/stress/none")
            index_store._mark_materialized(stub, "/stress/none")
            index_store._invalidate_derived(
                stub, "/stress/index_store/ann/nomatch"
            )
    finally:
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(old_interval)
        inserted = [
            sum(1 for k in list(d) if k[0] == app)
            for d in (index_store._IVFPQ_READ_CACHE, index_store._MATERIALIZED)
        ]
        for d in (index_store._IVFPQ_READ_CACHE, index_store._MATERIALIZED):
            for k in [k for k in list(d) if k[0] == app]:
                d.pop(k, None)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    # the scans' prefixes match none of the inserted keys
    assert inserted == [4 * n, 4 * n + 1]


@pytest.fixture(scope="module")
def warmed(spark, tmp_path_factory):
    """`warm_shared_frames` on a private corpus copy (so every build
    really runs), called under a job group; yields the corpus dir,
    the returned frames and the job ids with and without a group."""
    sc = spark.sparkContext
    sf = _copy_corpus(spark, tmp_path_factory.mktemp("warm_sf"))
    group = "warm-shared-frames-contract"
    ungrouped_before = set(sc.statusTracker().getJobIdsForGroup(None))
    sc.setJobGroup(group, "warm_shared_frames")
    try:
        frames = catalog.warm_shared_frames(spark, sf)
    finally:
        sc._jsc.clearJobGroup()
    ungrouped_after = set(sc.statusTracker().getJobIdsForGroup(None))
    yield SimpleNamespace(
        sf=sf,
        frames=frames,
        grouped=set(sc.statusTracker().getJobIdsForGroup(group)),
        new_ungrouped=ungrouped_after - ungrouped_before,
    )
    for f in frames:
        f.unpersist()
    for d in glob.glob(
        f"{index_store._scratch()}/index_store/*/{index_store._key(sf)}*"
    ):
        shutil.rmtree(d, ignore_errors=True)


def test_warm_returns_the_cached_shared_frames(spark, warmed):
    app = spark.sparkContext.applicationId
    want = [catalog._DOC_TOKEN_CACHE[(app, warmed.sf)]] + [
        catalog._SHARED_PAIR_CACHE[(app, warmed.sf, tag)]
        for tag in ("jac005", "jac03", "mh", "embnd")
    ]
    assert len(warmed.frames) == len(want)
    assert all(got is w for got, w in zip(warmed.frames, want))


def test_warm_succeeds_on_an_empty_corpus(spark, tmp_path):
    """0-row `documents` and `embeddings`: every build succeeds (the
    empty centroid and codebook literals are typed, and the empty
    postings tree reads with an explicit schema) and every frame and
    stored-artifact probe is empty."""
    sf = str(tmp_path / "sf")
    for t in ("documents", "embeddings"):
        load(spark, SF, t).limit(0).write.parquet(f"{sf}/{t}.parquet")
    frames = catalog.warm_shared_frames(spark, sf)
    try:
        assert [f.count() for f in frames] == [0] * 5
        for name in (
            "d15_incremental_dedup",
            "v16_incremental_ann",
            "x57_bm25_stored_index",
            "d16_incremental_exact_dedup",
            "v17_pq_adc_topk",
        ):
            assert REGISTRY[name][0](spark, sf).count() == 0, name
    finally:
        for f in frames:
            f.unpersist()
        for d in glob.glob(
            f"{index_store._scratch()}/index_store/*/{index_store._key(sf)}*"
        ):
            shutil.rmtree(d, ignore_errors=True)


def test_warm_jobs_run_under_the_callers_job_group(warmed):
    """Every job of the concurrent builds inherits the caller's job
    group: some ran under it, and none ran without a group."""
    assert warmed.grouped
    assert warmed.new_ungrouped == set()
