"""Similarity search over embedding columns (`array<float>`):
brute-force cosine top-k as the exact baseline, and a sign-LSH
(random-hyperplane) bucketed variant as the scale path.

Determinism: dot products are left-to-right folds (F.aggregate over
zip_with) so results are bit-reproducible and checkable against a
DuckDB list_reduce oracle.  LSH hyperplanes are derived from md5
(functions.md5_int63), not an RNG, so bucket assignments are stable
across runs and engines.

Scale notes (100 TB / 10⁹ vectors):
  - brute force is a broadcast of the (small) probe set against the
    corpus — one scan, no shuffle of the corpus;
  - top-k is a SALTED TWO-STAGE window (partial_topk), not a
    per-probe window: stage 1 ranks within (probe, input partition)
    so every probe is spread across all reducers, stage 2 re-ranks
    the ≤ shards × k survivors.  A bare Window.partitionBy(probe)
    would shuffle EVERY scored pair into one reducer per probe — the
    whole corpus on one task when probes are broadcast — the classic
    top-k scale killer (measured trade-offs in partial_topk's
    docstring);
  - sign-LSH cuts the candidate set ~2^planes×; buckets become the
    equi-join key so Catalyst shuffles only bucket-matched pairs;
    recall is tuned by planes (fewer planes = bigger buckets) and by
    probing neighboring buckets (multi-probe) if needed;
  - IVF replaces the bucket id with a centroid cell id — same
    dataflow (cell equi-join + partial top-k).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

import hashlib


def _dot(a: Column, b: Column) -> Column:
    """Left-to-right fold dot product — deterministic double sum."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


# NOTE (r10 negative result, measured): do NOT "optimize" `_dot`
# into an unrolled fixed-dims expression (64 explicit a[i]*b[i]
# terms).  It parses, codegens, and is BIT-EXACT — and runs 5×
# SLOWER than the fold (20 M pairs, local[8]: fold 20.3 s, unrolled
# 117.1 s): the single giant generated expression exceeds the JIT's
# per-method budget, so the compiled stage executes in the bytecode
# interpreter.  Splitting across chained withColumns does not help —
# CollapseProject inlines them back into one expression (chunked
# variants measured 113–115 s).  The fold's per-element lambda
# dispatch (~16 ns/element) is the cheaper interpreter.


def cosine_with_norms(
    a: Column, b: Column, a_nrm: Column, b_nrm: Column
) -> Column:
    """Cosine from precomputed norms.  The denominator is nullif-
    guarded: a zero-norm (all-zero) vector yields null similarity
    instead of an ANSI DIVIDE_BY_ZERO error (Spark 4 runs ANSI mode
    by default); nulls sort last / fail thresholds, so zero vectors
    simply never match."""
    return _dot(a, b) / F.nullif(a_nrm * b_nrm, F.lit(0.0))


def cosine(a: Column, b: Column) -> Column:
    return cosine_with_norms(a, b, _norm(a), _norm(b))


def as_double_vec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def partial_topk(
    scored: DataFrame,
    probe_id_col: str,
    id_col: str,
    k: int,
    sim_col: str = "cos_sim",
    ascending: bool = False,
    small_input: bool = False,
) -> DataFrame:
    """Scale-safe top-k per probe: ONE rank window whose map-side
    prune is Spark's ``WindowGroupLimit`` (3.5+).

    The ``row_number() ≤ k`` filter makes the optimizer insert
    ``WindowGroupLimit Partial`` BELOW the exchange: each map task
    sorts its partition and forwards only its local top-k per probe,
    so the probe's single reducer receives ≤ maps × k rows — never a
    whole probe's candidate set.  That is exactly the residual the
    r4–r12 hand-rolled salted two-stage form shipped to ITS final
    stage; the explicit stage-1 window partitioned on
    (probe, ``spark_partition_id()``) — groups that are already
    co-located within each map task — so its exchange moved ≤ k rows
    per (probe, shard) only to recompute the prune WindowGroupLimit
    had already applied.  Dropping it removes one Exchange + two
    Sorts + one Window per top-k with an identical reducer-side load
    profile at any scale (r13; plans/r13/v17_* before/after).  The
    plan canary (tests/test_scale_ops.py) pins the Partial prune.

    The other obvious formulation — map-side truncation via
    ``slice(array_sort(collect_list(struct)), 1, k)`` — minimizes
    shuffle bytes but runs on JVM object arrays instead of Tungsten:
    measured 112 s on 20 M scored pairs (local[32]) vs 1.6–1.9 s for
    the window forms, a ~60× CPU regression that no network saving
    buys back.  The window sort here is a Tungsten radix sort.

    Output: (probe_id, id, sim, rank), rank ∈ [1, k].

    `ascending=True` ranks smallest-first (distance scores — v21's
    ADC probe); the default ranks largest-first (similarities).

    k=1 (the ingest match shape — v16) skips the pair sort entirely
    with a two-pass scalar argmin.  Pass 1 aggregates min(key) per
    probe where key is one DOUBLE — a primitive buffer, so this is a
    true Tungsten HashAggregate with MAP-SIDE partial combine: each
    scan partition collapses to ≤ one row per probe before the
    shuffle.  (The tempting one-pass forms don't have that property:
    ``min(struct(key, id, sim))`` and ``min_by`` carry struct-typed
    buffers, which the hash aggregate can't hold — Spark silently
    plans a SortAggregate that re-sorts every scored pair.  At the
    100× rehearsal that sort was ~95% of the probe's 1415 s wall;
    SCALE.md r10.)  Pass 2 re-scores the pairs (cheap — the unrolled
    kernel), keeps only rows equal to their probe's min key
    (winners ≈ one per probe, ties included), and runs the ordinary
    window on that tiny set, so tie-breaks (min id), output columns
    and types are literally the window path's.  The min-key table is
    probe-count-sized and carries one (key, id) pair per probe — a
    sliver of the scored pairs — but it is NOT hint-broadcast: the
    probe side can be a data-sized ingest batch (O(batch) rows), and
    a static ``F.broadcast`` would force a driver collect with no
    size check (the r7 plan invariant this module pins in
    tests/test_r7_ops.py).  AQE sees the aggregate's runtime stats
    and picks broadcast whenever the table is actually small — the
    stats-based choice an unconditional hint can't beat and can only
    lose to.  Key semantics match the window ordering exactly:
    descending ranks via the negated sim (IEEE negation is exact;
    ±0.0 compares equal both ways and equality keeps both zeros'
    rows as ties).  Null sims lose to every real sim via a +inf
    sentinel in BOTH directions but still surface when a probe has
    ONLY null sims; the k≥2 window path pins the same contract with
    ``asc_nulls_last`` (Spark's bare ``asc()`` is NULLS FIRST, which
    would rank a null distance as the best match — and would diverge
    from the DuckDB oracles, whose ASC default is NULLS LAST).  (NaN
    sims would rank differently — first under a desc window, last
    here — but no scoring kernel in this module can produce NaN from
    non-NaN input: squares are ≥ 0 under sqrt, and 0/0 is
    nullif-guarded.)

    ``small_input=True`` asserts the caller already reduced `scored`
    to O(groups) rows (e.g. the Arrow cogroup's per-group winners) —
    then k=1 takes the plain window path: the two-pass scalar
    argmin's pass 2 RE-EVALUATES the scored subtree, which is cheap
    for the column kernel it was designed around but re-runs the
    whole FlatMapCoGroupsInPandas stage for an Arrow input
    (measured r13: v16 paid its ~0.45 s cogroup twice).  The two
    paths' tie/null contracts are identical (see above), so this is
    a physical-plan knob only.
    """
    if k == 1 and not small_input:
        key = F.coalesce(
            F.col(sim_col) if ascending else -F.col(sim_col),
            F.lit(float("inf")),
        )
        keyed = scored.withColumn("__key", key)
        m = keyed.groupBy(probe_id_col).agg(
            F.min("__key").alias("__m")
        )
        winners = keyed.join(m, probe_id_col).filter(
            F.col("__key") == F.col("__m")
        )
        w_win = Window.partitionBy(probe_id_col).orderBy(F.col(id_col))
        return (
            winners.withColumn("rank", F.row_number().over(w_win))
            .filter(F.col("rank") <= 1)
            .select(probe_id_col, id_col, sim_col, "rank")
        )
    order = [
        F.col(sim_col).asc_nulls_last()
        if ascending
        else F.col(sim_col).desc(),
        F.col(id_col),
    ]
    w_final = Window.partitionBy(probe_id_col).orderBy(*order)
    return (
        scored.withColumn("rank", F.row_number().over(w_final))
        .filter(F.col("rank") <= k)
        .select(probe_id_col, id_col, sim_col, "rank")
    )


def brute_force_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: broadcast probes × corpus, partial top-k
    per probe.  Ties broken by corpus id for determinism.

    Output: (probe_id, vec_id, cos_sim, rank)."""
    p = probes.select(
        F.col(probe_id_col),
        as_double_vec(vec_col).alias("p_vec"),
    ).withColumn("p_nrm", _norm(F.col("p_vec")))
    c = corpus.select(
        F.col(id_col), as_double_vec(vec_col).alias("c_vec")
    ).withColumn("c_nrm", _norm(F.col("c_vec")))
    # norms precomputed per vector (identical values, 3x fewer folds
    # than re-deriving them inside every pair's cosine)
    scored = c.crossJoin(F.broadcast(p)).select(
        probe_id_col,
        id_col,
        cosine_with_norms(
            F.col("p_vec"), F.col("c_vec"),
            F.col("p_nrm"), F.col("c_nrm"),
        ).alias("cos_sim"),
    )
    return partial_topk(scored, probe_id_col, id_col, k)


def hyperplanes(num_planes: int, dim: int, seed: str = "lsh") -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes from md5 — no RNG
    state, reproducible across engines and runs."""
    planes = []
    for p in range(num_planes):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{p}:{d}".encode()).hexdigest()
            v = int(h[:15], 16) % 2001 - 1000
            row.append(v / 1000.0)
        planes.append(row)
    return planes


def lsh_bucket(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-LSH bucket id of column `vec_col`: bit p = (vec · plane_p)
    > 0, as ONE parsed ``CASE WHEN`` sum — `_dot`'s fold over each
    plane literal (same fold order, bit-identical buckets) in one
    py4j round trip instead of one per plane element."""
    terms = [
        f"CASE WHEN aggregate(zip_with(`{vec_col}`, "
        f"{_lit_double_vec_sql(plane)}, (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x) > 0 THEN {1 << p} ELSE 0 END"
        for p, plane in enumerate(planes)
    ]
    return F.expr(" + ".join(["CAST(0 AS BIGINT)", *terms]))


def lsh_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    k: int = 10,
    num_planes: int = 4,
    dim: int = 64,
) -> DataFrame:
    """Approximate cosine top-k: bucket both sides with sign-LSH,
    equi-join on the bucket, partial top-k within it.  Recall < 1 by
    design; the exact variant is the oracle for recall measurement."""
    planes = hyperplanes(num_planes, dim)
    c = corpus.select(
        F.col(id_col), as_double_vec(vec_col).alias("c_vec")
    ).withColumn("bucket", lsh_bucket("c_vec", planes)).withColumn(
        "c_nrm", _norm(F.col("c_vec"))
    )
    p = probes.select(
        F.col(probe_id_col), as_double_vec(vec_col).alias("p_vec")
    ).withColumn("bucket", lsh_bucket("p_vec", planes)).withColumn(
        "p_nrm", _norm(F.col("p_vec"))
    )
    scored = c.join(F.broadcast(p), "bucket").select(
        probe_id_col,
        id_col,
        cosine_with_norms(
            F.col("p_vec"), F.col("c_vec"),
            F.col("p_nrm"), F.col("c_nrm"),
        ).alias("cos_sim"),
    )
    return partial_topk(scored, probe_id_col, id_col, k)


def _nearest_cell(dist_col: str) -> Column:
    """Index of the SINGLE nearest centroid, ties → lowest index:
    argmin as ``array_position(d, array_min(d)) - 1``.  Semantically
    identical to ``_nearest_cells(_, d, 1)[0]`` (array_position
    returns the FIRST occurrence, i.e. the lowest index on an exact
    tie) but references the distance array only twice instead of
    sorting a struct array with an interpreted comparator.

    Why it exists (measured, SCALE.md r9): when the assignment is a
    join input, Catalyst inlines the distance-array expression into
    its consumers, and the comparator sort then re-evaluates the
    whole array per comparison — at 64 cells the fused 'assign + cell
    equi-join' stage went 57 s where the same join with argmin runs
    1.95 s (sf0.1, local[32]).  Every n=1 corpus/batch assignment
    must use this; `_nearest_cells` stays for the n_probe>1 PROBE
    side, which is calibration-sized."""
    return (
        F.array_position(F.col(dist_col), F.array_min(dist_col)) - 1
    ).cast("int")


def _nearest_cells(vec_col: str, dist_col: str, n: int) -> Column:
    """Indexes of the `n` nearest centroids given a per-centroid
    distance array, ties broken by centroid index — deterministic and
    reproducible in SQL (`row_number OVER (ORDER BY dist, cell)`).
    For n=1 on a DATA-SIZED side use `_nearest_cell` (argmin) — the
    interpreted comparator sort is a measured 30× cliff when the
    distance array gets inlined at join-key position."""
    return F.expr(
        f"slice(transform(array_sort("
        f"transform(sequence(0, size({dist_col}) - 1), "
        f"          i -> struct(element_at({dist_col}, i + 1) AS dist, "
        f"                      i AS idx)), "
        f"(l, r) -> CASE WHEN l.dist < r.dist THEN -1 "
        f"          WHEN l.dist > r.dist THEN 1 "
        f"          WHEN l.idx < r.idx THEN -1 ELSE 1 END), "
        f"s -> s.idx), 1, {n})"
    )


def seed_centroids(
    corpus: DataFrame, id_col: str, vec_col: str, n_centroids: int
) -> list[list[float]]:
    """Deterministic IVF centroids: the `n_centroids` corpus vectors
    whose md5(id) sorts first.  md5 ordering is a uniform pseudo-
    random sample that any engine can reproduce (ORDER BY md5(id)
    LIMIT n), so cell assignments — unlike KMeans.fit — have an exact
    SQL oracle.  Collecting n rows to the driver is how every IVF
    build ends (centroids must become literals/broadcast state); this
    skips the Lloyd iterations, trading some cell balance for full
    cross-engine determinism.  Recall is tuned by n_probe as usual."""
    rows = (
        corpus.select(
            as_double_vec(vec_col).alias("v"),
            F.md5(F.col(id_col).cast("string")).alias("__h"),
        )
        .orderBy("__h")
        .limit(n_centroids)
        .collect()
    )
    return [[float(x) for x in r["v"]] for r in rows]


def _sqdist(a: Column, b: Column) -> Column:
    """Left-fold squared euclidean distance (deterministic sum)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def sqdist_sql(a: str, b: str) -> str:
    """Spark-SQL-string twin of `_sqdist`: the same zip_with +
    left-fold tree (identical fold order — bit-exact), parsed in ONE
    py4j round trip instead of three Python lambda conversions.  Use
    on per-call serving paths where plan CONSTRUCTION is on the wall
    (r12; same measurement class as the simhash F.expr fix)."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
        "0.0D, (acc, x) -> acc + x)"
    )


#: Above this many centroids the centroid table rides a broadcast
#: row instead of inlined literals.  (r9 re-attribution, SCALE.md:
#: r8's "literal cliff" was really the interpreted comparator sort
#: in `_nearest_cells` — at 64 cells literal evaluation itself is
#: still fine — but the literal TREE grows as cells × dim, and at
#: real cell counts (√n: thousands) plan analysis/serialization and
#: codegen method limits are the hard wall, so the data-shipped form
#: stays the scale path.)
_LITERAL_CENTROID_MAX = 16


def _lit_double_vec_sql(vals: list[float]) -> str:
    return "array(" + ",".join(f"{float(x)!r}D" for x in vals) + ")"


def lit_double_vec(vals: list[float]) -> Column:
    """A literal ``array<double>`` as ONE parsed expression.

    ``F.lit(list)`` (and per-element ``F.array(*map(F.lit, …))``)
    costs a py4j round-trip per element — measured r10: ~1.5 s of
    v21's plan CONSTRUCTION went to ~2 000 lit() calls for the
    codebook/centroid matrices.  A repr-formatted SQL literal parses
    JVM-side in one call and is bit-exact: Python repr() is the
    shortest round-trip form and Double.parseDouble returns the
    identical IEEE double (pinned by test)."""
    return F.expr(_lit_double_vec_sql(vals))


def lit_double_matrix_sql(rows: list[list[float]]) -> str:
    """The SQL text of a literal ``array<array<double>>`` — for
    embedding into larger single-parse expressions.  The empty
    matrix is typed explicitly: a bare ``array()`` is
    ``array<void>``, which `zip_with` and `array_min` reject."""
    if not rows:
        return "CAST(array() AS ARRAY<ARRAY<DOUBLE>>)"
    return "array(" + ",".join(_lit_double_vec_sql(c) for c in rows) + ")"


def lit_double_matrix(rows: list[list[float]]) -> Column:
    """A literal ``array<array<double>>``; see `lit_double_vec`."""
    return F.expr(lit_double_matrix_sql(rows))


def _with_centroid_col(
    df: DataFrame, centroids: list[list[float]], col: str = "__cents"
) -> DataFrame:
    """Attach the frozen centroid table to every row as an
    ``array<array<double>>`` column.

    ≤ `_LITERAL_CENTROID_MAX` centroids: inline literals — the tree
    stays small and the plan is self-contained.  Above that, the
    SAME values are shipped as ONE broadcast row (a single-row
    DataFrame broadcast-cross-joined): the centroid payload rides the
    broadcast instead of being re-evaluated per data row, and no
    data-sized exchange is added (BroadcastNestedLoopJoin of a 1-row
    build side).  r13: the one-row build side is ``range(1)`` +
    the parsed matrix literal — a JVM-only subtree — where the
    r9–r12 form was a ``createDataFrame`` Python-rows frame whose
    BroadcastExchange re-ran a Python-worker ExistingRDD job on
    EVERY execution (qprofile r13: a serial 1-task ~0.2 s job in
    each trained-layout probe).  The literal is guarded by a
    row-dependent ``when(id = 0, …)`` so it is NOT a foldable alias:
    unguarded, FoldablePropagation inlines the whole matrix into
    every downstream consumer expression, multiplying the plan tree
    by cell count — exactly the blowup the broadcast form exists to
    avoid; guarded, the matrix appears ONCE (in the 1-row build
    projection) and downstream sees a plain data column.  Every
    downstream fold (`_sqdist`, `_nearest_cell`) consumes identical
    doubles either way — repr round-trip, the same twin contract
    (pinned by tests/test_similarity_multimodal.py)."""
    if len(centroids) <= _LITERAL_CENTROID_MAX:
        # one parsed matrix literal, not cells×dim F.lit() calls:
        # the per-element form costs a py4j round-trip per double
        # and dominated v21's plan-CONSTRUCTION time (measured r10);
        # the parsed literal is bit-identical (repr round-trip)
        return df.withColumn(col, lit_double_matrix(centroids))
    cent_df = df.sparkSession.range(1).select(
        F.when(F.col("id") == 0, lit_double_matrix(centroids)).alias(
            col
        )
    )
    return df.crossJoin(F.broadcast(cent_df))


def ivf_topk(
    corpus: DataFrame,
    probes: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    probe_id_col: str = "probe_id",
    k: int = 10,
    n_centroids: int = 16,
    n_probe: int = 4,
    broadcast_probes: bool = True,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: partition the corpus
    into cells around deterministic seed centroids, assign every
    vector to its nearest centroid, and search each probe only in its
    `n_probe` nearest cells.

    This is the production-scale ANN layout: the centroid id becomes
    a partition/bucket key, so a query touches ~n_probe/n_centroids
    of the corpus.  Recall is tuned by n_probe; n_probe ==
    n_centroids degrades gracefully to exact search.  Centroids come
    from `seed_centroids` (md5-ordered corpus sample) rather than
    KMeans.fit so the whole query — including cell assignment — is
    deterministic and SQL-checkable.

    `broadcast_probes=True` (default) fits the query-serving shape: a
    handful of probes replicated to every cell partition.  Pass False
    when the probe side is itself large — an ingest batch probing the
    stored index (v16) — so the join shuffles BOTH sides by cell
    instead of broadcasting gigabytes: exactly how a partitioned IVF
    layout absorbs a batch, each batch vector routed to its n_probe
    cells.

    ``centroids`` short-circuits the seed collect for callers that
    session-cache the (bounded, deterministic) centroid list — the
    collect is a full corpus sort job re-paid per plan construction
    otherwise (r13; the list must equal
    ``seed_centroids(corpus, id_col, vec_col, n_centroids)``).
    """
    if centroids is None:
        centroids = seed_centroids(corpus, id_col, vec_col, n_centroids)

    c = _with_centroid_col(
        corpus.select(
            F.col(id_col), as_double_vec(vec_col).alias("c_vec")
        ),
        centroids,
    )
    c_dists = F.transform(
        F.col("__cents"), lambda ctr: _sqdist(F.col("c_vec"), ctr)
    )
    assigned = (
        c.withColumn("d", c_dists)
        .withColumn("cell", _nearest_cell("d"))
        .drop("d", "__cents")
    )

    p = _with_centroid_col(
        probes.select(
            F.col(probe_id_col), as_double_vec(vec_col).alias("p_vec")
        ).withColumn(
            "p_nrm", _norm(F.col("p_vec"))
        ),  # norm once, BEFORE explode
        centroids,
    )
    p_dists = F.transform(
        F.col("__cents"), lambda ctr: _sqdist(F.col("p_vec"), ctr)
    )
    p = p.withColumn("d", p_dists).withColumn(
        "cells", _nearest_cells("p_vec", "d", n_probe)
    )
    p = p.select(
        probe_id_col, "p_vec", "p_nrm", F.explode("cells").alias("cell")
    )
    scored = assigned.withColumn("c_nrm", _norm(F.col("c_vec"))).join(
        F.broadcast(p) if broadcast_probes else p, "cell"
    ).select(
        probe_id_col,
        id_col,
        cosine_with_norms(
            F.col("p_vec"), F.col("c_vec"),
            F.col("p_nrm"), F.col("c_nrm"),
        ).alias("cos_sim"),
    )
    return partial_topk(scored, probe_id_col, id_col, k)


def _cogroup_exact_top1(
    routed_probes: DataFrame,
    cands: DataFrame,
    group_keys: list[str],
    probe_id_col: str,
) -> DataFrame:
    """Per-group exact cosine argmin, scored in numpy over Arrow
    cogroups — the pair-scoring engine for the quadratic batch
    shape.  The column engine pays an INTERPRETED higher-order
    function per pair (ZipWith materializes a fresh array per pair,
    ArrayAggregate folds it through `PhysicalDataType.apply` per
    element — jstack-verified hot frames); at the 100× rehearsal
    that put one exact-scoring pass at ~860 s for 803 M pairs.
    Shipping each cogroup's PROBE and CANDIDATE rows once (O(batch +
    corpus) Arrow transfer, never the pairs) and folding the gram
    matrix dimension-by-dimension in numpy runs the identical
    arithmetic vectorized across pairs.

    BIT-EXACT by construction, not approximately: the accumulation
    is ``acc = (((0.0 + a0·b0) + a1·b1) + …)`` applied elementwise
    across the P×C matrix — the same IEEE double at every step as
    the engine fold (and the SQL oracle's list_reduce), because the
    loop runs over DIMENSIONS in order, never through BLAS pairwise
    summation (the exact_l2_topk_arrow caveat this engine exists to
    avoid).  Norms are the same dim-ordered sum under sqrt; the
    division is one IEEE divide; a zero norm product yields null
    (the engine's nullif).  Ties: candidates are scanned in
    ascending vec_id order and argmin keeps the FIRST minimum, so
    the winner is the lowest-id best match — `partial_topk`'s
    ordering.  Pinned by tests/test_similarity_multimodal.py's
    engine-equality test on real corpus data.

    Probes are processed in fixed row blocks so the per-group score
    matrix stays bounded (~block × |cands| doubles) regardless of
    group size.  Output: one (probe_id, vec_id, cos_sim) row per
    (group, probe) — group winners; callers reduce winners across a
    probe's groups with `partial_topk(k=1)` (lexicographic min
    distributes over the grouping, so the global argmin is exact)."""
    # output id types DERIVED from the inputs (ADVICE r10): a
    # hardcoded "long, long" schema would miscast or fail at Arrow
    # serialization for a caller with string/int ids — the column
    # engine this kernel twins handles any id type.  Tie-breaking
    # for non-numeric ids still matches partial_topk: numpy's stable
    # object-array sort compares Python strings by code point, the
    # same total order as Spark's binary UTF-8 comparison.
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField(
                probe_id_col,
                routed_probes.schema[probe_id_col].dataType,
            ),
            StructField("vec_id", cands.schema["vec_id"].dataType),
            StructField("cos_sim", DoubleType()),
        ]
    )

    def score(pl, pr):
        import numpy as np
        import pandas as pd

        if len(pl) == 0 or len(pr) == 0:
            return pd.DataFrame(
                {probe_id_col: [], "vec_id": [], "cos_sim": []}
            )
        A = np.array(pl["p_vec"].tolist(), dtype=np.float64)
        ids = pr["vec_id"].to_numpy()
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        B = np.array(pr["c_vec"].tolist(), dtype=np.float64)[order]
        dims = A.shape[1]
        nb = np.zeros(B.shape[0])
        for i in range(dims):
            nb += B[:, i] * B[:, i]
        nb = np.sqrt(nb)
        pid = pl[probe_id_col].to_numpy()
        rows = []
        for s in range(0, A.shape[0], 512):
            Ab = A[s : s + 512]
            acc = np.zeros((Ab.shape[0], B.shape[0]))
            na = np.zeros(Ab.shape[0])
            for i in range(dims):
                acc += Ab[:, i, None] * B[None, :, i]
                na += Ab[:, i] * Ab[:, i]
            na = np.sqrt(na)
            prod = na[:, None] * nb[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / prod
            key = np.where(prod == 0.0, np.inf, -cos)
            j = np.argmin(key, axis=1)
            r = np.arange(Ab.shape[0])
            sim = cos[r, j]
            isnull = prod[r, j] == 0.0
            rows.append(
                pd.DataFrame(
                    {
                        probe_id_col: pid[s : s + 512],
                        "vec_id": ids[j],
                        "cos_sim": [
                            None if m else float(v)
                            for v, m in zip(sim, isnull)
                        ],
                    }
                )
            )
        return pd.concat(rows, ignore_index=True)

    return (
        routed_probes.groupBy(*group_keys)
        .cogroup(cands.groupBy(*group_keys))
        .applyInPandas(score, out_schema)
    )


def ivf_probe_stored(
    index: DataFrame,
    centroids: list[list[float]],
    probes: DataFrame,
    probe_id_col: str = "probe_id",
    vec_col: str = "embedding",
    k: int = 10,
    n_probe: int = 4,
    broadcast_probes: bool = False,
    cell_salts: int | None = None,
    pair_engine: str = "auto",
) -> DataFrame:
    """The probe-only half of `ivf_topk`, against a STORED index:
    `index` is the ``(vec_id, v, cell)`` assignment table a snapshot
    build wrote (`index_store.ann_index_dirs`) or a streaming daemon
    grew (`streaming.ann_stream`), and `centroids` its frozen
    companion.  Identical ranking semantics to `ivf_topk` — nearest
    cells by (sqdist, cell), cosine, `partial_topk` ties by id — so
    batch query and stream produce the same matches on the same
    artifact.

    Default `broadcast_probes=False` is the ingest shape: the probe
    side is a data-sized batch, so both sides shuffle by cell (at
    cluster scale the index side is already bucketed by cell — only
    the batch moves).  Pass True only for a handful of serving
    queries.

    `cell_salts` (shuffle path only): a bare equi-join on ``cell``
    caps SCORING parallelism at n_cells tasks — invisible at
    production cell counts (thousands of cells ≫ cores), but at
    small-cell configs the pair work serializes onto n_cells cores
    no matter how large batch × corpus grows (measured at the 100×
    rehearsal, SCALE.md r10: 16 cells kept 32 cores half idle on an
    800 M-pair probe).  With S salts the index side gets a
    deterministic per-row salt (``xxhash64(vec_id) % S``) and the
    probe side replicates ×S, joining on ``(cell, salt)`` —
    n_cells × S balanced tasks, the identical pair set (each
    (probe, candidate) pair meets on exactly the candidate's salt),
    probe-side shuffle volume ×S (the SMALL side — that asymmetry is
    why the salt lands on the index row and the replication on the
    probe).  Default None auto-sizes to ceil(parallelism / n_cells),
    1 (no-op) when n_cells already covers the session's shuffle
    partitioning.

    `pair_engine`: ``"auto"`` (default) scores the k=1 shuffle shape
    — the ingest matcher, whose pair space is batch × corpus /
    n_cells — with the Arrow cogroup gram engine
    (`_cogroup_exact_top1`: bit-exact dim-ordered numpy fold,
    O(batch + corpus) transfer; measured two orders of magnitude
    under the column fold at the 100× rehearsal, SCALE.md r10), and
    everything else with the column engine.  ``"column"`` /
    ``"arrow"`` force one side — the engines are bit-exact twins,
    pinned by test."""
    p = _with_centroid_col(
        probes.select(
            F.col(probe_id_col), as_double_vec(vec_col).alias("p_vec")
        ).withColumn("p_nrm", _norm(F.col("p_vec"))),
        centroids,
    )
    p_dists = F.transform(
        F.col("__cents"), lambda ctr: _sqdist(F.col("p_vec"), ctr)
    )
    # the probe side can be a data-sized ingest batch, but the
    # comparator-sort routing STAYS: the n=1 argmin win does NOT
    # generalize to n>1 — an iterated masked argmin re-evaluates its
    # outer position reference per array ELEMENT inside the zip_with
    # lambda (no cross-lambda subexpression sharing), measured 22 s
    # vs 2 s on the sf1 ingest batch at n_probe=2 and unboundedly
    # worse as n grows (SCALE.md r9 negative result)
    p = (
        p.withColumn("d", p_dists)
        .withColumn("cells", _nearest_cells("p_vec", "d", n_probe))
        .select(
            probe_id_col, "p_vec", "p_nrm", F.explode("cells").alias("cell")
        )
    )
    cand = index.withColumnRenamed("v", "c_vec").withColumn(
        "c_nrm", _norm(F.col("c_vec"))
    )
    join_keys = ["cell"]
    if not broadcast_probes:
        n_cells = len(centroids)
        par = int(
            probes.sparkSession.conf.get(
                "spark.sql.shuffle.partitions", "200"
            )
        )
        salts = cell_salts
        if salts is None:
            salts = max(1, -(-par // max(1, n_cells)))
        if salts > 1:
            cand = cand.withColumn(
                "__salt",
                F.pmod(F.xxhash64("vec_id"), F.lit(salts)).cast("int"),
            )
            p = p.withColumn(
                "__salt",
                F.explode(
                    F.array(*[F.lit(i) for i in range(salts)])
                ),
            )
            join_keys = ["cell", "__salt"]
        # USER-NUMBERED repartition on both sides, matching the
        # pair-grouping keys: AQE coalesces ENSURE_REQUIREMENTS
        # exchanges by INPUT bytes, and this shape's inputs are
        # megabytes while its pair space explodes to batch × corpus
        # / n_cells — measured at the 100× rehearsal, AQE folded the
        # 32-way scoring join down to ~2 partitions and serialized
        # it (SCALE.md r10).  A repartition with an explicit
        # numPartitions is never coalesced, and because it hashes on
        # exactly the grouping keys the join/cogroup reuses it.
        cand = cand.repartition(
            par, *[F.col(c) for c in join_keys]
        )
        p = p.repartition(par, *[F.col(c) for c in join_keys])
    engine = pair_engine
    if engine == "auto":
        engine = (
            "arrow" if (k == 1 and not broadcast_probes) else "column"
        )
    if engine == "arrow":
        # the quadratic ingest shape: per-group Arrow gram scoring
        # (O(batch + corpus) transfer, vectorized dim-ordered fold —
        # bit-exact, see _cogroup_exact_top1), then the exact global
        # argmin across each probe's n_probe × salts group winners
        if k != 1:
            raise ValueError(
                "pair_engine='arrow' implements the k=1 ingest match "
                "shape; use the column engine for general k"
            )
        winners = _cogroup_exact_top1(
            p.select(probe_id_col, "p_vec", *join_keys),
            cand.select("vec_id", "c_vec", *join_keys),
            join_keys,
            probe_id_col,
        )
        # winners is O(probes × n_probe × salts) — small_input takes
        # the window path so the cogroup stage runs ONCE (the scalar
        # argmin's pass 2 would re-run FlatMapCoGroupsInPandas; r13)
        return partial_topk(
            winners, probe_id_col, "vec_id", 1, small_input=True
        )
    # column engine: per-pair scoring stays on the aggregate/zip_with
    # FOLD — the "obvious" codegen unroll (64 explicit a[i]*b[i]
    # terms) is a measured 5× REGRESSION (the giant generated
    # expression blows the JIT budget and runs in the bytecode
    # interpreter; chained-column splits collapse back into one
    # expression via CollapseProject).  20 M pairs, local[8]: fold
    # 20.3 s, unrolled 117.1 s, chained-chunks 113–115 s (SCALE.md
    # r10).
    scored = cand.join(
        F.broadcast(p) if broadcast_probes else p, join_keys
    ).select(
        probe_id_col,
        "vec_id",
        cosine_with_norms(
            F.col("p_vec"), F.col("c_vec"),
            F.col("p_nrm"), F.col("c_nrm"),
        ).alias("cos_sim"),
    )
    return partial_topk(scored, probe_id_col, "vec_id", k)


def exact_l2_topk_arrow(
    corpus: DataFrame,
    probe_rows: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "cv",
    probe_id_col: str = "probe_id",
    k: int = 10,
) -> DataFrame:
    """Exact L2 top-k with the probes×corpus distance fold done as a
    numpy gram matrix per Arrow batch — the fast engine for audit
    arms (x59) whose exact leg is inherently linear in the corpus.

    Same two-stage shape as `partial_topk`: each Arrow batch emits
    its own lexsort-(d², id) top-k per probe (a superset of any
    global top-k member, ties included), and one tiny window re-ranks
    the ≤ batches × k survivors.  ~8× over the interpreted
    higher-order-function fold on this exact shape (SCALE.md's v3c
    measurement) — but d² comes from BLAS pairwise summation, so it
    can differ ~1 ulp from the left-fold `_sqdist`: keep the column
    engine wherever bit-exactness against a SQL oracle matters.

    `probe_rows` is driver-side state — audits probe a handful of
    vectors (the bounded-collect calibration-table pattern).

    Output: (probe_id, vec_id, negd2, rank), rank ∈ [1, k]."""
    import numpy as np
    import pandas as pd

    pids = [int(i) for i, _ in probe_rows]
    P = np.array([v for _, v in probe_rows], dtype=np.float64)
    p_sq = (P * P).sum(axis=1)

    def per_batch(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            C = np.stack(pdf[vec_col].values).astype(np.float64)
            ids = pdf[id_col].values
            d2 = (
                (C * C).sum(axis=1)[:, None]
                + p_sq[None, :]
                - 2.0 * (C @ P.T)
            )
            out = {probe_id_col: [], id_col: [], "negd2": []}
            for j, pid in enumerate(pids):
                order = np.lexsort((ids, d2[:, j]))[:k]
                out[probe_id_col].extend([pid] * len(order))
                out[id_col].extend(ids[order])
                out["negd2"].extend(-d2[order, j])
            yield pd.DataFrame(out)

    survivors = corpus.select(id_col, vec_col).mapInPandas(
        per_batch, f"{probe_id_col} long, {id_col} long, negd2 double"
    )
    w = Window.partitionBy(probe_id_col).orderBy(
        F.col("negd2").desc(), F.col(id_col)
    )
    return (
        survivors.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def recommended_planes(
    n_rows: int,
    target_bucket_rows: int = 1024,
    lo: int = 4,
    hi: int = 24,
) -> int:
    """Plane count sized to the corpus: ceil(log2(n / target_bucket)),
    clamped to [lo, hi].

    Why it must grow with n: with p planes there are 2^p buckets, so
    the expected intra-bucket pair work is Σ (n/2^p)² · 2^p = n²/2^p.
    Keeping the per-bucket row count near `target_bucket_rows` keeps
    each bucket's all-pairs block bounded: 10⁶ vectors → 10 planes,
    10⁹ → 20 planes.  A fixed small p (e.g. 8 = 256 buckets) looks
    fine at test scale but is quadratic at a billion rows.  More
    planes lower recall per bucket; compensate with `multi_probe`."""
    import math

    if n_rows <= target_bucket_rows:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(n_rows / target_bucket_rows))))


def embedding_near_dups(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    dim: int = 64,
    min_cosine: float = 0.95,
    multi_probe: bool = False,
    target_bucket_rows: int = 1024,
    engine: str = "column",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via LSH self-join:
    (id_a, id_b, cos_sim) with id_a < id_b and cos_sim >= threshold.
    The bucket equi-join bounds the pair space; exactness within a
    bucket is full cosine.

    `num_planes=None` sizes the bucket count to the corpus via
    `recommended_planes` (one count() job at plan-build time).

    `multi_probe=True` also probes every Hamming-distance-1 neighbor
    bucket: side A is exploded to its own bucket plus the p one-bit
    flips, so a pair whose sketches differ in exactly one plane —
    the dominant miss mode for true near-dups, since each plane flips
    independently with probability θ/π — still meets in the join.
    Replication factor is p+1 on one side only, and each qualifying
    pair meets exactly once (its bucket distance picks the single
    matching probe), so no dedup pass is needed.

    `engine` picks the intra-bucket cosine implementation:
      - "column": pure Column expressions — deterministic fold order,
        the bit-exact path every oracle-gated variant uses;
      - "arrow": cogrouped `applyInPandas` per bucket, cosines as one
        numpy/BLAS gram matrix — measured 14× faster at sf0.1 (0.8 s
        vs 11 s) because Catalyst's higher-order functions interpret
        per element while BLAS vectorizes.  Same pair set (pinned by
        test); cos_sim may differ ~1 ulp from BLAS pairwise
        summation, so keep "column" wherever bit-exactness matters.
        Requires a numeric/long id column.
    """
    if num_planes is None:
        num_planes = recommended_planes(df.count(), target_bucket_rows)
    planes = hyperplanes(num_planes, dim)
    v = df.select(
        F.col(id_col).alias("vid"), as_double_vec(vec_col).alias("vec")
    ).withColumn("bucket", lsh_bucket("vec", planes)).withColumn(
        "nrm", _norm(F.col("vec"))
    )
    if engine == "arrow":
        return _near_dups_arrow(v, num_planes, min_cosine, multi_probe)
    if engine != "column":
        raise ValueError(f"unknown engine {engine!r}")
    if multi_probe:
        probe_buckets = F.array(
            F.col("bucket"),
            *[
                F.col("bucket").bitwiseXOR(F.lit(1 << p))
                for p in range(num_planes)
            ],
        )
        a = v.withColumn("pb", F.explode(probe_buckets)).alias("a")
        join_cond = (F.col("a.pb") == F.col("b.bucket")) & (
            F.col("a.vid") < F.col("b.vid")
        )
    else:
        a = v.alias("a")
        join_cond = (F.col("a.bucket") == F.col("b.bucket")) & (
            F.col("a.vid") < F.col("b.vid")
        )
    b = v.alias("b")
    return (
        a.join(b, join_cond)
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            cosine_with_norms(
                F.col("a.vec"), F.col("b.vec"),
                F.col("a.nrm"), F.col("b.nrm"),
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= min_cosine)
    )


def _near_dups_arrow(
    v: DataFrame, num_planes: int, min_cosine: float, multi_probe: bool
) -> DataFrame:
    """Arrow engine for `embedding_near_dups`: cogroup probe side and
    build side per bucket, compute all intra-bucket cosines as one
    normalized gram matrix (`An @ Bn.T`) in numpy.

    Pair uniqueness without a dedup pass: the probe side's id must be
    the SMALLER one (aid < bid filters, never swaps), and a probe
    list's buckets are all distinct, so each qualifying pair is
    emitted by exactly one (probe row, build bucket) combination —
    the same argument as the column engine's join condition.

    The build side's columns are re-aliased before the cogroup:
    both sides share one parent plan, and without distinct attribute
    ids Catalyst prunes the build side down to the grouping key.

    Scale: per-task memory is one bucket's vectors (bounded by
    `target_bucket_rows` × dim doubles); the gram matrix batches at
    most bucket×bucket — with the 1024 default that is 8 MB, far
    under Arrow batch limits."""
    import numpy as np
    import pandas as pd

    if multi_probe:
        probe = v.withColumn(
            "bucket",
            F.explode(
                F.array(
                    F.col("bucket"),
                    *[
                        F.col("bucket").bitwiseXOR(F.lit(1 << p))
                        for p in range(num_planes)
                    ],
                )
            ),
        )
    else:
        probe = v
    build = v.select(
        F.col("vid").alias("bvid"),
        F.col("vec").alias("bvec"),
        F.col("bucket").alias("bbucket"),
    )
    thr = float(min_cosine)

    def per_bucket(key, a: pd.DataFrame, b: pd.DataFrame):
        if len(a) == 0 or len(b) == 0:
            return pd.DataFrame(
                {
                    "id_a": pd.array([], dtype="int64"),
                    "id_b": pd.array([], dtype="int64"),
                    "cos_sim": pd.array([], dtype="float64"),
                }
            )
        A = np.stack(a["vec"].values)
        B = np.stack(b["bvec"].values)
        with np.errstate(divide="ignore", invalid="ignore"):
            An = A / np.linalg.norm(A, axis=1, keepdims=True)
            Bn = B / np.linalg.norm(B, axis=1, keepdims=True)
            sims = An @ Bn.T
        ia, ib = np.nonzero(sims >= thr)  # NaN (zero vectors) fails
        aid = a["vid"].values[ia]
        bid = b["bvid"].values[ib]
        keep = aid < bid
        return pd.DataFrame(
            {
                "id_a": aid[keep],
                "id_b": bid[keep],
                "cos_sim": sims[ia, ib][keep],
            }
        )

    return (
        probe.groupBy("bucket")
        .cogroup(build.groupBy("bbucket"))
        .applyInPandas(per_bucket, "id_a long, id_b long, cos_sim double")
    )


def pq_encode(
    df: DataFrame,
    seed_vectors: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 4,
    dims: int = 16,
) -> DataFrame:
    """Product-quantization ENCODE against a frozen codebook — the
    shared kernel behind the batch code build (catalog v11) and the
    streaming codes daemon (`streaming.pq_codes_stream`): split each
    (m·dims)-dim vector into m subvectors, pick each subspace's
    nearest codeword (L2², argmin via array_min + array_position —
    ties → lowest code, `_nearest_cell`'s argument), emit the m codes
    plus the summed reconstruction error.

    `seed_vectors` is the codebook as FULL-dimension vectors (entry j
    supplies codeword j of every subspace — the v11 seeding
    convention); k = len(seed_vectors) codewords per subspace.
    Codebook values ride as literals: k·m·dims doubles is
    calibration-sized (the IVF-seed precedent), and the per-subspace
    argmin references each distance array exactly twice.  Each
    subspace's codebook is one parsed k×dims matrix literal under one
    ``transform``, and the whole projection is one ``selectExpr``:
    a per-element ``F.lit`` tree costs a py4j round trip per node
    (~11k at k16 m4 d16) for identical doubles (repr round trip) and
    the identical fold.

    In-row arithmetic throughout — no join, no shuffle, no UDF; fold
    order matches the DuckDB list_reduce oracle exactly (v11's
    parity).  Output: (id_col, code0..code{m-1}, recon_err)."""
    cols, errs = [f"`{id_col}`"], []
    for s in range(m):
        sub = (
            f"transform(slice(`{vec_col}`, {s * dims + 1}, {dims}), "
            "x -> CAST(x AS DOUBLE))"
        )
        book = lit_double_matrix_sql(
            [v[s * dims : (s + 1) * dims] for v in seed_vectors]
        )
        dists = f"transform({book}, c -> {sqdist_sql(sub, 'c')})"
        cols.append(
            f"CAST(array_position({dists}, array_min({dists})) - 1 AS INT)"
            f" AS code{s}"
        )
        errs.append(f"array_min({dists})")
    return df.selectExpr(*cols, " + ".join(errs) + " AS recon_err")


def quantize_int8(
    df: DataFrame, id_col: str, vec_col: str, err_scale: int = 10**12
) -> DataFrame:
    """Symmetric per-vector int8 quantization of an embedding column —
    the 4× storage/bandwidth cut an ANN serving tier takes before
    shipping 100 TB of float32 vectors ([-max_abs, max_abs] mapped to
    [-127, 127]).

    q_j = floor(v_j · 127 / max_abs), scale = max_abs / 127, so
    dequantization is q_j · scale.  FLOOR, not round-half-even:
    rounding modes differ across engines/libms, floor of an exactly-
    computed double does not — every column here reproduces
    bit-for-bit in any engine (same policy as the floor-scaled sums in
    the catalog oracles).  Zero vectors quantize to zeros with
    scale 0.

    Reconstruction error is reported as Σ floor((v_j − q_j·scale)² ·
    err_scale) — an integer, so the sum is associative and
    order-independent (a double Σ of squares would depend on fold
    order).

    Pure per-row column arithmetic: no shuffle, no UDF.  Each
    intermediate (v, max_abs, scale, q) is materialized as its own
    column BEFORE the expressions that consume it: Spark does no CSE
    inside lambda bodies, so inlining `array_max(...)` into the
    per-element quantize lambda would recompute the max for every
    element of every consumer (measured 4×: 3.3 s → 0.8 s at sf0.1).

    Output: (id_col, q array<int>, scale double, q_digest,
    err_scaled bigint)."""
    staged = (
        df.withColumn(
            "__v", F.transform(F.col(vec_col), lambda x: x.cast("double"))
        )
        .withColumn("__ma", F.array_max(F.transform(F.col("__v"), F.abs)))
        .withColumn(
            "scale",
            F.when(F.col("__ma") == 0.0, F.lit(0.0)).otherwise(
                F.col("__ma") / F.lit(127.0)
            ),
        )
        .withColumn(
            "q",
            F.when(
                F.col("__ma") == 0.0,
                F.transform(F.col("__v"), lambda x: F.lit(0)),
            ).otherwise(
                F.transform(
                    F.col("__v"),
                    lambda x: F.floor(
                        x * F.lit(127.0) / F.col("__ma")
                    ).cast("int"),
                )
            ),
        )
        .withColumn(
            "err_scaled",
            F.aggregate(
                F.zip_with(
                    F.col("__v"),
                    F.col("q"),
                    # (d·d), not pow(d, 2): pow is a libm call whose
                    # rounding can differ 1 ulp across engines
                    lambda x, qq: F.floor(
                        (x - qq.cast("double") * F.col("scale"))
                        * (x - qq.cast("double") * F.col("scale"))
                        * F.lit(float(err_scale))
                    ),
                ),
                F.lit(0).cast("long"),
                lambda acc, e: acc + e,
            ),
        )
    )
    return staged.select(
        F.col(id_col),
        "q",
        "scale",
        F.md5(
            F.array_join(
                F.transform(F.col("q"), lambda x: x.cast("string")), ","
            )
        ).alias("q_digest"),
        "err_scaled",
    )


def binary_quantize(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Sign-bit binary quantization: each embedding collapses to
    ``dim`` sign bits packed into ceil(dim/32) 32-bit words (held in
    longs) — 32× smaller than float32, and cosine ranking is
    approximated by Hamming distance on the signatures (for mean-
    centered vectors, P[sign mismatch] = angle/π per the random-
    hyperplane argument — here the hyperplanes are the coordinate
    axes, i.e. SimHash with the identity projection).

    32-bit words rather than 64: the packing fold is acc·2+bit, and
    a 64-bit fold's final doubling overflows a signed long for
    vectors whose dim-1 bit is set — under Spark 4 ANSI semantics
    that is a runtime error, not a wrap.  Two words keep every value
    in [0, 2³²) and cost one extra xor+popcount per comparison.

    Scale shape: in-row fold per word, zero shuffle; the output is
    the 100 TB-side artifact (8·ceil(dim/32) bytes/vector) that
    downstream Hamming search shuffles instead of float arrays."""
    n_words = (dim + 31) // 32
    vec = F.col(vec_col)
    words = []
    for w in range(n_words):
        lo, hi = w * 32, min(dim, w * 32 + 32) - 1
        words.append(
            F.aggregate(
                F.sequence(F.lit(hi), F.lit(lo), F.lit(-1)),
                F.lit(0).cast("long"),
                lambda acc, i: acc * 2
                + F.when(F.get(vec, i) >= 0, 1).otherwise(0),
            ).alias(f"sig{w}")
        )
    return df.select(F.col(id_col), *words)


def hamming_topk(
    corpus_sigs: DataFrame,
    probe_sigs: DataFrame,
    id_col: str = "vec_id",
    probe_id_col: str = "probe_id",
    sig_cols: tuple[str, ...] = ("sig0", "sig1"),
    k: int = 10,
) -> DataFrame:
    """Exact Hamming top-k over binary signatures: broadcast probes ×
    corpus with xor+popcount distances, ranked by the salted
    two-stage `partial_topk` (distance negated into its similarity
    contract; ties break on id).  The binary-ANN baseline: per
    comparison it moves ~16 bytes and two popcounts where cosine
    moves two float arrays and ``dim`` multiply-adds."""
    p = probe_sigs.select(
        F.col(id_col).alias(probe_id_col),
        *[F.col(c).alias(f"p_{c}") for c in sig_cols],
    )
    ham: Column | None = None
    for c in sig_cols:
        t = F.bit_count(F.col(c).bitwiseXOR(F.col(f"p_{c}")))
        ham = t if ham is None else ham + t
    scored = (
        corpus_sigs.crossJoin(F.broadcast(p))
        .filter(F.col(id_col) != F.col(probe_id_col))
        .withColumn("neg_hamming", (-ham).cast("long"))
    )
    out = partial_topk(scored, probe_id_col, id_col, k, sim_col="neg_hamming")
    return out.select(
        probe_id_col,
        id_col,
        (-F.col("neg_hamming")).alias("hamming"),
        "rank",
    )


def mmr_select(
    pool: DataFrame,
    id_col: str,
    vec_col: str,
    rel_col: str,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein '98) diverse
    top-k over a BOUNDED candidate pool: greedily pick the item
    maximizing  lam·rel − (1−lam)·max_{s∈S} cos(item, s),  ties by
    id.  The pool is expected to be a TakeOrdered top-P frame
    (pool-sized, not data-sized).  At 100 TB the pool stage
    (brute/LSH/IVF top-P) does the data-sized work; MMR's cost is
    O(k·P²) on P rows regardless of corpus size — so the greedy
    rounds run DRIVER-SIDE over the collected pool (r13, VERDICT r12
    item 3): the r12 distributed form paid one localCheckpoint →
    physical-planning cycle plus several control-plane AQE jobs PER
    ROUND over ≤ P-row frames (qprofile: ~1.0 s of v13's wall was
    plan construction, 19 micro-jobs), pure driver overhead that a
    bounded P never amortizes.  One collect of the pool (the only
    action — it runs the data-sized pool stage, and every call
    re-runs it: nothing is cached across calls) replaces k−1 rounds
    of re-planning; the selection itself is O(k·P²) Python doubles.

    Bit-parity with the r12 distributed form (pinned by
    tests/test_r7_ops.py::test_mmr_select_matches_distributed):
    pairwise cosines replicate `cosine` exactly — the same
    left-to-right fold over IEEE-754 binary64 values (CPython floats
    and JVM codegen both evaluate each *, +, / as one correctly-
    rounded binary64 op; `math.sqrt` and `java.lang.Math.sqrt` are
    both correctly rounded), the same zero-denominator null guard —
    the λ-combination is the same multiply-subtract of identical
    operands, and every argmax carries the (score DESC NULLS LAST,
    id ASC) order of the old 1-row TakeOrdered.  Returns (sel_rank,
    id, rel, mmr_score); sel_rank 1's score is its relevance
    (nothing selected yet to diversify against)."""
    import math

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    rows = pool.select(
        F.col(id_col).alias("__id"),
        F.col(vec_col).alias("__v"),
        F.col(rel_col).alias("__rel"),
    ).collect()
    items = [(r["__id"], r["__v"], r["__rel"]) for r in rows]

    def _dot_py(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def _cos_py(a, b):
        den = math.sqrt(_dot_py(a, a)) * math.sqrt(_dot_py(b, b))
        if den == 0.0:
            return None
        return _dot_py(a, b) / den

    sim = {
        (ida, idb): _cos_py(va, vb)
        for ida, va, _ in items
        for idb, vb, _ in items
        if ida != idb
    }

    def _argmax(cands):
        """(score DESC NULLS LAST, id ASC) — the old TakeOrdered."""
        best = None
        for cand in cands:
            if best is None:
                best = cand
                continue
            cid, _, cscore = cand
            bid, _, bscore = best
            if cscore is None:
                take = bscore is None and cid < bid
            elif bscore is None:
                take = True
            else:
                take = cscore > bscore or (
                    cscore == bscore and cid < bid
                )
            if take:
                best = cand
        return best

    first = _argmax([(i, r, r) for i, _, r in items])
    if first is None:
        return pool.sparkSession.createDataFrame(
            [],
            StructType(
                [
                    StructField("sel_rank", LongType(), False),
                    StructField(
                        id_col, pool.schema[id_col].dataType, True
                    ),
                    StructField(
                        rel_col, pool.schema[rel_col].dataType, True
                    ),
                    StructField("mmr_score", DoubleType(), True),
                ]
            ),
        )
    selected = [(1, first[0], first[1], first[2])]
    chosen = {first[0]}
    for rank in range(2, k + 1):
        cands = []
        for cid, _, crel in items:
            if cid in chosen:
                continue
            msim = None
            for _, sid, _, _ in selected:
                s = sim[(cid, sid)]
                if s is not None and (msim is None or s > msim):
                    msim = s
            score = (
                None
                if msim is None or crel is None
                else lam * crel - (1.0 - lam) * msim
            )
            cands.append((cid, crel, score))
        pick = _argmax(cands)
        if pick is None:
            break
        selected.append((rank, pick[0], pick[1], pick[2]))
        chosen.add(pick[0])
    schema = StructType(
        [
            StructField("sel_rank", LongType(), False),
            StructField(id_col, pool.schema[id_col].dataType, True),
            StructField(rel_col, pool.schema[rel_col].dataType, True),
            StructField("mmr_score", DoubleType(), True),
        ]
    )
    return pool.sparkSession.createDataFrame(selected, schema)

