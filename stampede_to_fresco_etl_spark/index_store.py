"""Snapshot-keyed stored-index artifacts — the parquet form of the
dedup band table and the IVF centroid/assignment index, shared
between the batch catalog queries (d15/v16) and the streaming twins
(`streaming.dedup_stream` / `streaming.ann_stream`).

Why this exists (VERDICT r7 item 5): the streams already read/write
real parquet artifacts (band rows under ``batch_id=N`` partitions, a
single-file centroid companion), but the batch queries were
rebuilding their "stored" index from scratch on every call — session
persist at best.  At 100 TB the index IS the artifact: banded /
assigned once per corpus snapshot, then probed by every batch and
every ad-hoc query alike.  This module materializes each artifact
once per (session, sf_dir) under the catalog scratch dir in EXACTLY
the layout the streams maintain, so

- a batch query probes the same parquet a streaming daemon grows,
- `tests/test_index_store.py` proves batch ≡ stream on one artifact.

Layout contract (identical to the streams'):

- dedup band index:  ``band_signatures`` rows
  ``(doc, mh0..mh{k-1}, band_idx, band_key)`` under
  ``<dir>/batch_id=N`` partitions (the snapshot bootstrap is
  ``batch_id=0``).  At cluster scale: ``bucketBy(band_idx,
  band_key)`` so probes shuffle only the batch side.
- ANN index: ``(vec_id, v, cell)`` rows under ``<dir>/batch_id=N``;
  at cluster scale stored partitioned/bucketed BY CELL.
- ANN centroids: ``(cell int, cv array<double>)``, one file —
  dimension-sized companion state.

Freshness: the first touch in a Spark session overwrites the
artifact (so a regenerated testdata dir can never leak a stale index
across sessions); every later touch in the same session reuses the
parquet — the steady-state read path.

Thread safety: builders may be called from several threads at once
(`catalog.warm_shared_frames` runs its artifact builds concurrently).

- Every builder goes through `materialize_once`, which runs check →
  `_fresh_dir` → write → `_mark_materialized` under a lock for that
  artifact path, so two first touches of one artifact build it once
  and never delete each other's write.
- Every scan of a module cache dict (`_IVFPQ_READ_CACHE`,
  `_MATERIALIZED`) iterates a ``list(...)`` snapshot, so a key another
  thread inserts mid-scan cannot raise "dictionary changed size
  during iteration".
"""

from __future__ import annotations

import os
import re
import threading
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: (applicationId, artifact dir) -> materialized this session
_MATERIALIZED: dict[tuple[str, str], bool] = {}

#: Non-path session lifecycle flags (e.g. "<index_dir>#wave1" — this
#: growth wave was already applied in this session).  A SEPARATE map
#: from `_MATERIALIZED` so artifact-flag keys stay real directories
#: and path-prefix logic (`_invalidate_derived`) can never match a
#: pseudo-path (VERDICT r9 watch item 3d).
_SESSION_MARKS: dict[tuple[str, str], bool] = {}


def session_marker(spark: SparkSession, key: str) -> bool:
    """True iff `mark_session(spark, key)` ran earlier in this Spark
    session.  For non-path lifecycle flags; artifact directories use
    `_already_materialized` / `_mark_materialized` instead."""
    return bool(
        _SESSION_MARKS.get((spark.sparkContext.applicationId, key))
    )


def mark_session(spark: SparkSession, key: str) -> None:
    _SESSION_MARKS[(spark.sparkContext.applicationId, key)] = True


def unmark_session(spark: SparkSession, key: str) -> None:
    """Invalidate a session lifecycle flag — called wherever the
    state the flag certifies is rewritten (e.g. the postings layout
    manifest), so a cached verdict can never outlive its evidence."""
    _SESSION_MARKS.pop(
        (spark.sparkContext.applicationId, key), None
    )


def _scratch() -> str:
    from stampede_to_fresco_etl_spark.catalog import _SCRATCH

    return _SCRATCH


def _key(sf_dir: str) -> str:
    # never leading "_" — Spark's file listing skips paths whose
    # basename starts with "_" (the _SUCCESS/_metadata convention)
    return re.sub(
        r"[^A-Za-z0-9_.-]+", "_", sf_dir.rstrip("/")
    ).lstrip("_.")


def guard_daemon_dirs(*paths: str | None) -> None:
    """Refuse catalog-scratch ``index_store`` paths for CHECKPOINTED
    daemons (ADVICE r9, now enforced rather than documented):
    `_fresh_dir` deletes a scratch artifact's grown ``batch_id>=1``
    partitions on a new session's first catalog touch, and a
    checkpointed daemon targeting that artifact could never REPLAY
    the deleted batches — its checkpoint says they are committed —
    so the growth would be lost permanently.  Raising at daemon
    start turns that silent data-loss race into an immediate error.
    Daemons own their artifact dirs OUTSIDE the catalog scratch
    tree (every test/rehearsal already does); the catalog's own
    session-lifecycle queries (v20/d17/v24) call the ``apply_*``
    batch bodies directly, never a checkpointed runner, so they are
    unaffected.

    Paths are NORMALIZED before the comparison (ADVICE r10): a raw
    string-prefix check lets equivalently spelled paths — ``file:``
    URIs, relative paths, ``//``/``./`` segments, symlinks, a
    scratch root configured with a trailing slash — bypass a guard
    whose failure mode is silent permanent data loss.  Both sides go
    through ``os.path.realpath`` (scheme stripped first), so every
    spelling of the same directory hits the same canonical form."""

    def _canon(p: str) -> str:
        p = str(p)
        if p.startswith("file:"):
            # parse the URI properly (ADVICE r11): bare prefix
            # stripping turned 'file://localhost/x' into
            # 'localhost/x', a RELATIVE path realpath'd against CWD
            # — bypassing a guard whose failure mode is silent
            # permanent data loss.  urlparse drops scheme AND
            # authority, keeping only the path.
            from urllib.parse import urlparse

            p = urlparse(p).path or "/"
        return os.path.realpath(p)

    bad = _canon(f"{_scratch()}/index_store")
    for p in paths:
        if p and (
            _canon(p) == bad or _canon(p).startswith(bad + os.sep)
        ):
            raise ValueError(
                f"checkpointed daemons must not target catalog-scratch "
                f"index_store paths (got {p!r}): the catalog deletes "
                f"grown batch partitions there on a new session's "
                f"first touch, and the daemon's checkpoint would "
                f"prevent replaying them — own the artifact dir "
                f"outside {bad!r}"
            )


def _ckey(path: str) -> str:
    """Canonical cache-key spelling of an artifact path (ADVICE r12):
    collapse doubled slashes (outside a URI scheme) and drop any
    trailing slash, applied at EVERY flag/reader-cache insertion and
    lookup — so an equivalent path spelled differently can neither
    create a second cache entry nor dodge a prefix invalidation."""
    m = re.match(r"^([A-Za-z][A-Za-z0-9+.-]*://)(.*)$", path)
    scheme, rest = (m.group(1), m.group(2)) if m else ("", path)
    return scheme + re.sub(r"/{2,}", "/", rest).rstrip("/")


def _already_materialized(spark: SparkSession, path: str) -> bool:
    """True iff this artifact was fully built earlier in this Spark
    session.  Pure check — callers build when False and then call
    `_mark_materialized` AFTER the write succeeds, so a failed or
    interrupted build never leaves the session flag set against a
    missing/partial artifact (it would silently serve wrong probes
    for the rest of the session)."""
    return bool(
        _MATERIALIZED.get(
            (spark.sparkContext.applicationId, _ckey(path))
        )
    )


def _mark_materialized(spark: SparkSession, path: str) -> None:
    _MATERIALIZED[(spark.sparkContext.applicationId, _ckey(path))] = True
    # a (re)build just landed: any cached reader DataFrame holds the
    # OLD file listing — drop it, including readers of SUBTREE dirs
    # (guard-cached family readers under an audit base, r12)
    invalidate_readers(spark, path)


#: canonical artifact path -> the lock `materialize_once` holds across
#: that artifact's check → `_fresh_dir` → write → `_mark_materialized`
_BUILD_LOCKS: dict[str, threading.Lock] = {}
_BUILD_LOCKS_GUARD = threading.Lock()


def materialize_once(
    spark: SparkSession,
    path: str,
    write: Callable[[], None],
    fresh: bool = True,
) -> None:
    """Build the artifact at `path` once per Spark session: unless
    this session already built it, clear the tree (`_fresh_dir`, when
    `fresh`), run `write()`, and set the session flag.  The steps run
    under a per-path lock, so two threads first-touching one artifact
    build it once: the second waits and then finds the flag set.  The
    flag is set only after `write()` returns, so a failed build leaves
    it unset and the next touch rebuilds.  Pass ``fresh=False`` when
    `write()` itself replaces the whole tree (an overwrite of `path`)
    or builds it through the growth verbs."""
    if _already_materialized(spark, path):
        return
    with _BUILD_LOCKS_GUARD:
        lock = _BUILD_LOCKS.setdefault(_ckey(path), threading.Lock())
    with lock:
        if _already_materialized(spark, path):
            return
        if fresh:
            _fresh_dir(spark, path)
        write()
        _mark_materialized(spark, path)


def _fresh_dir(spark: SparkSession, path: str) -> str:
    """Delete `path` before a first-session snapshot build and return
    it.  The snapshot writes land under ``<path>/batch_id=0``, whose
    per-partition overwrite does NOT clear sibling ``batch_id>=1``
    partitions a PRIOR session's daemon (or test) grew — without
    this, a regenerated corpus would rebuild the snapshot next to
    stale grown partitions and every probe would read both (the
    cross-session leak the module docstring promises can't happen).

    CONSTRAINT (ADVICE r9): because this deletes committed
    ``batch_id>=1`` growth on a new session's first catalog touch, a
    CHECKPOINTED streaming daemon must never target a catalog-scratch
    index_store path — its checkpoint would prevent replaying the
    deleted batches, losing the growth permanently.  ENFORCED: every
    ``run_*`` daemon entrypoint calls `guard_daemon_dirs` and refuses
    such paths at start.  Checkpointed daemons own their index dirs
    outside the catalog scratch tree; the catalog's session-lifecycle
    artifacts (v20/d17/v24) are safe because they call the ``apply_*``
    batch bodies directly and re-apply their wave each session by
    design."""
    # the tree is about to vanish: drop any cached reader of it or
    # of a subdir (belt-and-braces — the materialization flag gating
    # already prevents caching a path this session hasn't built)
    invalidate_readers(spark, path)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        fs.delete(p, True)
    # the delete set travels with the artifact: a snapshot rebuilt
    # from a regenerated corpus must not inherit a PRIOR session's
    # tombstones (r10 — the sibling dir is outside `path`, so the
    # rebuild deletion above does not reach it)
    ts = jvm.org.apache.hadoop.fs.Path(tombstone_dir(path))
    if fs.exists(ts):
        fs.delete(ts, True)
    return path


def dedup_index_dir(
    spark: SparkSession,
    sf_dir: str,
    indexed_sigs: DataFrame,
    num_hashes: int,
    bands: int,
) -> str:
    """Materialize (once per session) the stored LSH band table for a
    corpus snapshot and return its directory — the same layout
    `streaming.dedup_stream.apply_dedup_batch` appends to, with the
    snapshot bootstrap as ``batch_id=0``.

    ``indexed_sigs`` may be a 0-arg callable returning the frame
    (r13): it is only consumed on the session's FIRST call (the
    build), and constructing the signature plan eagerly taxed every
    steady-state probe call with ~0.1 s of py4j for a frame that was
    immediately discarded."""
    from stampede_to_fresco_etl_spark.operators.dedup import band_signatures

    path = f"{_scratch()}/index_store/dedup/{_key(sf_dir)}"

    def write():
        sigs = indexed_sigs() if callable(indexed_sigs) else indexed_sigs
        band_signatures(sigs, num_hashes, bands).write.mode(
            "overwrite"
        ).parquet(f"{path}/batch_id=0")

    materialize_once(spark, path, write)
    return path


def read_dedup_index(spark: SparkSession, path: str) -> DataFrame:
    """The stored band table across all its batch partitions (the
    probe side of `lsh_pairs_between(indexed_bands=...)`).  Reader
    plan cached under the session's own build flag (r13, the
    `read_ivfpq` rule); every growth verb (`apply_dedup_batch`)
    drops the cached listing via `invalidate_readers`."""
    return _guarded_artifact_read(spark, path).drop("batch_id")


def ann_index_dirs(
    spark: SparkSession,
    sf_dir: str,
    indexed_emb: DataFrame,
    n_centroids: int,
    tag: str = "",
    centroids: list | None = None,
) -> tuple[str, str]:
    """Materialize (once per session) the frozen-centroid IVF index
    for a corpus snapshot: the centroid companion table plus the
    assigned ``(vec_id, v, cell)`` rows as ``batch_id=0`` — the
    layout `streaming.ann_stream.apply_ann_batch` grows.  Returns
    ``(index_dir, centroids_dir)``.

    ``centroids`` overrides the default md5-seeded quantizer with an
    explicit cell->vector table (r11: the Lloyd-TRAINED layouts —
    the artifact machinery is identical, only the frozen companion's
    values differ; pass a distinguishing ``tag``)."""
    from stampede_to_fresco_etl_spark.operators.similarity import (
        _nearest_cell,
        _sqdist,
        _with_centroid_col,
        as_double_vec,
        seed_centroids,
    )

    # the cell count (and any caller tag, e.g. a growth variant) is
    # part of the artifact's identity: two configs in one session
    # must never share (and silently mis-serve) a path
    base = (
        f"{_scratch()}/index_store/ann/{_key(sf_dir)}_{n_centroids}c"
        f"{('_' + tag) if tag else ''}"
    )
    index_dir, centroids_dir = f"{base}/index", f"{base}/centroids"

    def write():
        cents = (
            [[float(x) for x in c] for c in centroids]
            if centroids is not None
            else seed_centroids(
                indexed_emb, "vec_id", "embedding", n_centroids
            )
        )
        spark.createDataFrame(
            [(i, c) for i, c in enumerate(cents)],
            "cell int, cv array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(centroids_dir)
        assigned = (
            _with_centroid_col(
                indexed_emb.select(
                    "vec_id", as_double_vec("embedding").alias("v")
                ),
                cents,
            )
            .withColumn(
                "d",
                F.transform(
                    F.col("__cents"), lambda c: _sqdist(F.col("v"), c)
                ),
            )
            .select(
                "vec_id", "v", _nearest_cell("d").alias("cell")
            )
        )
        assigned.write.mode("overwrite").parquet(f"{index_dir}/batch_id=0")

    materialize_once(spark, base, write)
    return index_dir, centroids_dir


#: (applicationId, centroids_dir) -> cell-ordered centroid lists —
#: dimension-sized calibration state; collected once per session so
#: a repeat probe pays zero collect jobs (the _KM_CACHE pattern).
_CENTROID_CACHE: dict[tuple[str, str], list[list[float]]] = {}


def read_ann_centroids(
    spark: SparkSession, centroids_dir: str
) -> list[list[float]]:
    """The frozen centroid companion, cell-ordered (dimension-sized
    state — a bounded collect by construction, cached per session)."""
    k = (spark.sparkContext.applicationId, centroids_dir)
    cents = _CENTROID_CACHE.get(k)
    if cents is None:
        rows = spark.read.parquet(centroids_dir).orderBy("cell").collect()
        cents = [[float(x) for x in r["cv"]] for r in rows]
        _CENTROID_CACHE[k] = cents
    return cents


def read_ann_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The stored ``(vec_id, v, cell)`` assignment rows across all
    batch partitions.  Reader plan cached under the session's own
    build flag (r13): `ann_index_dirs` flags the ENCLOSING base (the
    index/centroids pair share one lifecycle), so the guard is the
    parent dir; growth (`apply_ann_batch`) pops the cached listing
    via `invalidate_readers`, daemon-owned dirs (never flagged) keep
    the fresh-listing read."""
    return _guarded_artifact_read(spark, index_dir).drop("batch_id")


#: token-hash directory partitions for the postings artifact.  At
#: this bucket count a B-term probe reads ≤ B of 16 directories; at
#: cluster scale the same layout holds with B in the thousands (the
#: bucket column is a stable md5 hash, so bucket counts can differ
#: per deployment without changing probe code).
TEXT_TOKEN_BUCKETS = 16

#: The postings artifact's read schema: data columns, then the
#: ``batch_id`` and ``token_bucket`` partition columns, as inference
#: gives them for a non-empty tree.  An empty corpus writes a postings
#: tree with no partition directories, which inference rejects
#: (UNABLE_TO_INFER_SCHEMA); read with this schema it is zero rows.
POSTINGS_SCHEMA = (
    "token STRING, doc_id BIGINT, tf BIGINT, batch_id INT, token_bucket INT"
)

_TOKEN_BUCKET_SALT = "tokbucket"


def token_bucket_col(token_col) -> Column:
    """The postings partition key: a stable md5-derived bucket of the
    token (Spark side).  `token_bucket_of` is the driver-side twin
    that turns a probe's terms into partition-pruning literals."""
    from stampede_to_fresco_etl_spark.functions import md5_int63

    return (
        md5_int63(token_col, salt=_TOKEN_BUCKET_SALT)
        % TEXT_TOKEN_BUCKETS
    ).cast("int")


def token_bucket_of(token: str) -> int:
    """Driver-side twin of `token_bucket_col` (same md5 window)."""
    import hashlib

    h = int(
        hashlib.md5(
            f"{_TOKEN_BUCKET_SALT}:{token}".encode()
        ).hexdigest()[:15],
        16,
    )
    return h % TEXT_TOKEN_BUCKETS


def postings_layout_dir(postings_dir: str) -> str:
    """The postings artifact's one-row layout manifest — a SIBLING
    directory (the `tombstone_dir` convention: never inside the
    artifact, whose scans must see only postings rows)."""
    return postings_dir.rstrip("/") + "__layout"


def write_postings_layout(
    spark: SparkSession, postings_dir: str
) -> None:
    """Record the bucket count a postings artifact was written under
    (VERDICT r10 watch item 3a): `TEXT_TOKEN_BUCKETS` is baked into
    every row's ``token_bucket`` value, so a PERSISTED daemon-grown
    artifact probed by a build with a different bucket count would
    silently mis-prune — the probe's `token_bucket_of` literals
    would name the wrong directories and drop matching postings
    without an error.  The manifest turns that silent wrong answer
    into `assert_postings_layout`'s immediate raise."""
    spark.createDataFrame(
        [(int(TEXT_TOKEN_BUCKETS),)], "token_buckets int"
    ).coalesce(1).write.mode("overwrite").parquet(
        postings_layout_dir(postings_dir)
    )
    # the manifest just changed on disk — a session-cached PASSED
    # verdict (`assert_postings_layout`'s #layout_ok mark) would
    # otherwise keep serving from evidence that no longer exists
    # (ADVICE r11); the next probe re-reads the one-row manifest
    unmark_session(spark, f"{postings_dir}#layout_ok")


def assert_postings_layout(
    spark: SparkSession, postings_dir: str
) -> None:
    """Raise if `postings_dir` carries a layout manifest written
    under a DIFFERENT bucket count than this build's
    `TEXT_TOKEN_BUCKETS`.  A missing manifest passes (pre-r11
    artifacts have none; catalog-scratch artifacts are additionally
    path-keyed by bucket count, so a stale-count artifact there is
    simply never found).  FS-existence check, not a caught
    AnalysisException — this runs on the probe hot path.

    The PASSED verdict is cached per (session, dir): the manifest is
    immutable for a given bucket count (every writer stamps the same
    value), so re-reading the one-row parquet per probe call would
    tax every x57-class query with a ~0.2 s driver job for nothing —
    measured in the r11 close bracket before this cache."""
    key = f"{postings_dir}#layout_ok"
    if session_marker(spark, key):
        return
    d = postings_layout_dir(postings_dir)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(d)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return
    try:
        rows = spark.read.parquet(d).collect()
    except Exception as ex:
        raise ValueError(
            f"postings layout manifest at {d!r} exists but is "
            f"unreadable ({type(ex).__name__}) — likely a write "
            f"interrupted mid-overwrite; re-stamp it with "
            f"write_postings_layout (after verifying the stored "
            f"token_bucket values) or remove the directory"
        ) from ex
    if not rows:
        raise ValueError(
            f"postings layout manifest at {d!r} exists but is "
            f"empty — likely a write interrupted mid-overwrite; "
            f"re-stamp it with write_postings_layout (after "
            f"verifying the stored token_bucket values) or remove "
            f"the directory"
        )
    b = int(rows[0]["token_buckets"])
    if b == TEXT_TOKEN_BUCKETS:
        mark_session(spark, key)
    if b != TEXT_TOKEN_BUCKETS:
        raise ValueError(
            f"postings artifact {postings_dir!r} was written with "
            f"token_buckets={b}, but this build prunes with "
            f"TEXT_TOKEN_BUCKETS={TEXT_TOKEN_BUCKETS}: probing it "
            f"would silently read the wrong bucket directories and "
            f"drop matching postings — rebuild the artifact or run "
            f"a build with the matching bucket count"
        )


def postings_layout_state(
    spark: SparkSession, postings_dir: str
) -> tuple[bool, bool]:
    """(manifest exists, postings dir non-empty) — the two FS facts
    the grow path's stamping decision needs (ADVICE r11): a daemon
    may stamp the CURRENT bucket count only onto an artifact it is
    creating; a non-empty artifact without a manifest may have been
    written under a different count, and stamping it would certify a
    mixed layout forever."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    man = jvm.org.apache.hadoop.fs.Path(
        postings_layout_dir(postings_dir)
    )
    fs = man.getFileSystem(conf)
    post = jvm.org.apache.hadoop.fs.Path(postings_dir)
    nonempty = fs.exists(post) and len(fs.listStatus(post)) > 0
    return bool(fs.exists(man)), bool(nonempty)


def text_index_dirs(
    spark: SparkSession, sf_dir: str, docs: DataFrame
) -> tuple[str, str, str]:
    """Materialize (once per session) the stored TEXT retrieval
    index for a corpus snapshot: the full postings table
    ``(token, doc_id, tf)``, the doc-length table ``(doc_id, dl)``,
    and a one-row totals companion ``(n_docs, dl_sum)``.  This is
    the parquet a search/curation deployment keeps beside the corpus
    — BM25 probes (catalog x57) read ONLY their query terms'
    postings (predicate pushdown on token; at cluster scale the
    postings are partitioned/bucketed BY TOKEN so a probe touches a
    handful of files), never the corpus.  Postings and doclen are
    written under ``batch_id=0`` exactly like the other four
    artifacts, so `streaming.text_index_stream` can grow a
    snapshot-bootstrapped dir with ``batch_id=N`` partitions without
    mixing partitioned and unpartitioned files (which Spark rejects
    with "Conflicting directory structures").  Returns
    ``(postings_dir, doclen_dir, totals_dir)``.

    The path is KEYED by the bucket count (``_{B}tb``, the ``_{n}c``
    convention) and the postings carry a layout manifest
    (`write_postings_layout`): `TEXT_TOKEN_BUCKETS` is baked into
    every stored ``token_bucket`` value, so two bucket configs must
    never share (and silently mis-prune) one artifact — VERDICT r10
    watch item 3a."""
    base = (
        f"{_scratch()}/index_store/text/{_key(sf_dir)}"
        f"_{TEXT_TOKEN_BUCKETS}tb"
    )
    postings, doclen, totals = (
        f"{base}/postings",
        f"{base}/doclen",
        f"{base}/totals",
    )

    def write():
        toks = docs.select(
            "doc_id",
            F.explode(F.split(F.trim("text"), r"\s+")).alias("token"),
        )
        td = toks.groupBy("token", "doc_id").agg(
            F.count("*").cast("long").alias("tf")
        )
        # postings partitioned BY TOKEN BUCKET (VERDICT r9 item 3):
        # a B-term probe reads only its terms' directories — the
        # directory-level pruning `ivfpq_dir` proved is worth real
        # seconds, now on the text side.  One file per bucket
        # (repartition on the partition column): without it every
        # shuffle task writes a sliver into every bucket dir and the
        # probe drowns in file listing (the r9 inverted-list lesson).
        (
            td.withColumn(
                "token_bucket", token_bucket_col(F.col("token"))
            )
            .repartition(F.col("token_bucket"))
            .write.mode("overwrite")
            .partitionBy("token_bucket")
            .parquet(f"{postings}/batch_id=0")
        )
        dl = toks.groupBy("doc_id").agg(
            F.count("*").cast("long").alias("dl")
        )
        dl.write.mode("overwrite").parquet(f"{doclen}/batch_id=0")
        dl.agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("dl_sum"),
        ).coalesce(1).write.mode("overwrite").parquet(totals)
        write_postings_layout(spark, postings)

    materialize_once(spark, base, write)
    return postings, doclen, totals


def exact_fp_dir(
    spark: SparkSession, sf_dir: str, indexed_docs: DataFrame
) -> str:
    """Materialize (once per session) the stored EXACT-dedup
    fingerprint table for a corpus snapshot: distinct
    ``(fp = md5(text), n_docs)`` rows as ``batch_id=0`` — the hash
    set every ingest batch anti-joins before any near-dup work
    (32-byte keys; at cluster scale bucketed by fp so the probe
    shuffles only the batch side)."""
    path = f"{_scratch()}/index_store/exact_fp/{_key(sf_dir)}"
    materialize_once(
        spark,
        path,
        lambda: indexed_docs.groupBy(F.md5("text").alias("fp"))
        .agg(F.count("*").cast("long").alias("n_docs"))
        .write.mode("overwrite")
        .parquet(f"{path}/batch_id=0"),
    )
    return path


def read_exact_fp(spark: SparkSession, path: str) -> DataFrame:
    """(fp, n_docs) aggregated across batch partitions — one fp can
    appear in several batches of a stream-grown artifact
    (`streaming.exact_fp_stream`), so copies are summed on read; for
    the one-partition snapshot bootstrap this is the identity.
    Reader plan cached under the session's own build flag (r13);
    growth (`apply_exact_fp_batch`) pops it via
    `invalidate_readers`."""
    return (
        _guarded_artifact_read(spark, path)
        .groupBy("fp")
        .agg(F.sum("n_docs").cast("long").alias("n_docs"))
    )


def pq_codes_dir(
    spark: SparkSession, sf_dir: str, codes: DataFrame
) -> str:
    """Materialize (once per session) the PQ code table for a corpus
    snapshot — ``(vec_id, code0..code{M-1}, recon_err)``, M bytes of
    payload per vector.  This IS product quantization's deployment
    artifact: codes are assigned once per snapshot (v11), and every
    ADC search (catalog v17) scans ONLY this table — at 10⁹ vectors
    the raw embeddings never leave cold storage."""
    path = f"{_scratch()}/index_store/pq_codes/{_key(sf_dir)}"
    materialize_once(
        spark,
        path,
        lambda: codes.write.mode("overwrite").parquet(f"{path}/batch_id=0"),
    )
    return path


def read_pq_codes(spark: SparkSession, path: str) -> DataFrame:
    """Reader plan cached under the session's own build flag (r13):
    `pq_codes_dir` flags the path itself, the growable twin
    (`pq_codes_index_dirs`) flags the enclosing base — both guards
    are tried; growth (`apply_pq_codes_batch`) pops the cached
    listing via `invalidate_readers`, `refresh_pq_codes`' swap pops
    it in `_swap_in`."""
    return _guarded_artifact_read(spark, path).drop("batch_id")


def pq_codes_index_dirs(
    spark: SparkSession,
    sf_dir: str,
    indexed_emb: DataFrame,
    tag: str = "",
) -> tuple[str, str]:
    """The GROWABLE twin of `pq_codes_dir`: ``(codes_dir,
    codebook_dir)`` under one base — snapshot codes as ``batch_id=0``
    plus the frozen codebook companion the streaming daemon
    (`pq_codes_stream.apply_pq_codes_batch`) encodes later waves
    against.  `pq_codes_dir` keeps the flat snapshot layout catalog
    v11/v17 pin; THIS layout is for tagged growth variants (the
    vector-ingest composition), which must never mutate the shared
    serving snapshot (v20's rule).

    Tag naming: when the artifact feeds a tagged `ivfpq_dir`
    derivation, pass the layout's full key suffix (e.g.
    ``"16c_vecingest"`` for a 16-cell derivation tagged
    ``vecingest``) so `_invalidate_derived`'s key-prefix match
    reaches the derived layout.  Codebook seeding: the snapshot's
    _PQ_K smallest vec_ids (the streaming daemon's own first-batch
    rule), so bootstrap and daemon are one convention."""
    from stampede_to_fresco_etl_spark.operators.similarity import (
        pq_encode,
    )
    from stampede_to_fresco_etl_spark.streaming.pq_codes_stream import (
        PQ_DIMS,
        PQ_K,
        PQ_M,
    )

    base = (
        f"{_scratch()}/index_store/pq_codes/{_key(sf_dir)}"
        f"{('_' + tag) if tag else ''}"
    )
    codes_dir, codebook_dir = f"{base}/codes", f"{base}/codebook"

    def write():
        seeds = [
            [float(x) for x in r["embedding"]]
            for r in indexed_emb.select("vec_id", "embedding")
            .orderBy("vec_id")
            .limit(PQ_K)
            .collect()
        ]
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(seeds)],
            "code int, cv array<double>",
        ).coalesce(1).write.mode("overwrite").parquet(codebook_dir)
        pq_encode(
            indexed_emb.select("vec_id", "embedding"),
            seeds,
            m=PQ_M,
            dims=PQ_DIMS,
        ).write.mode("overwrite").parquet(f"{codes_dir}/batch_id=0")

    materialize_once(spark, base, write)
    return codes_dir, codebook_dir


def ivfpq_path(sf_dir: str, n_centroids: int, tag: str = "") -> str:
    """The one place the ivfpq layout's path scheme lives — shared by
    the builder, the rehearsal script, and the tests."""
    return (
        f"{_scratch()}/index_store/ivfpq/{_key(sf_dir)}_{n_centroids}c"
        f"{('_' + tag) if tag else ''}"
    )


def ivfpq_dir(
    spark: SparkSession,
    sf_dir: str,
    assigned: DataFrame,
    codes: DataFrame,
    n_centroids: int = 16,
    tag: str = "",
) -> str:
    """The IVF-PQ SERVING layout — FAISS's inverted lists of codes
    as parquet partitioned BY CELL: the stored IVF assignment rows
    joined to the stored PQ codes ONCE per snapshot.  An n_probe
    search then reads only its cells' partitions (directory-level
    partition pruning) and pays zero query-time joins — at 10⁹
    vectors a 2-of-16-cell probe touches ~an eighth of the code
    files and none of the raw embeddings.  This is a DERIVED
    artifact: the streams grow the two SOURCE artifacts
    (`ann_index_dirs`, `pq_codes_dir`); a deployment re-derives this
    layout at snapshot/compaction time, exactly like `compact_index`
    folds batch partitions."""
    path = ivfpq_path(sf_dir, n_centroids, tag)

    def write():
        (
            assigned.select("vec_id", "cell")
            .join(codes, "vec_id")
            # one file per inverted list: without this, every shuffle
            # task writes a sliver into EVERY cell dir (cells × tasks
            # files) and the per-probe scan drowns in file listing —
            # measured at 64 cells/sf1: 2048 files, probe medians
            # noisy 1.8–8.2 s; repartitioned: 64 files, 1.4–2.2 s
            # (SCALE.md r9 cell-count table)
            .repartition(F.col("cell"))
            .write.mode("overwrite")
            .partitionBy("cell")
            .parquet(path)
        )

    materialize_once(spark, path, write, fresh=False)
    return path


#: (applicationId, path) -> the serving layout's reader DataFrame.
#: `spark.read.parquet` costs a schema-inference + file-listing
#: round-trip (~0.35 s measured per call, qprofile r12) that every
#: serving probe paid per CALL; the listing is immutable between the
#: lifecycle events that rewrite the layout, so the reader is cached
#: per session and dropped at exactly those events:
#: `_mark_materialized` (a rebuild just landed), `_swap_in` (an
#: in-place compaction/erase fold swapped the files), and
#: `_invalidate_derived` (a source maintenance pass staled the
#: layout).  Only the PLAN object is reused — every execution still
#: scans the parquet files.
_IVFPQ_READ_CACHE: dict[tuple[str, str], DataFrame] = {}


def read_materialized(
    spark: SparkSession,
    path: str,
    guard: str | None = None,
    schema: str | None = None,
) -> DataFrame:
    """`spark.read.parquet(path)` with the same session reader cache
    as `read_ivfpq`, for artifact dirs whose immutability is pinned
    by a MATERIALIZATION FLAG on an enclosing base dir (`guard`,
    default the path itself): the audit bases (x63's entity-erase
    tree) build every family once under one `_mark_materialized`
    and never rewrite within the session, yet their report arms
    re-paid the per-call listing + footer-schema job for every
    family on every call.  Only the PLAN object is reused — every
    execution still scans the parquet files; a path whose guard this
    session never built keeps the fresh-listing read.  ``schema``
    skips inference, so an artifact tree that holds no files reads as
    zero rows instead of failing."""
    reader = spark.read if schema is None else spark.read.schema(schema)
    if not _already_materialized(spark, guard or path):
        return reader.parquet(path)
    k = (spark.sparkContext.applicationId, _ckey(path))
    df = _IVFPQ_READ_CACHE.get(k)
    if df is None:
        df = reader.parquet(path)
        _IVFPQ_READ_CACHE[k] = df
    return df


def _guarded_artifact_read(spark: SparkSession, path: str) -> DataFrame:
    """`read_materialized` with the artifact families' two guard
    conventions tried in order (r13): the snapshot builders flag the
    artifact PATH itself (`pq_codes_dir`, `exact_fp_dir`,
    `dedup_index_dir`), the paired builders flag the ENCLOSING base
    (`ann_index_dirs`, `pq_codes_index_dirs` — index/centroids and
    codes/codebook share one lifecycle).  A path neither this session
    built nor whose parent it built keeps the fresh-listing read, so
    daemon-owned and test-owned dirs are unaffected.  Every growth
    verb that appends under a guarded dir outside the
    `_fresh_dir`/`_mark_materialized`/`_swap_in` lifecycle calls
    `invalidate_readers`, so a cached listing can never outlive the
    files it lists."""
    if _already_materialized(spark, path):
        return read_materialized(spark, path, guard=path)
    c = _ckey(path)
    parent = c[: c.rfind("/")] if "/" in c else c
    return read_materialized(spark, path, guard=parent)


def invalidate_readers(spark: SparkSession, path: str) -> None:
    """Drop any session-cached reader of `path` or of a subtree —
    the growth-verb side of the reader-cache contract
    (`_guarded_artifact_read`): `apply_*_batch` writes a new
    ``batch_id=N`` partition under a dir whose enclosing guard flag
    stays set, so the reader must be popped here for the next read
    to re-list."""
    app = spark.sparkContext.applicationId
    c = _ckey(path)
    pre = c + "/"
    for k in [
        k
        for k in list(_IVFPQ_READ_CACHE)
        if k[0] == app and (k[1] == c or k[1].startswith(pre))
    ]:
        _IVFPQ_READ_CACHE.pop(k, None)


def read_ivfpq(spark: SparkSession, path: str) -> DataFrame:
    """The cell-partitioned inverted code lists; filter on ``cell``
    prunes at the directory level.  The reader DataFrame is cached
    per session ONLY while the session's own builder flag for the
    path is set (`_already_materialized`) — a path this session
    never built/verified keeps today's fresh-listing read, so
    foreign lifecycles (tests writing directly, prior-session
    artifacts) are unaffected."""
    if not _already_materialized(spark, path):
        return spark.read.parquet(path)
    k = (spark.sparkContext.applicationId, _ckey(path))
    df = _IVFPQ_READ_CACHE.get(k)
    if df is None:
        df = spark.read.parquet(path)
        _IVFPQ_READ_CACHE[k] = df
    return df


#: source-artifact families the ivfpq layout derives from — a
#: maintenance pass over ``…/index_store/<family>/<key>…`` makes the
#: session-cached ``…/index_store/ivfpq/<key>…`` stale.  ANN keys
#: carry a ``_{n}c`` config suffix the codes key lacks, so matching
#: is by sf-key PREFIX: a codes refresh invalidates every cell-count
#: variant derived from that corpus.
_IVFPQ_SOURCE_RE = re.compile(
    r"(.*)/index_store/(?:ann|pq_codes)/([^/]+?)(?:_\d+c)?(?:/|$)"
)


def _invalidate_derived(spark: SparkSession, source_path: str) -> None:
    """Clear the session materialized flag of any DERIVED layout
    whose source a maintenance pass just rewrote: `compact_index` /
    `refresh_pq_codes` change the ANN-assignment or PQ-codes
    artifacts in place, and a session-cached `ivfpq_dir` join of the
    OLD sources would keep serving stale inverted lists for the rest
    of the session.  The next consumer re-derives (overwrite) from
    the refreshed sources."""
    m = _IVFPQ_SOURCE_RE.match(_ckey(source_path) + "/")
    if not m:
        return
    prefix = f"{m.group(1)}/index_store/ivfpq/{m.group(2)}"
    app = spark.sparkContext.applicationId
    # Anchor the match at the config-suffix boundary: a bare
    # startswith would let corpora whose keys share a prefix
    # (…sf0.1 vs …sf0.12) cross-invalidate each other's layouts
    # (ADVICE r9) — safe direction but needless re-derivation.
    # Derived ivfpq paths are `<prefix>`, `<prefix>_<n>c[/…]`, or
    # `<prefix>_<n>c_<tag>[/…]` (r10: the residual layout `…_16c_res`
    # derives from the same UNTAGGED sources as the raw one, so
    # source maintenance must clear it too — the original anchor
    # stopped at `_<n>c` and left tagged layouts serving stale lists;
    # a tag layout whose source is itself tagged re-derives
    # needlessly under this rule, which is the safe direction).
    tail_ok = re.compile(r"(?:_\d+c(?:_[A-Za-z0-9_]+)?)?(?:/.*)?$")
    for k in [
        k
        for k in list(_MATERIALIZED)
        if k[0] == app
        and k[1].startswith(prefix)
        and tail_ok.fullmatch(k[1][len(prefix):])
    ]:
        _MATERIALIZED.pop(k, None)
        _IVFPQ_READ_CACHE.pop(k, None)


def tombstone_dir(path: str) -> str:
    """The DELETE-set companion of a batch-partitioned artifact — a
    sibling directory (never inside `path`: its schema is the key
    columns only, and an in-tree subdir would pollute every artifact
    scan).  Itself ``batch_id=N``-partitioned so streaming delete
    waves replay-converge exactly like the grow waves."""
    return path.rstrip("/") + "__tombstones"


def apply_deletes_batch(
    spark: SparkSession,
    path: str,
    keys_df: DataFrame,
    batch_id: int,
) -> None:
    """One micro-batch of DELETES against a stored artifact — the
    lifecycle verb the grow/fold/refresh trio was missing (takedown,
    GDPR erasure, corpus pruning).  Deletes are LOGICAL first: the
    key rows land as a tombstone partition (per-batch overwrite →
    crash-replay converges), probes hide them via `anti_tombstones`,
    and `compact_index(tombstone_keys=...)` later applies them
    PHYSICALLY and clears the set.  Two-phase because rewriting a
    10⁹-row artifact per takedown is not a per-batch cost — hiding
    is O(tombstones) at probe time, erasing is the maintenance
    window's one fold.

    Derived layouts (the session-cached `ivfpq_dir` join) are
    invalidated immediately: a serving layout must stop returning a
    deleted vector as soon as the delete commits, not at compaction.

    LIFECYCLE ENFORCEMENT (r12, VERDICT r11 item 1): the checkpoint
    and the tombstone dirs share one lifecycle — a fresh checkpoint
    while tombstones are PENDING restarts batch numbering, so a new
    wave's per-batch overwrite would silently replace an earlier
    wave's keys (lost deletes, the one unacceptable failure class
    for a takedown verb).  Rewriting an existing ``batch_id=N``
    partition is therefore allowed ONLY when the content is
    identical (crash-replay of the same wave, which MUST rewrite its
    own partition); differing content raises with the
    rotate-after-compact rule.  The check costs two bounded jobs on
    takedown-sized frames and runs only when the partition already
    exists — never on the steady-state append path."""
    new_keys = keys_df.distinct()
    part = f"{tombstone_dir(path)}/batch_id={batch_id}"
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(part)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if fs.exists(p):
        old = spark.read.parquet(part).select(*new_keys.columns)
        differs = (
            not old.exceptAll(new_keys).isEmpty()
            or not new_keys.exceptAll(old).isEmpty()
        )
        if differs:
            raise ValueError(
                f"tombstone partition {part!r} already exists with "
                f"DIFFERENT keys: this write would silently replace "
                f"an earlier takedown wave's pending deletes (batch "
                f"numbering restarted — a fresh checkpoint over "
                f"pending tombstones).  Rotate the checkpoint only "
                f"AFTER compact_index(tombstone_keys=…) has applied "
                f"and cleared the pending set; until then, resume "
                f"the original checkpoint"
            )
    new_keys.write.mode("overwrite").parquet(part)
    _invalidate_derived(spark, path)
    # the artifact's delete-aware VIEW just changed: pop any cached
    # reader (and thereby any probe plan keyed to it) so a memoized
    # anti_tombstones composition can never serve the pre-wave
    # delete set (r13)
    invalidate_readers(spark, path)


def read_tombstones(
    spark: SparkSession, path: str
) -> DataFrame | None:
    """The artifact's current delete set (distinct keys across all
    tombstone batches), or None when no delete is pending (the common
    case — probes skip the anti-join entirely).  Existence is checked
    via the Hadoop FS, not a thrown AnalysisException: the no-delete
    path is every probe's hot path and must not log a spurious
    missing-dir stack per call."""
    ts = tombstone_dir(path)
    jvm = spark._jvm
    p = jvm.org.apache.hadoop.fs.Path(ts)
    fs = p.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(p):
        return None
    return (
        spark.read.parquet(ts).drop("batch_id").distinct()
    )


def anti_tombstones(
    spark: SparkSession, df: DataFrame, path: str, key_cols: list[str]
) -> DataFrame:
    """`df` minus the artifact's tombstoned keys — the delete-aware
    read every serving probe composes over `read_*`.  One left_anti
    equi-join on the key columns: the tombstone side is the small
    side by construction (delete sets are takedown-sized), so at
    cluster scale this broadcasts; when no delete exists the plan is
    untouched."""
    t = read_tombstones(spark, path)
    if t is None:
        return df
    return df.join(
        F.broadcast(t.select(*key_cols)), key_cols, "left_anti"
    )


def _partition_cols_of(spark: SparkSession, path: str) -> list[str]:
    """The artifact's directory-partition columns, outermost first,
    discovered by walking the first ``name=value`` child chain (all
    leaves share one layout by construction — every writer here uses
    the same partitionBy)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    p = jvm.org.apache.hadoop.fs.Path(path)
    fs = p.getFileSystem(conf)
    cols: list[str] = []
    while True:
        sub = None
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if st.isDirectory() and "=" in name:
                sub = st.getPath()
                cols.append(name.split("=", 1)[0])
                break
        if sub is None:
            return cols
        p = sub


def compact_index(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 256 * 1024 * 1024,
    tombstone_keys: list[str] | None = None,
) -> int:
    """Fold a batch-partitioned artifact's accreted ``batch_id=N``
    partitions into one consolidated ``batch_id=0`` snapshot — the
    maintenance pass the streaming docstrings promise: a daemon that
    has run 10⁴ micro-batches leaves 10⁴ partitions whose file-open
    overhead eventually dominates probe scans.

    Correctness with the streams' replay protocol: the probe-side
    exclusion reads ``batch_id != current``; once the checkpoint has
    progressed past the folded batches, every live batch id exceeds
    0, so consolidating history INTO ``batch_id=0`` preserves both
    the exclusion and `read_*`'s aggregate semantics (contents are
    unioned either way).  Run it from the maintenance window, never
    concurrently with the daemon (compact_parquet's swap contract).

    With ``tombstone_keys`` (the artifact's key columns), the fold
    also APPLIES the pending delete set physically — tombstoned rows
    are dropped from the consolidated snapshot and the tombstone dir
    is cleared (after the swap commits, so a crash between the two
    leaves deletes pending-but-hidden, never resurrected).  Returns
    the new file count."""
    from stampede_to_fresco_etl_spark.sources.writers import (
        compact_parquet,
    )

    # preserve the artifact's FULL directory layout: some families
    # nest probe-pruning partitions under the batch dirs (postings:
    # batch_id/token_bucket) — rewriting with partitionBy("batch_id")
    # alone would silently flatten them and every probe would lose
    # its directory pruning (r10 review find; test-pinned on the
    # postings family)
    pcols = _partition_cols_of(spark, path) or ["batch_id"]
    inner = [c for c in pcols if c != "batch_id"]
    df = (
        spark.read.option("basePath", path)
        .parquet(path)
        .withColumn("batch_id", F.lit(0))
    )
    had_tombstones = False
    if tombstone_keys is not None:
        t = read_tombstones(spark, path)
        if t is not None:
            df = df.join(
                F.broadcast(t.select(*tombstone_keys)),
                tombstone_keys,
                "left_anti",
            )
            had_tombstones = True
    # materialize the folded rows BEFORE the swap deletes their
    # source files (compact_parquet re-reads the live path; here the
    # input and output are the same dir, so stage through lineage-
    # free storage)
    df = df.localCheckpoint()
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    live = jvm.org.apache.hadoop.fs.Path(path)
    fs = live.getFileSystem(conf)
    size = fs.getContentSummary(live).getLength()
    n_files = max(1, -(-int(size) // int(target_file_bytes)))
    tmp_s = path.rstrip("/") + "__compact_tmp"
    # with inner partitions, distribute BY them (one file per inner
    # dir — the sliver-file lesson: a size-based repartition would
    # spray every task's rows into every inner dir); flat artifacts
    # keep the size-based file count
    staged = (
        df.repartition(*[F.col(c) for c in inner])
        if inner
        else df.repartition(n_files)
    )
    (
        staged.write.mode("overwrite")
        .option("compression", "zstd")
        .partitionBy("batch_id", *inner)
        .parquet(tmp_s)
    )
    _swap_in(spark, path, tmp_s)
    if had_tombstones:
        # the delete set is now physically applied — clear it so
        # future probes' anti-join is a no-op and a later compaction
        # doesn't re-filter long-gone keys.  After the swap: a crash
        # here re-runs compaction with the (idempotent) anti-join.
        ts = jvm.org.apache.hadoop.fs.Path(tombstone_dir(path))
        if fs.exists(ts):
            fs.delete(ts, True)
    _invalidate_derived(spark, path)
    return int(fs.getContentSummary(live).getFileCount())


def _swap_in(spark: SparkSession, live_s: str, tmp_s: str) -> None:
    """Hadoop-FS rename swap with rollback (compact_parquet's
    contract): move the live dir aside, rename the staged dir in,
    delete the backup — or restore the live dir if the swap fails.
    Single-writer: call from a maintenance window only."""
    # the files under live_s are about to change — drop any cached
    # reader of it or of a subdir (its file listing would serve the
    # pre-swap snapshot)
    invalidate_readers(spark, live_s)
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    live = jvm.org.apache.hadoop.fs.Path(live_s)
    fs = live.getFileSystem(conf)
    tmp = jvm.org.apache.hadoop.fs.Path(tmp_s)
    bak_s = live_s.rstrip("/") + "__swap_bak"
    bak = jvm.org.apache.hadoop.fs.Path(bak_s)
    if fs.exists(bak):
        fs.delete(bak, True)
    had_live = fs.exists(live)
    if had_live and not fs.rename(live, bak):
        raise IOError(f"swap: could not move {live_s} aside")
    if not fs.rename(tmp, live):
        if had_live:
            fs.rename(bak, live)  # roll back
        raise IOError(f"swap: could not swap in {tmp_s}")
    fs.delete(bak, True)


def refresh_pq_codes(
    spark: SparkSession,
    codes_dir: str,
    codebook_dir: str,
    emb: DataFrame,
    new_seeds: list[list[float]],
    m: int = 4,
    dims: int = 16,
) -> None:
    """Codebook REFRESH — the one PQ maintenance pass that cannot be
    incremental: codes are meaningless across codebooks, so a refresh
    is a full re-encode of the corpus (the raw embeddings' one pass
    out of cold storage) against the new codebook, landed as a fresh
    ``batch_id=0`` snapshot.  Completes the PQ artifact lifecycle:
    build (v11) → serve (v17's ADC scan) → grow
    (`streaming.pq_codes_stream`) → fold (`compact_index`) →
    refresh (here).

    Both artifacts swap via the Hadoop-FS rename protocol
    (`_swap_in`), codes first and codebook second, so a reader that
    races the window sees either the old pair or — for the one
    rename-width gap — new codes with the old codebook; run from a
    maintenance window with the daemon stopped (compact_index's
    single-writer contract), then restart the daemon with a fresh
    checkpoint so its partitions begin at 1 again.

    Domain fence: this targets DAEMON-managed (codes_dir,
    codebook_dir) pairs.  The catalog's snapshot artifact
    (`pq_codes_dir`) has no codebook companion — its codebook is
    definitionally the deterministic vec_id seed (v11/v17/v19's
    oracle contract, and the source of the session ADC lookup
    tables), so "refreshing" it would silently desynchronize stored
    codes from every consumer's distance tables; refuse it."""
    if re.search(r"/index_store/pq_codes/[^/]+$", codes_dir.rstrip("/")):
        raise ValueError(
            "refresh_pq_codes refuses the catalog-managed snapshot "
            "artifact: its codebook is pinned by the v11 oracle "
            "contract (and by session ADC tables); refresh applies "
            "to daemon-managed codes/codebook dir pairs"
        )
    from stampede_to_fresco_etl_spark.operators.similarity import (
        pq_encode,
    )

    codes_tmp = codes_dir.rstrip("/") + "__refresh_tmp"
    book_tmp = codebook_dir.rstrip("/") + "__refresh_tmp"
    pq_encode(
        emb.select("vec_id", "embedding"), new_seeds, m=m, dims=dims
    ).write.mode("overwrite").parquet(f"{codes_tmp}/batch_id=0")
    spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(new_seeds)],
        "code int, cv array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(book_tmp)
    _swap_in(spark, codes_dir, codes_tmp)
    _swap_in(spark, codebook_dir, book_tmp)
    _invalidate_derived(spark, codes_dir)


# ---------------------------------------------------------------------------
# Entity-level erase (r11) — ONE takedown verb across every artifact
# family an entity lives in.  r10's tombstone machinery is
# per-artifact: a GDPR/takedown request names a DOCUMENT (and its
# embedding twin), not a fingerprint table — callers had to derive
# each family's keys by hand, and forgetting one family silently
# retains erased content (a hash, a band signature, a posting row).
# These verbs centralize the key derivation so "erase entity e"
# tombstones it EVERYWHERE in one call, and the compact twin applies
# every family's pending set physically in one maintenance pass.
# ---------------------------------------------------------------------------

#: family -> (artifact key columns, entity-rows -> tombstone keys).
#: Entities are rows with (doc_id, text, vec_id) — any column may be
#: null when the entity has no presence on that side (a doc with no
#: embedding, a vector with no document); each family's derivation
#: drops the nulls so a one-sided entity tombstones only where it
#: lives.  exact_fp note: the fingerprint row is removed OUTRIGHT
#: even if kept duplicates share the text — an fp is derived solely
#: from erased content, so retaining it would retain a hash of that
#: content (the privacy-first choice); re-ingesting a kept duplicate
#: re-adds the row through the normal grow path.
ENTITY_FAMILIES: dict = {
    "exact_fp": (
        ["fp"],
        lambda e: e.filter(F.col("text").isNotNull()).select(
            F.md5("text").alias("fp")
        ),
    ),
    "dedup": (
        ["doc"],
        lambda e: e.filter(F.col("doc_id").isNotNull()).select(
            F.col("doc_id").alias("doc")
        ),
    ),
    "postings": (
        ["doc_id"],
        lambda e: e.filter(F.col("doc_id").isNotNull()).select(
            "doc_id"
        ),
    ),
    "doclen": (
        ["doc_id"],
        lambda e: e.filter(F.col("doc_id").isNotNull()).select(
            "doc_id"
        ),
    ),
    "ann": (
        ["vec_id"],
        lambda e: e.filter(F.col("vec_id").isNotNull()).select(
            "vec_id"
        ),
    ),
    "pq_codes": (
        ["vec_id"],
        lambda e: e.filter(F.col("vec_id").isNotNull()).select(
            "vec_id"
        ),
    ),
}


def family_dirs(path_or_paths) -> list:
    """Normalize a family's artifact spec to a list of dirs — r12
    (VERDICT r11 item 3): deployments keep MULTIPLE tagged layouts
    of one family (the catalog itself holds untagged, ``_res`` and
    ``_tr`` ann/codes layouts), and an entity living in two layouts
    needed two erase calls — re-opening the forgotten-family hazard
    the entity verbs exist to close.  Every entity verb now accepts
    ``str | list[str]`` per family and fans the derived keys out."""
    if isinstance(path_or_paths, str):
        return [path_or_paths]
    return list(path_or_paths)


def erase_entities_batch(
    spark: SparkSession,
    entities: DataFrame,
    family_paths: dict,
    batch_id: int,
) -> None:
    """One takedown wave, every family at once: derive each listed
    family's tombstone keys from the entity rows and land them as
    that artifact's ``batch_id=N`` tombstone partition
    (`apply_deletes_batch` — replay-idempotent per-batch overwrite,
    derived serving layouts invalidated immediately).  `family_paths`
    maps family name (an `ENTITY_FAMILIES` key) -> artifact dir OR
    list of dirs (every tagged layout of that family — r12); list
    only the families the deployment maintains.  O(entities) work
    per family × layout — nothing scans any artifact."""
    for fam, paths in family_paths.items():
        _keys, derive = ENTITY_FAMILIES[fam]
        keys_df = derive(entities)
        for path in family_dirs(paths):
            apply_deletes_batch(spark, path, keys_df, batch_id)


def erase_entities_compact(
    spark: SparkSession,
    family_paths: dict,
    totals_dir: str | None = None,
) -> None:
    """The maintenance-window twin: physically apply every family's
    pending tombstones at its compaction fold (`compact_index` with
    the family's own key columns) and, when the text family is among
    them, re-derive the stored totals companion from the erased
    doclen (`refresh_text_totals`) — the one text artifact that is an
    AGGREGATE of erased rows rather than a row set, so hiding can't
    fix it and the fold must.  Passing `totals_dir` WITHOUT a doclen
    family is refused: silently skipping the refresh would leave the
    caller believing their totals were re-derived while every BM25
    probe keeps mis-weighting against stale n_docs/dl_sum."""
    if totals_dir is not None and "doclen" not in family_paths:
        raise ValueError(
            "erase_entities_compact: totals_dir given but no "
            "'doclen' family listed — totals derive from doclen, so "
            "the refresh would silently not happen; list the doclen "
            "family (or drop totals_dir)"
        )
    if totals_dir is not None and len(
        family_dirs(family_paths["doclen"])
    ) != 1:
        raise ValueError(
            "erase_entities_compact: totals_dir with MULTIPLE "
            "doclen layouts is ambiguous — a totals companion "
            "belongs to one text artifact; pass a single doclen "
            "dir here, or call refresh_text_totals per "
            "(doclen, totals) pair after the fold"
        )
    for fam, paths in family_paths.items():
        keys, _derive = ENTITY_FAMILIES[fam]
        for path in family_dirs(paths):
            compact_index(spark, path, tombstone_keys=keys)
    if totals_dir is not None:
        refresh_text_totals(
            spark, family_dirs(family_paths["doclen"])[0], totals_dir
        )


def refresh_text_totals(
    spark: SparkSession, doclen_dir: str, totals_dir: str
) -> None:
    """Re-derive the text index's one-row totals companion
    ``(n_docs, dl_sum)`` from the live doclen artifact and swap it in
    (`_swap_in` — the rename protocol every maintenance pass uses).
    Needed after any erase: totals is an aggregate, so a deleted
    doc's length stays baked in until re-derived — a BM25 probe
    against stale totals mis-weights every score."""
    tmp = totals_dir.rstrip("/") + "__refresh_tmp"
    (
        spark.read.parquet(doclen_dir)
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("dl").cast("long").alias("dl_sum"),
        )
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(tmp)
    )
    _swap_in(spark, totals_dir, tmp)
