"""The one on-disk layout every bucketed index writes, loads, appends to and
compacts (IVF ``assigned``, IVFPQ ``coded``, LSH ``tagged``; the BM25 term
index borrows its batch and compaction protocol).

A written layout at ``{path}`` is:

  {path}/_layout.json   the manifest: one JSON object naming the index kind,
                        its data subdir, bucket column, id/vector columns,
                        the data schema (so loads read Parquet with a known
                        schema and run no inference job), the selectivity
                        sample's fraction and schema, and the family's
                        driver-side state (centroid matrix, codebooks,
                        rotation, hyperplanes, ...). Python's float repr
                        round-trips every double bit for bit.
  {path}/{data}/        the data relation, Parquet partitioned by the bucket
                        column, so a probe scan prunes to its buckets
  {path}/stats/         (bucket, n_rows) per-bucket row counts
  {path}/sample/        the non-vector columns of a hash-gated
                        ~SEL_SAMPLE_ROWS row sample; search-time selectivity
                        estimates read this, never the data relation
  {path}/batches/       idempotent per-batch appends, each a root holding
                        its own data/stats/sample (see `append_layout`)

The manifest is written last, through the Hadoop FS, to a temporary name
renamed into place: a layout without one is not a layout. Loading reads the
manifest and declares the Parquet relations; with at most
``spark.sql.sources.parallelPartitionDiscovery.threshold`` (32) buckets it
launches no Spark job.

Every filesystem operation goes through the Hadoop FileSystem API (never
local ``shutil``), so layouts work on file://, hdfs:// and s3a:// alike.
"""

from __future__ import annotations

import json
from typing import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..materialize import materialize, release

MANIFEST = "_layout.json"
SEL_SAMPLE_ROWS = 65_536
_GATE_MOD = 1_000_000

# Compaction staging names. `batches__compacting` is the frozen snapshot a
# running compaction folds from (readers union it exactly like `batches`, so
# every batch is visible in exactly one place at all times); the marker file
# gates the commit step so a crashed compaction can be finished idempotently
# instead of double-folding on retry.
_SNAP_DIR = "batches__compacting"
_COMMIT_MARKER = "__compact_commit"


# --- Hadoop FS ---------------------------------------------------------------


def _hadoop_fs(spark, path: str):
    """(fs, mkpath) pair for the Hadoop FileSystem owning `path`."""
    jvm = spark.sparkContext._jvm
    mkpath = jvm.org.apache.hadoop.fs.Path
    fs = mkpath(path).getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    return fs, mkpath


def write_text(spark, path: str, content: str) -> None:
    """Write `content` to `path` as UTF-8: to ``{path}.tmp`` first, then
    renamed into place, so a reader never sees a half-written file."""
    fs, mkpath = _hadoop_fs(spark, path)
    dst, tmp = mkpath(path), mkpath(f"{path}.tmp")
    out = fs.create(tmp, True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    if not fs.rename(tmp, dst):
        raise IOError(f"rename failed: {tmp} -> {dst}")


def _read_text(spark, path: str) -> str | None:
    fs, mkpath = _hadoop_fs(spark, path)
    hpath = mkpath(path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = spark.sparkContext._jvm.org.apache.commons.io.IOUtils.toByteArray(
            stream
        )
    finally:
        stream.close()
    return bytes(data).decode("utf-8")


# --- manifest ----------------------------------------------------------------


def _write_manifest(spark, path: str, manifest: dict) -> None:
    write_text(spark, f"{path}/{MANIFEST}", json.dumps(manifest))


def read_manifest(spark, path: str, kind: str) -> dict:
    """The manifest of the `kind` layout at `path`; a ValueError naming the
    path when there is none or it holds another index kind."""
    text = _read_text(spark, f"{path}/{MANIFEST}")
    if text is None:
        raise ValueError(f"{path} holds no index layout: {MANIFEST} is missing")
    manifest = json.loads(text)
    if manifest["kind"] != kind:
        raise ValueError(
            f"{path} holds a {manifest['kind']!r} layout, not {kind!r}"
        )
    return manifest


def _schema(part: dict) -> StructType:
    """The StructType a manifest part (the manifest or its sample) holds."""
    return StructType.fromJson(part["schema"])


# --- batch directories and the compaction protocol ---------------------------


def _batch_root(path: str, batch_id: int) -> str:
    return f"{path}/batches/batch-{batch_id:012d}"


def _batch_roots(spark, path: str) -> list[str]:
    """Existing per-batch append directories under a layout, sorted. Includes
    batches parked in the compaction snapshot dir. Normally each batch lives
    in exactly one of `batches/` or `batches__compacting/`; the one way both
    can briefly hold the SAME batch id is a crashed compaction followed by a
    streaming replay of an uncommitted batch (idempotent per-batch content),
    so duplicates are deduped BY BATCH DIRECTORY NAME here, preferring the
    parked snapshot copy — readers always see exactly one copy."""
    fs, mkpath = _hadoop_fs(spark, path)
    seen: dict[str, str] = {}
    for sub in (_SNAP_DIR, "batches"):  # snapshot copy wins on a name clash
        hpath = mkpath(f"{path}/{sub}")
        if not fs.exists(hpath):
            continue
        for st in fs.listStatus(hpath):
            if st.isDirectory():
                seen.setdefault(
                    str(st.getPath().getName()),
                    str(st.getPath().toUri().getPath()),
                )
    return sorted(seen.values())


def _snapshot_batches(spark, path: str) -> None:
    """Freeze the batch set a compaction will fold: move `batches/` (or its
    children, when a crashed run already left a snapshot) into
    `batches__compacting/`. Renames only — no data copies on HDFS/local; on
    an object store the rename is a copy, same as any directory swap."""
    fs, mkpath = _hadoop_fs(spark, path)
    src, dst = mkpath(f"{path}/batches"), mkpath(f"{path}/{_SNAP_DIR}")
    if not fs.exists(src):
        return
    if not fs.exists(dst):
        if not fs.rename(src, dst):
            raise IOError(f"snapshot rename failed: {src} -> {dst}")
        return
    for st in fs.listStatus(src):
        child_dst = mkpath(f"{path}/{_SNAP_DIR}/{st.getPath().getName()}")
        if fs.exists(child_dst):
            # same batch id parked by a crashed compaction AND re-created by
            # a streaming replay: per-batch appends are idempotent (identical
            # content for a batch id), so drop the duplicate copy
            fs.delete(st.getPath(), True)
        elif not fs.rename(st.getPath(), child_dst):
            # Hadoop rename reports failure via its return value, not an
            # exception — surface it instead of silently bulk-deleting src
            raise IOError(
                f"snapshot merge rename failed: {st.getPath()} -> {child_dst}"
            )
    fs.delete(src, True)


def _commit_compaction(spark, path: str, names: tuple[str, ...]) -> None:
    """Swap every staged `{name}__compact_tmp` into place, then drop the
    snapshot and the marker. IDEMPOTENT over any crash point: each step is
    conditioned on what exists, so re-running finishes a partial commit
    (tmp already swapped -> skipped; live already renamed away -> tmp just
    renamed in) without double-folding anything."""
    fs, mkpath = _hadoop_fs(spark, path)
    for name in names:
        tmp = mkpath(f"{path}/{name}__compact_tmp")
        live = mkpath(f"{path}/{name}")
        old = mkpath(f"{path}/{name}__compact_old")
        if fs.exists(tmp):
            # Hadoop rename reports failure via its return value, not an
            # exception — a silently failed swap followed by the snapshot
            # delete below would lose the only surviving copy
            if fs.exists(live) and not fs.rename(live, old):
                raise IOError(f"compaction rename failed: {live} -> {old}")
            if not fs.rename(tmp, live):
                raise IOError(f"compaction rename failed: {tmp} -> {live}")
        if fs.exists(old):
            fs.delete(old, True)
    fs.delete(mkpath(f"{path}/{_SNAP_DIR}"), True)
    fs.delete(mkpath(f"{path}/{_COMMIT_MARKER}"), True)
    # drop any session-shared cached file listings for the swapped dirs
    spark.catalog.refreshByPath(path)


def _write_commit_marker(spark, path: str) -> None:
    fs, mkpath = _hadoop_fs(spark, path)
    fs.create(mkpath(f"{path}/{_COMMIT_MARKER}"), True).close()


def _has_commit_marker(spark, path: str) -> bool:
    fs, mkpath = _hadoop_fs(spark, path)
    return bool(fs.exists(mkpath(f"{path}/{_COMMIT_MARKER}")))


# --- reads -------------------------------------------------------------------


def _union_roots(spark, roots: list[str], schema: StructType | None) -> DataFrame:
    # one read per root (multi-path partition discovery rejects nested roots);
    # pruning predicates still push into every union branch's scan. A known
    # schema skips the footer-reading inference job per root.
    reader = spark.read if schema is None else spark.read.schema(schema)
    out = reader.parquet(roots[0])
    for r in roots[1:]:
        out = out.unionByName(reader.parquet(r))
    return out


def _read_layout(
    spark, path: str, data_subdir: str, schema: StructType | None = None
) -> DataFrame:
    """A layout's data relation: the base directory plus every per-batch
    append."""
    return _read_sidecar(spark, path, data_subdir, schema)


def _read_sidecar(
    spark, path: str, name: str, schema: StructType | None = None
) -> DataFrame:
    roots = [f"{path}/{name}"] + [f"{b}/{name}" for b in _batch_roots(spark, path)]
    return _union_roots(spark, roots, schema)


# --- sidecars ------------------------------------------------------------------


def _sample_gate(id_col: str, fraction: float):
    """Deterministic hash gate: keep ~fraction of rows, stable under reruns
    and repartitioning (same discipline as sampling.seeded_sample)."""
    h = F.crc32(F.concat(F.col(id_col).cast("string"), F.lit("/sel")))
    return (h % _GATE_MOD) < F.lit(int(round(fraction * _GATE_MOD)))


def _write_sidecars(
    root: str,
    relation: DataFrame,
    manifest: dict,
    fraction: float | None,
    mode: str = "overwrite",
) -> tuple[float, int]:
    """Write {root}/stats and {root}/sample for `relation` (which carries
    the bucket column); returns (sample fraction, row total). A None
    `fraction` is derived from the row total to land ~SEL_SAMPLE_ROWS
    rows."""
    bucket_col = manifest["bucket_col"]
    stats = relation.groupBy(bucket_col).agg(F.count(F.lit(1)).alias("n_rows"))
    # the row total rides the stats write (observe()), not a read-back
    obs = Observation()
    stats.observe(obs, F.sum("n_rows").alias("total")).coalesce(1).write.mode(
        mode
    ).parquet(f"{root}/stats")
    total = obs.get["total"] or 0
    if fraction is None:
        fraction = min(1.0, SEL_SAMPLE_ROWS / total) if total else 1.0
    (
        relation.filter(_sample_gate(manifest["id_col"], fraction))
        .select(*_schema(manifest["sample"]).names)
        .coalesce(4)
        .write.mode(mode)
        .parquet(f"{root}/sample")
    )
    return fraction, total


# --- lifecycle -------------------------------------------------------------------


def write_layout(
    path: str,
    relation: DataFrame,
    kind: str,
    data: str,
    bucket_col: str,
    id_col: str,
    vec_col: str,
    sample_drop: tuple[str, ...] | None = None,
    derived: tuple[str, ...] = (),
    **family,
) -> None:
    """Persist `relation` as a `kind` layout: the data partitioned by
    `bucket_col` under {path}/{data}, the stats/sample sidecars unless
    `sample_drop` (the columns the sample leaves out) is None, and last the
    manifest holding `family`'s JSON-able driver-side state. `derived`
    names the columns besides the bucket column that the family computes
    from the vector when rows are appended (codes, extra bucket keys)."""
    relation.write.mode("overwrite").partitionBy(bucket_col).parquet(
        f"{path}/{data}"
    )
    # the order a Parquet read returns: partition column last
    fields = [f for f in relation.schema.fields if f.name != bucket_col]
    manifest = dict(
        family,
        kind=kind,
        data=data,
        bucket_col=bucket_col,
        id_col=id_col,
        vec_col=vec_col,
        derived=list(derived),
        schema=StructType(fields + [relation.schema[bucket_col]]).jsonValue(),
        sample=None,
    )
    if sample_drop is not None:
        keep = [c for c in relation.columns if c not in sample_drop]
        manifest["sample"] = {"schema": relation.select(*keep).schema.jsonValue()}
        fraction, _ = _write_sidecars(path, relation, manifest, None)
        manifest["sample"]["fraction"] = fraction
    _write_manifest(relation.sparkSession, path, manifest)


def open_layout(
    spark, path: str, kind: str
) -> tuple[dict, DataFrame, DataFrame | None]:
    """(manifest, data relation, persisted selectivity sample or None) of
    the `kind` layout at `path`, base plus batches; no Spark job for up to
    32 buckets."""
    manifest = read_manifest(spark, path, kind)
    data = _read_layout(spark, path, manifest["data"], _schema(manifest))
    sample = None
    if manifest["sample"] is not None:
        sample = _read_sidecar(
            spark, path, "sample", _schema(manifest["sample"])
        ).persist()
    return manifest, data, sample


def append_layout(
    spark,
    path: str,
    kind: str,
    new_rows: DataFrame,
    encode: Callable[[dict, DataFrame], DataFrame],
    batch_id: int | None = None,
) -> int:
    """Append `new_rows` to the `kind` layout at `path`: ``encode(manifest,
    rows)`` adds the bucket column and the manifest's derived columns;
    every other layout column, and the vector, must be in `new_rows`.
    Returns the number of rows appended.

    With ``batch_id=None`` (caller-driven, non-replayed adds) the rows and
    their sidecars append into the base directories. With a ``batch_id``
    (streaming foreachBatch, where a crash between write and checkpoint
    commit REPLAYS the batch) they are written mode("overwrite") under a
    batchId-derived root, so a replay rewrites the same deterministic
    content instead of duplicating it: idempotent per batch id. Loads union
    the base with all batch roots; `compact_layout` folds them back in."""
    manifest = read_manifest(spark, path, kind)
    schema = _schema(manifest)
    bucket_col, vec_col = manifest["bucket_col"], manifest["vec_col"]
    derived = {bucket_col, *manifest["derived"]}
    layout_cols = [c for c in schema.names if c not in derived]
    # a codes-only layout still needs the vector to encode
    needed = layout_cols + [vec_col] * (vec_col not in layout_cols)
    missing = [c for c in needed if c not in new_rows.columns]
    if missing:
        raise ValueError(
            f"new_rows lacks columns the written layout carries: {missing} "
            f"(layout schema: {layout_cols}); filtered searches bind "
            "predicates against these, so appending NULLs would silently "
            "hide appended vectors from filtered results"
        )
    # restricted to the layout schema: extra new_rows columns would write
    # wider parquet files whose union with the base fails on load
    obs = Observation()
    rows = materialize(
        encode(manifest, new_rows.select(*needed))
        .select(*schema.names)
        .observe(obs, F.count(F.lit(1)).alias("n"))
    )
    if batch_id is None:
        root, mode = path, "append"
    else:
        root, mode = _batch_root(path, batch_id), "overwrite"
    rows.write.mode(mode).partitionBy(bucket_col).parquet(
        f"{root}/{manifest['data']}"
    )
    if manifest["sample"] is not None:
        _write_sidecars(root, rows, manifest, manifest["sample"]["fraction"], mode)
    release(rows)
    return obs.get["n"]


def _fold_batches(
    spark,
    path: str,
    data_subdir: str,
    id_col: str,
    bucket_col: str,
    files_per_bucket: int = 1,
    schema: StructType | None = None,
    staged_names: tuple[str, ...] = (),
) -> DataFrame:
    """Merge the base data directory and all per-batch appends into a fresh
    bucketed base with ~files_per_bucket files per bucket and drop the batch
    dirs; returns the compacted relation.

    Append-heavy streaming maintenance (maintain_index_stream at a 10 s
    trigger ≈ 8.6k appends/day) otherwise degrades the layout into a
    small-file swamp. Run this from a maintenance window with the stream
    QUIESCED AND ITS LAST BATCH CHECKPOINT-COMMITTED: compaction folds the
    batch directories into the base and deletes them, so a batch that was
    written but not yet committed would be re-delivered on restart and
    duplicate its vectors.

    CRASH SAFETY (single-writer contract): the batch set is first frozen by
    renaming `batches/` -> `batches__compacting/` (readers union both, so
    exactly one copy of every batch stays visible), then ALL merged output
    is staged under `__compact_tmp` dirs, and only then does a marker-file-
    guarded commit swap everything in and drop the snapshot. A crash before
    the marker leaves base + snapshot untouched (retry recomputes from the
    same state — no double-fold); a crash during the commit is finished
    idempotently on the next call via `_commit_compaction`. Readers during
    the commit's directory renames can briefly fail or see relations from
    two generations.

    `staged_names` lets a caller (compact_term_index) pre-stage additional
    relations whose swap must ride the SAME commit."""
    marker_names = (data_subdir,) + tuple(staged_names)
    if _has_commit_marker(spark, path):
        # a previous run crashed mid-commit; its staged tmps are complete
        # (the marker is written only after every tmp), so finish it first
        _commit_compaction(spark, path, marker_names)
    _snapshot_batches(spark, path)
    merged = _read_layout(spark, path, data_subdir, schema)
    n_buckets = merged.select(bucket_col).distinct().count()
    # hash-partitioning on the bucket column alone routes ALL of a bucket's
    # rows to one task regardless of partition count, so files_per_bucket>1
    # needs an explicit deterministic salt key alongside the bucket
    salt = F.pmod(F.xxhash64(F.col(id_col)), F.lit(max(1, files_per_bucket)))
    (
        merged.repartition(
            max(1, n_buckets * files_per_bucket), F.col(bucket_col), salt
        )
        .write.mode("overwrite")
        .partitionBy(bucket_col)
        .parquet(f"{path}/{data_subdir}__compact_tmp")
    )
    _write_commit_marker(spark, path)
    _commit_compaction(spark, path, marker_names)
    return _union_roots(spark, [f"{path}/{data_subdir}"], schema)


def compact_layout(spark, path: str, kind: str, files_per_bucket: int = 1) -> int:
    """Fold the `kind` layout's per-batch appends into its base, bound its
    files per bucket (see `_fold_batches` for the protocol and caveats) and
    rewrite its sidecars from the merged relation. Returns the merged row
    count."""
    manifest = read_manifest(spark, path, kind)
    compacted = _fold_batches(
        spark,
        path,
        manifest["data"],
        manifest["id_col"],
        manifest["bucket_col"],
        files_per_bucket,
        _schema(manifest),
    )
    if manifest["sample"] is None:
        return compacted.count()
    fraction, total = _write_sidecars(path, compacted, manifest, None)
    manifest["sample"]["fraction"] = fraction
    _write_manifest(spark, path, manifest)
    return total
