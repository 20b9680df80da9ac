"""Partitioned corpus-table layout with snapshot manifests — the
table-format leg of the north rule ("over Iceberg tables …
partitioning / shuffle / skew handled explicitly"), built from open
primitives the sandbox has (no Iceberg runtime jar; BASELINE.md records
that de-scope, plans/checkpoint.py holds the resumable-commit protocol):

- **Hive-style partition directories** (`partitionBy`) give Catalyst
  PARTITION PRUNING: a `lang = 'en'` predicate never lists, opens, or
  schedules the other languages' directories (`.explain` shows it under
  ``PartitionFilters``).  At 10^12 documents this is the difference
  between touching 1/N of the table and touching all of it.
- **Range-clustered files** (`repartitionByRange`` on the stats column
  before the write) make every data file cover a narrow, near-disjoint
  slice of that column — the precondition for file skipping.
- **A snapshot manifest** (one JSON per commit, file-level min/max stats
  and row counts — the job Iceberg manifests and parquet footers do)
  enables FILE SKIPPING: a range predicate on the stats column selects
  only overlapping files before Spark ever lists the directory.  The
  manifest is committed atomically (write-temp + rename) so readers see
  either the previous snapshot or the new one, never a partial table.
- **Snapshot history + time travel**: every commit also lands as
  ``_snapshot/manifest-<id>.json``; data files are immutable and only
  ever ADDED (each commit writes into its own top-level
  ``file_group=<g>`` hive directory), so any prior snapshot stays
  byte-readable until `expire_snapshots` garbage-collects it — the same
  append-only-files / replace-metadata contract Iceberg commits keep.
- **Copy-on-write row-level changes** (`delete_where`, `merge_upsert`):
  only the files that actually contain affected rows are rewritten into
  a new file group; untouched files are carried by reference in the new
  manifest.  At 10^12 documents a 0.01% delete rewrites 0.01% of files.
- **Compaction** (`compact`): rewrites the current snapshot into few
  range-clustered files in one new group — the small-file antidote for
  streaming-ingested tables — without disturbing older snapshots.
- **Schema evolution** (`evolve_schema`): add / rename / drop columns as
  a METADATA-ONLY commit — zero data files touched.  The manifest keeps
  a name-mapping schema (logical name → the list of physical column
  names it has ever had, newest first, plus an initial default for
  added columns); the scan reconciles heterogeneous files through that
  mapping, exactly Iceberg's name-mapping contract.  Rows written
  before a column existed read as its initial default — and ONLY those
  rows: each manifest file entry records the physical columns its file
  group was written with, so the scan distinguishes "file predates the
  column" from "row is genuinely null".
- **Z-order clustering** (`compact(cluster_by=...)`): rewrites with the
  files clustered on the interleaved bits of SEVERAL columns and
  records per-column min/max in the manifest, so file skipping works on
  any clustered column — the multi-dimensional complement of the
  single-column range clustering.
- **Partition-spec evolution** (`evolve_partitioning`): re-partition
  the table on different columns as a metadata-only commit; old file
  groups keep their directory layout, new writes use the new one, and
  planning prunes each generation by the partition values its manifest
  entries actually recorded.

Scale shape: the stats pass is one aggregation keyed on
``input_file_name()`` (#groups = #files, not #rows); every manifest is
file-count-sized, held driver-side exactly like Iceberg's snapshot
list; commit cost is O(files written by the commit), never O(table).

NOTE: the contract read path is `scan_pruned` (manifest-planned).  A
raw `spark.read.parquet(root)` is only equivalent on a table that has
never been rewritten — after a delete/merge/compact it would also list
dead file groups that only older snapshots reference.
"""

from __future__ import annotations

import hashlib
import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_DIR = "_snapshot"
MANIFEST_NAME = "manifest.json"  # HEAD copy (always the latest snapshot)
HEAD_NAME = "HEAD"
GROUP_COL = "file_group"
# back-compat alias: streaming microbatches land as file_group=batch-<id>
BATCH_COL = GROUP_COL


def _local(p: str) -> str:
    """input_file_name() URIs → local paths ('file:///tmp/x' → '/tmp/x')."""
    return p.split("://", 1)[-1] if "://" in p else p


# ---------------------------------------------------------------------------
# snapshot commit protocol
# ---------------------------------------------------------------------------


class CommitConflict(Exception):
    """Another commit landed after this one was planned (optimistic
    concurrency, Iceberg-style): re-plan against the new HEAD and retry.
    Data files written for the failed attempt are orphans; the next
    expire_snapshots removes them."""


_UNCHECKED = object()


def commit_manifest(path: str, manifest: dict, expected_parent=_UNCHECKED) -> dict:
    """Atomic snapshot commit: assign the next snapshot id, write the
    numbered history manifest, then write-temp + rename the HEAD copy
    (os.replace is atomic on POSIX) — a concurrent reader sees the old
    snapshot or the new one, never a torn file.

    ``expected_parent`` is the optimistic-concurrency guard: the commit
    is accepted only if HEAD is still the snapshot the change was
    planned against, else CommitConflict (Iceberg's compare-and-swap
    catalog contract).  The check-and-swap runs under an O_EXCL lock
    file, so two writers on one filesystem serialize; exactly one of
    two conflicting commits wins.  Swap point for object stores: replace
    the lock + rename with the catalog's atomic CAS."""
    d = os.path.join(path, MANIFEST_DIR)
    os.makedirs(d, exist_ok=True)
    lock = os.path.join(d, "COMMIT_LOCK")
    fd = None
    for _ in range(200):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            break
        except FileExistsError:
            import time

            time.sleep(0.05)
    if fd is None:
        raise CommitConflict(
            f"commit lock {lock} held for >10s — crashed writer? remove it manually"
        )
    try:
        parent = _head_id(path)
        if expected_parent is not _UNCHECKED and parent != expected_parent:
            raise CommitConflict(
                f"planned against snapshot {expected_parent}, HEAD is now {parent}"
            )
        sid = 0 if parent is None else parent + 1
        manifest = dict(manifest)
        manifest["snapshot_id"] = sid
        manifest["parent_id"] = parent
        body = json.dumps(manifest, indent=1, sort_keys=True)
        with open(os.path.join(d, f"manifest-{sid}.json"), "w") as fh:
            fh.write(body)
        tmp = os.path.join(d, MANIFEST_NAME + ".tmp")
        with open(tmp, "w") as fh:
            fh.write(body)
        os.replace(tmp, os.path.join(d, MANIFEST_NAME))
        htmp = os.path.join(d, HEAD_NAME + ".tmp")
        with open(htmp, "w") as fh:
            fh.write(str(sid))
        os.replace(htmp, os.path.join(d, HEAD_NAME))
        return manifest
    finally:
        os.close(fd)
        os.unlink(lock)


def _head_id(path: str) -> int | None:
    try:
        with open(os.path.join(path, MANIFEST_DIR, HEAD_NAME)) as fh:
            return int(fh.read().strip())
    except FileNotFoundError:
        return None


def read_manifest(
    path: str, snapshot_id: int | None = None, ref: str | None = None
) -> dict:
    """The HEAD snapshot, or — time travel — any retained snapshot id,
    or a tagged name (``ref``)."""
    if ref is not None:
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or ref, not both")
        snapshot_id = resolve_ref(path, ref)
    name = MANIFEST_NAME if snapshot_id is None else f"manifest-{snapshot_id}.json"
    with open(os.path.join(path, MANIFEST_DIR, name)) as fh:
        return json.load(fh)


REFS_NAME = "refs.json"


def _refs_path(path: str) -> str:
    return os.path.join(path, MANIFEST_DIR, REFS_NAME)


def refs(path: str) -> dict[str, int]:
    """Named snapshot refs (tags): {name: snapshot_id}."""
    try:
        with open(_refs_path(path)) as fh:
            return {k: int(v) for k, v in json.load(fh).items()}
    except FileNotFoundError:
        return {}


def _write_refs(path: str, r: dict[str, int]) -> None:
    tmp = _refs_path(path) + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(r, fh, sort_keys=True)
    os.replace(tmp, _refs_path(path))


def tag(path: str, name: str, snapshot_id: int | None = None) -> int:
    """Tag a snapshot with an immutable name (Iceberg tag analog):
    ``read_manifest(path, ref=name)`` / ``scan_pruned(..., ref=name)``
    resolve it, and ``expire_snapshots`` NEVER garbage-collects a tagged
    snapshot or its data files — the audit/repro retention contract
    ("the corpus exactly as train-run X read it") that a keep-last-N
    policy alone cannot express.  Re-tagging an existing name refuses;
    delete_tag first (tags are immutable pointers, not branches)."""
    sid = _head_id(path) if snapshot_id is None else int(snapshot_id)
    if sid is None:
        raise ValueError("table has no committed snapshot to tag")
    read_manifest(path, sid)  # must exist (raises otherwise)
    r = refs(path)
    if name in r:
        raise ValueError(
            f"tag {name!r} already points at snapshot {r[name]} — tags are "
            "immutable; delete_tag first"
        )
    r[name] = sid
    _write_refs(path, r)
    return sid


def delete_tag(path: str, name: str) -> None:
    r = refs(path)
    if name not in r:
        raise KeyError(f"no tag {name!r}")
    del r[name]
    _write_refs(path, r)


def resolve_ref(path: str, ref: str) -> int:
    r = refs(path)
    if ref not in r:
        raise KeyError(f"no tag {ref!r} (have: {sorted(r)})")
    return r[ref]


def snapshots(path: str) -> list[dict]:
    """Commit log, oldest first: id, parent, operation, file/row counts."""
    d = os.path.join(path, MANIFEST_DIR)
    out = []
    for name in sorted(os.listdir(d)):
        if not (name.startswith("manifest-") and name.endswith(".json")):
            continue
        with open(os.path.join(d, name)) as fh:
            m = json.load(fh)
        out.append(
            {
                "snapshot_id": m["snapshot_id"],
                "parent_id": m.get("parent_id"),
                "operation": m.get("operation", "unknown"),
                "files": len(m["files"]),
                "rows": sum(f["rows"] for f in m["files"]),
            }
        )
    return sorted(out, key=lambda s: s["snapshot_id"])


# ---------------------------------------------------------------------------
# file-group writer + stats
# ---------------------------------------------------------------------------


def _stat_files(
    spark: SparkSession,
    read_path: str,
    base_path: str,
    partition_cols: tuple[str, ...],
    stats_col: str,
    extra_stats_cols: tuple[str, ...] = (),
) -> list[dict]:
    """File-level min/max/rows under ``read_path`` — one aggregation keyed
    on input_file_name() (#groups = #files, not #rows); the collect is
    file-count-sized, the same driver-side footprint as Iceberg's
    manifest list.  ``extra_stats_cols`` records additional per-column
    [min, max] (``col_stats``) so pruning can use more than one column
    (the z-order case)."""
    reader = spark.read.option("basePath", base_path).parquet(read_path)
    group_columns = list(reader.columns)  # one group = one physical schema
    aggs = [
        F.min("s").alias("min"),
        F.max("s").alias("max"),
        F.count(F.lit(1)).alias("rows"),
        # non-null stats-column rows (Iceberg's null_value_counts analog):
        # lets metadata-only aggregates stay exact under range predicates,
        # which NULL stats values never satisfy
        F.count("s").alias("rows_nonnull"),
    ]
    for c in extra_stats_cols:
        aggs += [F.min(c).alias(f"__min_{c}"), F.max(c).alias(f"__max_{c}")]
    stats = (
        reader.select(
            F.input_file_name().alias("file"),
            F.col(stats_col).alias("s"),
            *[F.col(c).cast("string").alias(c) for c in partition_cols],
            *[F.col(c) for c in extra_stats_cols],
        )
        .groupBy("file", *partition_cols)
        .agg(*aggs)
        .collect()
    )
    return [
        {
            "path": r["file"],
            "partition": {c: r[c] for c in partition_cols},
            "min": r["min"],
            "max": r["max"],
            "rows": int(r["rows"]),
            "rows_nonnull": int(r["rows_nonnull"]),
            "columns": group_columns,
            **(
                {
                    "col_stats": {
                        c: [r[f"__min_{c}"], r[f"__max_{c}"]]
                        for c in extra_stats_cols
                    }
                }
                if extra_stats_cols
                else {}
            ),
        }
        for r in stats
    ]


def _write_group(
    df: DataFrame,
    path: str,
    group: str,
    partition_cols: tuple[str, ...],
    stats_col: str,
    n_range_files: int,
    cluster_expr=None,
    extra_stats_cols: tuple[str, ...] = (),
) -> list[dict]:
    """Write ``df`` as the data files of ONE commit, under its own
    ``file_group=<group>`` hive directory (overwrite WITHIN the group
    only — other groups, i.e. other snapshots' files, are immutable).
    Returns the manifest entries for the new files; empty input commits
    no files.  ``cluster_expr`` overrides the file-clustering key
    (default: the stats column; z-order passes the interleaved value)."""
    if GROUP_COL in df.columns:
        df = df.drop(GROUP_COL)
    if df.isEmpty():
        return []
    gdir = os.path.join(path, f"{GROUP_COL}={group}")
    key = F.col(stats_col) if cluster_expr is None else cluster_expr
    (
        df.withColumn("__cluster", key)
        .repartitionByRange(n_range_files, F.col("__cluster"))
        .sortWithinPartitions("__cluster")
        .drop("__cluster")
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(gdir)
    )
    return _stat_files(
        df.sparkSession, gdir, path, partition_cols, stats_col, extra_stats_cols
    )


def _commit_files(
    path: str,
    files: list[dict],
    partition_cols: tuple[str, ...],
    stats_col: str,
    operation: str,
    schema: list[dict] | None = None,
    expected_parent=_UNCHECKED,
) -> dict:
    m = {
        "format_version": 2,
        "root": path,
        "stats_col": stats_col,
        "partition_cols": list(partition_cols),
        "operation": operation,
        "files": sorted(files, key=lambda f: f["path"]),
    }
    if schema is not None:
        m["schema"] = schema
    return commit_manifest(path, m, expected_parent)


def _schema_from_df(df: DataFrame) -> list[dict]:
    """Initial name-mapping schema: every logical column maps to itself
    as the (only) physical source; no initial defaults."""
    return [
        {
            "name": f.name,
            "type": f.dataType.simpleString(),
            "sources": [f.name],
            "default": None,
        }
        for f in df.schema.fields
        if f.name != GROUP_COL
    ]




def _planned_parent(m: dict):
    sid = m.get("snapshot_id")
    return sid if sid is not None else _UNCHECKED


def _next_group(path: str) -> str:
    head = _head_id(path)
    return f"s{0 if head is None else head + 1}"


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("lang",),
    stats_col: str = "doc_id",
    n_range_files: int = 8,
) -> dict:
    """Write ``df`` as a hive-partitioned, range-clustered parquet table
    and commit a snapshot manifest.  Returns the manifest dict.  On an
    existing table this is a REPLACE commit: the new snapshot lists only
    the new file group; prior snapshots keep their (untouched) files
    until `expire_snapshots`.

    ``repartitionByRange(stats_col)`` assigns each write task a
    near-disjoint slice of the stats column, so each file's [min, max]
    is narrow and the manifest can actually skip files; a plain write
    would give every file the full value range and skip nothing."""
    files = _write_group(
        df, path, _next_group(path), partition_cols, stats_col, n_range_files
    )
    return _commit_files(
        path, files, partition_cols, stats_col, "overwrite", _schema_from_df(df)
    )


# ---------------------------------------------------------------------------
# schema evolution (metadata-only commits, Iceberg name-mapping style)
# ---------------------------------------------------------------------------


def evolve_schema(
    path: str,
    add: dict[str, tuple] | None = None,
    rename: dict[str, str] | None = None,
    drop: tuple[str, ...] = (),
) -> dict:
    """Evolve the table's logical schema WITHOUT touching any data file —
    the commit carries the previous snapshot's file list by reference and
    only the name-mapping schema changes.

    ``add``    — {name: (spark_ddl_type, initial_default)}: rows written
                 before the column existed read as ``initial_default``
                 (Iceberg v3 initial-default semantics); rows written
                 after carry their own value, including genuine nulls.
    ``rename`` — {old_logical_name: new_name}: old files keep their
                 physical column; the mapping records every historical
                 physical name so the scan coalesces across file
                 generations.  New writes materialize the new name.
    ``drop``   — logical names to remove from the scan (files untouched;
                 time travel to a pre-drop snapshot still sees them).

    The stats / partition columns cannot be renamed or dropped — they
    anchor file pruning and the directory layout."""
    m = read_manifest(path)
    schema = [dict(e) for e in m.get("schema") or []]
    if not schema:
        raise ValueError(
            "table has no recorded schema (written before schema tracking); "
            "rewrite it with write_partitioned or compact() first"
        )
    protected = {m["stats_col"], *m["partition_cols"]}
    by_name = {e["name"]: e for e in schema}
    for old, new in (rename or {}).items():
        if old in protected:
            raise ValueError(f"cannot rename {old!r}: stats/partition column")
        if old not in by_name:
            raise KeyError(f"no column {old!r}")
        if new in by_name:
            raise ValueError(f"column {new!r} already exists")
        e = by_name.pop(old)
        e["name"] = new
        # newest physical name first; old files resolve through the tail
        e["sources"] = [new] + [s for s in e["sources"] if s != new]
        by_name[new] = e
    for name in drop:
        if name in protected:
            raise ValueError(f"cannot drop {name!r}: stats/partition column")
        if name not in by_name:
            raise KeyError(f"no column {name!r}")
        schema.remove(by_name.pop(name))
    for name, (ddl_type, default) in (add or {}).items():
        if name in by_name:
            raise ValueError(f"column {name!r} already exists")
        e = {"name": name, "type": ddl_type, "sources": [name], "default": default}
        schema.append(e)
        by_name[name] = e
    return _commit_files(
        path,
        m["files"],
        tuple(m["partition_cols"]),
        m["stats_col"],
        "evolve",
        schema,
        expected_parent=_planned_parent(m),
    )


def evolve_partitioning(path: str, new_partition_cols: tuple[str, ...]) -> dict:
    """Change the table's partition spec WITHOUT rewriting anything — a
    metadata-only commit, Iceberg partition-spec evolution.  Existing
    file groups keep their old directory layout (their manifest entries
    keep the old partition values); every subsequent write — appends,
    CoW rewrites, compaction — lands in the new layout.  Planning stays
    correct across generations: a predicate on a new partition column
    prunes new-layout files by their recorded partition values and
    keeps old-layout files (the value is UNKNOWN there, the residual
    row filter finishes the job); the reconciling scan never mixes two
    directory layouts in one Spark read.  A `compact()` afterwards
    migrates the whole table to the new spec in one commit."""
    m = read_manifest(path)
    schema = m.get("schema")
    if not schema:
        raise ValueError(
            "table has no recorded schema (written before schema tracking); "
            "rewrite it with write_partitioned or compact() first"
        )
    names = {e["name"] for e in schema}
    for c in new_partition_cols:
        if c not in names:
            raise KeyError(f"no column {c!r} in the table schema")
        if c == m["stats_col"]:
            raise ValueError(f"cannot partition on the stats column {c!r}")
    return _commit_files(
        path,
        m["files"],
        tuple(new_partition_cols),
        m["stats_col"],
        "evolve-partitioning",
        schema,
        expected_parent=_planned_parent(m),
    )


# ---------------------------------------------------------------------------
# scan planning
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# secondary Bloom index (Iceberg puffin-stats analog): point-lookup file
# skipping on columns the range clustering cannot help with
# ---------------------------------------------------------------------------


def _bloom_point_positions(
    value, m_words: int, n_hashes: int, seed: str
) -> list[tuple[int, int]]:
    """Driver-side twin of operators/dedup._bloom_positions for ONE value:
    the (word_idx, mask) pairs a key sets — byte-identical to the Spark
    expression (seeded 48-bit md5, 63 usable bits per int64 word)."""
    m_bits = m_words * 63
    out = []
    for i in range(n_hashes):
        h = (
            int(
                hashlib.md5(f"{seed}:{i}:{value}".encode()).hexdigest()[:12], 16
            )
            % m_bits
        )
        out.append((h // 63, 1 << (h % 63)))
    return out


def add_bloom_index(
    spark: SparkSession,
    path: str,
    col: str,
    m_words: int = 256,
    n_hashes: int = 4,
) -> dict:
    """Record a per-file Bloom filter over ``col`` in the manifest — a
    METADATA commit (data files untouched), after which
    ``scan_pruned(point_eq={col: v})`` skips every file whose filter
    proves ``v`` absent.  The complement of range clustering: z-order
    helps columns you sorted by; a point lookup on a high-cardinality
    UNSORTED column (URL, content hash) otherwise reads every file.
    Zero false skips by construction (Bloom has no false negatives);
    a false positive just reads one extra file.

    Footprint: ≤ ``m_words`` int64 words per file per column (default 2
    KiB), riding the manifest the planner already loads — the same
    budget Iceberg spends on puffin stats.  Files whose physical schema
    lacks ``col`` (pre-evolution generations) get no filter and are
    never skipped.  Works for string/integer columns (the hash input is
    the value's canonical string form on both sides)."""
    from ocr_spark.operators.dedup import _bloom_positions

    m = read_manifest(path)
    seed = f"table-bloom:{col}"
    with_col = [f for f in m["files"] if col in f.get("columns", [])]
    words_by_file: dict[str, dict[str, int]] = {f["path"]: {} for f in with_col}
    if with_col:
        df = (
            _read_files(spark, path, [f["path"] for f in with_col])
            .select(
                F.input_file_name().alias("__f"),
                F.col(col).cast("string").alias("__k"),
            )
            .filter(F.col("__k").isNotNull())
        )
        pos = _bloom_positions(
            df.select(F.col("__f"), F.col("__k")), m_words, n_hashes, seed,
            carry=["__f"],
        )
        rows = (
            pos.groupBy("__f", "word_idx")
            .agg(F.bit_or("mask").alias("bits"))
            .collect()
        )
        for r in rows:
            words_by_file[r["__f"]][str(int(r["word_idx"]))] = int(r["bits"])
    files = []
    for f in m["files"]:
        f = dict(f)
        if f["path"] in words_by_file:
            bloom = dict(f.get("bloom") or {})
            bloom[col] = {
                "m_words": m_words,
                "n_hashes": n_hashes,
                "seed": seed,
                "words": words_by_file[f["path"]],
            }
            f["bloom"] = bloom
        files.append(f)
    return _commit_files(
        path,
        files,
        tuple(m["partition_cols"]),
        m["stats_col"],
        "add-bloom-index",
        m.get("schema"),
        expected_parent=_planned_parent(m),
    )


def prune_files(
    manifest: dict,
    lo=None,
    hi=None,
    partition_eq: dict[str, str] | None = None,
    ranges: dict[str, tuple] | None = None,
    point_eq: dict | None = None,
) -> list[dict]:
    """Manifest-side planning: the file entries whose partition values
    match ``partition_eq``, whose stats-column [min, max] overlaps
    [lo, hi], and whose recorded per-column ``col_stats`` overlap every
    ``ranges`` bound (files without stats for a ranged column are kept —
    stats only ever EXCLUDE).  ``point_eq`` = {col: value} additionally
    skips files whose recorded Bloom filter (add_bloom_index) proves the
    value absent — files without a filter are kept.  Pure driver-side
    metadata work, like Iceberg's scan planning."""
    out = []
    for f in manifest["files"]:
        # a partition value the entry never recorded (file predates a
        # partition-spec evolution) is UNKNOWN — the file cannot be
        # excluded; the scan's residual row filter handles it instead
        if partition_eq and any(
            c in f["partition"] and f["partition"][c] != v
            for c, v in partition_eq.items()
        ):
            continue
        if lo is not None and f["max"] is not None and f["max"] < lo:
            continue
        if hi is not None and f["min"] is not None and f["min"] > hi:
            continue
        skip = False
        for c, (rlo, rhi) in (ranges or {}).items():
            if c == manifest.get("stats_col"):
                cs = [f["min"], f["max"]]  # the stats column is always statted
            else:
                cs = f.get("col_stats", {}).get(c)
            if cs is None:
                continue
            cmin, cmax = cs
            if rlo is not None and cmax is not None and cmax < rlo:
                skip = True
            if rhi is not None and cmin is not None and cmin > rhi:
                skip = True
        if skip:
            continue
        for c, v in (point_eq or {}).items():
            b = f.get("bloom", {}).get(c)
            if b is None:
                continue
            words = b["words"]
            if any(
                words.get(str(w), 0) & mask != mask
                for w, mask in _bloom_point_positions(
                    v, b["m_words"], b["n_hashes"], b["seed"]
                )
            ):
                skip = True
                break
        if skip:
            continue
        out.append(f)
    return out


def scan_pruned(
    spark: SparkSession,
    path: str,
    lo=None,
    hi=None,
    partition_eq: dict[str, str] | None = None,
    snapshot_id: int | None = None,
    ranges: dict[str, tuple] | None = None,
    point_eq: dict | None = None,
    ref: str | None = None,
) -> DataFrame:
    """Read the table through the manifest: partition + file-range
    pruning happens BEFORE Spark lists anything, then the residual
    predicate is re-applied (stats bound files, they don't filter rows).
    ``basePath`` keeps the hive partition columns in the schema.
    ``snapshot_id`` time-travels to any retained snapshot — data files
    are immutable, so an old manifest's file list is still exact (and
    its recorded schema is the one the scan reconciles to, so pre-
    evolution snapshots come back in their original shape).
    ``ranges`` = {col: (lo, hi)} prunes on any column with recorded
    per-file ``col_stats`` (written by z-order compaction)."""
    manifest = read_manifest(path, snapshot_id, ref=ref)
    entries = prune_files(manifest, lo, hi, partition_eq, ranges, point_eq)
    if not entries:
        if manifest["files"]:
            base = _reconciled(spark, path, manifest["files"], manifest.get("schema"))
        elif manifest.get("schema"):
            ddl = ", ".join(f"`{e['name']}` {e['type']}" for e in manifest["schema"])
            base = spark.createDataFrame([], ddl)
        else:
            base = spark.read.option("basePath", path).parquet(path)
        return base.filter(F.lit(False))
    df = _reconciled(spark, path, entries, manifest.get("schema"))
    sc = manifest["stats_col"]
    if lo is not None:
        df = df.filter(F.col(sc) >= lo)
    if hi is not None:
        df = df.filter(F.col(sc) <= hi)
    for c, v in (partition_eq or {}).items():
        df = df.filter(F.col(c) == v)
    for c, (rlo, rhi) in (ranges or {}).items():
        if rlo is not None:
            df = df.filter(F.col(c) >= rlo)
        if rhi is not None:
            df = df.filter(F.col(c) <= rhi)
    for c, v in (point_eq or {}).items():
        # the Bloom filter only bounds FILES; the row filter decides
        df = df.filter(F.col(c).cast("string") == str(v))
    return df


def table_stats(
    spark: SparkSession,
    path: str,
    lo=None,
    hi=None,
    partition_eq: dict[str, str] | None = None,
    snapshot_id: int | None = None,
) -> dict:
    """Metadata-answered COUNT(*) / MIN / MAX of the stats column under an
    optional partition + stats-range predicate (Iceberg's metadata-only
    aggregate pushdown, over this layout's snapshot manifest).

    Scan planning splits the pruned file entries into FULLY-COVERED files
    — partition recorded and matching, [min, max] entirely inside
    [lo, hi] — whose ``rows``/``min``/``max`` fold in straight from the
    manifest (zero data bytes read), and BOUNDARY files (straddle a range
    bound, all-null stats, or predate a partition-spec evolution so their
    partition value is unknown) which are actually scanned — only those.
    On a freshly written or compacted table with predicates aligned to
    the range clustering, the whole answer is metadata:
    ``files_scanned == 0``.  At a 10^12-row table this turns the daily
    "how many docs per language / id watermark" queries from a full scan
    into a driver-side manifest fold plus at most two boundary files.

    Returns ``{"rows", "min", "max", "files_total", "files_metadata",
    "files_scanned"}`` — exact, never approximate: boundary rows are
    counted by reading them, not estimated."""
    manifest = read_manifest(path, snapshot_id)
    entries = prune_files(manifest, lo, hi, partition_eq)
    sc = manifest["stats_col"]

    def covered(f: dict) -> bool:
        if partition_eq and any(
            c not in f["partition"] for c in partition_eq
        ):
            return False  # pre-evolution file: partition unknown -> scan
        if (lo is not None or hi is not None) and (
            f["min"] is None or f["max"] is None or "rows_nonnull" not in f
        ):
            # all-null stats (or a pre-rows_nonnull manifest, whose NULL
            # count is unknown) under a range predicate -> scan
            return False
        if lo is not None and f["min"] < lo:
            return False
        if hi is not None and f["max"] > hi:
            return False
        return True

    meta = [f for f in entries if covered(f)]
    boundary = [f for f in entries if not covered(f)]
    ranged = lo is not None or hi is not None
    # NULL stats rows never satisfy a range predicate
    rows = sum(f["rows_nonnull"] if ranged else f["rows"] for f in meta)
    mins = [f["min"] for f in meta if f["min"] is not None]
    maxs = [f["max"] for f in meta if f["max"] is not None]
    if boundary:
        df = _reconciled(spark, path, boundary, manifest.get("schema"))
        if lo is not None:
            df = df.filter(F.col(sc) >= lo)
        if hi is not None:
            df = df.filter(F.col(sc) <= hi)
        for c, v in (partition_eq or {}).items():
            df = df.filter(F.col(c) == v)
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(sc).alias("mn"),
            F.max(sc).alias("mx"),
        ).first()
        rows += int(r["n"])
        if r["mn"] is not None:
            mins.append(r["mn"])
        if r["mx"] is not None:
            maxs.append(r["mx"])
    return {
        "rows": rows,
        "min": min(mins) if mins else None,
        "max": max(maxs) if maxs else None,
        "files_total": len(entries),
        "files_metadata": len(meta),
        "files_scanned": len(boundary),
    }


def table_partition_counts(
    spark: SparkSession, path: str, snapshot_id: int | None = None
) -> list[dict]:
    """Metadata-answered GROUP BY over the partition columns: row counts
    per partition value folded from the manifest's per-file ``rows`` —
    the "documents per language" daily query as a driver-side manifest
    fold instead of a 10^12-row shuffle.  Files predating a
    partition-spec evolution (their value under the CURRENT spec is
    unknown) are scanned and grouped — only those.  Exact, including the
    hive default (NULL) partition."""
    m = read_manifest(path, snapshot_id)
    pcols = list(m["partition_cols"])
    counts: dict[tuple, int] = {}
    boundary = []
    for f in m["files"]:
        if all(c in f["partition"] for c in pcols):
            key = tuple(f["partition"][c] for c in pcols)
            counts[key] = counts.get(key, 0) + f["rows"]
        else:
            boundary.append(f)
    if boundary:
        df = _reconciled(spark, path, boundary, m.get("schema"))
        rows = (
            df.groupBy(*[F.col(c).cast("string").alias(c) for c in pcols])
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()
        )
        for r in rows:
            key = tuple(r[c] for c in pcols)
            counts[key] = counts.get(key, 0) + int(r["n"])
    out = [dict(zip(pcols, k)) | {"rows": v} for k, v in counts.items()]
    out.sort(key=lambda d: tuple((v is None, v) for v in d.values()))
    return out


def _read_files(spark: SparkSession, path: str, files: list[str]) -> DataFrame:
    return spark.read.option("basePath", path).parquet(*files)


def _reconciled(
    spark: SparkSession,
    path: str,
    entries: list[dict],
    schema: list[dict] | None,
    with_file: bool = False,
) -> DataFrame:
    """Read manifest file entries through the name-mapping schema.

    Files are bucketed by the physical column set their group was
    written with (recorded at commit time), each bucket read and
    projected to the logical schema — a renamed column resolves through
    its newest physical source present in the bucket; a column added
    after the bucket was written reads as its initial default — then the
    buckets are unioned.  #buckets = #distinct schema generations (tiny),
    so this adds no shuffle and no per-row work beyond the projection.
    ``with_file`` pins input_file_name() at scan time (the CoW paths
    need it before any join destroys the scan context)."""
    if schema is None:
        df = _read_files(spark, path, [f["path"] for f in entries])
        return df.withColumn("__file", F.input_file_name()) if with_file else df
    buckets: dict[tuple, list[str]] = {}
    for f in entries:
        # bucket by BOTH the physical column set and the hive layout:
        # after a partition-spec evolution two generations can share a
        # column set while keeping different directory layouts, and
        # Spark's partition discovery must never see them in one read
        key = (
            tuple(sorted(f.get("columns") or ())),
            tuple(sorted(f.get("partition", {}))),
        )
        buckets.setdefault(key, []).append(f["path"])
    parts = []
    for cols, files in sorted(buckets.items()):
        reader = spark.read.option("basePath", path)
        if not cols:  # legacy entries without a recorded column set
            reader = reader.option("mergeSchema", "true")
        df = reader.parquet(*files)
        sel = []
        for e in schema:
            src = next((s for s in e["sources"] if s in df.columns), None)
            if src is None:
                sel.append(F.lit(e["default"]).cast(e["type"]).alias(e["name"]))
            else:
                sel.append(F.col(src).cast(e["type"]).alias(e["name"]))
        if with_file:
            sel.append(F.input_file_name().alias("__file"))
        parts.append(df.select(*sel))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# ---------------------------------------------------------------------------
# row-level changes (copy-on-write) and maintenance
# ---------------------------------------------------------------------------


def delete_where(
    spark: SparkSession,
    path: str,
    cond,
    candidate_ranges: dict[str, tuple] | None = None,
) -> dict:
    """Copy-on-write row delete: find the files that actually contain
    matching rows (one file-count-sized aggregation), rewrite ONLY those
    files' survivors into a new file group, carry every untouched file
    by reference.  ``cond`` is a Column or a SQL string.  A predicate
    touching 0.01% of files rewrites 0.01% of the table — the other
    99.99% of a 10^12-row table is pure metadata.

    ``candidate_ranges`` = {col: (lo, hi)} bounds the hit-detection
    SCAN, not just the rewrite: files whose recorded stats fall outside
    every range are carried by reference without being read — for a
    key-range delete the detection pass touches the same 0.01% the
    rewrite does.  It is a planning assertion: rows matching ``cond``
    OUTSIDE the declared ranges will not be deleted."""
    cond = F.expr(cond) if isinstance(cond, str) else cond
    m = read_manifest(path)
    if not m["files"]:
        return m
    schema = m.get("schema")
    candidates = (
        prune_files(m, ranges=candidate_ranges) if candidate_ranges else m["files"]
    )
    if not candidates:
        return m
    hit = {
        r["__file"]
        for r in _reconciled(spark, path, candidates, schema, with_file=True)
        .filter(cond)
        .select("__file")
        .distinct()
        .collect()
    }
    if not hit:
        return m  # nothing matched: no new snapshot, HEAD unchanged
    hit_entries = [f for f in m["files"] if f["path"] in hit]
    survivors = _reconciled(spark, path, hit_entries, schema).filter(~cond)
    new_files = _write_group(
        survivors,
        path,
        _next_group(path),
        tuple(m["partition_cols"]),
        m["stats_col"],
        n_range_files=max(1, len(hit) // 2),
    )
    kept = [f for f in m["files"] if f["path"] not in hit]
    return _commit_files(
        path,
        kept + new_files,
        tuple(m["partition_cols"]),
        m["stats_col"],
        "delete",
        schema,
        expected_parent=_planned_parent(m),
    )


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_col: str | None = None,
    op_col: str | None = None,
    merge_schema: bool = False,
) -> dict:
    """MERGE INTO (copy-on-write): rows of ``updates`` whose key exists
    in the table REPLACE the stored row; unmatched keys are INSERTED.
    Only files containing a matched key are rewritten; the update set
    joins against the table on the key (AQE picks broadcast when the
    update set is small — the common upsert shape — and falls back to a
    shuffle join for crawl-sized updates).  ``updates`` must carry the
    table's full logical schema (partition columns included).

    ``merge_schema=True`` (Delta's mergeSchema analog): columns in
    ``updates`` the table has never seen are first ADDED as a
    metadata-only schema-evolution commit (initial default NULL — old
    rows read NULL, untouched files stay untouched), then the merge
    proceeds; without it, unknown update columns refuse loudly.  Columns
    the TABLE has that ``updates`` lacks always refuse — silently
    nulling stored data is never the right default.

    ``op_col`` turns this into a CDC apply (Iceberg MERGE's
    WHEN MATCHED DELETE clause): rows whose ``op_col`` value is
    ``'delete'`` remove their key from the table instead of writing a
    row; every other value upserts.  One change per key per call —
    intra-batch ordering is the caller's concern (collapse a CDC batch
    to last-wins first)."""
    m = read_manifest(path)
    schema = m.get("schema")
    key = key_col or m["stats_col"]
    pcols = tuple(m["partition_cols"])
    updates = updates.drop(GROUP_COL) if GROUP_COL in updates.columns else updates
    if schema:
        known = {e["name"] for e in schema}
        extra = [
            c for c in updates.columns if c not in known and c != (op_col or "")
        ]
        if extra and not merge_schema:
            raise ValueError(
                f"updates carry unknown columns {sorted(extra)}; pass "
                "merge_schema=True to evolve the table schema as part of "
                "the merge"
            )
        if extra:
            dtypes = dict(updates.dtypes)
            evolve_schema(
                path, add={c: (dtypes[c], None) for c in sorted(extra)}
            )
            m = read_manifest(path)
            schema = m.get("schema")
        missing = [
            e["name"] for e in schema if e["name"] not in updates.columns
        ]
        if missing:
            raise ValueError(
                f"updates lack table columns {sorted(missing)} — a merge "
                "never silently nulls stored data"
            )
    keys = updates.select(key).distinct()
    if op_col is not None:
        # delete keys participate in hit detection + anti-join (their
        # stored rows must vanish) but contribute no replacement row
        updates = updates.filter(F.col(op_col) != "delete").drop(op_col)
    if m["files"]:
        # pin input_file_name() at scan time, BEFORE the join — evaluated
        # after a join it can come back empty (the row's scan context is
        # gone once the probe side is exchanged/broadcast)
        cur = _reconciled(spark, path, m["files"], schema, with_file=True).select(
            F.col(key), F.col("__file").alias("f")
        )
        hit = {
            r["f"]
            for r in cur.join(keys, key, "left_semi")
            .select("f")
            .distinct()
            .collect()
        }
    else:
        hit = set()
    # survivors of rewritten files (their non-matched rows) + every update
    # row (matched = replacement, unmatched = insert) form the new group
    parts = [updates]
    if hit:
        hit_entries = [f for f in m["files"] if f["path"] in hit]
        parts.append(
            _reconciled(spark, path, hit_entries, schema).join(keys, key, "left_anti")
        )
    fresh = parts[0] if len(parts) == 1 else parts[0].unionByName(parts[1])
    new_files = _write_group(
        fresh,
        path,
        _next_group(path),
        pcols,
        m["stats_col"],
        n_range_files=max(2, len(hit)),
    )
    kept = [f for f in m["files"] if f["path"] not in hit]
    return _commit_files(
        path,
        kept + new_files,
        pcols,
        m["stats_col"],
        "merge",
        schema,
        expected_parent=_planned_parent(m),
    )


def zvalue(*cols) -> "F.Column":
    """Morton/Z-order key: interleave the low 32 bits of each column,
    round-robin, into one int64-comparable value (bit i of column j →
    bit ``i*k + j``).  Numeric columns must be non-negative and < 2^32
    (cast + floor them first); clustering ORDER follows value order, so
    range pruning works per column.  For strings pass
    ``F.xxhash64(c).bitwiseAND(F.lit(0xFFFFFFFF))`` — hashing keeps
    equal values co-located (equality pruning) but not ranges.  All
    whole-stage-codegen integer ops; k*32 terms, no Python."""
    cols = [F.col(c) if isinstance(c, str) else c for c in cols]
    k = len(cols)
    if k < 2:
        raise ValueError("zvalue needs >= 2 columns")
    bits = 63 // k  # keep the interleaved value inside a signed int64
    z = F.lit(0).cast("long")
    for j, c in enumerate(cols):
        v = c.cast("long")
        for i in range(bits):
            z = z.bitwiseOR(
                F.shiftleft(F.shiftright(v, i).bitwiseAND(F.lit(1)), i * k + j)
            )
    return z


def _zorder_expr(df: DataFrame, cluster_by: tuple[str, ...], bits: int = 20):
    """Z-order key with per-dimension NORMALIZATION: each column is
    scaled to the same ``bits``-wide integer domain before interleaving
    (numerics linearly by their global [min, max] — one tiny agg;
    strings by hash, which co-locates equal values but not ranges).
    Without this a wide column's high bits own every top interleaved
    bit and the clustering degenerates to single-column order: 19-bit
    doc_id × 10-bit views would slice purely by doc_id.  The scaled
    value only decides FILE PLACEMENT — row values and the recorded
    per-file min/max stats stay raw, so pruning remains exact."""
    from pyspark.sql import types as T

    top = (1 << bits) - 1
    numeric = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, T.NumericType) and f.name in cluster_by
    }
    if numeric:
        row = df.agg(
            *[F.min(c).alias(f"mn_{c}") for c in numeric],
            *[F.max(c).alias(f"mx_{c}") for c in numeric],
        ).collect()[0]
    scaled = []
    for c in cluster_by:
        if c in numeric:
            mn, mx = row[f"mn_{c}"], row[f"mx_{c}"]
            if mn is None or mx is None or mx == mn:
                scaled.append(F.lit(0).cast("long"))
            else:
                span = float(mx) - float(mn)
                scaled.append(
                    F.least(
                        F.lit(top).cast("long"),
                        (
                            (F.coalesce(F.col(c), F.lit(mn)).cast("double") - float(mn))
                            / span
                            * top
                        ).cast("long"),
                    )
                )
        else:
            scaled.append(F.xxhash64(F.col(c)).bitwiseAND(F.lit(top)))
    return zvalue(*scaled)


def compact(
    spark: SparkSession,
    path: str,
    n_range_files: int = 4,
    cluster_by: tuple[str, ...] | None = None,
) -> dict:
    """Rewrite the CURRENT snapshot into ``n_range_files`` files per
    partition in one new group — the small-file antidote after many
    streaming microbatch commits.  Values are untouched (pytest asserts
    byte-equality); older snapshots still reference the original files,
    so time travel across the compaction keeps working.

    Default clustering is a range partition on the stats column.
    ``cluster_by=(c1, c2, ...)`` switches to Z-ORDER clustering: files
    are clustered on the interleaved bits of all named columns and the
    manifest records per-file [min, max] for EACH of them (plus the
    stats column), so `scan_pruned(ranges={...})` can skip files on any
    clustered dimension — one clustering that serves several query
    axes, where range clustering serves exactly one."""
    m = read_manifest(path)
    if not m["files"]:
        return m
    df = _reconciled(spark, path, m["files"], m.get("schema"))
    schema = m.get("schema") or _schema_from_df(df)
    cluster_expr = _zorder_expr(df, tuple(cluster_by)) if cluster_by else None
    new_files = _write_group(
        df,
        path,
        _next_group(path),
        tuple(m["partition_cols"]),
        m["stats_col"],
        n_range_files,
        cluster_expr=cluster_expr,
        extra_stats_cols=tuple(cluster_by or ()),
    )
    return _commit_files(
        path,
        new_files,
        tuple(m["partition_cols"]),
        m["stats_col"],
        "compact",
        schema,
        expected_parent=_planned_parent(m),
    )


def expire_snapshots(path: str, keep_last: int = 1) -> dict:
    """Garbage-collect history: keep the newest ``keep_last`` snapshots,
    drop older manifest files, and physically delete data files no
    retained snapshot references (Iceberg's expire_snapshots +
    remove_orphan_files in one).  Pure driver-side filesystem work —
    the live set is the union of the kept manifests' file lists."""
    d = os.path.join(path, MANIFEST_DIR)
    sids = sorted(
        int(n[len("manifest-"):-len(".json")])
        for n in os.listdir(d)
        if n.startswith("manifest-") and n.endswith(".json")
    )
    keep = set(sids[-max(1, keep_last):])
    # tagged snapshots are pinned: a tag is the audit/repro retention
    # contract, so GC must keep the manifest AND its data files
    keep.update(sid for sid in refs(path).values() if sid in sids)
    live: set[str] = set()
    for sid in keep:
        live.update(_local(f["path"]) for f in read_manifest(path, sid)["files"])
    removed_files = 0
    for root, _dirs, names in os.walk(path):
        if os.path.basename(root) == MANIFEST_DIR:
            continue
        for n in names:
            p = os.path.join(root, n)
            if n.endswith(".parquet") and p not in live:
                os.remove(p)
                removed_files += 1
    # a file group with zero live files left is dead — remove it whole
    # (including its _SUCCESS marker); partially-live groups keep theirs
    import shutil

    for n in os.listdir(path):
        gdir = os.path.join(path, n)
        if not (n.startswith(f"{GROUP_COL}=") and os.path.isdir(gdir)):
            continue
        if not any(p.startswith(gdir + os.sep) for p in live):
            shutil.rmtree(gdir)
    # sweep emptied partition subdirectories bottom-up
    for root, dirs, names in sorted(os.walk(path), key=lambda t: -len(t[0])):
        if root != path and os.path.basename(root) != MANIFEST_DIR:
            if not os.listdir(root):
                os.rmdir(root)
    removed_manifests = 0
    for sid in sids:
        if sid not in keep:
            os.remove(os.path.join(d, f"manifest-{sid}.json"))
            removed_manifests += 1
    return {"removed_files": removed_files, "removed_manifests": removed_manifests}


# ---------------------------------------------------------------------------
# changelog reads (CDC between snapshots)
# ---------------------------------------------------------------------------


def changes_between(
    spark: SparkSession,
    path: str,
    from_snapshot: int,
    to_snapshot: int | None = None,
) -> dict[str, DataFrame]:
    """Row-level changes between two retained snapshots — Iceberg's
    changelog scan for copy-on-write tables.  Only files that DIFFER
    between the two manifests are read (carried-by-reference files
    cancel at the metadata level, for free); rows a rewrite carried
    unchanged cancel via a multiset difference (`exceptAll`) whose
    shuffle is bounded by the CHANGED files' rows, never the table.
    Returns {"inserted": df, "deleted": df} — an update appears as its
    old row deleted + its new row inserted — both reconciled to the TO
    snapshot's logical schema, so downstream consumers (incremental
    syncs, index maintenance, audit) see the current column names."""
    m_from = read_manifest(path, from_snapshot)
    m_to = read_manifest(path, to_snapshot)
    schema = m_to.get("schema")
    from_paths = {f["path"] for f in m_from["files"]}
    to_paths = {f["path"] for f in m_to["files"]}
    added = [f for f in m_to["files"] if f["path"] not in from_paths]
    removed = [f for f in m_from["files"] if f["path"] not in to_paths]

    cols = (
        [e["name"] for e in schema]
        if schema
        else _reconciled(spark, path, m_to["files"], schema).columns
    )

    def _rows(entries):
        if not entries:
            ddl_src = schema or []
            if ddl_src:
                ddl = ", ".join(f"`{e['name']}` {e['type']}" for e in ddl_src)
                return spark.createDataFrame([], ddl)
            return _reconciled(spark, path, m_to["files"], schema).filter(
                F.lit(False)
            )
        return _reconciled(spark, path, entries, schema).select(*cols)

    new_rows, old_rows = _rows(added), _rows(removed)
    return {
        "inserted": new_rows.exceptAll(old_rows),
        "deleted": old_rows.exceptAll(new_rows),
    }


def consume_changes(
    spark: SparkSession,
    path: str,
    cursor_file: str,
) -> dict:
    """Incremental consumption cursor over the snapshot log: each call
    returns the changes since the last call (via `changes_between`) and
    advances a durable cursor — the polling consumer pattern downstream
    index/sync jobs need when they can't run inside the writer.  The
    cursor only advances when the caller COMMITS (call the returned
    ``commit()`` after durably applying the batch), so a consumer that
    crashes mid-apply re-reads the same batch: at-least-once, same as a
    Structured Streaming source checkpoint.  First call returns the
    whole current table as inserts (cursor bootstrap)."""
    m = read_manifest(path)
    head = m.get("snapshot_id")
    try:
        with open(cursor_file) as fh:
            last = json.load(fh)["snapshot_id"]
    except FileNotFoundError:
        last = None
    if last is None:
        ch = {
            "inserted": _reconciled(spark, path, m["files"], m.get("schema"))
            if m["files"]
            else changes_between(spark, path, head, head)["inserted"],
            "deleted": changes_between(spark, path, head, head)["deleted"],
        }
    elif last == head:
        ch = changes_between(spark, path, head, head)  # both empty
    else:
        ch = changes_between(spark, path, last, head)

    def commit() -> None:
        os.makedirs(os.path.dirname(cursor_file) or ".", exist_ok=True)
        tmp = cursor_file + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"snapshot_id": head, "table": path}, fh)
        os.replace(tmp, cursor_file)

    return {**ch, "from_snapshot": last, "to_snapshot": head, "commit": commit}


# ---------------------------------------------------------------------------
# incremental materialized views (snapshot-diff maintenance)
# ---------------------------------------------------------------------------

VIEW_STATE = "_view.json"


def refresh_view(
    spark: SparkSession,
    table_path: str,
    view_path: str,
    group_cols: tuple[str, ...],
    sum_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Incrementally maintain a grouped COUNT(*) + integer SUM view over
    the table, refreshed from the SNAPSHOT DIFF: only files added or
    removed since the last refresh are read — added files contribute
    positive deltas, removed files negative ones (data files are
    immutable, so a file dropped from the manifest is still byte-
    readable and its old contribution can be subtracted exactly).  A
    refresh after a 0.01% CoW delete reads ~0.02% of the table; a naive
    view rebuild reads all of it.  Sums are integer-only — abelian-group
    aggregates are the class this maintenance is EXACT for; float sums
    would drift by re-association and COUNT DISTINCT has no subtractable
    delta (use the HLL registers instead).

    The view commits atomically (data dir per refresh + state-file
    rename) and records the manifest entries it aggregated, so it is
    independent of snapshot retention — unless a removed file was
    already garbage-collected by expire_snapshots, in which case the
    refresh falls back to one full recompute.  Refresh before expiring.
    Returns the refreshed view DataFrame (group_cols, n_rows, sum_*)."""
    m = read_manifest(table_path)
    schema = m.get("schema")
    fingerprint = {"group_cols": list(group_cols), "sum_cols": list(sum_cols)}
    state_file = os.path.join(view_path, VIEW_STATE)
    try:
        with open(state_file) as fh:
            state = json.load(fh)
        if state["fingerprint"] != fingerprint:
            raise ValueError(
                f"view at {view_path} was built with {state['fingerprint']}; "
                "refusing to merge a different aggregate — use a new view_path"
            )
    except FileNotFoundError:
        state = None

    def _agg(entries: list[dict], sign: int) -> DataFrame:
        df = _reconciled(spark, table_path, entries, schema)
        return df.groupBy(*[F.col(c) for c in group_cols]).agg(
            F.sum(F.lit(sign)).alias("n_rows"),
            *[
                F.sum(F.col(c).cast("long") * sign).alias(f"sum_{c}")
                for c in sum_cols
            ],
        )

    old_entries = {f["path"]: f for f in (state["entries"] if state else [])}
    new_entries = {f["path"]: f for f in m["files"]}
    added = [f for p, f in new_entries.items() if p not in old_entries]
    removed = [f for p, f in old_entries.items() if p not in new_entries]
    removable = all(os.path.exists(_local(f["path"])) for f in removed)

    parts = []
    if state is not None and removable:
        parts.append(spark.read.parquet(os.path.join(view_path, state["data"])))
        if added:
            parts.append(_agg(added, +1))
        if removed:
            parts.append(_agg(removed, -1))
        mode = "incremental"
    else:
        # first build, or a removed file was already GC'd: full recompute
        if m["files"]:
            parts = [_agg(m["files"], +1)]
        mode = "full"

    if parts:
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        view = (
            merged.groupBy(*[F.col(c) for c in group_cols])
            .agg(
                F.sum("n_rows").alias("n_rows"),
                *[F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols],
            )
            .filter(F.col("n_rows") > 0)
        )
    else:
        ddl = ", ".join(
            ["`%s` string" % c for c in group_cols]
            + ["n_rows long"]
            + [f"sum_{c} long" for c in sum_cols]
        )
        view = spark.createDataFrame([], ddl)

    sid = m.get("snapshot_id")
    data_dir = f"v{0 if state is None else state['version'] + 1}"
    os.makedirs(view_path, exist_ok=True)
    view.write.mode("overwrite").parquet(os.path.join(view_path, data_dir))
    new_state = {
        "fingerprint": fingerprint,
        "entries": m["files"],
        "snapshot_id": sid,
        "version": 0 if state is None else state["version"] + 1,
        "data": data_dir,
        "last_refresh_mode": mode,
        "files_read": (len(added) + len(removed)) if mode == "incremental" else len(m["files"]),
    }
    tmp = state_file + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(new_state, fh, indent=1, sort_keys=True)
    os.replace(tmp, state_file)
    if state is not None and state["data"] != data_dir:
        import shutil

        shutil.rmtree(os.path.join(view_path, state["data"]), ignore_errors=True)
    return spark.read.parquet(os.path.join(view_path, data_dir))


# ---------------------------------------------------------------------------
# streaming ingestion (Structured Streaming → table layout)
# ---------------------------------------------------------------------------


def append_batch(
    df: DataFrame,
    path: str,
    batch_id: int,
    partition_cols: tuple[str, ...] = ("lang",),
    stats_col: str = "doc_id",
    n_range_files: int = 4,
) -> dict:
    """Commit one microbatch into the table: the batch writes to its OWN
    file group (``file_group=batch-<id>/``, overwrite mode), so a
    replayed batch — foreachBatch is at-least-once — overwrites its
    previous attempt instead of duplicating rows; the manifest merge
    afterwards replaces any prior entries under the same batch id.
    This is the same replace-not-append discipline as Iceberg's
    streaming commits, done with directory granularity.

    The manifest update is INCREMENTAL: only the new batch group is
    statted — O(batch) per commit, not O(table), so commit cost stays
    flat as the table grows."""
    group = f"batch-{int(batch_id)}"
    new_files = _write_group(
        df, path, group, partition_cols, stats_col, n_range_files
    )
    marker = f"/{GROUP_COL}={group}/"
    try:
        m = read_manifest(path)
        prev = [f for f in m["files"] if marker not in f["path"]]
        schema = m.get("schema") or _schema_from_df(df)
        parent = _planned_parent(m)
    except FileNotFoundError:
        prev = []
        schema = _schema_from_df(df)
        parent = None
    return _commit_files(
        path, prev + new_files, partition_cols, stats_col, "append", schema,
        expected_parent=parent,
    )


def stream_to_table(
    stream_df: DataFrame,
    path: str,
    checkpoint_dir: str,
    partition_cols: tuple[str, ...] = ("lang",),
    stats_col: str = "doc_id",
):
    """Structured-Streaming sink into the table layout: every microbatch
    is an append_batch commit (idempotent per batch id) followed by an
    atomic manifest swap, so a reader planning through scan_pruned sees
    each microbatch all-or-nothing. Returns the DataStreamWriter —
    caller picks the trigger and calls .start()."""

    def _commit(batch_df: DataFrame, batch_id: int) -> None:
        append_batch(batch_df, path, batch_id, partition_cols, stats_col)

    return stream_df.writeStream.foreachBatch(_commit).option(
        "checkpointLocation", checkpoint_dir
    )
