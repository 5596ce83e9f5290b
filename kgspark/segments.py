"""Generation-committed parquet indexes: the one engine behind the BM25
postings index (``fulltext``), the LSH-ANN index and the IVF index
(``datapipe``). This docstring is the single description of their on-disk
layout and of the journal contract; the index modules only build rows and
query them.

The reference maintains its Lucene/vector indexes incrementally: every
add_episode upserts into indexes created once by
build_indices_and_constraints (/root/reference/graphiti_core/utils/
maintenance/graph_data_operations.py:73-80); it never rebuilds them per
batch. The batch analog at 10^12-document scale is the Lucene segment /
Iceberg snapshot model.

On-disk layout of an index rooted at ``{root}``::

    {root}/_meta.json                 layout version + family parameters
    {root}/_commits/gen_N             commit marker of generation N
    {root}/{part}/gen=N/part-*.parquet   one generation of a part
    {root}/deleted/gen=N/             (id, dead_gen) tombstones

``gen`` is the only partition column. Each generation of a part is a few
plain files (one per write task), their rows sorted by the part's sort
column, so a filter on that column is pushed into the parquet scan and
row-group min/max statistics skip the rows it excludes. Build, update and
compaction write the same layout. A generation costs one file per write
task, not one per touched bucket, which is what keeps a small delta cheap.

``_meta.json`` holds ``layout`` (``LAYOUT_VERSION``), ``parts`` (each data
part and its sort column, if any), ``id_part`` (the collision part, sorted
by ``id_bucket``), ``id_buckets``, and the family's own parameters. An index
without the current layout version is refused with a "rebuild required"
``ValueError`` by every reader and writer. The families:

- BM25 (``fulltext``): ``postings`` (term, id, tf, dlen, term_bucket[,
  group_id]) sorted by ``term_bucket = md5(term) % num_buckets``, so a
  query reads only its terms' buckets, with dlen and group_id denormalized
  so that scoring joins nothing corpus-sized; ``docs`` (id, dlen[,
  group_id]) as the id part;
  ``stats`` one cumulative (n_docs, total_len, avgdl) row per generation;
  ``group_stats`` per-group (n_docs, total_len) deltas when the corpus has
  a ``group_id``. Parameters: ``num_buckets``.
- LSH-ANN (``datapipe``): ``vectors`` (id_col, embedding, bucket) sorted by
  ``bucket``; ``ids`` as the id part. Parameters: ``n_planes``.
- IVF (``datapipe``): ``vectors`` (id_col, embedding, cluster) sorted by
  ``cluster``; ``ids`` as the id part. Parameters: ``centroids``.

The id part carries ``id_bucket = md5(id) % id_buckets`` (``_id_bucket_col``),
so the collision scan of an update pushes a filter on the delta ids'
buckets into the parquet scan, and row-group statistics skip the rest.

Commit protocol (``GenIndex.append``):

- every write (the build, then each delta batch) lands as a new immutable
  GENERATION ``gen=N`` of each part, written with parquet ``append``
  through ``append_gen`` — a new generation never touches existing files;
- superseded rows (a re-ingested id replacing its older version) are not
  rewritten in place; the update appends TOMBSTONES ``(id, dead_gen)``
  and readers anti-join them (Lucene's deleted-docs bitmap);
- a generation becomes visible ONLY when its marker ``_commits/gen_N``
  exists, and the marker is written LAST (``commit_gen``). Readers
  resolve ``committed = max N with a marker`` and filter every scan with
  ``gen <= committed`` — a partition filter, so the scan never opens a
  later generation's files (``GenIndex.live``).

Crash story: a writer that dies mid-update leaves gen dirs with no marker —
invisible to every reader (the index stays at its previous committed
snapshot), removed by the next writer via ``clean_uncommitted``. Readers
need no recovery path at all. Updates of different indexes may run
concurrently (``streaming.incremental_ingest``); each touches only its own
root, so no two commits interleave.

Compaction journal (``GenIndex.compact``): tombstones accumulate until a
compaction rewrites the live rows as a fresh gen-0 index in
``{root}.compact.staging``, commits it there, then journals the swap in
``{root}.compact.SWAP`` (written via rename, after staging is complete) and
renames staging over the root. Recovery (``finish_swap``, run by every
writer first) is unconditional and idempotent. IVF re-training is a
compaction whose rewrite re-clusters the rows.

Object-store portability: marker-last commits and clean_uncommitted work
unchanged on S3-class stores (atomic object PUT + strong list-after-write);
ONLY the compaction swap assumes POSIX rename — on an object store it
becomes a manifest-pointer flip with identical journal semantics, and
``finish_swap`` / ``compact_swap`` below are the one place it lands (the
Iceberg snapshot-pointer model; full adaptation notes in README.md
"Index layer on object stores").
"""

from __future__ import annotations

import json
import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

LAYOUT_VERSION = 2

_GEN_RE = re.compile(r"^gen_(\d+)$")
_GEN_DIR_RE = re.compile(r"^gen=(\d+)$")


def hash_bucket_col(col, num_buckets: int):
    """JVM-side value -> bucket: first 8 md5 hex chars mod num_buckets (md5
    so the driver can compute the identical bucket without a Spark job —
    see ``fulltext.term_bucket``)."""
    return F.pmod(F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long"),
                  F.lit(num_buckets))


def _id_bucket_col(col, num_buckets: int):
    """id -> id-part bucket; ids are cast to string so any id type buckets
    consistently."""
    return hash_bucket_col(col.cast("string"), num_buckets)


def _commits_dir(root: str) -> Path:
    return Path(root) / "_commits"


def committed_gen(root: str) -> int | None:
    """Highest generation with a commit marker, or None (no index)."""
    d = _commits_dir(root)
    if not d.exists():
        return None
    gens = [int(m.group(1)) for f in d.iterdir()
            if (m := _GEN_RE.match(f.name))]
    return max(gens) if gens else None


def commit_gen(root: str, gen: int) -> None:
    """Publish generation ``gen`` (atomic: a marker file either exists or
    doesn't — there is no partial state a reader can observe)."""
    d = _commits_dir(root)
    d.mkdir(parents=True, exist_ok=True)
    (d / f"gen_{gen}").touch()


def append_gen(df: DataFrame, path: str, gen: int,
               sort_cols: list[str]) -> None:
    """Append one generation's rows as plain files in a brand-new gen=N dir,
    each write task's rows sorted by ``sort_cols`` — parquet ``append``
    never rewrites existing files, so concurrent readers of the previous
    committed gen are undisturbed."""
    if sort_cols:
        df = df.sortWithinPartitions(*sort_cols)
    df.write.mode("append").parquet(f"{path}/gen={gen}")


def clean_uncommitted(root: str, parts) -> list[str]:
    """Remove gen=N data dirs with no commit marker (a prior writer died
    mid-update). Returns the removed dir paths. Safe to run any time: a
    marker is only ever written after ALL of its gen's data dirs are
    complete, so an unmarked gen dir is garbage by definition."""
    ok = committed_gen(root)
    removed = []
    for part in parts:
        base = Path(root) / part
        if not base.exists():
            continue
        for d in base.iterdir():
            m = _GEN_DIR_RE.match(d.name)
            if m and (ok is None or int(m.group(1)) > ok):
                shutil.rmtree(d, ignore_errors=True)
                removed.append(str(d))
    return removed


def has_gens(path: str) -> bool:
    """True if ``path`` holds at least one gen=N dir. Before its first
    write (or after clean_uncommitted) a part dir holds none — unreadable by
    schema inference, and logically empty anyway."""
    p = Path(path)
    return p.exists() and any(_GEN_DIR_RE.match(d.name) for d in p.iterdir())


def swap_marker(root: str) -> Path:
    return Path(root).parent / (Path(root).name + ".compact.SWAP")


def finish_swap(root: str) -> None:
    """Complete a (possibly interrupted) compaction swap. The journal
    marker is written only after the staging root is FULLY built and
    committed, so recovery is unconditional and idempotent: drop whatever
    remains of the old root, move staging in, clear the marker."""
    marker = swap_marker(root)
    if not marker.exists():
        return
    staging = Path(marker.read_text().strip())
    if staging.exists():
        if Path(root).exists():
            shutil.rmtree(root)
        staging.rename(root)
    marker.unlink()


def compact_swap(root: str, staging: str) -> None:
    """Journal-then-swap a fully-committed staging root over ``root``."""
    marker = swap_marker(root)
    tmp = marker.with_suffix(".tmp")
    tmp.write_text(staging)
    tmp.rename(marker)
    finish_swap(root)


def _write_meta(root: str, meta: dict) -> None:
    (Path(root) / "_meta.json").write_text(json.dumps(meta))


class GenIndex:
    """One generation-committed index over a root dir (layout and protocol
    in the module docstring). Get one from ``create`` (a fresh index) or
    ``open`` (an existing one); ``committed`` is None until the first
    ``append``."""

    def __init__(self, spark, root: str, meta: dict, committed: int | None):
        self.spark, self.root, self.meta = spark, root, meta
        self.committed = committed

    @property
    def parts(self) -> dict[str, list[str]]:
        return self.meta["parts"]

    @classmethod
    def create(cls, spark, root: str, parts: dict[str, list[str]],
               id_part: str, id_buckets: int, **params) -> GenIndex:
        """Start a fresh index at ``root`` (overwrite semantics, including
        any leftover compaction journal). ``parts`` maps each data part to
        its sort column (a list of at most one); ``id_part`` is added,
        sorted by id_bucket. ``params`` are the family's parameters, kept in
        _meta.json."""
        shutil.rmtree(root, ignore_errors=True)
        shutil.rmtree(root + ".compact.staging", ignore_errors=True)
        swap_marker(root).unlink(missing_ok=True)
        Path(root).mkdir(parents=True)
        meta = {"layout": LAYOUT_VERSION,
                "parts": {**parts, id_part: ["id_bucket"]},
                "id_part": id_part, "id_buckets": id_buckets, **params}
        _write_meta(root, meta)
        return cls(spark, root, meta, None)

    @classmethod
    def open(cls, spark, root: str, kind: str,
             write: bool = False) -> GenIndex:
        """Open the committed index at ``root``; ``kind`` names the family
        in errors. Raises ``ValueError`` when there is no committed index or
        its layout is not ``LAYOUT_VERSION`` ("rebuild required"). A writer
        (``write=True``) first finishes an interrupted compaction swap and
        removes uncommitted generations."""
        if write:
            finish_swap(root)
        committed = committed_gen(root)
        if committed is None:
            raise ValueError(f"no committed {kind} index at {root}")
        meta_file = Path(root) / "_meta.json"
        meta = json.loads(meta_file.read_text()) if meta_file.exists() else {}
        if meta.get("layout") != LAYOUT_VERSION:
            raise ValueError(
                f"{kind} index at {root} has layout {meta.get('layout')}, "
                f"not {LAYOUT_VERSION}: rebuild required")
        ix = cls(spark, root, meta, committed)
        if write:
            clean_uncommitted(root, (*ix.parts, "deleted"))
        return ix

    def read(self, part: str) -> DataFrame:
        """Rows of ``part`` in every committed generation (tombstoned rows
        included — for the cumulative and delta parts)."""
        return (self.spark.read.parquet(f"{self.root}/{part}")
                .filter(F.col("gen") <= self.committed))

    def live(self, part: str, id_col: str = "id",
             prune: dict | None = None) -> DataFrame:
        """Live rows of ``part``: committed generations minus tombstones,
        matched on the part's ``id_col``. ``prune`` maps columns to the
        values to keep; on a part's sort column the filter is pushed into
        the parquet scan, where row-group statistics skip the other
        buckets. Tombstones are broadcast: their count
        is the number of re-ingested ids since the last compaction, not the
        corpus size."""
        rows = self.read(part)
        for col, values in (prune or {}).items():
            rows = rows.filter(F.col(col).isin(values))
        if not has_gens(f"{self.root}/deleted"):
            return rows
        dead = (self.read("deleted")
                .select(F.col("id").alias("__dead_id"), "dead_gen"))
        return rows.join(F.broadcast(dead),
                         (rows[id_col] == F.col("__dead_id"))
                         & (rows["gen"] == F.col("dead_gen")), "left_anti")

    def id_rows(self, buckets: list[int] | None = None) -> DataFrame:
        """Live rows of the id part, pruned to ``buckets`` when given."""
        return self.live(self.meta["id_part"], prune=(
            None if buckets is None else {"id_bucket": buckets}))

    def delta_buckets(self, df: DataFrame, id_col: str) -> list[int]:
        """Distinct id buckets of a delta batch (≤id_buckets values; one
        O(delta) job)."""
        return sorted({
            r["b"] for r in
            df.select(_id_bucket_col(F.col(id_col), self.meta["id_buckets"])
                      .alias("b")).distinct().collect()})

    def collisions(self, df: DataFrame, id_col: str) -> DataFrame:
        """Live id-part rows whose id is in the delta batch ``df`` — the
        rows the batch replaces. The scan prunes to the delta ids' buckets
        (taken from ``df`` itself, so a re-ingested id still collides when
        its new version yields no rows)."""
        new_ids = df.select(F.col(id_col).alias("__new_id")).distinct()
        return (self.id_rows(self.delta_buckets(df, id_col))
                .join(F.broadcast(new_ids),
                      F.col("id") == F.col("__new_id"), "left_semi"))

    @staticmethod
    def check_unique(df: DataFrame, id_col: str, op: str) -> None:
        dup = (df.groupBy(id_col).agg(F.count(F.lit(1)).alias("c"))
               .filter(F.col("c") > 1).first())
        if dup is not None:
            raise ValueError(f"{op}: duplicate id {dup[0]!r} in delta "
                             "batch — one row per id per batch")

    def append(self, rows: dict[str, DataFrame],
               dead: DataFrame | None = None) -> int:
        """Write one generation — each part's ``rows``, then the
        tombstones of the (id, gen) rows in ``dead`` — and commit it,
        marker last. The id part's rows get their id_bucket here. Returns
        the new committed generation."""
        gen = 0 if self.committed is None else self.committed + 1
        id_part = self.meta["id_part"]
        for part, df in rows.items():
            if part == id_part:
                df = df.withColumn("id_bucket", _id_bucket_col(
                    F.col("id"), self.meta["id_buckets"]))
            append_gen(df, f"{self.root}/{part}", gen, self.parts[part])
        if dead is not None:
            append_gen(dead.select("id", F.col("gen").alias("dead_gen")),
                       f"{self.root}/deleted", gen, [])
        commit_gen(self.root, gen)
        self.committed = gen
        return gen

    def compact(self, rows: dict[str, DataFrame], **params) -> None:
        """Replace the index by ``rows`` (usually its live rows, read from
        this index) as a fresh single-generation index, swapped in under
        the journal. ``params`` update the family parameters (IVF
        re-training passes its new centroids)."""
        staging = self.root + ".compact.staging"
        shutil.rmtree(staging, ignore_errors=True)
        Path(staging).mkdir(parents=True)
        meta = {**self.meta, **params}
        _write_meta(staging, meta)
        GenIndex(self.spark, staging, meta, None).append(
            {part: df.drop("gen") for part, df in rows.items()})
        compact_swap(self.root, staging)
