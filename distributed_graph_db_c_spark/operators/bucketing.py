"""Bucketed (pre-shuffled) storage for co-located fact-fact joins.

The scale problem this solves: at 100 TB the lineitem<->orders join
shuffles BOTH facts on every query.  Bucketing pays that shuffle once at
write time — both tables hash-partitioned into the same number of buckets
on the join key, bucket files sorted — and every subsequent equi-join on
that key compiles to a zero-Exchange sort-merge join (Spark's bucketed
scan reports the hash distribution, so Catalyst drops both Exchange nodes
and, with sorted buckets, both Sorts).

The reference has no analogue (its whole storage layer is one adjacency
matrix per file, SURVEY.md §1.1); this is part of the §2.3 scale surface.

Verified in tests/test_bucketing.py: identical results to the plain join,
and the physical plan contains no Exchange.
"""

from __future__ import annotations

import json
import shutil
from urllib.parse import urlparse

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

# Sidecar file recording a bucketed table's write spec next to its data
# files (round 14, ADVICE r13 medium).  The leading underscore keeps it
# invisible to Spark's file listing (the _SUCCESS/_metadata rule), so
# scans over the directory never see it as a parquet part.  It is the
# ON-DISK half of the bucketing contract attach_bucketed's docstring
# warns about: attaching with a spec that differs from the writing spec
# mislabels bucket membership and the zero-shuffle probe joins silently
# drop pairs.  write_bucketed records the spec; ensure_attached (the
# cross-session auto-attach seam) attaches with it, attach_bucketed
# refuses a contradicting spec, and both refuse a directory without one.
BUCKET_SPEC_FILE = "_BUCKET_SPEC"


def write_json_sidecar(
    spark: SparkSession, location: str, name: str, payload: dict
) -> None:
    """Publish a small JSON contract file inside a data directory,
    crash-atomically: stage under a hidden temp name, then RENAME over
    the final name — a driver death mid-write must never leave a torn
    sidecar that bricks every later read (rename is a metadata op on
    HDFS-compatible stores; the same discipline as sinks._swap_dir).
    ``name`` must start with "_" so scans never see it as data.

    Bytes on disk are RAW UTF-8 JSON, readable by any external JSON
    tool and uncapped in size."""
    import uuid as _uuid

    from ..sinks import _hadoop_fs

    assert name.startswith("_"), name
    fs, jpath = _hadoop_fs(spark, location)
    final = f"{location.rstrip('/')}/{name}"
    tmp = f"{final}__tmp_{_uuid.uuid4().hex[:8]}__"
    backup = None
    try:
        out = fs.create(jpath(tmp), True)
        try:
            out.write(bytearray(json.dumps(payload).encode("utf-8")))
        finally:
            out.close()
        # rename-first: only if the destination is occupied (a
        # re-publish over an existing sidecar) move the OLD sidecar
        # aside to a hidden backup name and retry — a concurrent
        # reader that misses the final name then finds the backup
        # (read_json_sidecar checks it), so no reader ever observes
        # ABSENCE, which every contract reader treats as a hard error
        # (write_bucketed clears the directory before saveAsTable, so
        # the common path renames into an empty slot atomically)
        if not fs.rename(jpath(tmp), jpath(final)):
            backup = f"{final}__bak_{_uuid.uuid4().hex[:8]}__"
            if not fs.rename(jpath(final), jpath(backup)):
                # backup rename refused (e.g. destination vanished
                # between the two renames) — fall back to delete+retry
                backup = None
                fs.delete(jpath(final), False)
            if not fs.rename(jpath(tmp), jpath(final)):
                raise OSError(f"could not publish sidecar {final}")
        # backups are only deleted AFTER the new sidecar is live; the
        # sweep runs on EVERY successful publish (not just ones that
        # made a backup) so a stale backup from a prior crashed or
        # interrupted publish is reclaimed the next time the contract
        # is written — at this point final is authoritative again
        for st in fs.globStatus(jpath(f"{final}__bak_*__")) or []:
            fs.delete(st.getPath(), False)
    except Exception:
        # never leave the hidden temp behind (one orphan per failed
        # attempt would accumulate in the table directory forever);
        # the backup, if any, stays — it is the only readable copy
        # when the publish died between the two renames
        try:
            fs.delete(jpath(tmp), False)
        except Exception:
            pass
        raise


def read_json_sidecar(
    spark: SparkSession, location: str, name: str
) -> dict | None:
    """Read a contract sidecar published by :func:`write_json_sidecar`,
    or None if absent.  A PRESENT-but-unreadable sidecar (anything that
    is not raw UTF-8 JSON) raises a clear error naming the file:
    silently treating it as absent would reintroduce exactly the
    trusted-wrong-default corruption the sidecar exists to prevent.

    When the final name is mid-republish (the writer moved the old sidecar to a
    hidden ``__bak_*__`` name before installing the new one), the
    backup is read instead, so a concurrent reader never observes
    absence and silently falls back to caller-supplied values."""
    from ..sinks import _hadoop_fs

    fs, jpath = _hadoop_fs(spark, location)
    path = f"{location.rstrip('/')}/{name}"
    p = jpath(path)
    reading_backup = False
    if not fs.exists(p):
        # mid-republish window: the old sidecar lives under a backup
        # name between the writer's two renames — read it rather than
        # reporting absence (re-check final first in case the publish
        # completed and swept the backup while we globbed)
        backups = fs.globStatus(jpath(f"{path}__bak_*__")) or []
        if fs.exists(p):
            pass
        elif backups:
            p = backups[0].getPath()
            reading_backup = True
        else:
            return None
    try:
        try:
            data = _read_all(spark, fs, p)
        except Exception:
            # a backup can legitimately vanish between the glob and the
            # open (the interrupted publish completed and swept it) —
            # by then the final name is live again; only that path gets
            # a second look, a torn FINAL file still refuses below
            if not (reading_backup and fs.exists(jpath(path))):
                raise
            data = _read_all(spark, fs, jpath(path))
        return json.loads(data.decode("utf-8"))
    except Exception as exc:
        raise ValueError(
            f"sidecar {path} exists but cannot be read/parsed "
            f"({type(exc).__name__}) — refusing to guess the recorded "
            "contract; restore it from its writer's output or rebuild"
        ) from exc


def _read_all(spark: SparkSession, fs, p) -> bytes:
    from ..sinks import _read_stream_bytes

    inp = fs.open(p)
    try:
        return _read_stream_bytes(spark, inp)
    finally:
        inp.close()


def _write_bucket_spec(
    spark: SparkSession, location: str, keys: list[str], n_buckets: int,
    sorted_buckets: bool,
) -> None:
    write_json_sidecar(
        spark, location, BUCKET_SPEC_FILE,
        {"keys": keys, "n_buckets": n_buckets, "sorted": sorted_buckets},
    )


def read_bucket_spec(
    spark: SparkSession, table: str, location: str | None = None
) -> dict | None:
    """The recorded write spec of bucketed table ``table`` (or the
    explicit ``location``), or None when the directory has no
    ``_BUCKET_SPEC`` sidecar."""
    if location is None:
        location = warehouse_location(spark, table.split(".")[-1])
    return read_json_sidecar(spark, location, BUCKET_SPEC_FILE)


def count_and_distinct(df: DataFrame, col: str) -> tuple[int, int]:
    """(row count, distinct count of ``col``) in ONE aggregation job
    (round 15, guide §1.2): the ``df.count()`` +
    ``df.select(col).distinct().count()`` idiom every append/stream
    validation used costs two full passes over the delta — at 100 TB two
    delta scans, locally two scheduled jobs — for numbers one partial
    aggregate produces together.  NULL semantics match
    ``distinct().count()`` exactly: ``count_distinct`` ignores NULLs, so
    a NULL-presence flag adds the one distinct row NULLs collapse to."""
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct(F.col(col)).alias("d"),
        F.max(F.col(col).isNull().cast("int")).alias("has_null"),
    ).head()
    return int(row["n"]), int(row["d"]) + int(row["has_null"] or 0)


def warehouse_location(spark: SparkSession, name: str) -> str:
    """The FULLY-QUALIFIED URI of warehouse entry ``name``, resolved
    through the Hadoop filesystem (ADVICE r10): composing a LOCATION
    from ``urlparse(warehouse).path`` drops the scheme/authority, so an
    object-store warehouse (s3a://bucket/wh) silently resolved to a
    defaultFS path.  ``fs.makeQualified`` preserves scheme + authority
    and normalizes scheme-less paths against defaultFS — the same
    resolve-don't-substring discipline as similarity._local_fs_path."""
    from ..sinks import _hadoop_fs

    wh = spark.conf.get("spark.sql.warehouse.dir")
    fs, jpath = _hadoop_fs(spark, wh)
    return fs.makeQualified(jpath(f"{wh.rstrip('/')}/{name}")).toString()


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str | list[str],
    n_buckets: int = 32,
    sorted_buckets: bool = True,
) -> None:
    """Persist ``df`` as a bucketed parquet table (Spark bucketing metadata
    lives in the session catalog, so this goes through ``saveAsTable``).

    The ``repartition`` on the bucket key before the write makes each task
    own whole buckets — one file per bucket instead of one file per
    (task, bucket) pair, which at 1000 executors is the difference between
    32 files and 32,000."""
    keys = [key] if isinstance(key, str) else key
    spark = df.sparkSession
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    # a dead session leaves the managed location behind with no catalog
    # entry (in-memory catalog, file warehouse); clear it or CREATE fails
    warehouse = urlparse(spark.conf.get("spark.sql.warehouse.dir"))
    if warehouse.scheme in ("", "file"):
        shutil.rmtree(f"{warehouse.path}/{table.split('.')[-1]}", ignore_errors=True)
    writer = (
        df.repartition(n_buckets, *keys)
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, *keys)
    )
    if sorted_buckets:
        writer = writer.sortBy(*keys)
    writer.saveAsTable(table)
    # record the spec on disk so a fresh session's ensure_attached can
    # recover the EXACT writing spec instead of assuming a default —
    # an attach with mismatched n_buckets mislabels bucket membership
    _write_bucket_spec(
        spark,
        warehouse_location(spark, table.split(".")[-1]),
        keys,
        n_buckets,
        sorted_buckets,
    )


def bucketed_join(
    spark: SparkSession,
    left_table: str,
    right_table: str,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Equi-join two tables previously written by :func:`write_bucketed`
    with the SAME key and bucket count.  Plain ``join`` — the zero-shuffle
    plan is Catalyst's doing once the bucketed scans report their
    distribution; this wrapper only documents the contract."""
    return spark.table(left_table).join(spark.table(right_table), on=on, how=how)


def attach_bucketed(
    spark: SparkSession,
    table: str,
    schema_ddl: str,
    key: str | list[str],
    n_buckets: int = 32,
    location: str | None = None,
    sorted_buckets: bool = True,
) -> None:
    """RE-ATTACH bucketing metadata to an existing bucketed-parquet
    directory (round 7).  Spark's default in-memory catalog forgets
    every table at session end, but the FILES a bucketed write produced
    persist — including the bucket id encoded in each file name — so a
    restarted driver (the nightly incremental-dedup job) can recover
    the zero-shuffle join property by recreating the catalog entry over
    the same directory with the same CLUSTERED BY spec.  With a real
    metastore (production) this is a no-op; locally it is the
    difference between an index that survives restarts and one that
    silently does not.

    ``location`` defaults to the managed-warehouse path the original
    ``write_bucketed``/saveAsTable used.  The supplied spec (key,
    n_buckets, sort) is checked against the directory's recorded
    ``_BUCKET_SPEC``: a contradiction mislabels bucket membership (probe
    joins silently miss pairs) or declares SORTED BY over unsorted files
    (sort-merge joins elide the sort and drop matches), so it refuses
    loudly, as does a directory with no recorded spec."""
    keys = [key] if isinstance(key, str) else key
    if location is None:
        location = warehouse_location(spark, table.split(".")[-1])
    spec = _recorded_spec(spark, table, location)
    if (
        list(spec["keys"]) != list(keys)
        or int(spec["n_buckets"]) != int(n_buckets)
        or bool(spec.get("sorted", True)) != bool(sorted_buckets)
    ):
        raise ValueError(
            f"attach_bucketed({table}): supplied spec (keys={keys}, "
            f"n_buckets={n_buckets}, sorted={sorted_buckets}) contradicts "
            f"the on-disk {BUCKET_SPEC_FILE} (keys={spec['keys']}, "
            f"n_buckets={spec['n_buckets']}, "
            f"sorted={spec.get('sorted', True)}) — attaching would "
            "mislabel bucket membership or declare a sort the files "
            "don't have, corrupting every co-located join; use the "
            "recorded spec"
        )
    _create_bucketed_entry(spark, table, schema_ddl, spec, location)


def ensure_attached(spark: SparkSession, table: str, schema_ddl: str) -> None:
    """Attach ``table`` with its RECORDED write spec only if this
    session's catalog lacks it — the CROSS-SESSION seam (ADVICE r12): a
    reader resolves its snapshot's segments from the ON-DISK markers,
    but reads the segment tables through the session catalog, so a
    segment another session published after this session's build/attach
    is visible in the marker listing yet absent from the catalog.  Index
    reads call this per part; the tableExists probe is catalog-metadata
    only, and an existing entry — managed (this session built it) or
    external (a prior attach) — is left alone.  A directory without its
    ``_BUCKET_SPEC`` sidecar is a hard error: there is no spec to trust."""
    if not spark.catalog.tableExists(table):
        location = warehouse_location(spark, table.split(".")[-1])
        spec = _recorded_spec(spark, table, location)
        _create_bucketed_entry(spark, table, schema_ddl, spec, location)


def _recorded_spec(spark: SparkSession, table: str, location: str) -> dict:
    spec = read_bucket_spec(spark, table, location)
    if spec is None:
        raise FileNotFoundError(
            f"bucketed table {table}: no {BUCKET_SPEC_FILE} at {location} — "
            "every write_bucketed directory records its spec, so this is "
            "not a bucketed table (or it was damaged); refusing to guess"
        )
    return spec


def _create_bucketed_entry(
    spark: SparkSession, table: str, schema_ddl: str, spec: dict, location: str
) -> None:
    # DROP of a MANAGED table PURGES its data directory — if this
    # session already holds the table from a write_bucketed/saveAsTable
    # (the build-then-attach-in-one-session flow), an unconditional
    # drop would destroy the files and silently re-attach over an empty
    # location.  A managed entry already carries the bucketing metadata
    # the attach exists to recover, so refuse loudly; an EXTERNAL entry
    # (a prior attach) drops safely — DROP on external removes metadata
    # only.
    if spark.catalog.tableExists(table):
        ttype = spark.catalog.getTable(table).tableType
        if ttype != "EXTERNAL":
            raise ValueError(
                f"attach_bucketed({table}): table exists as {ttype} in "
                "this session's catalog — dropping it would purge the "
                "data directory. The managed entry already has bucketing "
                "metadata; attach is only for FRESH sessions recovering "
                "a persisted directory."
            )
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    keys = ", ".join(spec["keys"])
    sort_clause = f"SORTED BY ({keys} ASC) " if spec.get("sorted", True) else ""
    spark.sql(
        f"CREATE TABLE {table} ({schema_ddl}) USING parquet "
        f"CLUSTERED BY ({keys}) {sort_clause}"
        f"INTO {int(spec['n_buckets'])} BUCKETS LOCATION '{location}'"
    )


# -- segmented warehouse indexes ---------------------------------------------
#
# The MinHash band index (operators/dedup.py) and the cosine-LSH index
# (operators/similarity.py) are two codecs over ONE lifecycle, written
# here once.  An index is a set of bucketed catalog tables, described by
# an IndexSpec ((suffix, DDL, bucket key) per table, the first holding
# one row per indexed id), stored under versioned names:
#
# - a BUILD writes brand-new tables ``<prefix>__gNNNNNNNN<suffix>``,
#   records the build parameters in one ``_INDEX_PARAMS`` JSON sidecar
#   inside the first table's directory, then publishes the generation by
#   exclusively creating one marker file in the warehouse — the single
#   atomic commit point (claim_marker's O_EXCL discipline);
# - an APPEND writes the delta as an immutable SEGMENT of the newest
#   generation (``<prefix>__gNNNNNNNN_sNNNN<suffix>``) and publishes one
#   segment marker.  Index content is per item (a MinHash signature or
#   an LSH bucket depends only on its own row and the recorded
#   parameters), so base + segments index exactly what one build over the
#   union would;
# - a COMPACTION folds base + segments into the next generation
#   verbatim, parameters carried over unchanged;
# - readers OPEN an IndexSnapshot — generation, published segments and
#   recorded parameters, from one marker listing and one sidecar read —
#   and bind their whole plan to those tables.  Published tables are
#   never rewritten, so a snapshot stays valid across racing builds,
#   appends and compactions;
# - VACUUM is the only destroyer of a published generation (markers
#   first, so no new reader resolves it, then tables and files).
#
# Builds, appends and compactions serialize on one claim marker per
# index.  A snapshot also PRODUCES the delta a screen or an append works
# on: the batch shingled/signed or bucketed under the snapshot's
# recorded parameters, its validation counts cached, so one delta serves
# every phase of a micro-batch and no phase can take caller-computed
# frames or counts.  An append given a delta refuses if a newer
# generation has been published since its snapshot was opened.  Every
# marker, table, bucket spec and params sidecar is written by this
# module, so a missing one is a hard error, never a fallback.

import re as _re
from dataclasses import dataclass
from functools import reduce

INDEX_GEN_FMT = "__g%08d"
INDEX_SEG_FMT = "_s%04d"
INDEX_PARAMS_FILE = "_INDEX_PARAMS"
_MARKER_RE = r"^_%s__g(\d{8,})__published__$"
# {4,}/{8,} not {4}/{8}: %04d WIDENS past 9999 (seg 10000 publishes
# "_s10000__..."), so an anchored fixed-width match would silently drop
# that segment from every snapshot while the next append dies on the
# marker O_EXCL collision — the numbers must stay visible however wide
# they print (numeric sort already handles >4 digits).
_SEG_MARKER_RE = r"^_%s__g(\d{8,})_s(\d{4,})__published__$"


@dataclass(frozen=True)
class IndexSpec:
    """One segmented index kind: its bucketed tables as ``(suffix, DDL,
    bucket key)`` — the first holds one row per indexed id — and the
    delta class its snapshots make (``delta(snapshot, frame, **cols)``)."""

    name: str
    tables: tuple[tuple[str, str, str], ...]
    delta: type
    n_buckets: int = 16

    @property
    def suffixes(self) -> tuple[str, ...]:
        return tuple(t[0] for t in self.tables)


@dataclass(frozen=True)
class IndexSnapshot:
    """One published generation of an index, its published segments
    (possibly pinned to a horizon) and its recorded build parameters."""

    spark: SparkSession
    spec: IndexSpec
    prefix: str
    generation: int
    segments: tuple[int, ...]
    params: dict

    @property
    def parts(self) -> list[str]:
        return [index_gen_prefix(self.prefix, self.generation)] + [
            index_seg_prefix(self.prefix, self.generation, s) for s in self.segments
        ]

    def tables(self, suffix: str) -> list[DataFrame]:
        """Every part's ``suffix`` table, attached first where this
        session's catalog lacks it (a part another session published)."""
        ddl = next(d for s, d, _ in self.spec.tables if s == suffix)
        for p in self.parts:
            ensure_attached(self.spark, f"{p}{suffix}", ddl)
        return [self.spark.table(f"{p}{suffix}") for p in self.parts]

    def union(self, suffix: str, *cols: str) -> DataFrame:
        return reduce(
            DataFrame.unionByName, [t.select(*cols) for t in self.tables(suffix)]
        )

    def n_indexed(self, ids: DataFrame) -> int:
        """How many rows of ``ids`` (one ``id`` column) are indexed."""
        indexed = self.union(self.spec.tables[0][0], "id")
        return ids.join(indexed, "id", "left_semi").count()

    def delta(self, frame: DataFrame, **cols):
        """``frame`` prepared under this snapshot's recorded parameters."""
        return self.spec.delta(self, frame, **cols)


def _hadoop_warehouse(spark: SparkSession):
    from ..sinks import _hadoop_fs

    warehouse = spark.conf.get("spark.sql.warehouse.dir")
    return (warehouse, *_hadoop_fs(spark, warehouse))


def _index_markers(spark: SparkSession, table_prefix: str) -> dict[int, list[int]]:
    """{published generation: its published segments, ascending} from ONE
    listing of the warehouse's marker files — never the catalog, which
    forgets at session end."""
    warehouse, fs, jpath = _hadoop_warehouse(spark)
    if not fs.exists(jpath(warehouse)):
        return {}
    gen_pat = _re.compile(_MARKER_RE % _re.escape(table_prefix))
    seg_pat = _re.compile(_SEG_MARKER_RE % _re.escape(table_prefix))
    gens, segs = set(), {}
    for st in fs.listStatus(jpath(warehouse)):
        if st.isDirectory():
            continue
        name = st.getPath().getName()
        if m := gen_pat.match(name):
            gens.add(int(m.group(1)))
        elif m := seg_pat.match(name):
            segs.setdefault(int(m.group(1)), []).append(int(m.group(2)))
    return {g: sorted(segs.get(g, [])) for g in sorted(gens)}


def _index_marker(warehouse: str, table_prefix: str, gen: int) -> str:
    return f"{warehouse.rstrip('/')}/_{table_prefix}{INDEX_GEN_FMT % gen}__published__"


def _index_seg_marker(warehouse: str, table_prefix: str, gen: int, seg: int) -> str:
    return (
        f"{warehouse.rstrip('/')}/_{table_prefix}"
        f"{INDEX_GEN_FMT % gen}{INDEX_SEG_FMT % seg}__published__"
    )


def index_gen_prefix(table_prefix: str, gen: int) -> str:
    """The table-name prefix generation ``gen`` of index
    ``table_prefix`` stores its base tables under."""
    return f"{table_prefix}{INDEX_GEN_FMT % gen}"


def index_seg_prefix(table_prefix: str, gen: int, seg: int) -> str:
    """The table-name prefix append segment ``seg`` of generation
    ``gen`` stores under."""
    return f"{index_gen_prefix(table_prefix, gen)}{INDEX_SEG_FMT % seg}"


def index_generations(spark: SparkSession, table_prefix: str) -> list[int]:
    """Published generations of warehouse index ``table_prefix``, ascending."""
    return list(_index_markers(spark, table_prefix))


def index_segments(spark: SparkSession, table_prefix: str, gen: int) -> list[int]:
    """Published append segments of generation ``gen``, ascending."""
    return _index_markers(spark, table_prefix).get(gen, [])


def index_claim(warehouse: str, table_prefix: str) -> str:
    """The claim marker every build, append and compaction of index
    ``table_prefix`` serializes on.  Two indexes sharing a prefix would
    contend on it — which their table names already forbid."""
    return f"{warehouse.rstrip('/')}/_{table_prefix}__index_build__"


def _resolve(
    table_prefix: str, markers: dict[int, list[int]], generation: int | None
) -> int:
    if generation is None:
        if not markers:
            raise FileNotFoundError(
                f"index {table_prefix}: no published generation — build it first"
            )
        return list(markers)[-1]
    if generation not in markers:
        raise FileNotFoundError(
            f"index {table_prefix}: generation {generation} not published "
            f"(have {list(markers) or 'none'}) — vacuumed or never built; "
            "generation pinning is explicit, never a silent fallback"
        )
    return generation


def index_resolve(
    spark: SparkSession, table_prefix: str, generation: int | None = None
) -> int:
    """The newest published generation of ``table_prefix``, or the
    explicitly pinned one; an unpublished/vacuumed pin, or an index with
    nothing published, raises — never a silent fallback."""
    return _resolve(table_prefix, _index_markers(spark, table_prefix), generation)


def index_open(
    spark: SparkSession,
    spec: IndexSpec,
    table_prefix: str,
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> IndexSnapshot:
    """Open the snapshot one index operation binds to: the newest (or
    pinned) generation, its published segments up to ``as_of_segment``
    (0 = base only), and the generation's recorded parameters — one
    marker listing, one sidecar read.  With nothing published yet, a
    standing build claim raises ConcurrentCommitError (the first build
    is in flight, or its builder died) instead of FileNotFoundError."""
    from ..sinks import ConcurrentCommitError

    markers = _index_markers(spark, table_prefix)
    if not markers:
        warehouse, fs, jpath = _hadoop_warehouse(spark)
        claim = index_claim(warehouse, table_prefix)
        if fs.exists(jpath(claim)):
            raise ConcurrentCommitError(
                f"{spec.name} index {table_prefix}: no published generation "
                f"and build claim {claim} is held — the first build is in "
                "flight, or its builder died (remove the claim, rebuild)"
            )
    return _snapshot(spark, spec, table_prefix, markers, generation, as_of_segment)


def _snapshot(
    spark: SparkSession,
    spec: IndexSpec,
    table_prefix: str,
    markers: dict[int, list[int]],
    generation: int | None = None,
    as_of_segment: int | None = None,
) -> IndexSnapshot:
    gen = _resolve(table_prefix, markers, generation)
    segs = markers[gen]
    if as_of_segment is not None:
        if as_of_segment != 0 and as_of_segment not in segs:
            raise FileNotFoundError(
                f"{spec.name} index {table_prefix}: segment {as_of_segment} "
                f"of generation {gen} not published (have {segs or 'none'}) "
                "— segment pinning is explicit, never a silent fallback"
            )
        segs = [s for s in segs if s <= as_of_segment]
    gp = index_gen_prefix(table_prefix, gen)
    location = warehouse_location(spark, f"{gp}{spec.tables[0][0]}")
    params = read_json_sidecar(spark, location, INDEX_PARAMS_FILE)
    if params is None:
        raise FileNotFoundError(
            f"{spec.name} index {table_prefix}: generation {gen} has no "
            f"{INDEX_PARAMS_FILE} at {location} — every build records one; "
            "the generation is damaged, rebuild it"
        )
    return IndexSnapshot(spark, spec, table_prefix, gen, tuple(segs), params)


def index_target(
    spec: IndexSpec,
    new,
    table_prefix: str,
    generation: int | None = None,
    as_of_segment: int | None = None,
    **cols,
):
    """(snapshot, delta) one screen or append works on.  ``new`` is a
    batch frame — prepared by a freshly opened (or pinned) snapshot — or
    a delta a snapshot of this index already made; a pin then opens its
    own snapshot, whose recorded parameters must be the delta's."""
    if isinstance(new, DataFrame):
        snap = index_open(new.sparkSession, spec, table_prefix, generation, as_of_segment)
        return snap, snap.delta(new, **cols)
    snap = new.snapshot
    if (snap.spec, snap.prefix) != (spec, table_prefix):
        raise ValueError(
            f"{spec.name} index {table_prefix}: the delta was made by a "
            f"snapshot of {snap.spec.name} index {snap.prefix}"
        )
    if generation is not None or as_of_segment is not None:
        snap = index_open(snap.spark, spec, table_prefix, generation, as_of_segment)
        if snap.params != new.snapshot.params:
            raise ValueError(
                f"{spec.name} index {table_prefix}: generation "
                f"{snap.generation} recorded build parameters {snap.params}, "
                f"but the delta was prepared under {new.snapshot.params}"
            )
    return snap, new


def _write_index_tables(spec: IndexSpec, tprefix: str, frames: dict[str, DataFrame]) -> None:
    for suffix, _ddl, key in spec.tables:
        write_bucketed(frames[suffix], f"{tprefix}{suffix}", key=key, n_buckets=spec.n_buckets)


def _write_params(spark: SparkSession, spec: IndexSpec, gp: str, params: dict) -> None:
    # after the tables: write_bucketed clears the directory it writes
    location = warehouse_location(spark, f"{gp}{spec.tables[0][0]}")
    write_json_sidecar(spark, location, INDEX_PARAMS_FILE, params)


def _claim(spark: SparkSession, table_prefix: str, what: str):
    from ..sinks import claim_marker

    warehouse, fs, jpath = _hadoop_warehouse(spark)
    claim = index_claim(warehouse, table_prefix)
    claim_marker(fs, jpath, claim, what)
    return fs, jpath, claim


def index_build(
    spark: SparkSession,
    spec: IndexSpec,
    table_prefix: str,
    frames: dict[str, DataFrame],
    params: dict,
    what: str,
) -> int:
    """Write ``frames`` (one per table suffix) as the next generation,
    record ``params`` and publish; returns the generation.  The claim
    is released ONLY on success: a build that dies mid-write leaves its
    unpublished tables (no reader can resolve them; the rerun
    overwrites them) and the claim, naming its dead builder, as the loud
    wedge for the next writer."""
    fs, jpath, claim = _claim(spark, table_prefix, what)
    gens = index_generations(spark, table_prefix)
    gen = (gens[-1] if gens else 0) + 1
    gp = index_gen_prefix(table_prefix, gen)
    _write_index_tables(spec, gp, frames)
    _write_params(spark, spec, gp, params)
    index_publish_generation(spark, table_prefix, gen, what)
    fs.delete(jpath(claim), False)
    return gen


def _ledger(snap: IndexSnapshot, batch_rows: int = 0) -> dict:
    """Row counts of the retrain trigger, every part's in ONE job (a
    union tagged by part).  The basis is the sizing basis the build
    recorded (``n_rows``) — rows a compaction folded into the base past
    it still count as appended — or, for an index that records none,
    the base's own rows."""
    tagged = reduce(
        DataFrame.unionByName,
        [
            t.select(F.lit(i).alias("_pi"))
            for i, t in zip((0, *snap.segments), snap.tables(snap.spec.tables[0][0]))
        ],
    )
    counts = {
        int(r["_pi"]): int(r["c"])
        for r in tagged.groupBy("_pi").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    base = counts.get(0, 0)
    sized = "n_rows" in snap.params
    basis = int(snap.params["n_rows"]) if sized else base
    appended = (
        batch_rows + max(0, base - basis) + sum(counts.get(s, 0) for s in snap.segments)
    )
    return {
        "basis_rows" if sized else "base_rows": basis,
        "appended_rows": appended,
        "appended_frac": appended / basis if basis else float("inf"),
    }


def _retrain_due(ledger: dict, n_segments: int, retrain_frac, max_segments) -> bool:
    return bool(
        ledger["appended_rows"]
        and (ledger["appended_frac"] >= retrain_frac or n_segments >= max_segments)
    )


def index_append(
    snap: IndexSnapshot,
    delta,
    what: str,
    check_duplicate_ids: bool,
    retrain_frac: float,
    max_segments: int,
) -> dict:
    """Publish ``delta`` as the next append segment of the snapshot's
    generation; returns the maintenance audit.

    Refuses — before any write, claim released — when a newer generation
    was published since ``snap`` was opened (a segment keyed under the
    old generation's parameters would be orphaned or poison the new
    one), when the delta fails its own validation, or on ids already
    indexed (``check_duplicate_ids``; checked against the segments
    published by the time the claim is held).  Once the segment tables
    start writing, the claim is success-only and the segment marker is
    the atomic commit point.  ``batch_rows`` is the delta's own row
    count."""
    from ..sinks import ConcurrentCommitError

    spark, prefix = snap.spark, snap.prefix
    fs, jpath, claim = _claim(spark, prefix, what)
    try:
        cur = _snapshot(spark, snap.spec, prefix, _index_markers(spark, prefix))
        if cur.generation != snap.generation:
            raise ConcurrentCommitError(
                f"{what}: the delta's snapshot is generation {snap.generation}"
                f" but generation {cur.generation} has been published since "
                "— reopen the index and prepare the delta again"
            )
        delta.validate(what)
        if check_duplicate_ids:
            n_dup = cur.n_indexed(delta.ids)
            if n_dup:
                raise ValueError(
                    f"{what}: {n_dup} delta id(s) already indexed in "
                    f"generation {cur.generation} — append means new ids; "
                    "replacing items is a rebuild, not an append. Pass "
                    "check_duplicate_ids=False only if disjointness is "
                    "guaranteed upstream."
                )
    except BaseException:
        fs.delete(jpath(claim), False)
        raise
    seg = (cur.segments[-1] if cur.segments else 0) + 1
    sp = index_seg_prefix(prefix, cur.generation, seg)
    _write_index_tables(snap.spec, sp, delta.tables())
    index_publish_segment(spark, prefix, cur.generation, seg, what)
    fs.delete(jpath(claim), False)
    ledger = _ledger(cur, batch_rows=delta.rows)
    n_segments = len(cur.segments) + 1
    return {
        "generation": cur.generation,
        "segment": seg,
        "n_segments": n_segments,
        "batch_rows": delta.rows,
        **ledger,
        "retrain_due": _retrain_due(ledger, n_segments, retrain_frac, max_segments),
    }


def index_status(
    spark: SparkSession,
    spec: IndexSpec,
    table_prefix: str,
    retrain_frac: float,
    max_segments: int,
) -> dict:
    """The maintenance ledger of the newest generation, recomputed FROM
    DISK (markers, params sidecar, part row counts) so a restarted
    driver needs no state of its own."""
    snap = index_open(spark, spec, table_prefix)
    ledger = _ledger(snap)
    return {
        "generation": snap.generation,
        "segments": list(snap.segments),
        **ledger,
        "retrain_due": _retrain_due(ledger, len(snap.segments), retrain_frac, max_segments),
    }


def index_compact(spark: SparkSession, spec: IndexSpec, table_prefix: str, what: str) -> dict:
    """Fold the newest generation's base + segments into the next
    generation — a pure union rewrite, parameters carried verbatim, so
    it indexes bit-identically what the wide snapshot did.  A failure at
    any point leaves the source generation intact and answering, so the
    claim is released on every exit path; the source stays published
    for pinned readers until vacuumed."""
    fs, jpath, claim = _claim(spark, table_prefix, what)
    try:
        snap = _snapshot(spark, spec, table_prefix, _index_markers(spark, table_prefix))
        if not snap.segments:
            raise ValueError(
                f"{what}: generation {snap.generation} has no published "
                "append segments — nothing to compact (a no-op rewrite "
                "would only churn storage)"
            )
        gen = snap.generation + 1
        gp = index_gen_prefix(table_prefix, gen)
        _write_index_tables(
            spec,
            gp,
            {
                suffix: snap.union(suffix, *(c.split()[0] for c in ddl.split(",")))
                for suffix, ddl, _ in spec.tables
            },
        )
        _write_params(spark, spec, gp, snap.params)
        index_publish_generation(spark, table_prefix, gen, what)
        audit = {
            "generation": gen,
            "from_generation": snap.generation,
            "compacted_segments": list(snap.segments),
            "rows": spark.table(f"{gp}{spec.tables[0][0]}").count(),
        }
        if "n_rows" in snap.params:
            audit["basis_rows"] = int(snap.params["n_rows"])
        return audit
    finally:
        fs.delete(jpath(claim), False)


def index_attach(
    spark: SparkSession, spec: IndexSpec, table_prefix: str, generation: int | None = None
) -> int:
    """Recover an index's catalog entries in a FRESH session (the
    restarted nightly driver): open the newest (or pinned) generation
    and re-attach every part's tables with their recorded bucket specs,
    so reads keep their zero-index-shuffle plans.  Catalog metadata
    only; returns the attached generation."""
    snap = index_open(spark, spec, table_prefix, generation)
    for p in snap.parts:
        for suffix, ddl, key in spec.tables:
            attach_bucketed(spark, f"{p}{suffix}", ddl, key, spec.n_buckets)
    return snap.generation


def index_publish_segment(
    spark: SparkSession, table_prefix: str, gen: int, seg: int, what: str
) -> None:
    """Publish append segment ``seg`` of generation ``gen`` with ONE
    exclusive marker create — the append's atomic commit point."""
    from ..sinks import claim_marker

    warehouse, fs, jpath = _hadoop_warehouse(spark)
    claim_marker(fs, jpath, _index_seg_marker(warehouse, table_prefix, gen, seg), what)


def index_publish_generation(
    spark: SparkSession, table_prefix: str, gen: int, what: str
) -> None:
    """Publish generation ``gen`` with ONE exclusive marker create —
    the atomic commit point (one publisher wins, a collision raises
    ConcurrentCommitError with the staged tables left for inspection)."""
    from ..sinks import claim_marker

    warehouse, fs, jpath = _hadoop_warehouse(spark)
    claim_marker(fs, jpath, _index_marker(warehouse, table_prefix, gen), what)


def _drop_tables(spark: SparkSession, fs, jpath, tables) -> None:
    for table in tables:
        # a MANAGED drop purges the directory; an EXTERNAL drop (a prior
        # attach) removes metadata only — the file delete covers both
        # plus the no-catalog-entry case
        if spark.catalog.tableExists(table):
            spark.sql(f"DROP TABLE {table}")
        fs.delete(jpath(warehouse_location(spark, table)), True)


def index_vacuum_generations(
    spark: SparkSession,
    table_prefix: str,
    suffixes: tuple[str, ...],
    keep_last: int = 1,
) -> list[int]:
    """Delete all but the newest ``keep_last`` published generations of
    index ``table_prefix``, their segments included; returns the removed
    numbers.  Markers first (no new reader can resolve a doomed
    generation), then catalog entries, then files — a reader already
    pinned to a vacuumed generation fails loudly on its next scan."""
    if keep_last < 1:
        raise ValueError("index_vacuum_generations: keep_last must be >= 1")
    warehouse, fs, jpath = _hadoop_warehouse(spark)
    markers = _index_markers(spark, table_prefix)
    doomed = list(markers)[:-keep_last]
    for g in doomed:
        fs.delete(jpath(_index_marker(warehouse, table_prefix, g)), False)
        for s in markers[g]:
            fs.delete(jpath(_index_seg_marker(warehouse, table_prefix, g, s)), False)
        _drop_tables(
            spark,
            fs,
            jpath,
            [
                f"{p}{suffix}"
                for p in [
                    index_gen_prefix(table_prefix, g),
                    *(index_seg_prefix(table_prefix, g, s) for s in markers[g]),
                ]
                for suffix in suffixes
            ],
        )
    return doomed


def index_drop_all(
    spark: SparkSession, table_prefix: str, suffixes: tuple[str, ...]
) -> None:
    """Gate/test hygiene: drop EVERY artifact of warehouse index
    ``table_prefix`` — markers, catalog entries and files of every
    generation and segment, published or not.  Throwaway-prefix gates
    call this in their ``finally`` so a bench loop doesn't accumulate
    one generation of tables per run in the shared warehouse."""
    warehouse, fs, jpath = _hadoop_warehouse(spark)
    # \d{8,}/\d{4,}, NOT fixed width: %08d/%04d widen past their field
    # width, and a fixed-width pattern would leak segment-10000 tables
    pat = _re.compile(
        rf"^{_re.escape(table_prefix)}__g\d{{8,}}(_s\d{{4,}})?"
        rf"({'|'.join(_re.escape(s) for s in suffixes)})$"
    )
    markers = [
        _re.compile(m % _re.escape(table_prefix)) for m in (_MARKER_RE, _SEG_MARKER_RE)
    ]
    for t in spark.catalog.listTables():
        if pat.match(t.name):
            spark.sql(f"DROP TABLE IF EXISTS {t.name}")
    if fs.exists(jpath(warehouse)):
        for st in fs.listStatus(jpath(warehouse)):
            name = st.getPath().getName()
            if pat.match(name) if st.isDirectory() else any(m.match(name) for m in markers):
                fs.delete(st.getPath(), True)
