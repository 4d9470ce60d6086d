"""Copy-on-write versioned parquet table: transactional MERGE without
a Delta/Iceberg jar.

The sandbox ships no transactional-format jar and has no network to
fetch one, so ``MERGE INTO`` could never execute here (operators/
audits.merge_upsert_into stays jar-gated for real catalogs).  This
module implements the MECHANISM those formats use -- an append-only
commit log of immutable parquet files, atomic single-writer commits,
file-level pruning on merge -- with nothing but Spark and the stdlib,
so the engine's upsert path runs end-to-end in any environment:

* layout: ``<path>/_log/%08d.json`` (one commit per version, each
  listing the data files of that snapshot) + ``<path>/data/
  v<N>-<token>/`` (files written by one writer's attempt at version
  N; the random token keeps RACING writers from colliding on a
  directory before the commit race is decided -- readers only open
  the explicit paths a commit lists; files are never mutated or
  renamed);
* commits are atomic via ``os.link`` (fail-if-exists): two concurrent
  writers racing to version N+1 -- one wins, the loser gets
  :class:`ConcurrentWriteError` and leaves no partial state (its
  orphaned data dir is invisible to readers, Delta-style);
* :meth:`CowTable.merge` is ``MERGE INTO`` semantics (matched keys
  update wholesale, unmatched source rows insert) touching ONLY the
  files that contain matched keys: a semi-join against the source
  keys identifies affected files (driver-sized: file names), those
  rows are re-merged and rewritten, every other file is carried into
  the new commit by reference.  At 100 TB that is the difference
  between rewriting gigabytes and rewriting everything -- the same
  copy-on-write contract as Delta, minus the jar;
* :meth:`read` accepts ``version=`` -- time travel over the log;
* every commit records per-file column min/max/null-count harvested
  from the parquet FOOTERS at write time (metadata-only, no data
  scan), so :meth:`read_range` opens only the files whose stats
  intersect the predicate -- Delta/Iceberg-style data skipping.
  Footer bounds may be widened by spec-compliant writers
  (truncation), which only costs skips, never correctness;
* :meth:`compact` bin-packs small files into ~``target_rows`` files
  (the ``OPTIMIZE`` analogue): a pure rewrite commit that fixes the
  small-files problem incremental MERGE commits accumulate;
* :meth:`delete` and ``merge(strategy="mor")`` are the MERGE-ON-READ
  half of the format (Delta/Iceberg deletion vectors): matched rows
  are marked dead BY ROW POSITION in a commit sidecar instead of
  rewriting their files -- O(batch) metadata where copy-on-write
  would rewrite terabytes of scattered-key files at 100 TB.  Every
  reader filters dead positions via the parquet row index
  (``_metadata.row_index``); :meth:`compact` materializes the
  vectors so the read-side anti-join never accrues unboundedly;
* :meth:`read_changes` is the CHANGE DATA FEED (Delta's
  ``table_changes``): tables created with ``change_feed=True`` record
  each mutation commit's row-level change set (``insert`` /
  ``update_preimage`` / ``update_postimage`` / ``delete``) in
  commit-referenced change files, so incremental consumers tail
  O(changes) per poll instead of diffing snapshots;
* :meth:`vacuum` deletes files no retained snapshot references (the
  ``VACUUM`` analogue), with a grace window shielding in-flight
  writers' not-yet-committed files; commit metadata is never
  rewritten, so history stays auditable past the horizon.

On-disk format: every commit doc is written by :meth:`CowTable._commit`
and carries ``format_version`` (:data:`FORMAT_VERSION`), the snapshot's
``files``, their footer ``file_stats``, the table ``schema`` and the
cumulative per-app ``txn`` high-water map, so any one doc answers
snapshot, schema and idempotence questions on its own.  A doc without
the current ``format_version`` raises
:class:`UnsupportedTableFormatError`; there is no migration -- re-create
the table.

This is the at-scale form of the reference's in-place
``update_many``/``find_one_and_update`` writes
(mongo_audit.py:33-35,235-268) for environments without a
transactional catalog; with one, ``merge_upsert_into`` issues the real
statement instead.
"""

from __future__ import annotations

import contextlib
import json
import os
import re as _re
import threading
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F



class ConcurrentWriteError(RuntimeError):
    """Another writer committed this version first; retry from the new
    snapshot (optimistic concurrency, as in Delta's protocol)."""


class ConcurrentMergeConflictError(ConcurrentWriteError):
    """A concurrent commit rewrote or removed files this operation
    read: rebasing blindly could resurrect overwritten rows, so the
    conflict is surfaced instead (Delta's ConcurrentDeleteReadException
    analogue).  Raised by the ``retries=`` rebase loop; disjoint
    concurrent commits rebase transparently and never see this."""


#: The commit-doc format every writer stamps (see the module docstring).
FORMAT_VERSION = 1


class UnsupportedTableFormatError(RuntimeError):
    """A commit doc was not written in :data:`FORMAT_VERSION` (an older
    log, or a newer writer).  Deliberately not a ValueError: callers
    that treat a corrupt doc as "absent" must not swallow this.  The
    only migration is re-creating the table."""

    def __init__(self, path: str, version: int, found):
        self.path, self.version, self.found = path, version, found
        super().__init__(
            f"commit v{version} of CowTable {path} has format_version "
            f"{found!r}; this reader supports only {FORMAT_VERSION} -- "
            "re-create the table to read it"
        )


class ChangesVacuumedError(ValueError):
    """``read_changes`` over a range whose change or data files
    ``vacuum`` already removed; names the first unreadable version."""


# Commits at or below this many files harvest footer stats in-process;
# larger commits run one executor-side Spark job over the file list.
_DRIVER_STATS_MAX = 16

# Bloom BUILDS additionally fan out executor-side past this much total
# parquet (whatever the file count): filter construction is O(rows x k)
# CPU plus a column read per file, so a compaction/fold that leaves a
# FEW huge files (the shape bloom_bits_max exists for) would otherwise
# build multi-second filters serially on the driver while 31 executor
# threads idle.  Footer-stats harvesting stays on the file-count rule
# alone -- it reads only metadata, bytes don't predict its cost.
_BLOOM_BUILD_DRIVER_MAX_BYTES = 64 << 20

# ...and by total ROW count when the commit's footer stats are in hand
# (r18): build cost is O(rows x k) Python CPU (~8 us/key measured at
# k=22), so 150k keys across 12 small files -- under both gates above
# -- still cost ~1.2 s serial on the driver while one ~0.3 s executor
# job builds them 12-way parallel.  Crossover ~40k keys; 50k keeps a
# margin so tiny commits never pay the job.
_BLOOM_BUILD_DRIVER_MAX_ROWS = 50_000

# Above this many distinct delete keys, merge() stops inlining them as
# an isin() literal list (a Catalyst-plan / driver-memory hazard) and
# switches to a join against the delete-key frame.  The inline path is
# faster for the delta-sized batches incremental maintenance sends;
# the join path scales to arbitrarily large delete sets.
_DELETE_INLINE_MAX = 10_000

# Above this many matched (file, key, flag) rows, the merge's
# affected-file detection stops inlining the matched keys as driver
# literals (same hazard class as _DELETE_INLINE_MAX) and pins them as
# one delta-sized localCheckpoint the joins build from instead.
_MATCHED_INLINE_MAX = 10_000

# Merge ships the source's distinct keys to every executor as the
# anti-join build side (the affected slice then streams through with
# no exchange -- see _finish_merge_attempt).  The explicit broadcast
# hint is only safe when the key count is KNOWN bounded; this cap
# keeps the built relation well under Spark's 8 GB / 512M-row
# broadcast limits (1M keys x ~32-64 B of typical key bytes is
# 32-64 MB framed) while covering every delta-sized maintenance
# batch.  Above it (or when the count is unknown) the join is left
# unhinted and AQE picks the strategy from runtime sizes.
_MERGE_BROADCAST_MAX_KEYS = 1_000_000

# ...and by BYTES (ADVICE r18 #1): the count gate alone lets wide
# string keys (long URLs, composite keys) push the hinted build side
# past driver memory and Spark's broadcast limits.  The per-key width
# is estimated from the snapshot's own footer stats (min/max lengths
# of the key column) plus framing overhead; past the budget the join
# is left unhinted and AQE decides from runtime sizes.
_MERGE_BROADCAST_MAX_BYTES = 64 << 20

# A checkpoint manifest is written every this-many commits (Delta's
# _last_checkpoint analogue), bounding vacuum's ever-referenced walk
# to O(interval) commit reads instead of O(versions).  At one commit
# per streaming micro-batch a table accrues versions forever; every
# other metadata question is one commit-doc read.
_CHECKPOINT_INTERVAL = 10


def _enc_stat(v):
    """JSON-encodable, ORDER-PRESERVING encoding of a footer stat (or
    a user-supplied bound).  Timestamps/dates become ISO strings,
    whose lexicographic order is chronological.  None = unsupported
    type -> the column gets no stats (conservative: never skipped).

    tz handling: Spark-written parquet timestamps decode tz-AWARE
    (UTC-adjusted) from pyarrow footer stats, while a user's naive
    datetime bound is session-local wall time -- lexicographically
    comparing the two is off by the UTC offset and could falsely SKIP
    a matching file.  So aware datetimes are normalized to UTC (their
    ISO form ends in '+00:00' -- all mutually comparable), naive ones
    encode without an offset, and :func:`_stat_cmp_ok` refuses to
    compare a tz-aware datetime string against a naive one (the file
    is scanned instead -- skipping is never a semantics change)."""
    import datetime

    if isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return None


# ISO datetime string: '2024-01-02T03:04...' (date-only strings
# deliberately do NOT match).
_ISO_DT_RE = _re.compile(r"^\d{4}-\d{2}-\d{2}[T ]\d{2}:\d{2}")
_ISO_TZ_RE = _re.compile(r"(?:Z|[+-]\d{2}:?\d{2})$")


def _stat_cmp_ok(a, b) -> bool:
    """True when two encoded stats are safely comparable: both numeric
    or both strings.  Mixed types -> caller must scan the file.
    Two ISO datetime strings additionally need the SAME tz-awareness:
    aware ones are all UTC-normalized by :func:`_enc_stat` so they
    compare chronologically, but aware-vs-naive is two different
    clocks -> not comparable (scan, never skip)."""
    num = (int, float)
    if isinstance(a, bool) or isinstance(b, bool):
        return isinstance(a, bool) and isinstance(b, bool)
    if isinstance(a, num) and isinstance(b, num):
        return True
    if isinstance(a, str) and isinstance(b, str):
        a_dt, b_dt = _ISO_DT_RE.match(a), _ISO_DT_RE.match(b)
        if a_dt and b_dt:
            return bool(_ISO_TZ_RE.search(a)) == bool(_ISO_TZ_RE.search(b))
        return True
    return False


def _file_footer_stats(path: str) -> dict:
    """Per-file stats from the parquet FOOTER only (no data read):
    ``{"rows": N, "cols": {name: {"min":..,"max":..,"nulls":..}}}``.
    A column appears only when every row group carries usable
    min/max of an encodable type; absent columns simply never allow
    a skip.  Nested leaves (``a.b``) are skipped -- range predicates
    target top-level scalars."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    out: dict = {"rows": md.num_rows, "cols": {}}
    for j in range(md.num_columns):
        name = md.schema.column(j).path
        if "." in name:
            continue
        mins, maxs, nulls = [], [], 0
        usable = True
        for i in range(md.num_row_groups):
            st = md.row_group(i).column(j).statistics
            if st is None or not st.has_min_max:
                usable = False
                break
            lo, hi = _enc_stat(st.min), _enc_stat(st.max)
            if lo is None or hi is None or not _stat_cmp_ok(lo, hi):
                usable = False
                break
            mins.append(lo)
            maxs.append(hi)
            nulls += st.null_count or 0
        if usable and mins:
            out["cols"][name] = {
                "min": min(mins), "max": max(maxs), "nulls": nulls
            }
    return out


# -- per-file Bloom key index ---------------------------------------
#
# Range stats (min/max) prune beautifully on clustered columns and not
# at all on high-cardinality keys with full-range spread per file
# (UUID-ish ids: every file's [min, max] spans the whole key space, so
# a point lookup scans everything).  Delta solves this with a bloom
# filter index; same mechanism here: at commit time each NEW data file
# gets a small Bloom filter over the key column (executor-side,
# column-pruned read), stored in its OWN ``.bf.json`` sidecar the
# commit doc references by name.  ``read_point`` then skips every file
# whose filter proves the key absent -- no false negatives by
# construction, false positives only cost a scan.  Sidecars are
# derived metadata like checkpoints: losing-writer orphans and expired
# ones are GC'd by vacuum, and a missing sidecar just means no
# skipping.

_BLOOM_BITS_DEFAULT = 8192  # FLOOR bits per file; fpp ~1% at ~850 keys
_BLOOM_K_DEFAULT = 5
# Per-file filters are sized from the file's actual row count (a
# fixed m saturates -- fpp -> 1 -- past ~m/10 keys and the index
# silently prunes nothing at production file sizes): m = rows *
# bits_per_key, floored at _BLOOM_BITS_DEFAULT so tiny files keep a
# well-mixed filter, capped at _BLOOM_BITS_MAX (1 MiB of bits per
# file; beyond ~800k keys/file the filter degrades gracefully toward
# scan-everything, never toward wrong answers).  Each sidecar entry
# records ITS OWN (m, k), so files of different sizes and eras coexist
# in one index.
_BLOOM_BITS_PER_KEY = 10  # fpp ~1% at k=5
_BLOOM_BITS_MAX = 1 << 23

# Above this many distinct merge keys, merge() stops collecting them
# for DRIVER-side bloom probing (same hazard class as
# _DELETE_INLINE_MAX) and probes EXECUTOR-side instead: the per-file
# filters broadcast to the key batch and only the O(files) hit set
# returns to the driver (see _bloom_prune_distributed).
_BLOOM_PRUNE_MAX_KEYS = 10_000

# Column dtypes create() accepts for bloom_col: exactly the types
# _bloom_key_bytes encodes.  Everything else (decimal, interval,
# timestamp_ntz, nested) is rejected AT CREATE, not as an
# executor-side TypeError halfway through the first commit.
_BLOOM_SUPPORTED_DTYPES = frozenset({
    "string", "binary", "boolean", "tinyint", "smallint", "int",
    "bigint", "float", "double", "date", "timestamp",
})


def _session_tz(spark):
    """The session's IANA timezone as a tzinfo (falls back to UTC on
    an unparseable conf).  Naive probe datetimes -- what collect()
    hands back -- are wall time in THIS zone, not the driver's."""
    import datetime

    try:
        from zoneinfo import ZoneInfo

        return ZoneInfo(spark.conf.get("spark.sql.session.timeZone"))
    except Exception:
        return datetime.timezone.utc


def _bloom_key_bytes(value, tz=None) -> bytes:
    """TYPE-TAGGED stable byte encoding of a bloom key (``hash()`` is
    process-seeded; executors and the driver must agree).  Datetimes
    normalize to UTC **epoch micros** -- NOT the ISO string _enc_stat
    uses for range stats -- because write-side values (pyarrow
    ``as_py()``: tz-aware UTC) and probe-side values (``collect()``:
    naive session-local) must hash identically or every probe of a
    timestamp key silently misses (the bloom equivalent of the
    aware-vs-naive hazard _stat_cmp_ok guards on the range path).
    tz rule for NAIVE datetimes: interpreted in ``tz``, defaulting to
    UTC (right for pyarrow's decode on the write side, INT96 and
    TIMESTAMP_MICROS alike).  Probe-side callers attach the correct
    zone UPSTREAM -- driver-local for collect()/lit-shaped values
    (:func:`_normalize_probe`), session-tz for Arrow batches
    (:func:`_probe_to_py`) -- because Spark itself uses those two
    different conventions at those two boundaries."""
    import datetime

    if isinstance(value, (bytes, bytearray)):
        return b"y:" + bytes(value)
    if isinstance(value, bool):
        return f"b:{value}".encode("utf-8")
    if isinstance(value, datetime.datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=tz or datetime.timezone.utc)
        delta = value - datetime.datetime(
            1970, 1, 1, tzinfo=datetime.timezone.utc
        )
        micros = (
            (delta.days * 86400 + delta.seconds) * 1_000_000
            + delta.microseconds
        )
        return f"t:{micros}".encode("utf-8")
    if isinstance(value, datetime.date):
        return f"s:{value.isoformat()}".encode("utf-8")
    if isinstance(value, (int, float)):
        # 3 and 3.0 hash identically, like Spark's = and IN
        return f"n:{float(value)}".encode("utf-8")
    if isinstance(value, str):
        return f"s:{value}".encode("utf-8")
    raise TypeError(f"bloom-unsupported value type: {type(value)}")


def _bloom_hashes(value, tz=None) -> tuple[int, int]:
    """md5 of the tagged encoding split into two 64-bit halves,
    combined Kirsch-Mitzenmacher style (``h1 + i*h2``) downstream.
    Computed ONCE per value; positions then cost one mod per (i, m)
    -- per-file filter sizes reuse the same pair."""
    import hashlib

    d = hashlib.md5(_bloom_key_bytes(value, tz)).digest()
    return int.from_bytes(d[:8], "big"), int.from_bytes(d[8:], "big") | 1


def _bloom_positions(value, m: int, k: int, tz=None) -> list[int]:
    """The ``k`` bit positions of ``value`` in an ``m``-bit filter."""
    h1, h2 = _bloom_hashes(value, tz)
    return [(h1 + i * h2) % m for i in range(k)]


def _bloom_size(rows: int, bpk: int, floor_m: int, cap: int | None = None) -> int:
    """Per-file filter size in bits: rows * bits-per-key, floored and
    capped, rounded up to whole 64-bit words.  ``cap`` defaults to
    the module cap; tables created with ``bloom_bits_max`` raise it
    (conf ``mcap``) so large files stay BATCH-prunable -- see
    :meth:`CowTable.create`."""
    m = max(int(floor_m), int(rows) * int(bpk))
    m = min(m, int(cap) if cap else _BLOOM_BITS_MAX)
    return ((m + 63) // 64) * 64


def _bloom_buf(hx: str, m: int) -> bytes:
    """Decode a sidecar hex bitmap to a byte-indexed buffer: bit ``p``
    is ``buf[p >> 3] >> (p & 7) & 1``.  The sidecar keeps the original
    big-int hex encoding (``f"{bits:x}"``) so every existing sidecar
    stays readable bit-for-bit; decoding to little-endian bytes ONCE
    per filter makes each subsequent bit test one indexed byte op
    instead of an O(m) big-int shift (CPython materializes a fresh
    cap-sized integer per ``bits >> p`` -- measured ~1000x slower at
    the 1 MiB cap: ~130 us/test vs ~0.3 us on this buffer).

    Raises ValueError on a corrupt entry -- non-hex payload, or a
    payload wider than the recorded ``m`` (OverflowError from
    ``to_bytes``, re-raised as ValueError so every decode site handles
    ONE exception type).  Callers treat that as "entry absent": an
    unreadable sidecar means no skipping, never a crashed read
    (ADVICE r17)."""
    try:
        return int(hx, 16).to_bytes((m + 7) // 8, "little")
    except OverflowError as exc:
        raise ValueError(
            f"bloom sidecar bitmap wider than its recorded m={m}"
        ) from exc


def _file_bloom(path: str, col: str, conf: dict) -> dict:
    """Bloom filter of a file's ``col`` values, sized from the file's
    OWN row count (``_bloom_size``): ``{"h": hex, "m": bits, "k":
    hashes}``.  Reads ONLY that column (column-pruned parquet read) --
    runs executor-side for large commits, mirroring
    :meth:`CowTable._harvest_file_stats`.  NULLs are not inserted (a
    point lookup never matches NULL).  Datetime values hash through
    the UTC-epoch-micros rule of :func:`_bloom_key_bytes` (pyarrow
    hands them back tz-aware UTC; naive -- e.g. INT96-era files --
    means UTC wall time).  Builds into a byte buffer (O(1) per bit
    set -- a big-int ``bits |= 1 << p`` would cost O(m) per set,
    bounding indexable file sizes) and encodes to the unchanged
    sidecar hex format at the end."""
    import pyarrow.parquet as pq

    k, bpk = int(conf["k"]), int(conf["bpk"])
    cap = int(conf.get("mcap") or _BLOOM_BITS_MAX)
    table = pq.read_table(path, columns=[col])
    m = _bloom_size(table.num_rows, bpk, int(conf["m"]), cap)
    if table.num_rows > 0 and table.num_rows * bpk > cap:
        # The 1 MiB cap bit: this file gets fewer effective bits/key
        # than the conf requested, and the conf's k -- tuned for the
        # full bpk -- would over-set the capped bitmap toward density
        # ~1 (fpp -> 1, the filter prunes nothing).  Shrink k toward
        # the capped ratio's optimum (m/n * ln2): fpp degrades to
        # ~0.5^k_eff instead of collapsing.  Each entry records its
        # own k, so capped and uncapped files coexist in one index;
        # probes read the entry's k and stay bit-consistent.
        k = max(1, min(k, round(m / table.num_rows * 0.6931471805599453)))
    buf = bytearray(m // 8)  # _bloom_size rounds m to whole words
    for chunk in table.column(0).chunks:
        for v in chunk:
            pv = v.as_py()
            if pv is None:
                continue
            h1, h2 = _bloom_hashes(pv)
            for i in range(k):
                p = (h1 + i * h2) % m
                buf[p >> 3] |= 1 << (p & 7)
    return {"h": f"{int.from_bytes(buf, 'little'):x}", "m": m, "k": k}


#: Process-level cache of DECODED sidecar bitmaps, keyed by
#: (log_dir, sidecar name).
#: Safe by construction: sidecars are immutable once written
#: (token-named, atomic tmp+rename, never rewritten), so a decoded
#: buffer can never go stale.  Bounded by total buffer BYTES
#: (evict-oldest) -- repeated probes of the same store (every
#: per-batch ingest pipeline) stop re-reading and re-decoding
#: megabytes of hex per file per call: measured ~14 ms/file at the
#: 1 MiB cap, ~0 on a cache hit.
_BLOOM_BUF_CACHE: dict = {}
_BLOOM_BUF_CACHE_MAX_BYTES = 128 << 20
_BLOOM_BUF_CACHE_BYTES = [0]  # running total (1-elem list: mutable)


def _bloom_buf_cache_put(key, buf) -> None:
    while (
        _BLOOM_BUF_CACHE
        and _BLOOM_BUF_CACHE_BYTES[0] + len(buf[0]) > _BLOOM_BUF_CACHE_MAX_BYTES
    ):
        old = _BLOOM_BUF_CACHE.pop(next(iter(_BLOOM_BUF_CACHE)))
        _BLOOM_BUF_CACHE_BYTES[0] -= len(old[0])
    _BLOOM_BUF_CACHE[key] = buf
    _BLOOM_BUF_CACHE_BYTES[0] += len(buf[0])


class _BloomIndex:
    """Lazy per-file view of a snapshot's bloom entries
    (:meth:`CowTable._bloom_index`).  ``entry(basename)`` returns the
    DECODED ``(buf, m, k)`` or None, loading per-file ``.bf.json``
    sidecars on first access (memoized per instance + the process-
    level ``_BLOOM_BUF_CACHE`` across instances).  A corrupt entry --
    unreadable JSON, non-hex payload, or a payload wider than its
    recorded m -- decodes to None here, in ONE place, so every probe
    path uniformly treats it as "no skipping" instead of crashing
    (ADVICE r17).  Probe cost is O(candidates consulted), never
    O(index): a range-refuted file's sidecar is never opened."""

    def __init__(self, log_dir: str, col: str, names: dict):
        self.col = col
        self._log_dir = log_dir
        self._names = names
        self._cache: dict = {}

    def entry(self, basename: str):
        if basename in self._cache:
            return self._cache[basename]
        out = None
        name = self._names.get(basename)
        if name:
            ck = (self._log_dir, name)
            out = _BLOOM_BUF_CACHE.get(ck)
            if out is None:
                try:
                    with open(os.path.join(self._log_dir, name)) as f:
                        e = json.load(f)
                    if e.get("col") in (None, self.col):
                        m, k = int(e["m"]), int(e["k"])
                        out = (_bloom_buf(e["h"], m), m, k)
                        _bloom_buf_cache_put(ck, out)
                except (OSError, ValueError, KeyError):
                    out = None  # corrupt/unreadable: no skip, no error
        self._cache[basename] = out
        return out


def _bloom_any_hit(buf: bytes, m: int, k: int, hashes) -> bool:
    """True iff ANY of the pre-hashed keys maybe-hits the filter
    (``buf``: the :func:`_bloom_buf`-decoded bitmap).  Early exit both
    ways: a non-member key fails on its first unset bit (expected ~2
    probes at 50% density), a hit returns immediately."""
    for h1, h2 in hashes:
        for i in range(k):
            p = (h1 + i * h2) % m
            if not buf[p >> 3] >> (p & 7) & 1:
                break
        else:
            return True
    return False


def _bloom_maybe_contains(hex_bits: str, value, m: int, k: int, tz=None) -> bool:
    try:
        buf = _bloom_buf(hex_bits, m)
    except ValueError:
        return True  # corrupt entry: maybe-present, file is scanned
    return all(
        buf[p >> 3] >> (p & 7) & 1
        for p in _bloom_positions(value, m, k, tz)
    )


def _normalize_probe(v):
    """A user/collect() probe value, tz-resolved: naive datetimes are
    wall time in the DRIVER's local zone -- the convention both plain
    ``collect()`` (which builds them via ``fromtimestamp`` in driver
    local time) and ``F.lit`` use, so a collected value round-trips
    into ``read_point`` unchanged.  Attaching the zone makes the value
    an unambiguous instant, and range stats (aware-UTC ISO), bloom
    hashing (UTC epoch micros), and the final filter all agree.
    (Arrow batches follow the OTHER Spark convention -- session-tz
    naive -- handled by :func:`_probe_to_py`.)"""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.astimezone()  # attach driver-local zone
    return v


def _probe_to_py(v, tzi):
    """Arrow/pandas scalar -> plain-Python bloom key.  mapInPandas
    hands back numpy scalars and pandas Timestamps; Arrow timestamps
    are tz-naive wall time in the SESSION zone (``tzi``) -- Spark's
    Arrow convention, distinct from collect()'s driver-local one --
    so that is the zone attached here."""
    import datetime

    if hasattr(v, "to_pydatetime"):  # pandas Timestamp (session-naive)
        v = v.to_pydatetime()
        if v.tzinfo is None:
            v = v.replace(tzinfo=tzi)
        return v
    if hasattr(v, "item") and not isinstance(
        v, (str, bytes, bool, int, float, datetime.date)
    ):
        v = v.item()
    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return v.replace(tzinfo=tzi)
    return v


# -- deletion vectors (merge-on-read) --------------------------------
#
# Copy-on-write rewrites every file containing a matched key; at
# 100 TB a delta-sized DELETE or upsert whose keys are SPREAD (hash
# keys: every file holds a few) rewrites terabytes to change
# kilobytes.  Deletion vectors are the Delta/Iceberg answer -- the
# merge-on-read half of the format: a commit can mark individual ROW
# POSITIONS of existing files dead in a sidecar bitmap instead of
# rewriting the files; every reader filters dead positions out via the
# parquet row index (Spark's ``_metadata.row_index``), and compaction
# MATERIALIZES the vectors (rewrites the files without their dead
# rows) so read overhead never accrues unboundedly.  Like blooms and
# checkpoints, the sidecar is commit-referenced derived metadata:
# token-named, written before the commit link, GC'd by vacuum.
#
# Scale contract: a deletion vector is DRIVER-COORDINATED metadata
# sized by the DEAD ROW COUNT of one commit (delta-sized by
# definition), never by table size -- exactly Delta's model, where DV
# bitmaps flow through the driver into sidecar files.  Bulk deletes
# (past _DV_COLLECT_MAX positions) must use the copy-on-write path,
# which rewrites files instead of accumulating a table-sized bitmap.

# Sidecar entries store a plain sorted position list below this many
# dead rows (compact JSON for the common tiny-delete case), a hex
# bitmap above (61 bytes per 250 rows of file span instead of ~7 per
# position).
_DV_POS_LIST_MAX = 1024
# Hard cap on dead positions a single DV operation may collect to the
# driver.  Past this the delete is bulk-sized and copy-on-write is the
# right mechanism (same guidance as Delta: DVs for small scattered
# deltas, file rewrite for bulk).
_DV_COLLECT_MAX = 2_000_000
# Positions frames below this build as a local createDataFrame; above,
# they parallelize so one giant literal never lands in the plan.
_DV_INLINE_POS_MAX = 100_000
# Accumulation guardrail (VERDICT r15 "What's missing" #3): the
# per-commit cap above bounds one DELTA, but vectors accumulate across
# commits and every snapshot read re-materializes ALL accumulated
# positions on the driver -- a delete-heavy table could drift past the
# per-commit contract without any single commit violating it.  A
# DV-adding commit whose post-commit SNAPSHOT total would exceed the
# cap (per-table ``dv_max_dead`` override, else _DV_COLLECT_MAX) is
# therefore REFUSED with the remedy in the message (compact() to
# materialize, or mode='cow' for the bulk path); past the warn
# fraction it still commits but warns.  Pure carries and
# vector-dropping rewrites (compact) never trip the guard -- compact
# is always a valid escape.
_DV_WARN_FRACTION = 0.5


def _dv_bits(entry: dict) -> bytes:
    """Decode a sidecar entry to a byte bitmap (bit ``p`` at
    ``buf[p >> 3] >> (p & 7) & 1`` set = row p of the file is dead).
    Same representation rationale as :func:`_bloom_buf`: the sidecar
    keeps the original big-int hex encoding (bit-for-bit compatible
    with every existing sidecar), the in-memory form is byte-indexed
    so set/test/iterate are O(1)/O(n-bytes) instead of O(bitmap) per
    big-int shift."""
    if "bits" in entry:
        hx = entry["bits"]
        return int(hx, 16).to_bytes((len(hx) + 1) // 2, "little")
    return _dv_build(int(p) for p in entry.get("pos", ()))


def _dv_build(positions) -> bytes:
    """Byte bitmap with the given row positions set.  One pass to find
    the span, one O(1)-per-position pass to set bits."""
    pos = list(positions)
    if not pos:
        return b""
    buf = bytearray((max(pos) >> 3) + 1)
    for p in pos:
        buf[p >> 3] |= 1 << (p & 7)
    return bytes(buf)


def _dv_or(a: bytes, b: bytes) -> bytes:
    """OR two byte bitmaps (padding the shorter).  Bounded by
    ``_DV_COLLECT_MAX`` positions = 256 KiB worst case."""
    if len(a) < len(b):
        a, b = b, a
    out = bytearray(a)
    for i, x in enumerate(b):
        out[i] |= x
    return bytes(out)


def _dv_entry(buf: bytes) -> dict:
    """Encode a byte bitmap as a sidecar entry: ``{"dead": n, "pos":
    [...]}`` for small vectors, ``{"dead": n, "bits": hex}`` past
    ``_DV_POS_LIST_MAX`` dead rows (the big-int hex form
    ``f"{bits:x}"`` that :func:`_dv_bits` decodes)."""
    as_int = int.from_bytes(buf, "little")
    n = as_int.bit_count()
    if n <= _DV_POS_LIST_MAX:
        return {"dead": n, "pos": _dv_positions(buf)}
    return {"dead": n, "bits": f"{as_int:x}"}


def _dv_positions(buf: bytes) -> list[int]:
    """Sorted set-bit indices of a byte bitmap (the dead row
    positions).  O(bytes + dead rows): skips zero bytes, strips one
    lowest set bit per dead row."""
    out: list[int] = []
    for i, byte in enumerate(buf):
        base = i << 3
        while byte:
            lsb = byte & -byte
            out.append(base + lsb.bit_length() - 1)
            byte ^= lsb
    return out


def _zvalue_expr(
    df: DataFrame, cols: list[str], boundaries: str = "linear"
) -> F.Column:
    """Morton (Z-order) code over ``cols`` as native shift/mask
    arithmetic (no UDF; same unrolled-interleave recipe as
    operators/geo.geo_cell).  Each column quantizes to a small bucket
    number, then bits interleave round-robin MSB-first, so
    range-partitioning the result gives every output file a compact
    hyper-rectangle-ish region of the key space -- per-file footer
    min/max become tight on EVERY clustered column at once, which is
    the whole point of ``OPTIMIZE ... ZORDER BY``.

    ``boundaries="linear"`` (default): ``b = 48 // ncols`` bits per
    column against its actual min/max (ONE one-row agg over ``df`` --
    a driver-sized probe, same class as merge's metadata collects;
    the extra scan is of the small files being rewritten, not the
    table).  One map-side expression, no sampling pass -- but heavy
    per-column skew (long-tail ids, hot dates) wastes most of the
    2^b buckets on empty range and collapses skipping selectivity.

    ``boundaries="sampled"``: Delta's answer to exactly that skew --
    bucket edges come from ``percentile_approx`` (equi-DEPTH, up to
    256 buckets per column, same band-edge technique as
    operators/ranges rj2), so every bucket holds ~the same row count
    no matter how skewed the distribution, and the bucket expression
    is a rank against the sampled-edge array (one extra one-row agg;
    the per-row cost is an O(256) array rank, still map-side
    whole-stage codegen).

    Either way skipping stays sound -- survivors are re-filtered; a
    bad layout only costs skips.  NULLs quantize to bucket 0.
    STRING columns participate via an order-preserving 3-codepoint
    base-65536 prefix integer (clamped to the BMP): lexicographic
    locality survives into the bucket number, so per-file string
    min/max tighten too -- a string column is never silently a
    constant-0 dimension."""
    ncols = len(cols)
    b = max(1, min(16, 48 // ncols))
    dtypes = dict(df.dtypes)

    def num_expr(c: str) -> F.Column:
        dt = dtypes.get(c, "")
        if dt == "date":
            return F.datediff(F.col(c), F.lit("1970-01-01")).cast("double")
        if dt == "string":
            cps = [
                F.least(
                    F.coalesce(
                        F.ascii(F.substring(F.col(c), i + 1, 1)), F.lit(0)
                    ),
                    F.lit(65535),
                ).cast("double")
                for i in range(3)
            ]
            return (
                cps[0] * F.lit(float(1 << 32))
                + cps[1] * F.lit(float(1 << 16))
                + cps[2]
            )
        return F.col(c).cast("double")

    if boundaries == "sampled":
        b = min(b, 8)
        nq = 1 << b
        pcts = [i / nq for i in range(1, nq)]
        row = df.agg(*[
            F.percentile_approx(num_expr(c), pcts, 10_000).alias(f"q_{i}")
            for i, c in enumerate(cols)
        ]).collect()[0]
        qs = []
        for i, c in enumerate(cols):
            edges = sorted({
                float(x) for x in (row[f"q_{i}"] or []) if x is not None
            })
            if not edges:  # all-null column: constant bucket
                qs.append(F.lit(0).cast("long"))
                continue
            arr = F.array(*[F.lit(x) for x in edges])
            n = num_expr(c)
            q = F.size(F.filter(arr, lambda x: x <= n)).cast("long")
            qs.append(F.coalesce(q, F.lit(0)))
    elif boundaries == "linear":
        bounds = df.agg(
            *[F.min(num_expr(c)).alias(f"lo_{i}") for i, c in enumerate(cols)],
            *[F.max(num_expr(c)).alias(f"hi_{i}") for i, c in enumerate(cols)],
        ).collect()[0]
        qs = []
        for i, c in enumerate(cols):
            lo = bounds[f"lo_{i}"]
            hi = bounds[f"hi_{i}"]
            if lo is None or hi is None:  # all-null column: constant bucket
                qs.append(F.lit(0).cast("long"))
                continue
            span = (hi - lo) or 1.0
            q = F.floor(
                (num_expr(c) - F.lit(float(lo))) / F.lit(float(span))
                * F.lit(float(1 << b))
            )
            q = F.least(F.greatest(q, F.lit(0)), F.lit((1 << b) - 1))
            qs.append(F.coalesce(q, F.lit(0)).cast("long"))
    else:
        raise ValueError(
            f"boundaries must be 'linear' or 'sampled', got {boundaries!r}"
        )
    total = b * ncols
    z = F.lit(0).cast("long")
    for i in range(total):
        src, idx = qs[i % ncols], i // ncols
        bit = F.shiftright(src, b - 1 - idx).bitwiseAND(F.lit(1))
        z = z + bit * F.lit(1 << (total - 1 - i))
    return z


def _release_pinned(df) -> None:
    """Best-effort release of a ``localCheckpoint(eager=True)`` frame's
    pinned RDD blocks (ADVICE r18 #3: repeated bulk merges in a
    long-lived session otherwise hold blocks until the JVM GC runs the
    ContextCleaner).  The checkpointed plan is a ``LogicalRDD`` whose
    RDD is the persisted one; unpersist(blocking=False) frees it.
    Purely an eager form of what the ContextCleaner does anyway --
    failure is harmless, so any exception is swallowed."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


#: process-wide memo of PARSED commit docs, keyed by (path, mtime_ns,
#: size) so a re-created table at the same path can never serve a
#: stale doc (r19).  Commit docs are immutable once linked, but they
#: carry per-file stats -- at 1e5-1e6 files a doc is tens of MB of
#: JSON, and one mutation used to re-parse the head doc 6-10 times
#: (version/files/schema/dv/bloom walks).  The stat() per hit is the
#: whole validation cost.  Bounded; eviction is always safe.  Only
#: docs that pass the format check are cached; lookup, format check,
#: evict and insert run under ``_DOC_CACHE_LOCK`` (parsing does not,
#: so concurrent readers of different docs never serialize on JSON).
#: CONSUMERS MUST NOT MUTATE returned docs (audited: none do).
_DOC_CACHE: dict = {}
_DOC_CACHE_MAX = 8
_DOC_CACHE_LOCK = threading.Lock()


def _log_dir(path: str) -> str:
    return os.path.join(path, "_log")


def _commit_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.json")


def _checkpoint_path(path: str, version: int) -> str:
    return os.path.join(_log_dir(path), f"{version:08d}.checkpoint.json")


class CowTable:
    def __init__(
        self,
        spark: SparkSession,
        path: str,
        checkpoint_interval: int = _CHECKPOINT_INTERVAL,
    ):
        self.spark = spark
        self.path = os.path.abspath(path)
        self.checkpoint_interval = checkpoint_interval

    # -- log ---------------------------------------------------------

    def version(self) -> int:
        """Latest committed version; -1 for a nonexistent table."""
        try:
            names = [
                n
                for n in os.listdir(_log_dir(self.path))
                if n.endswith(".json") and len(n) == 13
            ]
        except FileNotFoundError:
            return -1
        return max((int(n[:8]) for n in names), default=-1)

    def _commit_doc(self, version: int) -> dict:
        """The parsed commit doc of ``version``, memoized process-wide
        (``_DOC_CACHE``).  Raises :class:`UnsupportedTableFormatError`
        for a doc not written in :data:`FORMAT_VERSION`."""
        p = _commit_path(self.path, version)
        st = os.stat(p)  # FileNotFoundError = OSError, as open() raised
        key = (p, st.st_mtime_ns, st.st_size)
        with _DOC_CACHE_LOCK:
            doc = _DOC_CACHE.get(key)
        if doc is not None:
            return doc
        with open(p) as f:
            doc = json.load(f)
        with _DOC_CACHE_LOCK:
            found = doc.get("format_version")
            if found != FORMAT_VERSION:
                raise UnsupportedTableFormatError(self.path, version, found)
            while len(_DOC_CACHE) >= _DOC_CACHE_MAX:
                _DOC_CACHE.pop(next(iter(_DOC_CACHE)))
            _DOC_CACHE[key] = doc
        return doc

    def history(self) -> list[dict]:
        return [self._commit_doc(v) for v in range(self.version() + 1)]

    def files(self, version: int | None = None) -> list[str]:
        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no CowTable at {self.path}")
        return self._commit_doc(v)["files"]

    def _bloom_index(self, doc: dict, col: str) -> "_BloomIndex | None":
        """Lazy per-file access to the snapshot's bloom entries for
        ``col`` (the per-file ``.bf.json`` names in the commit doc), or
        None when the snapshot has no index on that column."""
        names = doc.get("bloom_files")
        if not names or (doc.get("bloom_conf") or {}).get("col") != col:
            return None
        return _BloomIndex(_log_dir(self.path), col, names)

    def _harvest_bloom_files(
        self, version: int, files: list[str], conf: dict,
        rows_hint: dict | None = None,
    ) -> dict:
        """Compute a bloom filter per NEW data file and write each as
        its OWN sidecar ``{version}-{token}.bf.json`` (atomic tmp +
        rename, written before the commit link like every sidecar).
        Returns {basename: sidecar name} for the commit doc.

        This is the structure that keeps bloom maintenance O(delta) at
        100 TB: a commit writes only the new files' filters, and probes
        load them per candidate, never the whole index.
        Same driver/executor split as :meth:`_harvest_file_stats`
        (column-pruned read; large commits fan out, and the WRITE
        happens executor-side too, so neither compute nor filter bytes
        ever funnel through the driver)."""
        col = conf["col"]
        log_dir = _log_dir(self.path)
        os.makedirs(log_dir, exist_ok=True)

        def build_one(path: str) -> tuple[str, str]:
            entry = _file_bloom(path, col, conf)
            entry["col"] = col
            name = f"{version:08d}-{uuid.uuid4().hex[:8]}.bf.json"
            tmp = os.path.join(log_dir, f"_tmp_bf_{uuid.uuid4().hex}")
            with open(tmp, "w") as f:
                json.dump(entry, f)
                f.flush()
                os.fsync(f.fileno())
            os.replace(tmp, os.path.join(log_dir, name))
            return os.path.basename(path), name

        total_bytes = 0
        for f in files:
            try:
                total_bytes += os.path.getsize(f)
            except OSError:
                total_bytes = _BLOOM_BUILD_DRIVER_MAX_BYTES + 1
                break  # unstatable locally: let the executors read it
        # Third fan-out term (r18): total KEY COUNT, from the commit's
        # already-harvested footer stats when the caller has them.
        # Filter construction is O(rows x k) CPU (~8 us/key measured at
        # k=22 on this box: 150k keys built serially in ~1.2 s inside
        # m21's 12-file create, which passes both the file-count and
        # byte gates); one executor job costs ~0.3 s fixed, so past
        # ~40k keys the fan-out repays even for small-byte commits.
        # Unknown rows (no hint) leave the decision to the other terms.
        total_rows = None
        if rows_hint is not None:
            known = [
                rows_hint.get(os.path.basename(f), {}).get("rows")
                for f in files
            ]
            if all(r is not None for r in known):
                total_rows = sum(int(r) for r in known)
        if (
            len(files) <= _DRIVER_STATS_MAX
            and total_bytes <= _BLOOM_BUILD_DRIVER_MAX_BYTES
            and (
                total_rows is None
                or total_rows <= _BLOOM_BUILD_DRIVER_MAX_ROWS
            )
        ):
            return dict(build_one(f) for f in files)
        sc = self.spark.sparkContext
        slices = min(len(files), sc.defaultParallelism)
        pairs = sc.parallelize(sorted(files), slices).map(build_one).collect()
        return dict(pairs)

    def _maintain_bloom(
        self, version: int, files: list[str], stats: dict, pdoc: dict
    ) -> dict:
        """Carry the table's bloom index through a commit: inherit the
        config from the parent commit ``pdoc`` (or take it from
        ``stats`` on create), compute-and-write per-file sidecars ONLY
        for files no parent sidecar covers (immutable files never
        recompute -- same carry-by-reference economics as file_stats; a
        carried file keeps its sidecar NAME verbatim).  Commit cost is
        O(new files), never O(index).  Losing racers' sidecars become
        grace-windowed orphans vacuum GCs."""
        conf = stats.pop("bloom_conf", None) or pdoc.get("bloom_conf")
        if not conf:
            return stats
        col = conf["col"]
        base = {os.path.basename(f): f for f in files}
        # A parent index on a DIFFERENT column is useless (ADVICE r17:
        # carrying parent names without the col check left wrong-column
        # sidecars attached forever; entry() rejected them at probe
        # time, so those files silently lost pruning instead of being
        # re-indexed as "missing" here).  Each entry records its own
        # m/k, so a SIZING conf change only re-sizes NEW files.
        parent_col = (pdoc.get("bloom_conf") or {}).get("col")
        parent_names = (
            pdoc.get("bloom_files") or {} if parent_col == col else {}
        )
        missing = [p for b, p in base.items() if b not in parent_names]
        names = {b: parent_names[b] for b in base if b in parent_names}
        if missing:
            names.update(self._harvest_bloom_files(
                version, missing, conf,
                rows_hint=stats.get("file_stats"),
            ))
        out = {**stats, "bloom_conf": conf}
        if names:
            out["bloom_files"] = names
        return out

    def _dv_doc(self, doc: dict) -> dict | None:
        """The deletion-vector sidecar a commit doc references, or
        None.  Derived metadata: unreadable/absent means no dead rows
        are known, which is only ever correct because a commit that
        CREATED dead rows always links its sidecar before the commit
        itself (same write order as blooms/checkpoints)."""
        name = doc.get("dv_sidecar")
        if not name:
            return None
        try:
            with open(os.path.join(_log_dir(self.path), name)) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def _dv_map(self, doc: dict) -> dict:
        """basename -> sidecar entry of every file with dead rows in
        the snapshot ``doc`` describes; {} when none."""
        dv = self._dv_doc(doc)
        if not dv:
            return {}
        return {
            b: e
            for b, e in dv.get("files", {}).items()
            if int(e.get("dead", 0)) > 0
        }

    def _maintain_dv(
        self, version: int, files: list[str], stats: dict, pdoc: dict
    ) -> dict:
        """Carry the table's deletion vectors through a commit: carried
        files keep their parent entries (files are immutable, so a
        dead position stays dead until the file itself is rewritten),
        files that left the snapshot drop theirs (a rewrite
        MATERIALIZED the vector -- the new files physically lack the
        dead rows), and ``stats["dv_updates"]`` (basename -> byte
        bitmap of NEWLY dead positions, popped here) ORs into the
        carried entries.  Same sidecar protocol as blooms: token-named
        ``NNNNNNNN-<token>.dv.json`` written before the commit link,
        reused by pointer when nothing changed, vacuum-GC'd."""
        updates: dict = stats.pop("dv_updates", None) or {}
        parent = self._dv_map(pdoc)
        base = {os.path.basename(f) for f in files}
        filemap: dict = {}
        for b in base:
            buf = _dv_bits(parent[b]) if b in parent else b""
            if b in updates:
                buf = _dv_or(buf, updates[b])
            if any(buf):
                filemap[b] = _dv_entry(buf)
        if updates:
            # Guard the SNAPSHOT's accumulated dead total, not just
            # this commit's delta (constants block above): only
            # commits that ADD dead positions can trip it, so compact
            # (which drops vectors by rewriting their files) and pure
            # carries always go through.
            total = sum(int(e.get("dead", 0)) for e in filemap.values())
            cap = int(stats.get("dv_max_dead") or _DV_COLLECT_MAX)
            if total > cap:
                raise ValueError(
                    f"accumulated DV dead positions ({total}) would "
                    f"exceed the table's cap ({cap}) at {self.path}: "
                    "compact() to materialize the vectors, or use the "
                    "copy-on-write path (mode='cow' / strategy='cow') "
                    "for bulk mutations"
                )
            if total >= _DV_WARN_FRACTION * cap:
                import warnings

                warnings.warn(
                    f"CowTable {self.path}: accumulated DV dead "
                    f"positions ({total}) at or past "
                    f"{int(_DV_WARN_FRACTION * 100)}% of the cap "
                    f"({cap}) -- compact() soon to keep snapshot "
                    "reads delta-sized",
                    RuntimeWarning,
                    stacklevel=3,
                )
            stats = {**stats, "dv_dead_total": total}
        if not filemap:
            return stats
        if filemap == parent and pdoc.get("dv_sidecar"):
            # byte-identical map (pure carry, or updates that only
            # re-marked already-dead rows): reuse the parent's sidecar
            # by pointer, like blooms on an unchanged file set.
            return {**stats, "dv_sidecar": pdoc["dv_sidecar"]}
        name = f"{version:08d}-{uuid.uuid4().hex[:8]}.dv.json"
        os.makedirs(_log_dir(self.path), exist_ok=True)
        tmp = os.path.join(_log_dir(self.path), f"_tmp_dv_{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"files": filemap}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(_log_dir(self.path), name))
        return {**stats, "dv_sidecar": name}

    def _change_feed_enabled(self, version: int) -> bool:
        """Whether the change feed is on as of ``version``: the flag is
        set at create (or by a later commit) and carried forward by
        every commit like the txn map -- one head read answers."""
        if version < 0:
            return False
        try:
            return bool(self._commit_doc(version).get("change_feed"))
        except (OSError, ValueError):
            return False

    def _write_change_files(self, df: DataFrame, version: int) -> list[str]:
        """Write a commit's row-level change set (table columns +
        ``_change_type``) under ``<path>/changes/v<N>-<token>/`` --
        same racing-writer token discipline as data files; readers
        only open the paths the commit doc lists.

        The change set is delta-sized by contract, but its plan
        inherits its inputs' partitioning (a 200-partition merge
        source would scatter a 1k-row change set over 200 near-empty
        files, taxing every read_changes/stream poll with file-open
        overhead) -- so the write bounds itself to 8 output files.

        REBALANCE, not coalesce (r18 opt round): the cow change plan
        is exchange-free since the broadcast-marker rewrite, and a
        coalesce on a shuffle-less plan does not just cap the WRITE
        tasks -- it pulls the whole upstream scan (the rewritten
        files' live rows, table-scale) into those few tasks.  The
        rebalance exchange moves only the delta-sized change rows
        (the scan keeps full parallelism) and AQE coalesces the
        output to advisory-sized partitions, so a tiny change set
        lands as ONE file (a tailing consumer's per-poll open cost)
        while a bulk one keeps parallel right-sized writers (guide
        §6)."""
        out = os.path.join(
            self.path, "changes", f"v{version}-{uuid.uuid4().hex[:8]}"
        )
        # REBALANCE is an AQE feature: with adaptive execution off in
        # a caller-built session the hint no-ops and the change set
        # would scatter over spark.sql.shuffle.partitions near-empty
        # files (ADVICE r18 #4) -- fall back to the pre-r18
        # coalesce(8) there.
        aqe = self.spark.conf.get("spark.sql.adaptive.enabled", "true")
        sized = (
            df.hint("rebalance")
            if str(aqe).lower() == "true"
            else df.coalesce(8)
        )
        sized.write.mode("error").parquet(out)
        return [
            os.path.join(out, n)
            for n in os.listdir(out)
            if n.endswith(".parquet")
        ]

    def _commit(self, version: int, files: list[str], op: str, stats: dict) -> dict:
        """Link commit ``version``: the ONE writer of the commit-doc
        format (module docstring).  ``stats`` must carry ``schema`` and
        a ``file_stats`` entry for every file; the ``format_version``
        stamp, the cumulative ``txn`` map (parent's, advanced by
        ``stats["app_meta"]``), and the change-feed flag, DV cap, bloom
        index and deletion vectors carried from the parent are derived
        here."""
        if "schema" not in stats or "file_stats" not in stats:
            raise ValueError("a commit needs 'schema' and 'file_stats'")
        unstated = {os.path.basename(f) for f in files}.difference(
            stats["file_stats"]
        )
        if unstated:
            raise ValueError(
                f"file_stats missing for {len(unstated)} file(s) of "
                f"commit v{version}, e.g. {sorted(unstated)[0]}"
            )
        pdoc = self._commit_doc(version - 1) if version > 0 else {}
        txn = dict(pdoc.get("txn", {}))
        meta = stats.get("app_meta") or {}
        if "app_id" in meta and "batch_id" in meta:
            k = str(meta["app_id"])
            txn[k] = max(int(meta["batch_id"]), int(txn.get(k, -1)))
        # Carry the change-feed flag and the per-table DV cap forward
        # (txn-map style) so one head read answers at any age.
        for flag in ("change_feed", "dv_max_dead"):
            if flag not in stats and pdoc.get(flag):
                stats[flag] = pdoc[flag]
        stats = self._maintain_bloom(version, files, stats, pdoc)
        stats = self._maintain_dv(version, files, stats, pdoc)
        doc = {
            "format_version": FORMAT_VERSION,
            "version": version,
            "op": op,
            "files": sorted(files),
            "ts": time.time(),
            **stats,
            "txn": txn,
        }
        os.makedirs(_log_dir(self.path), exist_ok=True)
        tmp = os.path.join(_log_dir(self.path), f"_tmp_{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(doc, f)
            f.flush()
            os.fsync(f.fileno())
        try:
            # Atomic fail-if-exists: rename() would silently overwrite a
            # racing writer's commit; link() is create-or-EEXIST.
            os.link(tmp, _commit_path(self.path, version))
        except FileExistsError as e:
            raise ConcurrentWriteError(
                f"version {version} of {self.path} was committed concurrently"
            ) from e
        finally:
            os.unlink(tmp)
        # Auto-checkpoint every N commits.  Best-effort by design: the
        # commit IS durable at this point, and a checkpoint is pure
        # derived metadata any later writer can regenerate -- a failure
        # here must never turn a committed version into an error.
        if (
            self.checkpoint_interval
            and version > 0
            and version % self.checkpoint_interval == 0
        ):
            try:
                self.checkpoint(version)
            except Exception:
                pass
        return doc

    # -- checkpoints (Delta's _last_checkpoint analogue) ---------------

    def _read_last_checkpoint(self) -> dict | None:
        """Latest checkpoint manifest, or None.  The ``_last_checkpoint``
        pointer is advisory (last-writer-wins rename); a stale or
        corrupt pointer falls back to scanning the log dir for
        checkpoint files, and no checkpoint at all just means full
        walks -- checkpoints are an optimization, never load-bearing
        for correctness."""
        ld = _log_dir(self.path)
        try:
            with open(os.path.join(ld, "_last_checkpoint")) as f:
                v = int(json.load(f)["version"])
            with open(_checkpoint_path(self.path, v)) as f:
                return json.load(f)
        except (OSError, ValueError, KeyError):
            pass
        try:
            vs = [
                int(n[:8])
                for n in os.listdir(ld)
                if n.endswith(".checkpoint.json")
            ]
        except FileNotFoundError:
            return None
        if not vs:
            return None
        try:
            with open(_checkpoint_path(self.path, max(vs))) as f:
                return json.load(f)
        except (OSError, ValueError):
            return None

    def checkpoint(self, version: int | None = None) -> dict:
        """Write a checkpoint manifest at ``version`` (default: head):
        ``all_files``, every data file ANY commit up to ``version`` ever
        referenced -- what vacuum needs.  Built incrementally from the
        previous checkpoint plus the commits after it, so writing one
        costs O(interval) metadata reads and vacuum's ever-referenced
        walk drops from O(versions) to O(interval).  Commit docs are
        never rewritten -- history stays auditable; the checkpoint is
        derived metadata."""
        v = self.version() if version is None else version
        if v < 0:
            raise FileNotFoundError(f"no CowTable at {self.path}")
        prev = self._read_last_checkpoint()
        if prev is not None and prev["version"] >= v:
            return prev  # never regress the pointer
        start = prev["version"] + 1 if prev is not None else 0
        all_files = set(prev["all_files"]) if prev is not None else set()
        for cv in range(start, v + 1):
            all_files.update(self._commit_doc(cv)["files"])
        ck = {"version": v, "all_files": sorted(all_files)}
        tmp = os.path.join(_log_dir(self.path), f"_tmp_ck_{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump(ck, f)
            f.flush()
            os.fsync(f.fileno())
        # Atomic-replace safety does NOT rest on byte determinism (vacuum
        # later rewrites the same version's file with a pruned
        # all_files): it rests on every racing writer of this version
        # producing a semantically valid manifest for it -- all_files
        # differing only by files every variant agrees are deleted -- and
        # os.replace swapping whole files atomically, so readers see one
        # valid variant, never a splice.
        os.replace(tmp, _checkpoint_path(self.path, v))
        tmp2 = os.path.join(_log_dir(self.path), f"_tmp_lc_{uuid.uuid4().hex}")
        with open(tmp2, "w") as f:
            json.dump({"version": v}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp2, os.path.join(_log_dir(self.path), "_last_checkpoint"))
        return ck

    def txn_version(self, app_id: str) -> int:
        """Largest batch/txn id committed for ``app_id``; -1 if none.
        O(1): every commit carries the cumulative ``txn`` high-water
        map forward (Delta's txnAppId/txnVersion analogue), so ONE
        head-commit read answers the streaming sink's idempotence check
        no matter how old the table is."""
        head = self.version()
        return -1 if head < 0 else self.txn_version_at(head, app_id)

    def txn_version_at(self, version: int, app_id: str) -> int:
        """Cumulative txn high-water for ``app_id`` as of ``version``
        (largest batch id any commit <= version applied; -1 if none):
        one read of that version's commit doc.  This is what
        time-travel consumers (streaming pre-image resolution) call."""
        return int(self._commit_doc(version)["txn"].get(app_id, -1))

    def _write_data_files(
        self, df: DataFrame, version: int
    ) -> tuple[list[str], dict, str]:
        """Write the files of a prospective version N and harvest their
        footer stats (keyed by basename, for the commit doc).  The data
        dir carries a per-attempt random token: two writers racing to
        the same version number must not collide on the DIRECTORY
        before the commit race is even decided (Delta writes uniquely
        named files for the same reason); readers only ever open the
        explicit paths a commit lists, never a directory.  Returns
        (files, stats, out_dir) -- out_dir so a losing writer can
        remove exactly what it wrote."""
        out = os.path.join(
            self.path, "data", f"v{version}-{uuid.uuid4().hex[:8]}"
        )
        df.write.mode("error").parquet(out)
        files = [
            os.path.join(out, n)
            for n in os.listdir(out)
            if n.endswith(".parquet")
        ]
        stats = self._harvest_file_stats(files)
        # Zero-row files carry no column stats, so they would survive
        # every range/bloom prune as permanent candidates (and cost a
        # file open per read) while contributing nothing.  Exchange-
        # free merge plans (anti-join + union, r18) emit one output
        # partition per input partition, empties included -- drop them
        # at the source instead of referencing them forever.
        empty = [
            f for f in files
            if stats.get(os.path.basename(f), {}).get("rows") == 0
        ]
        if empty:
            for f in empty:
                with contextlib.suppress(OSError):
                    os.remove(f)
            files = [f for f in files if f not in set(empty)]
            stats = {
                b: s for b, s in stats.items()
                if os.path.join(out, b) not in set(empty)
            }
        return files, stats, out

    def _key_width_estimate(self, version: int, key: str) -> int:
        """Framed per-key bytes for broadcast sizing, from the
        snapshot's footer stats: string-ish keys take the longest
        observed min/max literal (doubled, plus framing), fixed-width
        keys a flat 16.  Conservative where stats are absent."""
        lens = [
            len(b)
            for s in self._commit_doc(version)["file_stats"].values()
            for b in (
                s.get("cols", {}).get(key, {}).get("min"),
                s.get("cols", {}).get(key, {}).get("max"),
            )
            if isinstance(b, str)
        ]
        return max([16] + [2 * n + 16 for n in lens])

    def _write_fused_cdc_files(
        self, fused: DataFrame, ct: str, version: int
    ) -> tuple[list[str], dict, str, list[str]]:
        """ONE partitioned staging write that emits a merge's data
        files AND its change files from a single evaluation of
        ``fused`` (every row pre-classified: ``ct`` NULL = data row,
        else change row) -- the r19 fusion that halves the wide I/O of
        a change-feed cow merge.  The staging dir lives OUTSIDE
        ``data/`` (vacuum walks data/ version dirs flat); files then
        RENAME into the same flat per-version token dirs every other
        writer uses, so vacuum/readers/losers see exactly the layout
        they always did.  Renames are same-filesystem metadata ops and
        happen BEFORE the commit links (the change-feed stream's
        ordering contract).  Returns ``(data_files, data_stats,
        data_dir, change_files)``."""
        import shutil

        disp = "_cdc_disp"
        token = uuid.uuid4().hex[:8]
        stage = os.path.join(self.path, "_stage", f"v{version}-{token}")
        out = os.path.join(self.path, "data", f"v{version}-{token}")
        chg = os.path.join(self.path, "changes", f"v{version}-{token}")
        (
            fused.withColumn(
                disp,
                F.when(F.col(ct).isNull(), F.lit("d")).otherwise(
                    F.lit("c")
                ),
            )
            .write.mode("error")
            .partitionBy(disp)
            .parquet(stage)
        )
        data_files: list[str] = []
        chg_files: list[str] = []
        for sub, dst, acc in (
            (f"{disp}=d", out, data_files),
            (f"{disp}=c", chg, chg_files),
        ):
            sdir = os.path.join(stage, sub)
            if not os.path.isdir(sdir):
                continue
            os.makedirs(dst, exist_ok=True)
            for n in sorted(os.listdir(sdir)):
                if n.endswith(".parquet"):
                    os.replace(
                        os.path.join(sdir, n), os.path.join(dst, n)
                    )
                    acc.append(os.path.join(dst, n))
        shutil.rmtree(stage, ignore_errors=True)
        stats = self._harvest_file_stats(data_files)
        # partitionBy never writes an empty per-partition file, but
        # keep _write_data_files' zero-row guard for parity
        empty = {
            f for f in data_files
            if stats.get(os.path.basename(f), {}).get("rows") == 0
        }
        if empty:
            for f in empty:
                with contextlib.suppress(OSError):
                    os.remove(f)
            data_files = [f for f in data_files if f not in empty]
            stats = {
                b: s
                for b, s in stats.items()
                if os.path.join(out, b) not in empty
            }
        return data_files, stats, out, chg_files

    def _harvest_file_stats(self, files: list[str]) -> dict:
        """Per-file footer stats keyed by basename.  Harvested
        EXECUTOR-SIDE (one Spark job over the file list) so commit
        cost does not scale with driver round-trips -- at 100 TB a
        bulk load or full compaction commits 1e5-1e6 files, and a
        driver loop of footer opens would dominate the commit (this
        is how Delta-class formats harvest stats: in the write job).
        The collected payload is metadata-sized (one small dict per
        file).  Tiny commits (< _DRIVER_STATS_MAX files) skip the job
        scheduling overhead and read the footers in-process; both
        paths run the same :func:`_file_footer_stats` (pinned equal
        by pytest)."""
        if len(files) <= _DRIVER_STATS_MAX:
            return {os.path.basename(f): _file_footer_stats(f) for f in files}
        sc = self.spark.sparkContext
        slices = min(len(files), sc.defaultParallelism)
        pairs = (
            sc.parallelize(sorted(files), slices)
            .map(lambda f: (os.path.basename(f), _file_footer_stats(f)))
            .collect()
        )
        return dict(pairs)

    # -- operations --------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        bloom_col: str | None = None,
        bloom_bits: int = _BLOOM_BITS_DEFAULT,
        bloom_k: int = _BLOOM_K_DEFAULT,
        bloom_bits_per_key: int = _BLOOM_BITS_PER_KEY,
        bloom_bits_max: int | None = None,
        change_feed: bool = False,
        dv_max_dead: int | None = None,
    ) -> "CowTable":
        """``bloom_col`` opts the table into a per-file Bloom key index
        (Delta's bloom filter index analogue) maintained by every
        subsequent commit; :meth:`read_point` uses it to prune files
        range stats cannot (high-cardinality keys whose per-file
        [min, max] spans the whole key space).  Each file's filter is
        sized from ITS row count (``bloom_bits_per_key``, floored at
        ``bloom_bits``) so the index never silently saturates as files
        grow.  ``bloom_col`` must be one of the dtypes the key encoder
        supports (``_BLOOM_SUPPORTED_DTYPES``) -- unsupported types
        (decimal, timestamp_ntz, nested) fail HERE, not as an
        executor-side TypeError mid-commit.

        ``bloom_bits_max`` raises the per-file bitmap CAP above the
        module default (1 MiB of bits, i.e. ~262k rows at 32
        bits/key, ~838k at the default 10): past the cap a file's
        filter is smaller than rows*bpk, per-key fpp degrades, and --
        the expensive half -- BATCH probes (any-of-N-keys semantics,
        the store-probe and merge-prune shape) false-hit essentially
        every file, so batch pruning silently turns off
        (lsh_store._auto_prune gates on exactly this).  A table whose
        compacted files run millions of rows pays ``rows * bpk / 8``
        bytes of sidecar per file for keeping them prunable -- e.g.
        ``bloom_bits_max=1 << 27`` covers 4M-row files at 32 bpk for
        16 MiB of bitmap each.  Sizing is per-entry metadata, so
        tables with mixed eras/caps coexist in one index."""
        t = cls(spark, path)
        if t.version() >= 0:
            raise FileExistsError(f"CowTable already exists at {path}")
        stats: dict = {"files_written": 0, "schema": df.schema.jsonValue()}
        if change_feed:
            # Row-level change tracking (Delta's enableChangeDataFeed):
            # every subsequent mutation commit writes its change set;
            # read_changes() replays them.  The flag rides every commit
            # doc forward.
            stats["change_feed"] = True
        if dv_max_dead is not None:
            # Per-table override of the accumulated-DV guardrail cap
            # (_DV_WARN_FRACTION block above); carried forward by
            # every commit like change_feed.
            stats["dv_max_dead"] = int(dv_max_dead)
        if bloom_col is not None:
            dt = dict(df.dtypes).get(bloom_col)
            if dt is None or dt not in _BLOOM_SUPPORTED_DTYPES:
                raise ValueError(
                    f"bloom_col must be a top-level column of a supported "
                    f"scalar dtype {sorted(_BLOOM_SUPPORTED_DTYPES)}, got "
                    f"{bloom_col!r} ({dt})"
                )
            stats["bloom_conf"] = {
                "col": bloom_col, "m": int(bloom_bits), "k": int(bloom_k),
                "bpk": int(bloom_bits_per_key),
            }
            if bloom_bits_max is not None:
                if int(bloom_bits_max) < int(bloom_bits):
                    raise ValueError(
                        "bloom_bits_max must be >= bloom_bits (the "
                        "per-file floor)"
                    )
                stats["bloom_conf"]["mcap"] = int(bloom_bits_max)
        files, fstats, _ = t._write_data_files(df, 0)
        stats["files_written"] = len(files)
        stats["file_stats"] = fstats
        t._commit(0, files, "create", stats)
        return t

    def _snapshot_schema(self, version: int):
        """StructType of a snapshot, from its commit doc's recorded
        schema: an all-files-skipped or zero-file snapshot still returns
        a correctly-typed empty frame."""
        from pyspark.sql.types import StructType

        return StructType.fromJson(self._commit_doc(version)["schema"])

    def _read_files(
        self,
        files: list[str],
        schema,
        dv_map: dict | None = None,
        file_col: str | None = None,
        pos_col: str | None = None,
    ) -> DataFrame:
        """Snapshot-correct read of an explicit file list: rows marked
        dead by the snapshot's deletion vectors are filtered out by
        their parquet row position (``_metadata.row_index``).  Files
        WITHOUT a vector take the plain read path -- a table that
        never used merge-on-read pays zero overhead, plan-for-plan.
        Files WITH one anti-join against a positions frame sized by
        the DEAD ROW COUNT (delta-sized by the _DV_COLLECT_MAX
        contract), broadcast so the join never shuffles the data side.
        ``file_col``/``pos_col`` optionally expose the file basename /
        row position to callers that need them (merge's affected-file
        scan, the DV writers themselves)."""
        base_expr = F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        )
        extras = [c for c in (file_col, pos_col) if c]
        names = [f.name for f in schema.fields]

        def with_extras(df: DataFrame) -> DataFrame:
            if file_col:
                df = df.withColumn(file_col, base_expr)
            if pos_col:
                df = df.withColumn(pos_col, F.col("_metadata.row_index"))
            return df.select(*names, *extras)

        if not files:
            out_schema = self.spark.createDataFrame([], schema)
            if file_col:
                out_schema = out_schema.withColumn(
                    file_col, F.lit(None).cast("string")
                )
            if pos_col:
                out_schema = out_schema.withColumn(
                    pos_col, F.lit(None).cast("long")
                )
            return out_schema
        dvm = {
            b: e
            for b, e in (dv_map or {}).items()
            if int(e.get("dead", 0)) > 0
        }
        dv_files = [f for f in files if os.path.basename(f) in dvm]
        plain = [f for f in files if os.path.basename(f) not in dvm]
        parts: list[DataFrame] = []
        if plain:
            parts.append(
                with_extras(self.spark.read.schema(schema).parquet(*plain))
            )
        if dv_files:
            from pyspark.sql.types import (
                LongType, StringType, StructField, StructType,
            )

            pos_rows = [
                (b, p)
                for b in sorted(os.path.basename(f) for f in dv_files)
                for p in _dv_positions(_dv_bits(dvm[b]))
            ]
            pos_schema = StructType([
                StructField("__dv_file", StringType()),
                StructField("__dv_pos", LongType()),
            ])
            if len(pos_rows) > _DV_INLINE_POS_MAX:
                rdd = self.spark.sparkContext.parallelize(pos_rows)
                pos_df = self.spark.createDataFrame(rdd, pos_schema)
            else:
                pos_df = self.spark.createDataFrame(pos_rows, pos_schema)
            df = (
                self.spark.read.schema(schema).parquet(*dv_files)
                .withColumn("__dv_file", base_expr)
                .withColumn("__dv_pos", F.col("_metadata.row_index"))
                .join(
                    F.broadcast(pos_df),
                    ["__dv_file", "__dv_pos"],
                    "left_anti",
                )
            )
            if file_col:
                df = df.withColumn(file_col, F.col("__dv_file"))
            if pos_col:
                df = df.withColumn(pos_col, F.col("__dv_pos"))
            parts.append(df.select(*names, *extras))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def read(self, version: int | None = None) -> DataFrame:
        """Snapshot read under the RECORDED schema: files written
        before a schema evolution lack the newer columns, and an
        explicit read schema makes parquet fill them with NULLs
        deterministically (footer-sniffed schemas would depend on
        which file got sampled).  Rows marked dead by the snapshot's
        deletion vectors (merge-on-read commits: :meth:`delete`,
        ``merge(strategy='mor')``) are filtered out by row position;
        snapshots without vectors read exactly as before."""
        v = self.version() if version is None else version
        doc = self._commit_doc(v) if v >= 0 else {}
        files = self.files(v)
        schema = self._snapshot_schema(v)
        if not files:
            return self.spark.createDataFrame([], schema)
        return self._read_files(files, schema, self._dv_map(doc))

    def read_range(
        self,
        col: str,
        lo=None,
        hi=None,
        version: int | None = None,
    ) -> DataFrame:
        """Read with FILE SKIPPING: open only the files whose commit-log
        ``[min, max]`` for ``col`` intersects ``[lo, hi]`` (inclusive;
        either bound may be None), then apply the exact filter to the
        survivors.  Files without usable stats are scanned -- skipping
        is an optimization, never a semantics change; range predicates
        never match NULL, so null rows in skipped files cannot be
        answers.  Evidence lands in ``self.last_scan``
        (files_total/files_scanned/files_skipped).  This is the
        table-format half of predicate pushdown: at 100 TB the commit
        log prunes whole files before Spark ever lists them, on top of
        parquet's own row-group pruning inside the survivors."""
        return self.read_ranges({col: (lo, hi)}, version=version)

    def read_ranges(
        self, preds: dict, version: int | None = None
    ) -> DataFrame:
        """Multi-column file skipping: ``preds`` maps column ->
        ``(lo, hi)`` (inclusive; either bound None), the predicates
        AND together, and a file is skipped as soon as ANY column's
        recorded range proves its predicate cannot match there.  On a
        Z-order-compacted layout (``compact(cluster_by=[a, b])``)
        every queried dimension prunes at once -- the multi-column
        payoff single-column range clustering cannot give (clustering
        on ``a`` leaves every file's ``b`` range full-width).  Same
        contract as :meth:`read_range`: survivors are exactly
        re-filtered, stat-less columns never skip, evidence in
        ``self.last_scan``."""
        v = self.version() if version is None else version
        files = self.files(v)
        doc = self._commit_doc(v)
        stats = doc.get("file_stats", {})
        enc = {
            col: (
                _enc_stat(lo) if lo is not None else None,
                _enc_stat(hi) if hi is not None else None,
            )
            for col, (lo, hi) in preds.items()
        }
        scan: list[str] = []
        for f in files:
            cols = stats.get(os.path.basename(f), {}).get("cols", {})
            skip = False
            for col, (lo_e, hi_e) in enc.items():
                s = cols.get(col)
                if s is None:
                    continue
                if lo_e is not None and _stat_cmp_ok(s["max"], lo_e):
                    skip = skip or s["max"] < lo_e
                if hi_e is not None and _stat_cmp_ok(s["min"], hi_e):
                    skip = skip or s["min"] > hi_e
                if skip:
                    break
            if not skip:
                scan.append(f)
        self.last_scan = {
            "files_total": len(files),
            "files_scanned": len(scan),
            "files_skipped": len(files) - len(scan),
        }
        df = self._read_files(
            scan, self._snapshot_schema(v), self._dv_map(doc)
        )
        for col, (lo, hi) in preds.items():
            if lo is not None:
                df = df.filter(F.col(col) >= F.lit(lo))
            if hi is not None:
                df = df.filter(F.col(col) <= F.lit(hi))
        return df

    def read_point(self, col: str, values, version: int | None = None) -> DataFrame:
        """Point lookup (``col = v`` / ``col IN (...)``) with BLOOM
        file skipping on top of range stats.  Range pruning is useless
        exactly where point lookups live -- high-cardinality keys
        (UUIDs, content hashes) whose per-file [min, max] spans the
        whole key space after any non-key clustering -- so tables
        created with ``bloom_col`` carry a per-file Bloom filter in
        per-file sidecars, and a file is opened only when (a) some probe
        value sits inside its recorded range AND (b) the filter says
        maybe-present.  No false negatives by construction (pinned in
        pytest: every present key survives pruning); false positives
        only cost a scan.  Survivors are exactly re-filtered --
        skipping is never a semantics change.  Evidence in
        ``self.last_scan`` incl. ``files_skipped_bloom`` (files range
        stats admitted but the bloom refuted -- the index's marginal
        value).  At 100 TB this is the difference between a point
        lookup scanning every file of a compacted table and touching
        one.

        Probe-cardinality contract: the per-value driver loop is
        O(files x probes) pure-Python -- sized for point lookups (a
        handful to a few thousand values).  Past
        ``_BLOOM_PRUNE_MAX_KEYS`` probes the lookup automatically
        switches to the merge-style EXECUTOR-side path: envelope
        range prune, distributed bloom probe
        (:meth:`_bloom_prune_distributed`), and a broadcast semi-join
        instead of an ``isin()`` literal (which at that size is a
        Catalyst-plan hazard of its own).  Naive datetime probes are
        interpreted in the DRIVER's local timezone -- exactly the
        convention plain ``collect()`` and ``F.lit`` use, so a
        collected value round-trips -- then normalized to UTC
        instants before range comparison, bloom hashing, and the
        final filter; pass tz-aware values to be explicit."""
        vals = (
            list(values)
            if isinstance(values, (list, tuple, set))
            else [values]
        )
        if not vals or any(v is None for v in vals):
            raise ValueError("read_point needs 1+ non-null probe values")
        vals = [_normalize_probe(x) for x in vals]
        v = self.version() if version is None else version
        doc = self._commit_doc(v)
        files = doc["files"]
        stats = doc.get("file_stats", {})
        bidx = self._bloom_index(doc, col)
        if len(vals) > _BLOOM_PRUNE_MAX_KEYS:
            return self._read_point_large(
                col, vals, v, files, stats, bidx, self._dv_map(doc)
            )
        enc_vals = [_enc_stat(x) for x in vals]
        hashes: list = []
        for x in vals:
            try:
                hashes.append(_bloom_hashes(x))
            except TypeError:
                # unhashable probe type: the bloom cannot refute this
                # value -- same maybe-present fallback merge uses.
                hashes.append(None)
        scan: list[str] = []
        skipped_bloom = 0
        for f in files:
            base = os.path.basename(f)
            s = stats.get(base, {}).get("cols", {}).get(col)
            in_range = [True] * len(vals)
            if s is not None:
                for i, e in enumerate(enc_vals):
                    if e is None:
                        continue
                    if _stat_cmp_ok(s["min"], e) and _stat_cmp_ok(s["max"], e):
                        in_range[i] = s["min"] <= e <= s["max"]
            if not any(in_range):
                continue
            entry = bidx.entry(base) if bidx is not None else None
            if entry is not None:
                live = [h for ok, h in zip(in_range, hashes) if ok]
                if all(h is not None for h in live):
                    buf, m, k = entry
                    if not _bloom_any_hit(buf, m, k, live):
                        skipped_bloom += 1
                        continue
            scan.append(f)
        self.last_scan = {
            "files_total": len(files),
            "files_scanned": len(scan),
            "files_skipped": len(files) - len(scan),
            "files_skipped_bloom": skipped_bloom,
        }
        df = self._read_files(
            scan, self._snapshot_schema(v), self._dv_map(doc)
        )
        if len(vals) == 1:
            return df.filter(F.col(col) == F.lit(vals[0]))
        return df.filter(F.col(col).isin(vals))

    def _read_point_large(
        self, col: str, vals: list, v: int, files: list[str],
        stats: dict, bidx: "_BloomIndex | None", dv_map: dict | None = None,
    ) -> DataFrame:
        """:meth:`read_point` past ``_BLOOM_PRUNE_MAX_KEYS`` probes:
        range-prunes by the batch's [min, max] ENVELOPE only (one
        driver pass over the values, O(files) comparisons), bloom-
        probes executor-side, and filters survivors with a broadcast
        left-semi join -- the same shape :meth:`merge` uses for large
        key batches, so a 100k-value IN-list costs O(files) driver
        work, not O(files x probes)."""
        from pyspark.sql.types import StructField, StructType

        enc = []
        for x in vals:
            e = _enc_stat(x)
            if e is None:
                enc = None  # unencodable value: no range prune at all
                break
            enc.append(e)
        scan0 = []
        if enc:
            lo_e, hi_e = min(enc), max(enc)
            for f in files:
                s = stats.get(os.path.basename(f), {}).get("cols", {}).get(col)
                skip = False
                if s is not None:
                    if _stat_cmp_ok(s["max"], lo_e):
                        skip = skip or s["max"] < lo_e
                    if _stat_cmp_ok(s["min"], hi_e):
                        skip = skip or s["min"] > hi_e
                if not skip:
                    scan0.append(f)
        else:
            scan0 = list(files)
        schema = self._snapshot_schema(v)
        ktype = schema[col].dataType
        probe_df = self.spark.createDataFrame(
            [(x,) for x in vals],
            StructType([StructField("_mk", ktype)]),
        )
        scan = self._bloom_prune_distributed(probe_df, scan0, bidx)
        self.last_scan = {
            "files_total": len(files),
            "files_scanned": len(scan),
            "files_skipped": len(files) - len(scan),
            "files_skipped_bloom": len(scan0) - len(scan),
        }
        df = self._read_files(scan, schema, dv_map)
        return df.join(
            F.broadcast(probe_df.withColumnRenamed("_mk", "__probe_k")),
            df[col] == F.col("__probe_k"),
            "left_semi",
        )

    def _bloom_prune_distributed(
        self, touch_keys: DataFrame, candidates: list[str],
        bidx: "_BloomIndex | None",
    ) -> list[str]:
        """Bloom candidate pruning for key batches TOO BIG to collect:
        the per-file filters (the sidecar entries for ``candidates``
        only) broadcast to the executors holding the key batch, each
        partition tests its keys against the filters with per-file
        early exit (a file one key hits stops being tested), and only
        the O(files) set of HIT basenames returns to the driver -- the
        keys themselves never leave the cluster.  This is what keeps
        bloom pruning engaged for the 100k-key delta merges that are
        the normal case at 100 TB, where the driver-side probe's
        ``_BLOOM_PRUNE_MAX_KEYS`` cap would otherwise silently fall
        back to range-envelope pruning (useless on hash keys).  Work
        is O(keys/partition x unhit files) per partition, numpy-free
        on purpose: position arithmetic is exact Python-int modular
        math, bit-identical to the write side.  Files without a
        sidecar entry are kept unread (never refuted); an unhashable
        key type conservatively keeps everything.  No false negatives:
        a file is dropped only when EVERY key's filter test refutes
        it."""
        entries: dict[str, tuple[bytes, int, int]] = {}
        for f in candidates:
            b = os.path.basename(f)
            e = bidx.entry(b) if bidx is not None else None
            if e is not None:
                entries[b] = e  # already-decoded (buf, m, k)
        if not entries:
            return candidates
        tzi = _session_tz(self.spark)
        bc = self.spark.sparkContext.broadcast(entries)
        # only the key column crosses the Python boundary (guide §4.1;
        # touch_keys may carry the _s source flag)
        touch_keys = touch_keys.select("_mk")

        def probe(batches):
            import pandas as pd

            active = dict(bc.value)
            hits: set[str] = set()
            give_up = False
            for pdf in batches:
                if give_up or not active:
                    break
                for raw in pdf["_mk"]:
                    if raw is None or (
                        not isinstance(raw, (str, bytes)) and pd.isna(raw)
                    ):
                        continue
                    try:
                        h1, h2 = _bloom_hashes(_probe_to_py(raw, tzi))
                    except TypeError:
                        # unhashable key type: this partition cannot
                        # refute ANY file -- keep them all.
                        hits.update(bc.value)
                        give_up = True
                        break
                    dead = []
                    for b, (buf, m, k) in active.items():
                        for i in range(k):
                            p = (h1 + i * h2) % m
                            if not buf[p >> 3] >> (p & 7) & 1:
                                break
                        else:
                            hits.add(b)
                            dead.append(b)
                    for b in dead:
                        del active[b]
                    if not active:
                        break
            yield pd.DataFrame({"_hit": sorted(hits)})

        hit = {
            r["_hit"]
            for r in touch_keys.select("_mk")
            .mapInPandas(probe, "_hit string")
            .distinct()
            .collect()
        }
        return [
            f
            for f in candidates
            if os.path.basename(f) not in entries
            or os.path.basename(f) in hit
        ]

    def compact(
        self,
        target_rows: int,
        cluster_by: str | list[str] | None = None,
        retries: int = 0,
        zorder_boundaries: str = "linear",
    ) -> dict:
        """``OPTIMIZE``-style bin-packing: rewrite every file holding
        fewer than ``target_rows`` rows into ``ceil(total/target)``
        files; files already at-or-above target carry over by
        reference.  A pure rewrite -- the snapshot's CONTENT is
        bit-identical, only the file layout changes -- committed to
        the log like any other version (time travel still sees the
        fragmented history).  This is the maintenance op that keeps
        incremental MERGE commits (m9/m11) from drowning a table in
        small files at scale.

        ``cluster_by`` additionally range-clusters the rewritten rows
        on a column (``OPTIMIZE ... ZORDER BY`` for the single-column
        case): each output file covers a disjoint range, so the
        footer stats in the commit log make :meth:`read_range` on
        that column maximally selective afterwards.  A LIST of 2+
        columns Z-orders instead (the real ``ZORDER BY a, b``):
        rows shuffle on a Morton interleave of the quantized columns
        (:func:`_zvalue_expr`), so every clustered column's per-file
        min/max tightens at once and :meth:`read_ranges` prunes on
        any of them -- single-column clustering makes the OTHER
        columns' ranges full-width per file, pruning nothing.  Either
        way it costs one shuffle of the small files only (carried
        files are untouched, so clustering converges over repeated
        maintenance cycles without ever rewriting the whole table).

        Returns the commit doc; a no-op (fewer than two small files)
        commits nothing and returns a summary with ``"noop": True``.

        ``zorder_boundaries``: quantization for the multi-column
        Morton path -- ``"linear"`` (default; min/max scaling, zero
        extra passes) or ``"sampled"`` (equi-depth
        ``percentile_approx`` edges; the layout that keeps skipping
        selective under heavy per-column skew, see
        :func:`_zvalue_expr`).  Single-column clustering ignores it:
        ``repartitionByRange`` already samples.

        ``retries``: on losing a commit race, re-plan against the new
        head and retry (compaction is a pure layout rewrite -- the
        recompute picks up whatever the winner committed, so rebase is
        always semantics-safe, unlike :meth:`merge`)."""
        for _ in range(max(0, retries)):
            try:
                return self._compact_attempt(
                    target_rows, cluster_by, zorder_boundaries
                )
            except ConcurrentWriteError:
                continue
        return self._compact_attempt(
            target_rows, cluster_by, zorder_boundaries
        )

    def _compact_attempt(
        self, target_rows: int, cluster_by: str | list[str] | None = None,
        zorder_boundaries: str = "linear",
    ) -> dict:
        base_version = self.version()
        files = self.files(base_version)
        base_doc = self._commit_doc(base_version)
        fstats = base_doc["file_stats"]
        dvm = self._dv_map(base_doc)

        def _rows(f: str) -> int:
            return fstats[os.path.basename(f)]["rows"]

        # Deletion-vector MATERIALIZATION rides the rewrite: any file
        # with dead rows joins the rewrite set regardless of size (its
        # replacement physically lacks them and _maintain_dv drops the
        # entry with the file), so merge-on-read read overhead is
        # reclaimed by the same maintenance op that fixes small files.
        small = [
            f
            for f in files
            if _rows(f) < target_rows or os.path.basename(f) in dvm
        ]
        dv_materialized = sum(
            int(dvm[os.path.basename(f)]["dead"])
            for f in small
            if os.path.basename(f) in dvm
        )
        if len(small) < 2 and not dv_materialized:
            return {
                "op": "compact", "noop": True, "version": base_version,
                "files_compacted": 0,
            }
        kept = [f for f in files if f not in small]
        # Gross rows (dead included): sizing only -- a slight
        # overcount of nout costs one extra small file, never rows.
        total = sum(_rows(f) for f in small)
        nout = max(1, -(-total // target_rows))
        # Explicit snapshot schema: small files may straddle a schema
        # evolution; the rewrite unifies them on the current layout.
        # DV-aware read: the rewrite carries only LIVE rows, which is
        # what materializes the deletion vectors.
        merged = self._read_files(
            small, self._snapshot_schema(base_version), dvm
        )
        zcols = (
            list(cluster_by)
            if isinstance(cluster_by, (list, tuple))
            else ([cluster_by] if cluster_by is not None else [])
        )
        if len(zcols) > 1:
            # Multi-column: range shuffle on the Morton code, sorted
            # within partitions so row groups inherit the locality too;
            # each output file covers a compact region of the joint key
            # space and its footer min/max go tight on EVERY column.
            merged = (
                merged.withColumn(
                    "__cow_zval",
                    _zvalue_expr(merged, zcols, zorder_boundaries),
                )
                .repartitionByRange(nout, "__cow_zval")
                .sortWithinPartitions("__cow_zval")
                .drop("__cow_zval")
            )
        elif zcols:
            # one range shuffle of the small files -> disjoint per-file
            # ranges on the cluster column (skipping-effective layout).
            merged = merged.repartitionByRange(nout, zcols[0])
        else:
            # coalesce, not repartition: bin-packing needs no shuffle.
            merged = merged.coalesce(nout)
        new_version = base_version + 1
        new_files, new_stats, out_dir = self._write_data_files(
            merged, new_version
        )
        try:
            return self._commit(
                new_version,
                kept + new_files,
                "compact",
                {
                    "parent": base_version,
                    "cluster_by": cluster_by,
                    "files_compacted": len(small),
                    "files_kept": len(kept),
                    "files_written": len(new_files),
                    "rows_compacted": total,
                    **(
                        {"dv_materialized": dv_materialized}
                        if dv_materialized
                        else {}
                    ),
                    "file_stats": {
                        **{
                            b: fstats[b] for b in map(os.path.basename, kept)
                        },
                        **new_stats,
                    },
                    "schema": merged.schema.jsonValue(),
                },
            )
        except ConcurrentWriteError:
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            raise

    def vacuum(
        self, retain_last: int = 1, orphan_grace_s: float = 86400.0
    ) -> dict:
        """``VACUUM`` analogue: physically delete data files no retained
        snapshot references.  The last ``retain_last`` versions stay
        fully readable; older versions keep their commit METADATA (the
        log is never rewritten -- history/audit survives) but their
        exclusive files are removed, so time travel beyond the horizon
        raises on read, exactly Delta's contract.

        Reader contract (pinned in tests/test_cow_table.py::
        test_vacuum_under_inflight_reader): a DataFrame opened against
        a later-expired snapshot fails CLEANLY with missing-input
        errors on its next action -- it can never silently return
        stale or partial rows, because the snapshot's file list is
        fixed at read time and vacuum only ever deletes whole files
        (Spark's scan errors on a listed-but-absent file).  The grace
        window shields only never-committed files (in-flight WRITERS);
        committed-then-expired files delete immediately -- size
        ``retain_last`` to cover the longest-running reader, exactly
        Delta's retention guidance.

        Two file classes are deleted:

        * files referenced only by expired commits -- deleted
          immediately (new commits can only carry files forward from
          the latest snapshot, so nothing can re-reference them);
        * files referenced by NO commit (the orphaned output of a
          writer that lost the optimistic-concurrency race, or of one
          still mid-write) -- deleted only when older than
          ``orphan_grace_s``, Delta's retention-window defence against
          vacuuming an in-flight writer's files out from under it.

        Only ``*.parquet`` files are touched; a version dir whose
        parquets are all gone is removed wholesale (taking Spark's
        ``_SUCCESS``/``.crc`` sidecars with it).  Nothing is committed
        to the log; returns a summary dict."""
        import shutil

        latest = self.version()
        if latest < 0:
            raise FileNotFoundError(f"no CowTable at {self.path}")
        lo = max(0, latest - retain_last + 1)
        retained: set[str] = set()
        for v in range(lo, latest + 1):
            retained.update(os.path.abspath(f) for f in self.files(v))
        # Ever-referenced set, checkpoint-anchored: the manifest's
        # ``all_files`` summarizes every commit at or below it, so this
        # walk reads O(interval) commit docs, not O(versions) -- the
        # difference between a bounded maintenance op and one that
        # creeps linearly on a stream-maintained table accruing commits
        # per micro-batch forever.
        ck = self._read_last_checkpoint()
        ever: set[str] = set()
        start = 0
        if ck is not None and ck["version"] <= latest:
            ever.update(os.path.abspath(f) for f in ck["all_files"])
            start = ck["version"] + 1
        for v in range(start, latest + 1):
            ever.update(
                os.path.abspath(f) for f in self._commit_doc(v)["files"]
            )
        data_root = os.path.join(self.path, "data")
        now = time.time()
        deleted = orphans_kept = 0
        deleted_paths: set[str] = set()
        for d in sorted(os.listdir(data_root)):
            vdir = os.path.join(data_root, d)
            if not os.path.isdir(vdir):
                continue
            live = 0
            for n in os.listdir(vdir):
                if not n.endswith(".parquet"):
                    continue
                f = os.path.abspath(os.path.join(vdir, n))
                if f in retained:
                    live += 1
                    continue
                if f not in ever:
                    try:
                        age = now - os.path.getmtime(f)
                    except FileNotFoundError:
                        continue
                    if age < orphan_grace_s:
                        orphans_kept += 1
                        live += 1
                        continue
                try:
                    os.unlink(f)
                    deleted += 1
                    deleted_paths.add(f)
                except FileNotFoundError:
                    pass
            if live == 0:
                shutil.rmtree(vdir, ignore_errors=True)
        # Prune just-deleted files out of the head checkpoint's
        # ``all_files`` -- otherwise the manifest grows O(files ever)
        # as a maintained table ages, the one remaining unbounded
        # metadata series.  Safe by monotonicity: a STALE (superset)
        # all_files is always harmless (entries for absent files are
        # never reached -- the deletion loop iterates disk files), and
        # pruning only removes files that no longer exist; later
        # checkpoints build from the pruned list, so the bound is
        # O(live + since-last-vacuum) by induction.  Best-effort like
        # every checkpoint write.
        try:
            ck = self.checkpoint(latest)
            if deleted_paths:
                pruned = [
                    f
                    for f in ck["all_files"]
                    if os.path.abspath(f) not in deleted_paths
                ]
                if len(pruned) < len(ck["all_files"]):
                    ck2 = {**ck, "all_files": pruned}
                    tmp = os.path.join(
                        _log_dir(self.path), f"_tmp_ck_{uuid.uuid4().hex}"
                    )
                    with open(tmp, "w") as fh:
                        json.dump(ck2, fh)
                        fh.flush()
                        os.fsync(fh.fileno())
                    os.replace(
                        tmp, _checkpoint_path(self.path, ck["version"])
                    )
        except Exception:
            pass
        # Checkpoint-file GC (Delta keeps the last N checkpoints; a
        # maintained table otherwise accrues one NNNNNNNN.checkpoint
        # .json per interval FOREVER -- the last unbounded metadata
        # file series).  Retention anchor: the newest checkpoint
        # at-or-below the retained-snapshot floor ``lo``; everything
        # strictly below it goes.  Checkpoints are an optimization of
        # vacuum's own walk, never load-bearing for correctness.
        # Best-effort like every metadata-plane op.
        ckpts_deleted = 0
        try:
            ld = _log_dir(self.path)
            cks = sorted(
                int(n[:8])
                for n in os.listdir(ld)
                if n.endswith(".checkpoint.json")
            )
            anchors = [v for v in cks if v <= lo]
            if anchors:
                anchor = max(anchors)
                for v in cks:
                    if v < anchor:
                        try:
                            os.unlink(_checkpoint_path(self.path, v))
                            ckpts_deleted += 1
                        except FileNotFoundError:
                            pass
        except Exception:
            pass
        # Change-feed GC: change files are referenced only by their own
        # commit, so the keep rule is simply "referenced by a RETAINED
        # commit"; an expired commit's change files delete immediately
        # (its snapshot is already unreadable), and unreferenced files
        # at retained versions (losing racers / in-flight writers) get
        # the same grace window as orphaned data files.
        changes_deleted = 0
        chg_root = os.path.join(self.path, "changes")
        if os.path.isdir(chg_root):
            ref_chg = set()
            for v in range(lo, latest + 1):
                for f in self._commit_doc(v).get("change_files", []) or []:
                    ref_chg.add(os.path.abspath(f))
            for d in sorted(os.listdir(chg_root)):
                vdir = os.path.join(chg_root, d)
                if not os.path.isdir(vdir):
                    continue
                m = _re.match(r"v(\d+)-", d)
                dir_v = int(m.group(1)) if m else -1
                live = 0
                for n in os.listdir(vdir):
                    if not n.endswith(".parquet"):
                        continue
                    f = os.path.abspath(os.path.join(vdir, n))
                    if f in ref_chg:
                        live += 1
                        continue
                    if dir_v >= lo:
                        try:
                            if now - os.path.getmtime(f) < orphan_grace_s:
                                live += 1
                                continue
                        except FileNotFoundError:
                            continue
                    try:
                        os.unlink(f)
                        changes_deleted += 1
                    except FileNotFoundError:
                        pass
                if live == 0:
                    shutil.rmtree(vdir, ignore_errors=True)
        # Fused-write staging GC (r19): _write_fused_cdc_files renames
        # its output out of <path>/_stage/ before committing, so any
        # dir still there belongs to a dead or in-flight writer --
        # remove it once past the same grace window that shields
        # in-flight data files.  Committed files are never under
        # _stage/, so this can only ever delete never-referenced
        # output.
        stage_root = os.path.join(self.path, "_stage")
        if os.path.isdir(stage_root):
            for d in sorted(os.listdir(stage_root)):
                sdir = os.path.join(stage_root, d)
                try:
                    if now - os.path.getmtime(sdir) >= orphan_grace_s:
                        shutil.rmtree(sdir, ignore_errors=True)
                except FileNotFoundError:
                    continue
        # Bloom- and deletion-vector-sidecar GC: keep every sidecar a
        # RETAINED commit references (a no-new-files commit points at
        # its parent's, so the referenced set, not version arithmetic,
        # is the keep rule); everything else is either a losing
        # racer's orphan or an expired snapshot's index -- derived
        # metadata, deleted once past the same grace window that
        # shields an in-flight writer's just-written sidecar whose
        # commit has not linked yet.  Best-effort like every
        # metadata-plane op.
        blooms_deleted = dvs_deleted = 0
        try:
            ld = _log_dir(self.path)
            keep = set()
            for v in range(lo, latest + 1):
                doc = self._commit_doc(v)
                keep.add(doc.get("dv_sidecar"))
                keep.update((doc.get("bloom_files") or {}).values())
            for n in os.listdir(ld):
                is_bloom = n.endswith(".bf.json")
                is_dv = n.endswith(".dv.json")
                if not (is_bloom or is_dv) or n in keep:
                    continue
                p = os.path.join(ld, n)
                try:
                    if now - os.path.getmtime(p) < orphan_grace_s:
                        continue
                    os.unlink(p)
                    if is_bloom:
                        blooms_deleted += 1
                    else:
                        dvs_deleted += 1
                except FileNotFoundError:
                    pass
        except Exception:
            pass
        return {
            "op": "vacuum",
            "retained_versions": [lo, latest],
            "files_deleted": deleted,
            "orphans_in_grace": orphans_kept,
            "checkpoints_deleted": ckpts_deleted,
            "blooms_deleted": blooms_deleted,
            "dvs_deleted": dvs_deleted,
            "changes_deleted": changes_deleted,
        }

    def merge(
        self,
        source: DataFrame,
        key: str,
        deletes: DataFrame | None = None,
        retries: int = 0,
        meta: dict | None = None,
        evolve_schema: bool = False,
        bloom_probe: str | None = None,
        strategy: str = "cow",
        touch_envelope: tuple | None = None,
    ) -> dict:
        """``MERGE INTO`` this table: matched keys take the source row
        wholesale, unmatched source rows insert (operators/audits.
        merge_upsert semantics, the same contract merge_statement
        carries to a real catalog), and -- when ``deletes`` is given
        (any frame carrying a ``key`` column) -- rows whose key
        appears there are REMOVED (Delta's ``whenMatchedDelete``
        analogue; incremental view maintenance needs it for postings
        that empty out).  Deletes apply to the TARGET before the
        upsert, so a key in both frames ends up with the source row.
        Copy-on-write with file pruning: only files containing a
        matched-or-deleted key are rewritten; the rest carry over by
        reference.  The affected-file scan itself is pruned by the
        commit log first (files whose key range cannot intersect the
        batch's [min, max] key envelope are never READ -- Delta-style
        data skipping applied to the MERGE condition, which makes
        incremental merges on a range-clustered layout O(touched
        range), not O(table)).  Returns the commit doc, which records
        files_kept/files_rewritten/files_probed -- the pruning
        evidence.

        ``retries``: optimistic-concurrency rebase loop (Delta's
        protocol).  On losing a commit race, re-resolve against the
        new head and retry -- UNLESS the interleaved commit rewrote or
        removed a file this merge had marked for rewrite (its keys may
        overlap ours: a write-write conflict, order-dependent result),
        in which case :class:`ConcurrentMergeConflictError` is raised
        deterministically.  ``retries=0`` (default) surfaces the raw
        :class:`ConcurrentWriteError` unchanged.

        ``meta``: an application-metadata dict recorded verbatim in
        the commit doc under ``app_meta`` -- the hook a transactional
        foreachBatch sink needs to make replayed micro-batches
        idempotent (record the batchId, skip commits at-or-below it;
        see streaming/index_maint.py), Delta's ``txnAppId/txnVersion``
        analogue.

        ``evolve_schema``: Delta's ``mergeSchema`` analogue.  False
        (default): source columns absent from the table are DROPPED by
        the projection onto the table schema (and a source missing a
        table column errors) -- the schema is a contract.  True:
        source-only top-level columns are ADDED to the table schema;
        rewritten/new files carry them, carried files do not, and
        reads fill the gap with NULLs via the recorded snapshot schema
        (so old snapshots time-travel with their own narrower
        schema).

        ``bloom_probe``: how the bloom candidate prune runs -- None
        (default) picks by batch size (driver-side at or below
        ``_BLOOM_PRUNE_MAX_KEYS`` distinct keys, executor-side above),
        ``"distributed"`` forces the executor-side probe (skips the
        sizing collect entirely), ``"driver"`` pins the driver path
        and degrades to NO bloom prune past the cap rather than
        collecting an unbounded key set.  The path taken is recorded
        in the commit doc as ``bloom_probe``.

        ``strategy``: ``"cow"`` (default) rewrites every file
        containing a matched-or-deleted key -- the read-optimized
        layout.  ``"mor"`` (merge-on-read, Delta's deletion-vector
        MERGE) rewrites NOTHING: matched/deleted rows are marked dead
        by row position in the commit's deletion-vector sidecar, and
        the source rows land as new files.  Same end state row-for-row
        on a unique-key table (pinned in pytest); write cost drops
        from O(bytes of every matched file) to O(batch + dead-row
        positions), which is the difference at 100 TB when a delta's
        keys are SPREAD (hash keys: every file matched, cow rewrites
        the table).  Readers filter dead positions via the parquet row
        index; :meth:`compact` materializes the vectors so read
        overhead never accrues unboundedly.  Duplicate-key edge: a
        DUPLICATE-key target row set collapses to the single source
        row under BOTH strategies (mor kills all its positions; cow's
        anti-join drops every matched copy and the union emits the
        source row once per source row) -- merge-maintained tables
        are unique-keyed by contract; the paths also agree on
        duplicate keys since r18 (cow's pre-r18 full-outer join
        fanned the source row out per matched target row instead).
        Positions are driver-coordinated metadata bounded by
        ``_DV_COLLECT_MAX`` dead rows per commit; bulk mutations past
        that must use cow (the same guidance Delta gives)."""
        # Delete keys: the common (incremental-maintenance) batch is
        # delta-sized, so collect it ONCE and inline as an isin()
        # literal -- reused for the touch set, the filter predicate,
        # and the commit metadata without re-evaluating the plan.
        # NULL keys never match a join, so dropping them changes
        # nothing and keeps the isin() predicate three-valued-logic-
        # safe.  Above _DELETE_INLINE_MAX distinct keys the literal
        # list would bloat the Catalyst plan and driver heap, so the
        # batch stays a DataFrame (pinned once -- the attempts traverse
        # it repeatedly) and the filter becomes an anti-join instead;
        # the limit()+collect probe reads at most MAX+1 keys to decide.
        if strategy not in ("cow", "mor"):
            raise ValueError(
                f"strategy must be 'cow' or 'mor', got {strategy!r}"
            )
        dk_vals: list = []
        dk_df: DataFrame | None = None
        n_dk = 0
        touch_rows: list | None = None
        # Fused touch/delete-key probe (r19): ONE bounded collect over
        # source keys UNION delete keys (flagged per side) replaces
        # the dk probe here AND the per-attempt envelope job in
        # _candidate_files -- and the collected rows hand every
        # attempt its touch set as a broadcast LocalRelation, so the
        # batch plans are evaluated exactly once for all of planning
        # (the detection scan used to re-evaluate the source per
        # attempt).  Touch keys are snapshot-independent, so reuse
        # across rebase attempts is exact, like the dk reuse before
        # it.  Skipped when the caller supplied a covering envelope
        # (LSH appends: zero planning jobs stays zero).  Oversized
        # batches fall back to the pre-r19 two-probe flow.
        if touch_envelope is None and bloom_probe != "distributed":
            tk_flagged = source.select(
                F.col(key).alias("_mk"),
                F.lit(True).alias("_s"),
                F.lit(False).alias("_d"),
            )
            if deletes is not None:
                tk_flagged = tk_flagged.unionByName(
                    deletes.select(
                        F.col(key).alias("_mk"),
                        F.lit(False).alias("_s"),
                        F.lit(True).alias("_d"),
                    ).filter(F.col("_mk").isNotNull())
                )
            tk_flagged = tk_flagged.groupBy("_mk").agg(
                F.max("_s").alias("_s"), F.max("_d").alias("_d")
            )
            probe = tk_flagged.limit(_BLOOM_PRUNE_MAX_KEYS + 1).collect()
            if len(probe) <= _BLOOM_PRUNE_MAX_KEYS:
                touch_rows = probe
                dk_vals = [
                    r["_mk"]
                    for r in probe
                    if r["_d"] and r["_mk"] is not None
                ]
                n_dk = len(dk_vals)
        if deletes is not None and touch_rows is None:
            dk = (
                deletes.select(F.col(key).alias("_dk"))
                .filter(F.col("_dk").isNotNull())
                .distinct()
            )
            probe = dk.limit(_DELETE_INLINE_MAX + 1).collect()
            if len(probe) > _DELETE_INLINE_MAX:
                dk_df = dk.localCheckpoint(eager=True)
                # count ONCE here (r18 VERDICT #6): the commit-doc
                # delete_keys metadata used to re-count the pinned
                # frame per attempt
                n_dk = dk_df.count()
            else:
                dk_vals = [r["_dk"] for r in probe]
                n_dk = len(dk_vals)

        attempt = 0
        try:
            while True:
                try:
                    return self._merge_attempt(
                        source, key, dk_vals, dk_df, meta, evolve_schema,
                        bloom_probe, strategy, touch_envelope,
                        touch_rows=touch_rows, n_dk=n_dk,
                    )
                except ConcurrentMergeConflictError:
                    raise
                except ConcurrentWriteError:
                    if attempt >= retries:
                        raise
                    attempt += 1
        finally:
            if dk_df is not None:
                _release_pinned(dk_df)

    def _merge_attempt(
        self, source: DataFrame, key: str, dk_vals: list,
        dk_df: DataFrame | None = None,
        meta: dict | None = None,
        evolve_schema: bool = False,
        bloom_probe: str | None = None,
        strategy: str = "cow",
        touch_envelope: tuple | None = None,
        touch_rows: list | None = None,
        n_dk: int | None = None,
    ) -> dict:
        """One optimistic attempt of :meth:`merge` against the current
        head.  On a lost commit race, classifies the failure: if the
        interleaved commit removed any file THIS attempt rewrote
        (possible same-key write), raises
        :class:`ConcurrentMergeConflictError`; otherwise re-raises the
        plain retryable :class:`ConcurrentWriteError`."""
        base_version = self.version()
        snapshot_files = self.files(base_version)

        # The touch-key set carries a source-membership flag ``_s``
        # (r18 opt round): the affected-file detection scan joins
        # against it anyway, so collecting (file, key, _s) instead of
        # file names alone hands the back half the matched SOURCE keys
        # and matched DELETE-only keys as driver literals at zero
        # extra jobs -- which is what lets the rewrite and the change
        # set classify against tiny broadcast LocalRelations (see
        # _finish_merge_attempt).
        #
        # r19: when merge() collected the (bounded) touch rows, the
        # touch set is rebuilt here as a LocalRelation -- data already
        # in the driver's hands -- so NOTHING in planning or detection
        # evaluates the source plan again (the detection scan used to
        # re-run the full source subtree per attempt), and the
        # detection join build side is a broadcast of local rows.
        if touch_rows is not None:
            from pyspark.sql.types import (
                BooleanType, StructField, StructType,
            )

            ktype = source.schema[key].dataType
            touch_keys = F.broadcast(self.spark.createDataFrame(
                [(r["_mk"], bool(r["_s"])) for r in touch_rows],
                StructType([
                    StructField("_mk", ktype),
                    StructField("_s", BooleanType()),
                ]),
            ))
        else:
            sk = source.select(
                F.col(key).alias("_mk"), F.lit(True).alias("_s")
            )
            if dk_vals:
                touch_keys = sk.unionByName(
                    self.spark.createDataFrame(
                        [(v, False) for v in dk_vals], sk.schema
                    )
                ).groupBy("_mk").agg(F.max("_s").alias("_s"))
            elif dk_df is not None:
                touch_keys = sk.unionByName(
                    dk_df.select(
                        F.col("_dk").alias("_mk"), F.lit(False).alias("_s")
                    )
                ).groupBy("_mk").agg(F.max("_s").alias("_s"))
            else:
                touch_keys = sk.distinct()

        candidates, bloom_mode, n_touch, _ = self._candidate_files(
            touch_keys, key, base_version, bloom_probe,
            probe_rows=touch_rows, touch_envelope=touch_envelope,
            # merge() already ran the bounded probe whenever it could;
            # touch_rows=None there means it OVERFLOWED -- don't pay
            # the doomed limit-collect again per attempt
            skip_probe=(
                touch_rows is None
                and touch_envelope is None
                and bloom_probe != "distributed"
            ),
        )
        finish = (
            self._finish_merge_mor
            if strategy == "mor"
            else self._finish_merge_attempt
        )
        return finish(
            source, key, dk_vals, dk_df, meta, evolve_schema,
            base_version, snapshot_files, touch_keys, candidates,
            bloom_mode, n_touch, n_dk=n_dk,
        )

    def _candidate_files(
        self,
        touch_keys: DataFrame,
        key: str,
        base_version: int,
        bloom_probe: str | None = None,
        probe_rows: list | None = None,
        touch_envelope: tuple | None = None,
        skip_probe: bool = False,
    ) -> tuple[list[str], str | None, int | None, list | None]:
        """Files of snapshot ``base_version`` that MAY contain a key of
        ``touch_keys`` -- the shared skipping front-end of every keyed
        mutation (:meth:`merge` both strategies, :meth:`delete`).
        Returns ``(candidate files, bloom probe mode or None, distinct
        non-null touch-key count or None when not cheaply known,
        collected touch rows or None)`` --
        the count falls out of work this planner does anyway (the
        bounded key collect, or a count() column added to the envelope
        agg at zero extra jobs) and lets the merge back half decide
        whether the source keys are provably broadcast-sized.  The
        collected rows (bounded batches only) let callers rebuild the
        touch set as a driver-side LocalRelation, so no downstream
        join re-evaluates the batch plan (r19).

        File-level prune BEFORE any data scan (Delta-style skipping
        applied to the MERGE condition): every touch key lies inside
        [min, max] of the batch's keys (one tiny agg over the
        batch-sized key set), so a file whose commit-log key range
        does not intersect that envelope provably contains no touch
        key -- it is kept by reference WITHOUT being read.  On a
        range-clustered layout (compact cluster_by) this turns the
        per-mutation candidate scan from O(table) to O(touched
        range); on a hash layout every file intersects and nothing is
        lost but the tiny agg.  Files without usable stats are always
        candidates -- pruning is never a semantics change.

        ``touch_envelope``: a caller-supplied ``(lo, hi)`` bound that
        COVERS every source and delete key (a superset range).  When
        given, the envelope agg job is skipped -- the range prune is
        sound under any covering bound (a wider envelope only keeps
        more candidates).  Callers must NOT pass a bound any touch key
        can fall outside: an undersized envelope could skip a file
        that holds a matched key.  Used by provably-disjoint appends
        (operators/lsh_store: the ingest prefix is checked monotone
        pre-commit, so the key range is known analytically) to save
        one Spark job per commit (r18, guide §2.4)."""
        snapshot_files = self.files(base_version)
        candidates = snapshot_files
        n_touch: int | None = None
        # Fused key probe (r18, ungated r19): a bounded batch's ONE
        # limit-collect replaces the envelope agg job for EVERY keyed
        # mutation (not just bloom-indexed tables -- the collected
        # rows now also feed the affected-file detection join as a
        # broadcast LocalRelation, so the batch plan is never
        # re-evaluated downstream).  When the batch fits, the range
        # envelope derives from the same rows instead of a separate
        # agg job.  Python min/max is the same comparison
        # _stat_cmp_ok applies later, restricted to str/int keys so
        # float-NaN ordering quirks can never narrow the envelope.
        # Oversized batches pay the failed probe (limit stops early --
        # cheap) and fall back to the agg job, handing the collected
        # rows to the distributed-probe sizing.
        if (
            touch_envelope is None
            and probe_rows is None
            and bloom_probe != "distributed"
            and not skip_probe
        ):
            probe_rows = touch_keys.limit(
                _BLOOM_PRUNE_MAX_KEYS + 1
            ).collect()
        if (
            touch_envelope is None
            and probe_rows is not None
            and len(probe_rows) <= _BLOOM_PRUNE_MAX_KEYS
        ):
            nn = [r["_mk"] for r in probe_rows if r["_mk"] is not None]
            n_touch = len(nn)
            if not nn:
                touch_envelope = (None, None)  # all-null: no match
            elif all(isinstance(v, (str, int)) for v in nn):
                touch_envelope = (min(nn), max(nn))
        elif probe_rows is not None and len(probe_rows) <= _BLOOM_PRUNE_MAX_KEYS:
            # caller-supplied envelope alongside a bounded batch
            # (delete values=): count known for free
            n_touch = sum(1 for r in probe_rows if r["_mk"] is not None)
        if touch_envelope is not None:
            b = {"lo": touch_envelope[0], "hi": touch_envelope[1]}
        else:
            # count("_mk") counts the distinct non-null touch keys in
            # the SAME job as the envelope agg (touch_keys is already
            # distinct) -- no extra action for the broadcast decision.
            b = touch_keys.agg(
                F.min("_mk").alias("lo"), F.max("_mk").alias("hi"),
                F.count("_mk").alias("n"),
            ).collect()[0]
            n_touch = int(b["n"])
        if b["lo"] is not None:
            lo_e, hi_e = _enc_stat(b["lo"]), _enc_stat(b["hi"])
            if lo_e is not None and hi_e is not None:
                stats = self._commit_doc(base_version).get("file_stats", {})
                candidates = []
                for f in snapshot_files:
                    s = (
                        stats.get(os.path.basename(f), {})
                        .get("cols", {})
                        .get(key)
                    )
                    skip = False
                    if s is not None:
                        if _stat_cmp_ok(s["max"], lo_e):
                            skip = skip or s["max"] < lo_e
                        if _stat_cmp_ok(s["min"], hi_e):
                            skip = skip or s["min"] > hi_e
                    if not skip:
                        candidates.append(f)
        else:
            # min is NULL: the batch has no non-null key (empty, or
            # all-null keys, which never join-match) -- nothing can be
            # affected; null-keyed source rows still insert below.
            candidates = []

        # Second prune, where range stats go blind: on a
        # high-cardinality hash key every file's [min, max] spans the
        # whole key space, so the envelope above keeps EVERYTHING and
        # each delta merge pays an O(table) candidate scan.  If the
        # table carries a bloom index on the merge key, probe every
        # candidate's filter: a file none of the touch keys maybe-hits
        # provably contains no match (no false negatives) and is kept
        # by reference unread.  Driver-sized batches (at most
        # _BLOOM_PRUNE_MAX_KEYS distinct keys, limit-probed like the
        # delete-inline path) hash once per key and test per file --
        # all metadata-plane.  BIGGER batches -- the normal delta size
        # at 100 TB -- do NOT lose the prune: the probe goes
        # executor-side (_bloom_prune_distributed), keeping the driver
        # at O(files).  ``bloom_probe`` forces a path ("driver" past
        # the cap degrades to no bloom prune rather than collecting an
        # unbounded key set).  Any hiccup (unhashable key type,
        # missing entries) just leaves the candidate list as-is.
        bloom_mode = None
        if candidates:
            try:
                bidx = self._bloom_index(
                    self._commit_doc(base_version), key
                )
                if bidx is not None:
                    use_dist = bloom_probe == "distributed"
                    probe = None
                    if not use_dist:
                        # callers that already collected the (bounded)
                        # key batch to plan their probe mode pass it in
                        # -- saves one job per driver-mode probe; a
                        # caller that probed and OVERFLOWED says so
                        # (skip_probe) and the oversized sentinel
                        # routes straight to the distributed path
                        probe = (
                            probe_rows
                            if probe_rows is not None
                            else (
                                [None] * (_BLOOM_PRUNE_MAX_KEYS + 1)
                                if skip_probe
                                else touch_keys.limit(
                                    _BLOOM_PRUNE_MAX_KEYS + 1
                                ).collect()
                            )
                        )
                        if len(probe) <= _BLOOM_PRUNE_MAX_KEYS:
                            if n_touch is None:
                                n_touch = sum(
                                    1 for r in probe
                                    if r["_mk"] is not None
                                )
                        elif bloom_probe != "driver":
                            use_dist = True
                    if use_dist:
                        candidates = self._bloom_prune_distributed(
                            touch_keys, candidates, bidx
                        )
                        bloom_mode = "distributed"
                    elif len(probe) <= _BLOOM_PRUNE_MAX_KEYS:
                        hashes = []
                        hashable = True
                        for r in probe:
                            if r["_mk"] is None:
                                continue
                            try:
                                hashes.append(_bloom_hashes(
                                    _normalize_probe(r["_mk"])
                                ))
                            except TypeError:
                                hashable = False
                                break
                        if hashable:
                            kept_cand = []
                            for f in candidates:
                                e = bidx.entry(os.path.basename(f))
                                if e is None:
                                    kept_cand.append(f)
                                    continue
                                buf, m_b, k_b = e
                                if _bloom_any_hit(buf, m_b, k_b, hashes):
                                    kept_cand.append(f)
                            candidates = kept_cand
                            bloom_mode = "driver"
            except TypeError:
                pass
        touch_rows = (
            probe_rows
            if probe_rows is not None
            and len(probe_rows) <= _BLOOM_PRUNE_MAX_KEYS
            else None
        )
        return candidates, bloom_mode, n_touch, touch_rows

    def _finish_merge_attempt(
        self, source: DataFrame, key: str, dk_vals: list,
        dk_df: DataFrame | None, meta: dict | None, evolve_schema: bool,
        base_version: int, snapshot_files: list[str],
        touch_keys: DataFrame, candidates: list[str],
        bloom_mode: str | None, n_touch: int | None = None,
        n_dk: int | None = None,
    ) -> dict:
        """Copy-on-write back half of :meth:`_merge_attempt`: find the
        affected files among ``candidates``, re-merge exactly their
        live rows with the source, rewrite them, carry the rest.

        Change-feed commits take the FUSED single-wide-pass write
        (r19): the rewritten files' live rows and the source are read
        ONCE, every row classified in-plan (data row / change row via
        broadcast-LocalRelation markers), and one partitioned staging
        write emits the data files and the change files together --
        the pre-r19 shape scanned the rewritten slice wide twice
        (data rewrite + change-set pre-image).  Data files carry a
        hidden all-NULL ``_change_type`` column; snapshot reads
        project to the recorded schema, which omits it."""
        snap_schema = self._snapshot_schema(base_version)
        base_doc = self._commit_doc(base_version)
        dv_map = self._dv_map(base_doc)
        mk_all: list | None = []  # matched touch keys (source + delete)
        mk_src: list | None = []  # matched SOURCE keys only
        mk_df: DataFrame | None = None  # >cap fallback: pinned (key, _s)
        if candidates:
            # DV-aware candidate scan: rows already dead by a
            # merge-on-read commit are filtered BEFORE matching, so a
            # deleted row can neither mark its file affected nor be
            # resurrected by the rewrite below.
            tagged = self._read_files(
                candidates, snap_schema, dv_map, file_col="_file"
            )
            # ONE detection collect returns distinct (file, key,
            # source-flag) triples -- the same scan+join that used to
            # return file names alone (r18 opt round).  The matched
            # keys are delta-sized (bounded by the touch-key count)
            # and are exactly what the rewrite and the change set
            # need, so collecting them here lets both classify
            # against tiny broadcast LocalRelations with zero extra
            # source evaluations.  Past _MATCHED_INLINE_MAX rows the triples
            # pin as one localCheckpoint instead (driver never holds
            # an unbounded key set) and the consumers join against it.
            matched = (
                tagged.join(
                    touch_keys, tagged[key] == F.col("_mk"), "inner"
                )
                .select(
                    "_file",
                    F.col(key).alias("_k"),
                    (
                        F.col("_s") if "_s" in touch_keys.columns
                        else F.lit(True)
                    ).alias("_s"),
                )
                .distinct()
            )
            # ALWAYS limit-probe (ADVICE r18 #2): a touch count past
            # the cap does NOT bound the matched count from below -- a
            # large source with few actual matches still comes back
            # inline, keeping the whole merge on the LocalRelation
            # fast path.  When the probe does overflow, its cost was
            # one key+file column-pruned scan of the candidates -- the
            # bulk path's own pinning scan, paid once more.
            probe = matched.limit(_MATCHED_INLINE_MAX + 1).collect()
            if len(probe) <= _MATCHED_INLINE_MAX:
                affected_base = {r["_file"] for r in probe}
                mk_all = sorted({r["_k"] for r in probe})
                mk_src = sorted({r["_k"] for r in probe if r["_s"]})
            else:
                mk_all = mk_src = None
                mk_df = matched.localCheckpoint(eager=True)
                affected_base = {
                    r["_file"]
                    for r in mk_df.select("_file").distinct().collect()
                }
        else:
            affected_base = set()
        kept = [
            f
            for f in snapshot_files
            if os.path.basename(f) not in affected_base
        ]
        rewritten = [f for f in snapshot_files if f not in kept]

        # Re-merge ONLY the affected slice; unmatched source rows (the
        # inserts) can't live in any unaffected file, so emitting them
        # here is exact and emits each exactly once.  Matched keys
        # (source AND delete -- an unmatched delete key cannot appear
        # in any file, so filtering on the matched set removes every
        # copy the old per-delete-key filter did) drop below;
        # NULL-keyed target rows pass: NULL never equals a touch key.
        # DV-aware: a rewritten file's live rows are its physical rows
        # MINUS its deletion vector -- materialized here for free (the
        # new file simply lacks them, and _maintain_dv drops the entry
        # with the file).
        affected_df = self._read_files(rewritten, snap_schema, dv_map)
        if evolve_schema:
            have = set(affected_df.columns)
            for fld in source.schema.fields:
                if fld.name not in have:
                    affected_df = affected_df.withColumn(
                        fld.name, F.lit(None).cast(fld.dataType)
                    )
        pre_image = affected_df  # pre-delete-filter slice, for the feed
        # Source projection onto the (possibly evolved) table layout.
        # Strict mode: the schema is a contract -- a source missing a
        # table column fails HERE, deterministically, with the columns
        # named (also the deterministic outcome when a rebase finds a
        # concurrently-widened schema: Delta's MetadataChanged
        # analogue).  Evolve mode: table columns absent from the
        # source NULL-fill, so two concurrent evolving merges rebase
        # cleanly into the union schema.
        missing = [
            f for f in affected_df.schema.fields
            if f.name not in set(source.columns)
        ]
        if missing and not evolve_schema:
            raise ValueError(
                f"merge source is missing table column(s) "
                f"{[f.name for f in missing]} of {self.path} (snapshot "
                f"v{base_version}); pass evolve_schema=True to NULL-fill, "
                "or align the source"
            )
        src_proj = source
        for fld in missing:
            src_proj = src_proj.withColumn(
                fld.name, F.lit(None).cast(fld.dataType)
            )
        # Matched keys take the source row WHOLESALE, so the merged
        # output is exactly (affected live rows whose key matches no
        # source key) + (every source row): an anti-join + union.  The
        # pre-r18 merge_upsert form (full-outer join) shuffled AND
        # sorted the whole affected slice by key -- table-scale on a
        # spread-key delta -- to attach a delta-sized source; full
        # outer is not broadcastable, so no planner could save it.
        # With the anti-join the affected slice streams
        # scan->filter->write with ZERO exchange (guide §2.4/§3.1).
        # Row set: NULL-keyed target rows never equal a source key
        # (anti keeps them, as full-outer did); NULL-keyed source rows
        # always insert; a matched key emits the source row exactly
        # once per source row.  On a DUPLICATE-key target this
        # collapses the matched set to the source row -- the mor
        # path's documented behaviour, and merge-maintained tables are
        # unique-keyed by contract (see :meth:`merge`).
        src_aligned = src_proj.select(affected_df.columns)
        new_version = base_version + 1
        feed = self._change_feed_enabled(base_version)
        # Broadcast gate for the bulk-path key sets: count bound AND a
        # byte estimate (ADVICE r18 #1 -- wide string keys could push
        # a count-gated build side past driver/broadcast limits); the
        # width estimate comes from the snapshot's own footer stats.
        small_keys = (
            n_touch is not None
            and n_touch <= _MERGE_BROADCAST_MAX_KEYS
            and n_touch * self._key_width_estimate(base_version, key)
            <= _MERGE_BROADCAST_MAX_BYTES
        )
        # coalesce target: no shuffle, caps the per-merge output file
        # count at the rewritten-file count -- FLOORED (ADVICE r18 #5)
        # so an insert-heavy merge that touches one file does not
        # collapse the whole source evaluation and write into a single
        # task.  coalesce(n) with n >= input partitions is identity,
        # so the floor only widens genuinely narrow plans.
        n_out = max(
            len(rewritten),
            min(8, self.spark.sparkContext.defaultParallelism),
        )
        chg_files: list[str] = []

        def _key_rel(vals: list, name: str) -> DataFrame:
            # driver-held keys as a broadcast LocalRelation, NOT an
            # isin() literal (a multi-thousand-literal In costs ~2 s
            # of driver planning PER ACTION on this box)
            from pyspark.sql.types import StructField, StructType

            return F.broadcast(self.spark.createDataFrame(
                [(v,) for v in vals],
                StructType(
                    [StructField(name, affected_df.schema[key].dataType)]
                ),
            ))

        if not rewritten:
            # Nothing matched (insert-only batch, or the range/bloom
            # prune refuted every file): the merged output IS the
            # source -- a single source evaluation, no join, exactly
            # the pre-r18 cost.  LSH appends (files_probed == 0 by
            # design) live entirely on this path.  With the feed on,
            # the change set is source-only (all inserts) -- there is
            # no wide slice to fuse with, so the separate delta-sized
            # change write stays.
            merged = src_aligned
            if feed:
                chg_files = self._write_change_files(
                    self._change_set(
                        pre_image, src_aligned, key, dk_vals, dk_df,
                        small_keys=small_keys,
                        sk_vals=mk_src,
                        sk_df=(
                            mk_df.filter(F.col("_s"))
                            .select(F.col("_k").alias("_sk"))
                            .distinct()
                            if mk_df is not None
                            else None
                        ),
                    ),
                    new_version,
                )
            new_files, new_stats, out_dir = self._write_data_files(
                merged, new_version
            )
            data_schema_json = merged.schema.jsonValue()
        elif feed:
            # FUSED single-wide-pass CDC write (r19, VERDICT r18 next
            # #1; guide §1.2 "remove unnecessary passes"): the pre-r19
            # shape read the rewritten files' live rows WIDE twice --
            # once for the data rewrite (anti-join + union) and once
            # for the change-set pre-image -- plus one source
            # evaluation in each.  Here every pre row classifies in
            # ONE pass against broadcast-LocalRelation markers:
            #   key in matched-source set      -> update_preimage
            #   key in delete set (not source) -> delete
            #   otherwise                      -> carried data row
            #     (_change_type NULL)
            # and each source row emits its data copy and its change
            # copy (update_postimage when matched, else insert) from
            # ONE evaluation via an explode over the two change types.
            # A single partitionBy-disposition staging write then
            # splits data files from change files (same task writes
            # both).  Row sets are exactly the old ones: for a live
            # row of a rewritten file, "key matched" == "key in
            # matched-source or delete set" (an unmatched delete key
            # cannot appear in any candidate file), and NULL keys
            # match no marker -- they stay data rows, as the anti-join
            # kept them.  Data files carry _change_type all-NULL;
            # snapshot reads project to the recorded schema (which
            # omits it), so readers never see the column.
            ct = "_change_type"
            # ONE marker relation serves both sides (pre's _in_src and
            # the source's matched test are the same key set), so the
            # plan carries a single broadcast build the second join
            # reuses (ReusedExchange) -- one fewer AQE broadcast job.
            if mk_src is not None:
                skm = _key_rel(mk_src, "_ck").withColumn(
                    "_in_src", F.lit(True)
                )
            else:
                skm = (
                    mk_df.filter(F.col("_s"))
                    .select(F.col("_k").alias("_ck"))
                    .distinct()
                    .withColumn("_in_src", F.lit(True))
                )
                if small_keys:
                    skm = F.broadcast(skm)
            tagged = affected_df.join(
                skm, affected_df[key] == skm["_ck"], "left"
            )
            if dk_vals:
                dkm = _key_rel(dk_vals, "_dck").withColumn(
                    "_in_del", F.lit(True)
                )
                tagged = tagged.join(
                    dkm, tagged[key] == F.col("_dck"), "left"
                )
                is_del = F.col("_in_del")
            elif dk_df is not None:
                dkm = dk_df.select(
                    F.col("_dk").alias("_dck")
                ).withColumn("_in_del", F.lit(True))
                if small_keys:
                    dkm = F.broadcast(dkm)
                tagged = tagged.join(
                    dkm, tagged[key] == F.col("_dck"), "left"
                )
                is_del = F.col("_in_del")
            else:
                is_del = F.lit(False)
            cols = affected_df.columns
            pre_branch = tagged.select(
                *cols,
                F.when(F.col("_in_src"), F.lit("update_preimage"))
                .when(is_del, F.lit("delete"))
                .alias(ct),
            )
            src_tagged = src_aligned.join(
                skm, src_aligned[key] == skm["_ck"], "left"
            )
            src_branch = src_tagged.select(
                *cols,
                F.explode(F.array(
                    F.lit(None).cast("string"),
                    F.when(
                        skm["_in_src"], F.lit("update_postimage")
                    ).otherwise(F.lit("insert")),
                )).alias(ct),
            )
            fused = pre_branch.unionByName(src_branch).coalesce(n_out)
            new_files, new_stats, out_dir, chg_files = (
                self._write_fused_cdc_files(fused, ct, new_version)
            )
            # recorded snapshot schema OMITS the hidden _change_type
            # column the fused data files physically carry
            from pyspark.sql.types import StructType

            data_schema_json = StructType(
                [f for f in fused.schema.fields if f.name != ct]
            ).jsonValue()
        else:
            if mk_all is not None:
                # Collected matched keys ride as a broadcast
                # LocalRelation anti-join -- data, not expression (the
                # isin() planning hazard above).  The LocalRelation
                # build is driver rows already in hand, so the join
                # re-evaluates no source subtree.  NULL-keyed target
                # rows survive the anti (NULL never equals a key).
                merged = affected_df.join(
                    _key_rel(mk_all, "_mkk"),
                    affected_df[key] == F.col("_mkk"),
                    "left_anti",
                ).unionByName(src_aligned).coalesce(n_out)
            else:
                # Bulk path (> _MATCHED_INLINE_MAX matched keys):
                # anti-join against the pinned matched-key set;
                # broadcast when the planner proved the touch keys
                # bounded (count AND bytes), else AQE decides.
                mk_keys = mk_df.select(F.col("_k").alias("_mkk")).distinct()
                if small_keys:
                    mk_keys = F.broadcast(mk_keys)
                merged = affected_df.join(
                    mk_keys, affected_df[key] == F.col("_mkk"), "left_anti"
                ).unionByName(src_aligned).coalesce(n_out)
            new_files, new_stats, out_dir = self._write_data_files(
                merged, new_version
            )
            data_schema_json = merged.schema.jsonValue()
        try:
            return self._commit(
                new_version,
                kept + new_files,
                "merge",
                {
                    "parent": base_version,
                    "files_kept": len(kept),
                    "files_rewritten": len(rewritten),
                    "files_written": len(new_files),
                    **(
                        {"change_files": chg_files} if chg_files else {}
                    ),
                    # skipping-on-merge evidence: candidate files the
                    # match scan actually READ (vs len(files) total),
                    # and which bloom-probe path pruned them.
                    "files_probed": len(candidates),
                    **(
                        {"bloom_probe": bloom_mode}
                        if bloom_mode is not None
                        else {}
                    ),
                    "delete_keys": (
                        n_dk
                        if n_dk is not None
                        else (
                            dk_df.count()
                            if dk_df is not None
                            else len(dk_vals)
                        )
                    ),
                    **({"app_meta": meta} if meta is not None else {}),
                    "file_stats": {
                        **{
                            b: base_doc["file_stats"][b]
                            for b in map(os.path.basename, kept)
                        },
                        **new_stats,
                    },
                    "schema": data_schema_json,
                },
            )
        except ConcurrentWriteError:
            # Loser cleanup: its data/change dirs were never referenced
            # by any commit, so removing them cannot affect readers.
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            if chg_files:
                shutil.rmtree(
                    os.path.dirname(chg_files[0]), ignore_errors=True
                )
            # Classify for the rebase loop: overlap between what we
            # meant to rewrite and what the winner(s) removed means
            # possibly the same keys -- not safely rebasable.
            head = self.version()
            removed = set(self.files(base_version)) - set(self.files(head))
            clash = removed & set(rewritten)
            if clash:
                raise ConcurrentMergeConflictError(
                    f"concurrent commit rewrote {len(clash)} file(s) this "
                    f"merge also targets (e.g. "
                    f"{os.path.basename(sorted(clash)[0])}); possible "
                    "write-write key overlap -- not rebasing"
                ) from None
            raise
        finally:
            # eager release of the bulk-path pinned matched keys
            # (ADVICE r18 #3); every consumer ran in the writes above
            if mk_df is not None:
                _release_pinned(mk_df)

    def _dv_positions_for(
        self,
        candidates: list[str],
        schema,
        dv_map: dict,
        key: str,
        touch_keys: DataFrame,
        want_rows: bool = False,
    ) -> tuple[dict, int, "DataFrame | None"]:
        """Dead-position bitmaps for every LIVE row of ``candidates``
        whose ``key`` appears in ``touch_keys``: ``({basename: int
        bitmap}, rows matched, matched rows or None)``.  Already-dead
        rows are filtered first (idempotent re-deletes mark nothing
        and count nothing).  The per-file position lists aggregate
        executor-side; only the O(files) grouped rows come back, each
        sized by ITS dead-row count, guarded by ``_DV_COLLECT_MAX`` --
        a mutation past that is bulk-sized and must use the
        copy-on-write strategy, which this error says verbatim.

        ``want_rows`` (r19): pin the matched rows WIDE (all snapshot
        columns) instead of just (file, position), and return the
        pinned frame -- the change-feed writers read their pre-image
        straight from it, so a CDF dv-delete / mor merge scans the
        candidate files ONCE (the position harvest) instead of twice
        (position harvest narrow + change pre-image wide)."""
        if not candidates:
            return {}, 0, None
        live = self._read_files(
            candidates, schema, dv_map, file_col="__dvf", pos_col="__dvp"
        )
        # Pinned eagerly so the cap-guard count and the grouped collect
        # below share ONE scan+join of the candidate files (r18: the
        # two actions otherwise each re-read every candidate -- the
        # dominant cost of a DV mutation is exactly that scan).  The
        # pinned frame is (file id, row position) -- plus the full row
        # under want_rows -- bounded in the legitimate case by the
        # delta's match count.
        names = [f.name for f in schema.fields]
        sel = (names if want_rows else []) + ["__dvf", "__dvp"]
        matched = (
            live.join(touch_keys, live[key] == F.col("_mk"), "left_semi")
            .select(*sel)
            .localCheckpoint(eager=True)
        )
        try:
            n = matched.count()
            if n > _DV_COLLECT_MAX:
                raise ValueError(
                    f"{n} matched rows exceed the deletion-vector cap "
                    f"({_DV_COLLECT_MAX}): this mutation is bulk-sized -- "
                    "use strategy='cow' / mode='cow' (file rewrite) instead"
                )
            updates: dict = {}
            if n:
                for r in (
                    matched.groupBy("__dvf")
                    .agg(F.collect_list("__dvp").alias("ps"))
                    .collect()
                ):
                    updates[r["__dvf"]] = _dv_build(int(p) for p in r["ps"])
        except Exception:
            _release_pinned(matched)
            raise
        if not want_rows:
            _release_pinned(matched)
            return updates, n, None
        # want_rows: the caller owns the pinned frame (and its eager
        # release -- ADVICE r18 #3) until its change write has run
        return updates, n, matched

    def _finish_merge_mor(
        self, source: DataFrame, key: str, dk_vals: list,
        dk_df: DataFrame | None, meta: dict | None, evolve_schema: bool,
        base_version: int, snapshot_files: list[str],
        touch_keys: DataFrame, candidates: list[str],
        bloom_mode: str | None, n_touch: int | None = None,
        n_dk: int | None = None,
    ) -> dict:
        """Merge-on-read back half of :meth:`_merge_attempt`: instead
        of rewriting affected files, their matched/deleted LIVE rows
        become dead positions in the deletion-vector sidecar and every
        source row lands in new files -- zero data files rewritten.
        Deletes are implicit: a delete key is a touch key, so its
        positions die, and (matching cow's contract) a key in both
        ``deletes`` and ``source`` ends up as the source row.  With
        the change feed on, the position harvest pins the matched rows
        wide and the change pre-image reads from the pinned frame --
        one candidate scan per CDF mor merge, not two (r19)."""
        snap_schema = self._snapshot_schema(base_version)
        base_doc = self._commit_doc(base_version)
        dv_map = self._dv_map(base_doc)
        feed = self._change_feed_enabled(base_version)
        # Same projection contract as cow: strict mode demands every
        # table column (deterministic error, names included); evolve
        # mode NULL-fills both directions and appends source-only
        # columns to the schema.  Snapshot columns cast to their
        # recorded types -- the coercion cow gets implicitly from its
        # full-outer CASE projection.
        src_cols = set(source.columns)
        missing = [f for f in snap_schema.fields if f.name not in src_cols]
        if missing and not evolve_schema:
            raise ValueError(
                f"merge source is missing table column(s) "
                f"{[f.name for f in missing]} of {self.path} (snapshot "
                f"v{base_version}); pass evolve_schema=True to NULL-fill, "
                "or align the source"
            )
        src_proj = source
        for fld in missing:
            src_proj = src_proj.withColumn(
                fld.name, F.lit(None).cast(fld.dataType)
            )
        out_cols = [
            F.col(f.name).cast(f.dataType).alias(f.name)
            for f in snap_schema.fields
        ]
        if evolve_schema:
            snap_names = {f.name for f in snap_schema.fields}
            out_cols += [
                F.col(f.name)
                for f in source.schema.fields
                if f.name not in snap_names
            ]
        out_df = src_proj.select(*out_cols)
        dv_updates, rows_matched, pre_pinned = self._dv_positions_for(
            candidates, snap_schema, dv_map, key, touch_keys,
            want_rows=feed,
        )
        new_version = base_version + 1
        chg_files: list[str] = []
        if feed:
            # pre-image = the matched live rows already pinned by the
            # position harvest (delta-sized); no second candidate scan
            pre = (
                pre_pinned
                if pre_pinned is not None
                else self._read_files([], snap_schema, None)
            )
            try:
                chg_files = self._write_change_files(
                    self._change_set(
                        pre, out_df, key, dk_vals, dk_df,
                        small_keys=(
                            n_touch is not None
                            and n_touch <= _MERGE_BROADCAST_MAX_KEYS
                        ),
                    ),
                    new_version,
                )
            finally:
                if pre_pinned is not None:
                    _release_pinned(pre_pinned)
        new_files, new_stats, out_dir = self._write_data_files(
            out_df, new_version
        )
        try:
            return self._commit(
                new_version,
                snapshot_files + new_files,
                "merge",
                {
                    "parent": base_version,
                    "strategy": "mor",
                    "files_kept": len(snapshot_files),
                    "files_rewritten": 0,
                    "files_written": len(new_files),
                    "files_probed": len(candidates),
                    "dv_files_updated": len(dv_updates),
                    "rows_dv_deleted": rows_matched,
                    **(
                        {"change_files": chg_files} if chg_files else {}
                    ),
                    **(
                        {"bloom_probe": bloom_mode}
                        if bloom_mode is not None
                        else {}
                    ),
                    "delete_keys": (
                        n_dk
                        if n_dk is not None
                        else (
                            dk_df.count()
                            if dk_df is not None
                            else len(dk_vals)
                        )
                    ),
                    **({"app_meta": meta} if meta is not None else {}),
                    "file_stats": {
                        **base_doc["file_stats"],
                        **new_stats,
                    },
                    "schema": out_df.schema.jsonValue(),
                    "dv_updates": dv_updates,
                },
            )
        except (ConcurrentWriteError, ValueError) as exc:
            import shutil

            shutil.rmtree(out_dir, ignore_errors=True)
            if chg_files:
                shutil.rmtree(
                    os.path.dirname(chg_files[0]), ignore_errors=True
                )
            if isinstance(exc, ValueError):
                # The DV accumulation guardrail refused the commit
                # inside _commit/_maintain_dv -- nothing was linked,
                # but this path had already written data/change files;
                # without the cleanup above every cap refusal would
                # leak an orphan changes/ dir into the raw
                # committed_only=False feed (ADVICE r16).
                raise
            # A winner that REMOVED a file we marked positions in
            # rewrote it -- our positions describe a dead file and its
            # keys may overlap ours: surface, don't rebase.  Winners
            # that only added/rewrote other files rebase fine (the
            # retry recomputes everything from the new head).
            head = self.version()
            removed = {
                os.path.basename(f)
                for f in set(self.files(base_version)) - set(self.files(head))
            }
            clash = removed & set(dv_updates)
            if clash:
                raise ConcurrentMergeConflictError(
                    f"concurrent commit rewrote {len(clash)} file(s) this "
                    f"mor-merge marked rows dead in (e.g. "
                    f"{sorted(clash)[0]}); possible write-write key "
                    "overlap -- not rebasing"
                ) from None
            raise

    def _change_set(
        self,
        pre: DataFrame,
        src_proj: DataFrame | None,
        key: str,
        dk_vals: list,
        dk_df: DataFrame | None,
        small_keys: bool = False,
        sk_vals: list | None = None,
        sk_df: DataFrame | None = None,
    ) -> DataFrame:
        """The row-level change set of one mutation commit (Delta CDF
        row types): ``pre`` is the affected slice's LIVE pre-image
        rows, ``src_proj`` the source projected onto the output
        layout (None for a pure delete).

        * pre row whose key is a source key  -> ``update_preimage``
        * pre row whose key is a delete key (and not a source key --
          delete-then-upsert ends as an update) -> ``delete``
        * source row whose key exists in the affected slice
          -> ``update_postimage`` (matched keys only ever live there)
        * any other source row -> ``insert`` (NULL keys always insert)

        Untouched rows of rewritten files classify into none of these
        and drop out -- a copy-on-write rewrite is not a logical
        change.

        Plan shape (r18): the pre-image slice is the REWRITTEN FILES'
        live rows -- table-scale, not delta-scale -- and the r17 form
        referenced it in four subtrees (preimage semi-join, delete
        semi+anti, and the tk distinct twice), so one CDF merge
        re-scanned every rewritten file four times wide.  Both sides
        now classify in ONE pass each -- a single when()-typed
        projection per side -- leaving one wide scan of pre and one
        scan of the source.  Row set is identical: the key sets are
        distinct (markers never duplicate) and the when() precedence
        mirrors the old union semantics (a key in both source and
        deletes feeds as an update, NULL keys match nothing and
        classify as before).

        ``sk_vals`` / ``sk_df`` (r18, opt round): the MATCHED source
        keys -- source keys that exist among the pre-image's live rows
        -- which the cow merge's detection collect produces for free
        (driver literals below ``_MATCHED_INLINE_MAX``, one pinned
        frame past it).  They replace two table-scale subtrees at
        once: the ``_in_src`` marker only ever fires on a matched key
        (a pre row whose key is a source key IS a match), and tk --
        the postimage/insert classifier, pre keys ∩ source keys -- is
        exactly this set, so the old table-scale distinct of every
        rewritten-file key (and even the key-only pre scan) disappears
        entirely.  With collected keys the whole change set is scan
        -> broadcast-LocalRelation markers -> union.  ``small_keys``: the
        caller proved the key sets broadcast-sized, so the fallback
        marker joins carry an explicit broadcast hint and the wide pre
        scan streams through with no exchange."""
        ct = "_change_type"
        if src_proj is None:
            return pre.withColumn(ct, F.lit("delete"))
        cols = pre.columns

        def _b(df: DataFrame) -> DataFrame:
            return F.broadcast(df) if small_keys else df

        def _rel(vals: list, name: str) -> DataFrame:
            # driver-held keys as a LocalRelation, NOT an isin()
            # literal: a multi-thousand-literal In costs seconds of
            # planning per action (see _finish_merge_attempt), while
            # a broadcast join against local rows keeps the plan
            # small and evaluates no subtree.
            from pyspark.sql.types import StructField, StructType

            return F.broadcast(
                self.spark.createDataFrame(
                    [(v,) for v in vals],
                    StructType(
                        [StructField(name, src_proj.schema[key].dataType)]
                    ),
                )
            )

        # pre side: carried rows classify to NULL and drop out
        tagged = pre
        if sk_vals is not None:
            sk = _rel(sk_vals, "_ck").withColumn("_in_src", F.lit(True))
        else:
            sk = (
                sk_df.withColumnRenamed("_sk", "_ck")
                if sk_df is not None
                else src_proj.select(F.col(key).alias("_ck")).distinct()
            ).withColumn("_in_src", F.lit(True))
            sk = _b(sk)
        tagged = tagged.join(sk, pre[key] == F.col("_ck"), "left")
        in_src = F.col("_in_src")
        if dk_vals:
            dkm = _rel(dk_vals, "_dck").withColumn("_in_del", F.lit(True))
            tagged = tagged.join(
                dkm, tagged[key] == F.col("_dck"), "left"
            )
            is_del = F.col("_in_del")
        elif dk_df is not None:
            dkm = dk_df.select(
                F.col("_dk").alias("_dck")
            ).withColumn("_in_del", F.lit(True))
            tagged = tagged.join(
                _b(dkm), tagged[key] == F.col("_dck"), "left"
            )
            is_del = F.col("_in_del")
        else:
            is_del = F.lit(False)
        pre_type = (
            F.when(in_src, F.lit("update_preimage"))
            .when(is_del, F.lit("delete"))
        )
        pre_part = (
            tagged.withColumn(ct, pre_type)
            .filter(F.col(ct).isNotNull())
            .select(*cols, ct)
        )
        # source side: _in_tbl(key) == key matched a live pre row
        if sk_vals is not None:
            tk = _rel(sk_vals, "_ck").withColumn("_in_tbl", F.lit(True))
        else:
            tk = (
                sk_df.withColumnRenamed("_sk", "_ck")
                if sk_df is not None
                else pre.select(F.col(key).alias("_ck")).join(
                    _b(src_proj.select(F.col(key).alias("_ck")).distinct()),
                    "_ck",
                    "left_semi",
                ).distinct()
            ).withColumn("_in_tbl", F.lit(True))
            tk = _b(tk)
        src_part = (
            src_proj.join(tk, src_proj[key] == F.col("_ck"), "left")
            .withColumn(
                ct,
                F.when(
                    F.col("_in_tbl"), F.lit("update_postimage")
                ).otherwise(F.lit("insert")),
            )
            .select(*src_proj.columns, ct)
        )
        return pre_part.unionByName(src_part, allowMissingColumns=True)

    def read_changes(
        self, from_version: int, to_version: int | None = None
    ) -> DataFrame:
        """Row-level changes between snapshots -- Delta's
        ``table_changes`` surface: the union of the change files of
        every commit in ``[from_version, to_version]`` (default: head),
        each row carrying ``_change_type`` (``insert`` /
        ``update_preimage`` / ``update_postimage`` / ``delete``) and
        ``_commit_version``.  This is what an incremental consumer
        (downstream index, replication, audit) tails instead of
        diffing snapshots -- O(changes), not O(table), per poll.

        Change data is written AT COMMIT TIME by mutation commits when
        the feed is enabled (``create(change_feed=True)``); the
        initial ``create`` commit's rows read back as ``insert``
        straight from its data files (an append-only commit needs no
        separate change files -- Delta's own optimization).
        Compaction/vacuum are layout ops: no logical change, nothing
        in the feed.  A mutation commit in range from BEFORE the feed
        was enabled raises -- the changes cannot be reconstructed.  So
        does a range whose change (or create-commit data) files
        :meth:`vacuum` removed: :class:`ChangesVacuumedError` names the
        first unreadable version (one stat per referenced file --
        delta-sized)."""
        head = self.version()
        to_v = head if to_version is None else to_version
        if from_version < 0 or to_v > head or from_version > to_v:
            raise ValueError(
                f"invalid change range [{from_version}, {to_v}] "
                f"(head is {head})"
            )
        parts: list[DataFrame] = []
        for v in range(from_version, to_v + 1):
            doc = self._commit_doc(v)
            cf = doc.get("change_files")
            refs = cf or (doc["files"] if doc["op"] == "create" else [])
            gone = [f for f in refs if not os.path.exists(f)]
            if gone:
                raise ChangesVacuumedError(
                    f"changes of version {v} of {self.path} are no longer "
                    f"readable ({gone[0]} was vacuumed); read from a "
                    "version inside the retained window"
                )
            if cf:
                parts.append(
                    self.spark.read.parquet(*cf)
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
                continue
            if doc["op"] == "create":
                df = self._read_files(
                    doc["files"], self._snapshot_schema(v), self._dv_map(doc)
                )
                parts.append(
                    df.withColumn("_change_type", F.lit("insert"))
                    .withColumn("_commit_version", F.lit(v).cast("long"))
                )
                continue
            if doc["op"] in ("merge", "delete") and not doc.get(
                "change_feed"
            ):
                raise ValueError(
                    f"version {v} of {self.path} mutated rows before the "
                    "change feed was enabled; changes from it cannot be "
                    "reconstructed (enable with create(change_feed=True))"
                )
            # compact / vacuum-era / metadata commits: no logical change
        if not parts:
            schema = self._snapshot_schema(to_v)
            return (
                self.spark.createDataFrame([], schema)
                .withColumn("_change_type", F.lit(None).cast("string"))
                .withColumn("_commit_version", F.lit(None).cast("long"))
            )
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out

    def delete(
        self,
        key: str,
        values=None,
        deletes: DataFrame | None = None,
        mode: str = "dv",
        retries: int = 0,
        meta: dict | None = None,
        bloom_probe: str | None = None,
    ) -> dict:
        """``DELETE FROM ... WHERE key IN (...)``: remove every row
        whose ``key`` is in ``values`` (a scalar or list) or in
        ``deletes`` (any frame carrying a ``key`` column).

        ``mode="dv"`` (default, merge-on-read): NO data file is
        rewritten -- matched rows are marked dead by row position in
        the commit's deletion-vector sidecar, an O(batch + positions)
        metadata commit.  At 100 TB a GDPR-style scattered delete (a
        few thousand keys spread across thousands of files) costs
        kilobytes of sidecar instead of rewriting terabytes; the
        candidate scan itself is range+bloom pruned like merge's
        (:meth:`_candidate_files`).  Dead rows stay physically present
        until :meth:`compact` materializes the vectors; every reader
        filters them by position meanwhile.  Bounded by
        ``_DV_COLLECT_MAX`` positions per commit -- bulk deletes must
        use ``mode="cow"``.

        ``mode="cow"``: delegate to :meth:`merge` with an empty source
        (rewrite the matched files without the rows -- the
        read-optimized form).

        ``retries``/``meta``/``bloom_probe``: as :meth:`merge`;
        rebase conflicts classify the same way (a concurrent rewrite
        of a file this delete marked dead raises
        :class:`ConcurrentMergeConflictError`)."""
        if mode not in ("dv", "cow"):
            raise ValueError(f"mode must be 'dv' or 'cow', got {mode!r}")
        if (values is None) == (deletes is None):
            raise ValueError("pass exactly one of values= or deletes=")
        head = self.version()
        if head < 0:
            raise FileNotFoundError(f"no CowTable at {self.path}")
        snap_schema = self._snapshot_schema(head)
        envelope = None
        probe_rows = None
        if values is not None:
            vals = (
                list(values)
                if isinstance(values, (list, tuple, set))
                else [values]
            )
            ktype = snap_schema[key].dataType
            from pyspark.sql.types import StructField, StructType

            deletes = self.spark.createDataFrame(
                [(v,) for v in vals],
                StructType([StructField(key, ktype)]),
            )
            # The touch keys are IN HAND as driver literals: derive the
            # range-prune envelope and the (bounded) bloom probe set
            # here instead of running one agg job + one limit-collect
            # job to re-learn them from the frame just built (r18;
            # the GDPR point-delete shape pays two fewer jobs per
            # commit).  NULLs never match a join, so dropping them
            # keeps the envelope exact.
            nn = [v for v in vals if v is not None]
            if nn:
                try:
                    envelope = (min(nn), max(nn))
                except TypeError:
                    envelope = None  # mixed/unorderable: fall back
            if len(nn) <= _BLOOM_PRUNE_MAX_KEYS:
                probe_rows = [{"_mk": v} for v in nn]
        if mode == "cow":
            empty = self.spark.createDataFrame([], snap_schema)
            return self.merge(
                empty, key, deletes=deletes, retries=retries, meta=meta,
                bloom_probe=bloom_probe, touch_envelope=envelope,
            )
        dk = (
            deletes.select(F.col(key).alias("_mk"))
            .filter(F.col("_mk").isNotNull())
            .distinct()
        )
        attempt = 0
        while True:
            try:
                return self._delete_dv_attempt(
                    key, dk, meta, bloom_probe,
                    touch_envelope=envelope, probe_rows=probe_rows,
                )
            except ConcurrentMergeConflictError:
                raise
            except ConcurrentWriteError:
                if attempt >= retries:
                    raise
                attempt += 1

    def _delete_dv_attempt(
        self, key: str, touch_keys: DataFrame, meta: dict | None,
        bloom_probe: str | None,
        touch_envelope: tuple | None = None,
        probe_rows: list | None = None,
    ) -> dict:
        """One optimistic attempt of a deletion-vector delete: prune
        candidates, harvest matched live positions, commit the SAME
        file list with an updated sidecar -- nothing is written to the
        data plane at all (files_written = 0)."""
        base_version = self.version()
        snapshot_files = self.files(base_version)
        candidates, bloom_mode, _, touch_rows = self._candidate_files(
            touch_keys, key, base_version, bloom_probe,
            probe_rows=probe_rows, touch_envelope=touch_envelope,
        )
        snap_schema = self._snapshot_schema(base_version)
        if touch_rows is not None:
            # bounded batch: the collected keys become a broadcast
            # LocalRelation, so the position harvest never re-evaluates
            # the caller's deletes plan (r19)
            from pyspark.sql.types import StructField, StructType

            touch_keys = F.broadcast(self.spark.createDataFrame(
                [(r["_mk"],) for r in touch_rows],
                StructType([
                    StructField("_mk", snap_schema[key].dataType),
                ]),
            ))
        base_doc = self._commit_doc(base_version)
        dv_map = self._dv_map(base_doc)
        feed = self._change_feed_enabled(base_version)
        dv_updates, rows_deleted, pre_pinned = self._dv_positions_for(
            candidates, snap_schema, dv_map, key, touch_keys,
            want_rows=feed,
        )
        chg_files: list[str] = []
        if feed:
            # pre-image straight from the pinned matched rows: a CDF
            # dv delete scans its candidates ONCE, not twice (r19)
            pre = (
                pre_pinned
                if pre_pinned is not None
                else self._read_files([], snap_schema, None)
            )
            try:
                chg_files = self._write_change_files(
                    self._change_set(pre, None, key, [], None),
                    base_version + 1,
                )
            finally:
                if pre_pinned is not None:
                    _release_pinned(pre_pinned)
        try:
            return self._commit(
                base_version + 1,
                snapshot_files,
                "delete",
                {
                    "parent": base_version,
                    "strategy": "dv",
                    "files_kept": len(snapshot_files),
                    "files_rewritten": 0,
                    "files_written": 0,
                    "files_probed": len(candidates),
                    "dv_files_updated": len(dv_updates),
                    "rows_dv_deleted": rows_deleted,
                    **(
                        {"change_files": chg_files} if chg_files else {}
                    ),
                    **(
                        {"bloom_probe": bloom_mode}
                        if bloom_mode is not None
                        else {}
                    ),
                    **({"app_meta": meta} if meta is not None else {}),
                    "file_stats": base_doc["file_stats"],
                    "schema": snap_schema.jsonValue(),
                    "dv_updates": dv_updates,
                },
            )
        except (ConcurrentWriteError, ValueError) as exc:
            if chg_files:
                import shutil

                shutil.rmtree(
                    os.path.dirname(chg_files[0]), ignore_errors=True
                )
            if isinstance(exc, ValueError):
                # DV-cap refusal (accumulation guardrail): no commit
                # was linked; the change files written above must not
                # outlive it as orphans (ADVICE r16).
                raise
            head = self.version()
            removed = {
                os.path.basename(f)
                for f in set(self.files(base_version)) - set(self.files(head))
            }
            clash = removed & set(dv_updates)
            if clash:
                raise ConcurrentMergeConflictError(
                    f"concurrent commit rewrote {len(clash)} file(s) this "
                    f"delete marked rows dead in (e.g. {sorted(clash)[0]}); "
                    "possible write-write key overlap -- not rebasing"
                ) from None
            raise
