"""Snapshot-log table format: parquet data files + JSON commit log.

An Iceberg-style (minimal) transactional table, implemented from scratch
because this sandbox's pyspark 4.1.2 ships neither Iceberg nor Delta jars —
and because the north rule makes the commit protocol itself a deliverable.

Layout::

    {root}/
      data/b{batch:06d}/l0/part-*.parquet           # delta (L0) data files
      data/compact{v:06d}/__bucket={k}/part-*.parquet  # compacted (L1) files
      _log/v{version:08d}-ckpt.json                 # checkpoint manifests
      _log/v{version:08d}-delta.json                # delta manifests

Two file levels, as in an LSM tree's L0 and L1 (O'Neil et al. 1996): a
delta commit writes one file per write task, its rows sorted by bucket
and then key, so a small commit writes one file per table however many
buckets it touches; compaction, rebucket and purge write one file per
bucket. A delta generation may therefore be one file spanning many
buckets; compaction writes one file per bucket. The files map lists each
live file exactly once, under the lowest bucket it covers, and a
spanning file records the exact set of buckets it holds rows of
(``file_stats[f]["__buckets__"]``, sorted inclusive runs), so bucket
pruning, change tracking and compaction planning stay per bucket. A file
with no recorded set covers exactly the bucket it is listed under.

DELTA-ENCODED LOG (the 100 TB-critical part): a commit writes a manifest
whose size is O(batch), never O(table):

* a **delta** manifest records only what the commit changed —
  ``files_add`` / ``files_replace`` (bucket → file lists), the committed
  batch id, the changed per-bucket offsets, the new watermark, and THIS
  batch's lineage/metrics;
* every ``checkpoint_every``-th version (and v0) is a **checkpoint**: the
  full materialized state (complete file listing, schema, committed
  high-watermark + exception set, all offsets), so a reader replays at
  most ``checkpoint_every`` deltas — Iceberg's snapshot/manifest-list
  shape. Readers cache the materialized state in-process and replay only
  newer deltas on a version bump.

Materialized state (what ``latest()`` / ``manifest_at()`` return):

* ``version``        — monotonically increasing snapshot id
* ``batch_id``       — the micro-batch whose commit produced it
* ``files``          — {bucket(str): [relative parquet paths]}, each
  live file once, under the lowest bucket it covers
* ``schema``         — target schema (json) at this version (schema registry)
* ``data_schema``    — the schema the live data files hold (json): every
  commit records what it wrote (``written_schema``) and the state merges
  it into the live files' record (union of columns and of nested struct
  fields, widened types), so a
  read passes it to parquet and launches no schema-merge job; None when
  some commit could not say what it wrote, or two files' types do not
  widen on read
* ``committed_hwm``  / ``committed_extra`` — applied batch ids as a
  contiguous high-watermark plus out-of-order exceptions (bounded — the
  unbounded sorted id list of the round-2 format grew O(commits))
* ``watermark_seq``  — max seq_no applied (resume offset)
* ``offsets``        — per-bucket max applied seq_no (per-partition resume)

Per-batch lineage/metrics live in the manifest that committed the batch
(side-channel history, off the hot path): ``batch_lineage(id)`` scans the
log newest-first, ``lineage_log()`` / ``metrics_log()`` merge the whole
retained history — O(log), maintenance/debug accessors by design.

Commit protocol: write the manifest to ``_log/.tmp.*`` then hard-link it
to its final versioned name — an atomic no-clobber create, so the version
slot is a compare-and-swap. Readers list ``_log`` and take the max version;
a crashed writer leaves only a tmp file, which is invisible. Re-applying an
already-committed ``batch_id`` is a no-op (checked before any data write).
Single-writer by default (lease); with ``concurrent_writers=True`` append
commits race the CAS optimistically and rebase on loss (Iceberg's commit
model), while replacing commits validate interleavings and raise
``ConcurrentWriteConflict`` when their plan went stale.

This replaces the reference's staging-dir + ``Path.replace`` publish
(reference: src/OMOP_MEDS/pre_meds.py:334-383) and its ``.done``/resume
markers (pre_meds.py:74-79,176-189,315-317) with a single versioned log.

Scale notes (100 TB design):

* Data is hash-bucketed by key (``pmod(xxhash64(repo, path), n_buckets)``).
  A micro-batch only appends (merge-on-read), and its file count follows
  its size, not ``n_buckets``, so per-batch write amplification is
  bounded by the batch, not the table. At 100 TB you raise ``n_buckets``
  (e.g. 16k) so a bucket stays a few GB; commit cost stays O(batch) in
  manifest bytes because only the commit's own files (and their bucket
  sets) are written.
* The manifest drives partition pruning: reading N buckets touches exactly
  the files that hold rows of them (a spanning file is filtered to the
  asked-for buckets); no directory listing of the whole table.
* Compaction is incremental: a hot bucket's state is merged; the other
  buckets that the delta files holding it also hold are split — those
  files' rows for them become one per-bucket file each, beside their
  untouched older files (``compact``). Its cost is the hot buckets' state
  plus the rows of the retired delta files, not the state of every bucket
  those deltas touched.

Merge rule (``merge``, table state recorded in ``_table.json`` like
``key_cols``): how the generations of a key reduce to one row, in reads,
lookups, compaction and rebucket (``SnapshotTable._reduce``). ``"lww"``
(the default) keeps the row with the greatest (``seq_no``, tiebreak) —
tombstones included. ``"sum"`` adds every column other than the key,
``op`` and ``seq_no`` (each sum cast back to its column's type; a key
whose sums are all zero drops out), so a commit can append a signed
per-key delta as a generation of its own — the aggregation merge engine
of LSM lakehouse tables (Apache Paimon's ``merge-engine =
aggregation``). The DML whose meaning is last-writer-wins (``restore``,
``delete_where``, ``purge_keys``, ``purge_where``, ``commit_merged``)
raises on a sum table.
"""

from __future__ import annotations

import bisect
import functools
import json
import operator
import os
import re
import tempfile
import time
import uuid
import warnings
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__bucket"

# Maintenance commits (restore) take batch ids from a namespace disjoint
# from the WAL tail's plan positions (0..n-1): defaulting to
# max(committed)+1 would STEAL the id of the source's next batch, which
# exactly-once resume would then skip as already applied. One id per
# maintenance commit parks in committed_extra (bounded: one entry each).
MAINT_BATCH_BASE = 1 << 40

#: generation depth at which a bucket is compacted: ``CDCRunner`` and the
#: incremental views fold their tables' hot buckets at this cadence
COMPACT_EVERY = 8

#: ``file_stats`` key under which a delta (L0) file records the exact set
#: of buckets it holds rows of, as sorted inclusive runs (``_runs``)
BUCKETS_STAT = "__buckets__"

#: how the generations of a key reduce to one row (``SnapshotTable._reduce``)
MERGE_RULES = ("lww", "sum")

#: ``spark.sql.files.maxPartitionBytes``' own default, for a session that
#: leaves it unset
_DEFAULT_SPLIT = "128m"

_LOG_RE = re.compile(r"^v(\d{8})-(ckpt|delta)\.json$")


class SnapshotVersionClash(RuntimeError):
    """Internal: another writer published this version first (the atomic
    no-clobber manifest create failed). ``_publish`` catches it and rebases;
    it escapes only when rebase is impossible or retries are exhausted."""


class ConcurrentWriteConflict(RuntimeError):
    """A concurrent commit touched state this commit's plan depends on —
    a replaced bucket gained files, or the bucket layout changed — so a
    blind rebase would drop rows. The caller must re-plan from the new
    head (Iceberg's validation-failure semantics): re-run ``compact``/
    ``rebucket``/``restore``, which read fresh state by construction."""


def _pid_alive(pid: int) -> bool:
    """Best-effort liveness probe for the writer lease (same host only)."""
    try:
        os.kill(int(pid), 0)
        return True
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    except (ValueError, OverflowError, TypeError):
        return False


def bucket_expr(key_cols: list[str], n_buckets: int) -> F.Column:
    """Deterministic hash bucket of the key — xxhash64 is JVM-side, stable."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(n_buckets)).cast("int")


_P1, _P2, _P3, _P4, _P5 = (0x9E3779B185EBCA87, 0xC2B2AE3D27D4EB4F,
                           0x165667B19E3779F9, 0x85EBCA77C2B2AE63,
                           0x27D4EB2F165667C5)
_M64 = (1 << 64) - 1


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _xxh_round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def _xxh64(data: bytes, seed: int) -> int:
    """XXH64 of ``data`` (unsigned 64-bit seed and result) — the digest
    Spark's ``xxhash64`` chains column by column."""
    n, i = len(data), 0
    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            for j in range(4):
                v[j] = _xxh_round(v[j], int.from_bytes(data[i:i + 8], "little"))
                i += 8
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _xxh_round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h ^= _xxh_round(0, int.from_bytes(data[i:i + 8], "little"))
        h = (_rotl(h, 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h ^= int.from_bytes(data[i:i + 4], "little") * _P1 & _M64
        h = (_rotl(h, 23) * _P2 + _P3) & _M64
        i += 4
    for b in data[i:]:
        h ^= b * _P5 & _M64
        h = _rotl(h, 11) * _P1 & _M64
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


# value range in bits of the types Spark hashes as an integer: bigint as
# an 8-byte long, the rest (boolean as 0/1) as a 4-byte int
_INT_BITS = {"boolean": 1, "tinyint": 8, "smallint": 16, "int": 32,
             "bigint": 64}


def spark_xxhash64(values: list, types: list[str]) -> int | None:
    """Spark's ``xxhash64(*cols)`` (seed 42, signed result) of one row of
    literals, computed in Python — or None when a value's Python type does
    not match its Spark type (``types``: simple type strings) exactly, so
    only Spark's own cast can say what it hashes to. Strings hash their
    UTF-8 bytes; boolean/tinyint/smallint/int a 4-byte and bigint an
    8-byte little-endian integer; nulls are skipped."""
    h = 42
    for v, t in zip(values, types):
        if v is None:
            continue
        if t == "string" and isinstance(v, str):
            data = v.encode("utf-8")
        elif t in _INT_BITS and isinstance(v, int) and (
                isinstance(v, bool) == (t == "boolean")):
            bits = _INT_BITS[t]
            if bits > 1 and not -(1 << (bits - 1)) <= v < 1 << (bits - 1):
                return None
            data = int(v).to_bytes(8 if bits == 64 else 4, "little", signed=True)
        else:
            return None
        h = _xxh64(data, h)
    return h - (1 << 64) if h >> 63 else h


def zorder_value(quantized: list[F.Column], bits: int = 16) -> F.Column:
    """Interleave the low ``bits`` bits of each quantized column into one
    Z-value (Morton code): sorting by it clusters rows so that CONTIGUOUS
    runs have bounded ranges in EVERY input dimension at once — the
    multi-column generalization of lexicographic clustering, where only
    the leading column's ranges tighten. Pure Column bit algebra (one
    codegen projection, no shuffle); callers quantize each column to
    [0, 2^bits) first (min/max scaling — see ``compact(cluster_mode=
    'zorder')``).

    The interleaved width is capped at 63 bits total (the long sign bit
    must stay clear or top-range rows sort FIRST; Java shifts are mod 64,
    so wider widths would alias onto low positions). With k columns each
    contributes ``63 // k`` bits — the LOW quantization bits are dropped,
    keeping the most-significant ones, so the cap only coarsens the grid."""
    k = len(quantized)
    eff = min(bits, 63 // k)  # j*k+i < eff*k <= 63: sign bit never set
    drop = bits - eff
    z = F.lit(0).cast("long")
    for j in range(eff):
        for i, q in enumerate(quantized):
            bit = F.shiftright(q.cast("long"), j + drop).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, j * k + i))
    return z


#: manifest Bloom filters (Parquet-bloom / Iceberg-puffin analogue):
#: 2048 bits (256 B, ~344 B base64 in the manifest) per column per file,
#: k=4 double-hashed probes — ~1% false-positive rate at 256 distinct
#: values per file, ~5% at 512. Sized for the one-file-per-bucket layout.
BLOOM_BITS = 2048
BLOOM_K = 4
BLOOM_WORDS = BLOOM_BITS // 64


def _bloom_pos_exprs(col) -> list[F.Column]:
    """Per-row bit positions via double hashing: pos_i = (h1 + i*h2) mod m
    with both base hashes pre-reduced mod m so the sum never overflows
    (ANSI mode throws on long overflow). The value is hashed through
    CAST(string) so write side (column) and probe side (literal) agree on
    representation regardless of the column's native type."""
    c = (F.col(col) if isinstance(col, str) else col).cast("string")
    h1 = F.pmod(F.xxhash64(c), F.lit(BLOOM_BITS))
    h2 = F.pmod(F.xxhash64(c, F.lit(1337)), F.lit(BLOOM_BITS))
    return [F.pmod(h1 + F.lit(i) * h2, F.lit(BLOOM_BITS)) for i in range(BLOOM_K)]


def _bloom_word_expr(positions: list[F.Column], w: int) -> F.Column:
    """The 64-bit word ``w`` of a row's Bloom contribution — OR-folded by
    ``bit_or`` in a map-side-combining aggregate."""
    acc = F.lit(0).cast("long")
    for p in positions:
        in_w = (p >= w * 64) & (p < (w + 1) * 64)
        # F.shiftleft only accepts a literal shift; the SQL function takes
        # a Column — call it directly
        bit = F.call_function("shiftleft", F.lit(1).cast("long"),
                              (p - w * 64).cast("int"))
        acc = acc.bitwiseOR(
            F.when(in_w, bit).otherwise(F.lit(0).cast("long")))
    return acc


def _bloom_excludes(b64: str | None, positions: list[int]) -> bool:
    """True when the file's Bloom filter PROVES the probed value is absent
    (any probe bit unset). Missing filter = never exclude (lossless).

    Bit layout: little-endian words, so global bit p lives at byte p>>3,
    bit p&7.

    >>> import base64
    >>> bits = bytearray(BLOOM_BITS // 8)
    >>> for p in (3, 100, 700, 2000): bits[p >> 3] |= 1 << (p & 7)
    >>> b64 = base64.b64encode(bytes(bits)).decode()
    >>> _bloom_excludes(b64, [3, 100, 700, 2000])
    False
    >>> _bloom_excludes(b64, [3, 100, 701, 2000])
    True
    >>> _bloom_excludes(None, [3])
    False
    """
    if not b64:
        return False
    import base64

    bits = base64.b64decode(b64)
    return any(not (bits[p >> 3] >> (p & 7)) & 1 for p in positions)


def _empty_state() -> dict:
    return {
        "version": -1,
        "batch_id": -1,
        "files": {},
        "file_stats": {},
        "schema": None,
        "data_schema": None,
        "committed_hwm": -1,
        "committed_extra": [],
        "watermark_seq": -1,
        "offsets": {},
        "committed_at": None,
    }


# parquet integer types a read widens to any wider one (both of Spark's
# parquet readers promote int32 to int64 and float to double on read)
_INT_RANK = {"byte": 1, "short": 2, "integer": 3, "long": 4}


def _read_type(a, b):
    """The type one parquet read can read columns of types ``a`` and
    ``b`` (Spark schema JSON) as, or None when neither widens to the
    other on read. Nested types merge member-wise: a struct takes ``a``'s
    fields in order, then ``b``'s new ones (both parquet readers null-fill
    a struct field a file lacks, also inside arrays and maps), arrays
    merge their elements, maps need equal keys and merge their values,
    and nullability is OR-ed.

    >>> _read_type("integer", "long"), _read_type("float", "double")
    ('long', 'double')
    >>> _read_type("integer", "string") is None
    True
    >>> _read_type({"type": "array", "elementType": "integer", "containsNull": False},
    ...            {"type": "array", "elementType": "long", "containsNull": True})
    {'type': 'array', 'elementType': 'long', 'containsNull': True}
    >>> f = lambda n, t: {"metadata": {}, "name": n, "nullable": False, "type": t}
    >>> s = _read_type({"type": "struct", "fields": [f("a", "integer")]},
    ...                {"type": "struct", "fields": [f("b", "string"), f("a", "long")]})
    >>> [(g["name"], g["type"], g["nullable"]) for g in s["fields"]]
    [('a', 'long', False), ('b', 'string', True)]
    >>> m = lambda k, v: {"type": "map", "keyType": k, "valueType": v,
    ...                   "valueContainsNull": True}
    >>> _read_type(m("string", "integer"), m("string", "long"))["valueType"]
    'long'
    >>> _read_type(m("string", "long"), m("integer", "long")) is None
    True
    """
    if a == b:
        return a
    if isinstance(a, str) and isinstance(b, str):
        if a in _INT_RANK and b in _INT_RANK:
            return a if _INT_RANK[a] > _INT_RANK[b] else b
        if {a, b} == {"float", "double"}:
            return "double"
        return None
    if not (isinstance(a, dict) and isinstance(b, dict)) or a["type"] != b["type"]:
        return None
    if a["type"] == "struct":
        fa = {f["name"]: f for f in a["fields"]}
        fb = {f["name"]: f for f in b["fields"]}
        fields = []
        for name in {**fa, **fb}:  # a's order, then b's new ones
            f, g = fa.get(name), fb.get(name)
            if f is None or g is None:  # one side's files lack it
                fields.append({**(f or g), "nullable": True})
                continue
            t = _read_type(f["type"], g["type"])
            if t is None:
                return None
            fields.append({**f, "type": t,
                           "nullable": f["nullable"] or g["nullable"]})
        return {**a, "fields": fields}
    if a["type"] == "array":
        t = _read_type(a["elementType"], b["elementType"])
        return None if t is None else {
            **a, "elementType": t,
            "containsNull": a["containsNull"] or b["containsNull"]}
    if a["type"] == "map" and a["keyType"] == b["keyType"]:
        t = _read_type(a["valueType"], b["valueType"])
        return None if t is None else {
            **a, "valueType": t,
            "valueContainsNull": a["valueContainsNull"] or b["valueContainsNull"]}
    return None


def _merge_schemas(a: str | None, b: str | None) -> str | None:
    """Union of two recorded file schemas (Spark schema JSON): ``a``'s
    columns in order, then ``b``'s new ones, each shared column at the
    type that reads both. None when either is unknown or a shared
    column's types do not widen on read.

    >>> i = '{"fields":[{"metadata":{},"name":"k","nullable":true,"type":"integer"}],"type":"struct"}'
    >>> l = i.replace('"integer"', '"long"')
    >>> s = l.replace('"k"', '"s"').replace('"long"', '"string"')
    >>> [(f["name"], f["type"]) for f in json.loads(_merge_schemas(i, l))["fields"]]
    [('k', 'long')]
    >>> [f["name"] for f in json.loads(_merge_schemas(i, s))["fields"]]
    ['k', 's']
    >>> _merge_schemas(s.replace('"s"', '"k"'), i) is None
    True
    """
    if a is None or b is None:
        return None
    if a == b:
        return a
    t = _read_type(json.loads(a), json.loads(b))
    return None if t is None else json.dumps(t, separators=(",", ":"),
                                             sort_keys=True)


def _file_schema(df: DataFrame) -> str:
    """The schema reads use for the parquet files a write of ``df``
    leaves: without the bucket column (``partitionBy`` keeps it out of
    per-bucket files; a delta file stores it, but reads re-derive it from
    the keys), and with every column nullable, as a parquet read reports
    it."""
    from pyspark.sql.types import StructField, StructType

    return StructType([StructField(f.name, f.dataType, True, f.metadata)
                       for f in df.schema.fields if f.name != BUCKET_COL]).json()


def _parquet_reader(spark: SparkSession, schema_json: str | None):
    """A reader for data files whose schema was recorded at commit: with
    it, parquet reads the files (widening older ones, null-filling columns
    they lack) without a schema-merge job. Files with no record fall back
    to ``mergeSchema``, which runs that job."""
    if schema_json is None:
        return spark.read.option("mergeSchema", "true")
    from pyspark.sql.types import StructType

    return spark.read.schema(StructType.fromJson(json.loads(schema_json)))


def _stat_json(v):
    """JSON-safe encoding of a parquet footer min/max value that preserves
    ORDER under the same encoding (so pruning can compare the encoded
    bounds against an encoded predicate literal). Naive ISO-8601 strings
    sort chronologically, so datetimes encode as ``isoformat()``.

    >>> _stat_json(7), _stat_json(2.5), _stat_json("ab")
    (7, 2.5, 'ab')
    >>> from datetime import datetime
    >>> _stat_json(datetime(2024, 1, 2, 3, 4, 5))
    '2024-01-02T03:04:05'
    >>> _stat_json(b"raw") is None      # unsupported type: no stat recorded
    True
    """
    import datetime as _dt

    if isinstance(v, bool) or v is None:
        return None  # booleans prune nothing useful; None = no stat
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    return None


def _stats_overlap(bounds, lo, hi) -> bool:
    """True when a file whose column spans ``bounds = [min, max]`` may hold
    rows in ``[lo, hi]`` (either side None = unbounded). Conservative: any
    missing or incomparable bound keeps the file.

    >>> _stats_overlap([10, 20], 15, None), _stats_overlap([10, 20], 21, None)
    (True, False)
    >>> _stats_overlap([10, 20], None, 9), _stats_overlap(None, 0, 1)
    (False, True)
    >>> _stats_overlap([10, 20], "a", None)   # incomparable: keep
    True
    """
    if not bounds:
        return True
    fmin, fmax = bounds
    try:
        if lo is not None and fmax is not None and fmax < lo:
            return False
        if hi is not None and fmin is not None and fmin > hi:
            return False
    except TypeError:
        return True
    return True


def _absorb(hwm: int, extra: set[int], batch_id: int) -> tuple[int, set[int]]:
    """Add a batch id to the (high-watermark, exception-set) representation,
    folding the exception set back into the watermark when it becomes
    contiguous — the set stays bounded by commit out-of-orderness, not by
    commit count.

    >>> _absorb(2, set(), 3)           # contiguous: watermark advances
    (3, set())
    >>> _absorb(2, set(), 5)           # gap: 5 parks in the exception set
    (2, {5})
    >>> _absorb(2, {5}, 4)             # still missing 3
    (2, {4, 5})
    >>> _absorb(2, {4, 5}, 3)          # 3 arrives: whole run folds in
    (5, set())
    >>> _absorb(5, set(), 1)           # replay below the watermark: no-op
    (5, set())
    """
    if batch_id <= hwm:
        return hwm, extra
    extra = set(extra)
    extra.add(batch_id)
    while hwm + 1 in extra:
        hwm += 1
        extra.discard(hwm)
    return hwm, extra


def _byte_size(s: str) -> int:
    """A Spark byte-size setting (``"16m"``, ``"128MB"``, ``"1048576b"``,
    ``"4096"``) in bytes.

    >>> _byte_size("16m"), _byte_size("128MB"), _byte_size("4096")
    (16777216, 134217728, 4096)
    """
    m = re.fullmatch(r"\s*(\d+)\s*([kmgtp]?)b?\s*", str(s).lower())
    if m is None:
        raise ValueError(f"not a byte size: {s!r}")
    return int(m.group(1)) << (10 * " kmgtp".index(m.group(2) or " "))


def _runs(buckets) -> list[list[int]]:
    """A bucket set as sorted inclusive runs ``[[lo, hi], ...]`` — the
    form a delta file's exact bucket set takes in ``file_stats`` (one run
    when a file holds a contiguous block, one short run per bucket when it
    holds a few scattered ones).

    >>> _runs([9, 0, 1, 2, 7, 8, 2])
    [[0, 2], [7, 9]]
    """
    out: list[list[int]] = []
    for b in sorted({int(x) for x in buckets}):
        if out and out[-1][1] == b - 1:
            out[-1][1] = b
        else:
            out.append([b, b])
    return out


def _file_buckets(m: dict, b: str, f: str) -> list[int]:
    """The buckets that file ``f``, listed under bucket ``b`` of manifest
    ``m``, holds rows of: a delta (L0) file records its exact set as runs
    under ``file_stats[f][BUCKETS_STAT]``; a file with none holds exactly
    bucket ``b``.

    >>> m = {"file_stats": {"l0.parquet": {BUCKETS_STAT: [[0, 1], [5, 5]]}}}
    >>> _file_buckets(m, "0", "l0.parquet"), _file_buckets(m, "3", "b3.parquet")
    ([0, 1, 5], [3])
    """
    runs = m.get("file_stats", {}).get(f, {}).get(BUCKETS_STAT)
    if not runs:
        return [int(b)]
    return [x for lo, hi in runs for x in range(int(lo), int(hi) + 1)]


def _coverage(m: dict, buckets=None) -> dict[int, list[str]]:
    """bucket -> the live files that hold its rows, for every covered
    bucket (or only those in ``buckets``).

    >>> m = {"files": {"0": ["l0.parquet"], "2": ["b2.parquet"]},
    ...      "file_stats": {"l0.parquet": {BUCKETS_STAT: [[0, 0], [2, 3]]}}}
    >>> _coverage(m)
    {0: ['l0.parquet'], 2: ['l0.parquet', 'b2.parquet'], 3: ['l0.parquet']}
    """
    wanted = None if buckets is None else set(buckets)
    out: dict[int, list[str]] = {}
    for b, fs in m["files"].items():
        for f in fs:
            for x in _file_buckets(m, b, f):
                if wanted is None or x in wanted:
                    out.setdefault(x, []).append(f)
    return dict(sorted(out.items()))


def _generation(f: str) -> str:
    """The write that produced data file ``f``: its directory, which holds
    one generation's L0 files or one generation's file of one bucket."""
    return f.rsplit("/", 1)[0]


def _closure(m: dict, buckets) -> set[int]:
    """``buckets`` grown until every live file that holds rows of one of
    them holds rows of none outside — the buckets a rewrite must cover so
    that every spanning file it retires is rewritten whole (a spanning
    file leaves the files map only with every bucket it holds). The
    closure is the union of the overlapping delta files' exact bucket
    sets: it grows with the buckets recent deltas touched, not with the
    table.

    >>> m = {"files": {"0": ["a"], "4": ["b"], "6": ["c"], "7": ["d"]},
    ...      "file_stats": {"a": {BUCKETS_STAT: [[0, 0], [4, 4]]},
    ...                     "b": {BUCKETS_STAT: [[4, 5]]},
    ...                     "d": {BUCKETS_STAT: [[7, 9]]}}}
    >>> sorted(_closure(m, [0])), sorted(_closure(m, [2])), sorted(_closure(m, [6]))
    ([0, 4, 5], [2], [6])
    """
    out = set(buckets)
    spans = [s for b, fs in m["files"].items() for f in fs
             for s in [set(_file_buckets(m, b, f))] if len(s) > 1]
    grew = True
    while grew:
        grew = False
        for span in spans:
            if not span.isdisjoint(out) and not span <= out:
                out |= span
                grew = True
    return out


def _apply_delta(state: dict, d: dict) -> dict:
    """Pure-functional replay of one delta manifest onto a materialized
    state (copies the files map — never mutates ``state``, which may be the
    shared in-process cache).

    >>> s0 = _empty_state()
    >>> s1 = _apply_delta(s0, {"version": 0, "batch_id": 7, "commit": 7,
    ...                        "files_add": {"0": ["f0.parquet"]},
    ...                        "watermark_seq": 10})
    >>> s1["files"], s1["committed_hwm"], s1["watermark_seq"]
    ({'0': ['f0.parquet']}, -1, 10)
    >>> s1["committed_extra"]           # batch 7 parks until 0..6 commit
    [7]
    >>> s2 = _apply_delta(s1, {"version": 1, "batch_id": 8,
    ...                        "files_replace": {"0": []}})
    >>> s2["files"]                     # empty replace = bucket dropped
    {}
    >>> s0["files"]                     # inputs were never mutated
    {}
    >>> s3 = _apply_delta(s2, {"version": 2, "batch_id": 9,
    ...     "files_add": {"0": ["l0.parquet"]},
    ...     "file_stats": {"l0.parquet": {BUCKETS_STAT: [[0, 1], [3, 3]]}}})
    >>> s3["files"], s3["file_stats"]   # one listing, its buckets in stats
    ({'0': ['l0.parquet']}, {'l0.parquet': {'__buckets__': [[0, 1], [3, 3]]}})
    >>> _apply_delta(s3, {"version": 3, "batch_id": 9,
    ...     "files_replace": {str(b): [] for b in range(4)}})["file_stats"]
    {}
    """
    files = {b: list(fs) for b, fs in state["files"].items()}
    for b, fs in d.get("files_add", {}).items():
        files[b] = files.get(b, []) + list(fs)
    for b, fs in d.get("files_replace", {}).items():
        if fs:
            files[b] = list(fs)
        else:
            files.pop(b, None)
    # zone maps (and a spanning file's bucket set) ride along with the
    # files they describe: merge this
    # delta's per-file bounds, then keep stats only for LIVE files (replace
    # / compaction retires the old generations' stats with the files)
    file_stats = {**state.get("file_stats", {}), **d.get("file_stats", {})}
    if file_stats:
        live = {f for fs in files.values() for f in fs}
        file_stats = {f: s for f, s in file_stats.items() if f in live}
    hwm, extra = state["committed_hwm"], set(state["committed_extra"])
    if d.get("commit") is not None:
        hwm, extra = _absorb(hwm, extra, int(d["commit"]))
    # offsets are keyed by bucket id, so a layout change makes the old keys
    # meaningless — a rebucket manifest carries offsets_reset and a fresh
    # map re-keyed under its own n_buckets
    offsets = {} if d.get("offsets_reset") else dict(state["offsets"])
    for b, s in d.get("offsets", {}).items():
        offsets[str(b)] = max(int(s), int(offsets.get(str(b), -1)))
    # the live files' schema: a commit that wrote files merges its record
    # in, unless none of the earlier files stays live (rebucket, full
    # compaction), where its record is the whole of it
    data_schema = state.get("data_schema")
    if any(d.get("files_add", {}).values()) or any(
            d.get("files_replace", {}).values()):
        prior = {f for fs in state["files"].values() for f in fs}
        if any(f in prior for fs in files.values() for f in fs):
            data_schema = _merge_schemas(data_schema, d.get("written_schema"))
        else:
            data_schema = d.get("written_schema")
    out = {
        "version": d["version"],
        "batch_id": d["batch_id"],
        "files": files,
        "file_stats": file_stats,
        "schema": d.get("schema") or state["schema"],
        "data_schema": data_schema,
        "committed_hwm": hwm,
        "committed_extra": sorted(extra),
        "watermark_seq": max(int(d.get("watermark_seq", -1)), int(state["watermark_seq"])),
        "offsets": offsets,
        "committed_at": d.get("committed_at"),
    }
    # bucket layout travels with the commit log (rebucket() changes it
    # atomically at a manifest rename); legacy manifests without the field
    # inherit the prior state's layout
    nb = d.get("n_buckets", state.get("n_buckets"))
    if nb is not None:
        out["n_buckets"] = int(nb)
    return out


class SnapshotTable:
    """Transactional parquet table with a delta-encoded JSON snapshot log
    (checkpoint every ``checkpoint_every`` versions). Single-writer by
    default (lease-enforced); ``concurrent_writers=True`` enables
    optimistic concurrency for append commits — see ``__init__``.

    File layout invariant: a delta generation may be one file spanning
    many buckets; compaction writes one file per bucket. A delta commit
    writes one (L0) file per write task, rows sorted by bucket and then
    key, and records the exact set of buckets each file holds;
    ``compact``, ``rebucket`` and ``purge_*`` write one (L1) file per
    bucket, and retire a spanning file only in a commit that rewrites
    every bucket it holds. Readers resolve a bucket to the files that hold
    it and filter a spanning file's rows to the buckets asked for."""

    def __init__(self, root: str | Path, key_cols: list[str],
                 n_buckets: int | None = None, checkpoint_every: int = 16,
                 stats_cols: list[str] | None = None,
                 bloom_cols: list[str] | None = None,
                 concurrent_writers: bool = False,
                 merge: str | None = None):
        # Opt-in OPTIMISTIC CONCURRENCY (Iceberg's model): pure-append
        # delta commits skip the writer lease and race on the manifest
        # version slot (an atomic no-clobber create); a loser rebases onto
        # the new head and retries — appends always compose (the LWW
        # reduce is order-free and _apply_delta max-merges offsets/
        # watermark). Replacing commits (compact/rebucket/restore/COW)
        # still take the exclusive lease, and their publish validates that
        # no interleaved commit touched a replaced bucket — otherwise
        # ConcurrentWriteConflict, re-plan from the new head. Caveats:
        # vacuum cannot see lease-less appenders' staged-but-unpublished
        # files — run it quiesced, or pass min_age_s > max expected
        # stage-to-publish time. A rebase can also re-record a one-commit-
        # STALE schema_json when writers race a monotone schema evolution —
        # benign: key column types never evolve (key_bucket hashing is
        # unaffected), reads use ``data_schema``, which a rebase re-merges
        # from each commit's own ``written_schema``, and the next commit
        # from the newer-schema writer re-records it.
        self.concurrent_writers = bool(concurrent_writers)
        self.root = Path(root)
        self.key_cols = list(key_cols)
        self.checkpoint_every = max(1, checkpoint_every)
        if merge not in (None, *MERGE_RULES):
            raise ValueError(f"merge must be one of {MERGE_RULES}, not {merge!r}")
        (self.root / "_log").mkdir(parents=True, exist_ok=True)
        (self.root / "data").mkdir(parents=True, exist_ok=True)
        # The bucket layout is TABLE STATE, not a session parameter: a
        # process that re-opens an existing table with a different
        # n_buckets (or key order) would bucket new generations
        # differently, and read_live's per-bucket LWW reduce would then
        # emit DUPLICATE keys — silent corruption — while point lookups
        # probe the wrong bucket. Layout is therefore persisted at
        # creation (_table.json, atomic rename) and adopted on open;
        # an explicit n_buckets that contradicts the stored layout is an
        # error, and n_buckets=None means "use the stored layout"
        # (fresh tables default to 32).
        meta_path = self.root / "_table.json"
        self._cache: tuple[int, dict] | None = None  # (version, state)
        stored: dict | None = None
        if meta_path.exists():
            try:
                stored = json.loads(meta_path.read_text())
            except (OSError, ValueError):
                stored = None  # unreadable — re-stamp from the caller below
        if stored is not None:
            if list(stored.get("key_cols", [])) != self.key_cols:
                raise ValueError(
                    f"snapshot table {self.root} was created with key_cols="
                    f"{stored.get('key_cols')}, not {self.key_cols}")
            # like the layout, the merge rule decides what the stored
            # generations mean: a table written before the rule was
            # recorded merges last-writer-wins
            self.merge = stored.get("merge", "lww")
            if merge is not None and merge != self.merge:
                raise ValueError(
                    f"snapshot table {self.root} was created with merge="
                    f"{self.merge!r}, not {merge!r}")
            stored_buckets = int(stored["n_buckets"])
            # The COMMIT LOG is the layout's source of truth — rebucket()
            # publishes the new layout INSIDE its manifest, so the layout
            # change rides the atomic commit rename; _table.json is only
            # the fast mirror. A crash between manifest publish and mirror
            # rewrite leaves a stale mirror, healed here on open.
            self._cache = None
            self.n_buckets = stored_buckets  # _load_state needs no layout,
            self.stats_cols = []             # but be fully initialized
            self.bloom_cols = []
            log_buckets = (self._load_state() or {}).get("n_buckets")
            if log_buckets is not None and int(log_buckets) != stored_buckets:
                stored_buckets = int(log_buckets)
                self.n_buckets = stored_buckets
                self.stats_cols = (list(stats_cols) if stats_cols is not None
                                   else list(stored.get("stats_cols", [])))
                self.bloom_cols = (list(bloom_cols) if bloom_cols is not None
                                   else list(stored.get("bloom_cols", [])))
                self._stamp_table_meta()
            if n_buckets is not None and int(n_buckets) != stored_buckets:
                raise ValueError(
                    f"snapshot table {self.root} was created with "
                    f"n_buckets={stored_buckets}; opening with "
                    f"n_buckets={n_buckets} would corrupt the bucket "
                    f"layout (use rebucket() for a transactional rewrite)")
            self.n_buckets = stored_buckets
            # zone-map columns are ADVISORY (a file without stats is simply
            # never pruned), so unlike the bucket layout an explicit
            # override is safe — it only changes what FUTURE commits record
            self.stats_cols = (list(stats_cols) if stats_cols is not None
                               else list(stored.get("stats_cols", [])))
            self.bloom_cols = (list(bloom_cols) if bloom_cols is not None
                               else list(stored.get("bloom_cols", [])))
        else:
            self.merge = merge or "lww"
            self.n_buckets = int(n_buckets) if n_buckets is not None else 32
            self.stats_cols = list(stats_cols or [])
            self.bloom_cols = list(bloom_cols or [])
            self._stamp_table_meta()
        # NOTE: _cache is declared above, BEFORE the stored-layout branch —
        # the open-heal _load_state() there already replayed and cached the
        # full state; resetting here would force a second full log replay
        # on first use.
        self._writer_token = uuid.uuid4().hex  # per-instance writer identity

    def _stamp_table_meta(self) -> None:
        """Atomically (re)write the ``_table.json`` layout mirror. The tmp
        name must be WRITER-UNIQUE: concurrent opens of the same root (two
        lease-less writers, or plain parallel readers racing first-open)
        each stamp the mirror, and a shared fixed tmp name lets one
        writer's ``replace`` consume the file out from under the other
        (FileNotFoundError — found by the threaded-appender race test)."""
        meta_path = self.root / "_table.json"
        fd, tmp_name = tempfile.mkstemp(prefix=".tmp.meta.", dir=self.root)
        with os.fdopen(fd, "w") as f:
            json.dump({
                "format": 1, "key_cols": self.key_cols,
                "n_buckets": self.n_buckets, "merge": self.merge,
                "stats_cols": self.stats_cols,
                "bloom_cols": getattr(self, "bloom_cols", [])}, f)
        os.replace(tmp_name, meta_path)  # atomic publish, same as manifests

    # --------------------------------------------------------- writer lock
    @property
    def _lock_path(self) -> Path:
        return self.root / "_log" / "WRITER"

    def _acquire_writer(self) -> None:
        """Turn the documented single-writer ASSUMPTION into a checked
        guarantee: an ``O_CREAT|O_EXCL`` lease file pins the live writer
        process. A second LIVE process attempting to publish or vacuum gets
        a clear error instead of silently racing (vacuum's unreferenced-file
        sweep would otherwise delete a concurrent committer's staged files).

        Takeover rules (so crash-resume — a core contract — still works
        without manual cleanup): a lease held by a DEAD pid, or by this
        same pid (another in-process instance, e.g. test fixtures or a
        reader-turned-writer), is stolen silently. Cross-host writers are
        out of scope for a filesystem lease — at cluster scale this check
        moves to the catalog/lock service, same as Iceberg's commit lock.
        ``release_writer()`` drops the lease explicitly."""
        for _ in range(8):  # unlink→create race with another stealer: retry
            try:
                fd = os.open(self._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                with os.fdopen(fd, "w") as f:
                    json.dump({"pid": os.getpid(), "token": self._writer_token,
                               "acquired_at": time.time()}, f)
                return
            except FileExistsError:
                try:
                    cur = json.loads(self._lock_path.read_text())
                except (OSError, ValueError):
                    cur = None  # torn write / vanished — treat as stale
                if cur is not None:
                    if cur.get("token") == self._writer_token:
                        return  # already ours
                    pid = cur.get("pid")
                    if pid is not None and pid != os.getpid() and _pid_alive(pid):
                        raise RuntimeError(
                            f"snapshot log {self.root} is locked by live writer "
                            f"pid {pid} (since {cur.get('acquired_at')}); a second "
                            f"concurrent writer would corrupt vacuum/commit — "
                            f"stop it or release_writer() from the owner")
                # stale lease (dead pid / same pid / unreadable): take over
                try:
                    self._lock_path.unlink()
                except FileNotFoundError:
                    pass
        raise RuntimeError(
            f"snapshot log {self.root}: could not acquire writer lease "
            f"(persistent create/steal race)")

    def release_writer(self) -> None:
        """Drop this instance's writer lease (no-op if not held)."""
        try:
            cur = json.loads(self._lock_path.read_text())
        except (OSError, ValueError):
            return
        if cur.get("token") == self._writer_token:
            try:
                self._lock_path.unlink()
            except FileNotFoundError:
                pass

    # ---------------------------------------------------------------- log
    def _log_entries(self) -> list[tuple[int, str, Path]]:
        """Sorted (version, kind, path). A version present as BOTH ckpt and
        delta (vacuum's checkpoint-promotion window) resolves to the ckpt."""
        seen: dict[int, tuple[str, Path]] = {}
        for p in (self.root / "_log").iterdir():
            m = _LOG_RE.match(p.name)
            if not m:
                continue
            v, kind = int(m.group(1)), m.group(2)
            if v not in seen or kind == "ckpt":
                seen[v] = (kind, p)
        return [(v, k, p) for v, (k, p) in sorted(seen.items())]

    def _load_state(self, version: int | None = None) -> dict | None:
        entries = self._log_entries()
        if version is not None:
            if not any(v == version for v, _, _ in entries):
                return None  # vacuumed / never existed
            entries = [e for e in entries if e[0] <= version]
        if not entries:
            return None
        target = entries[-1][0]
        if version is None and self._cache is not None and self._cache[0] == target:
            return self._cache[1]
        # start from the newest checkpoint (or the in-process cache if it is
        # newer) and replay only the deltas after it
        ck_idx = max((i for i, e in enumerate(entries) if e[1] == "ckpt"), default=None)
        if ck_idx is None:
            raise RuntimeError(f"snapshot log {self.root} has no checkpoint <= v{target}")
        state = None
        start = ck_idx + 1
        if (version is None and self._cache is not None
                and entries[ck_idx][0] <= self._cache[0] < target):
            state = self._cache[1]
            start = next(i for i, e in enumerate(entries) if e[0] > self._cache[0])
        if state is None:
            state = json.loads(entries[ck_idx][2].read_text())
        for _, _, p in entries[start:]:
            state = _apply_delta(state, json.loads(p.read_text()))
        if version is None:
            self._cache = (target, state)
        return state

    def latest(self) -> dict | None:
        """Current manifest state. Returns a COPY (files map included) —
        the loader caches the materialized state in-process, and a caller
        mutating the returned dict must not poison the cache that every
        subsequent read and the next commit build on."""
        return self._copy_state(self._load_state())

    @staticmethod
    def _copy_state(m: dict | None) -> dict | None:
        if m is None:
            return None
        out = dict(m)
        out["files"] = {b: list(fs) for b, fs in m["files"].items()}
        out["file_stats"] = {f: dict(s) for f, s in m.get("file_stats", {}).items()}
        out["offsets"] = dict(m.get("offsets", {}))
        out["committed_extra"] = list(m.get("committed_extra", []))
        return out

    @property
    def version(self) -> int:
        m = self._load_state()
        return -1 if m is None else m["version"]

    def is_committed(self, batch_id: int) -> bool:
        """O(log n) exactly-once check against the bounded representation
        (binary search on the sorted exception list — no per-call set
        rebuild on the hot path)."""
        m = self._load_state()
        if m is None:
            return False
        if batch_id <= m["committed_hwm"]:
            return True
        extra = m["committed_extra"]
        i = bisect.bisect_left(extra, batch_id)
        return i < len(extra) and extra[i] == batch_id

    def committed_batches(self) -> set[int]:
        """Materialized applied-batch set — O(high-watermark); for status /
        tests. Hot paths use ``is_committed``."""
        m = self._load_state()
        if m is None:
            return set()
        return set(range(m["committed_hwm"] + 1)) | set(m["committed_extra"])

    def watermark(self) -> int:
        m = self._load_state()
        return -1 if m is None else m.get("watermark_seq", -1)

    def offsets(self) -> dict[int, int]:
        """Per-partition (key-bucket) replay offsets: bucket → max applied
        seq_no. The resume contract of the north rule: a reader that tails
        the WAL per key-partition restarts each partition from its own
        offset, not a single global watermark."""
        m = self._load_state()
        return {} if m is None else {int(b): s for b, s in m.get("offsets", {}).items()}

    def manifest_at(self, version: int) -> dict | None:
        return self._copy_state(self._load_state(version))

    # ------------------------------------------------- history accessors
    def batch_lineage(self, batch_id: int) -> dict | None:
        """Lineage recorded by the manifest that committed ``batch_id`` —
        newest-first log scan (off the hot path; None once vacuumed)."""
        key = str(batch_id)
        for _, _, p in reversed(self._log_entries()):
            lin = json.loads(p.read_text()).get("lineage") or {}
            if key in lin:
                return lin[key]
        return None

    def lineage_log(self) -> dict:
        """All retained per-batch lineage, merged across the log — O(log);
        a maintenance/debug accessor, never on the commit path."""
        out: dict = {}
        for _, _, p in self._log_entries():
            out.update(json.loads(p.read_text()).get("lineage") or {})
        return out

    def metrics_log(self) -> dict:
        out: dict = {}
        for _, _, p in self._log_entries():
            out.update(json.loads(p.read_text()).get("metrics") or {})
        return out

    def history(self, spark: SparkSession) -> DataFrame:
        """DESCRIBE-HISTORY analogue: one row per retained commit, newest
        first — version, manifest kind, committed batch, watermark, the
        buckets its added files cover and those it replaced, and the
        commit's lineage/metrics as JSON strings. Driver-
        side log scan (O(retained manifests)), a maintenance accessor."""
        rows = []
        for v, kind, p in self._log_entries():
            d = json.loads(p.read_text())
            rows.append((
                int(v), kind,
                int(d["batch_id"]) if d.get("batch_id") is not None else None,
                int(d.get("watermark_seq", -1)),
                len(_coverage({"files": d.get("files_add") or {},
                               "file_stats": d.get("file_stats") or {}})),
                len(d.get("files_replace") or {}),
                float(d["committed_at"]) if d.get("committed_at") else None,
                json.dumps(d.get("lineage") or {}),
                json.dumps(d.get("metrics") or {}),
            ))
        return spark.createDataFrame(
            list(reversed(rows)),
            "version long, kind string, batch_id long, watermark_seq long, "
            "buckets_added int, buckets_replaced int, committed_at double, "
            "lineage string, metrics string")

    def _file_rows(self, version: int | None = None,
                   ref: str | None = None) -> list[tuple] | None:
        """Driver-side rows for :meth:`files` (shared with the no-Spark
        CLI): one tuple per live data file in the snapshot, in
        ``FILES_SCHEMA`` order. Footer-only local I/O, parallelized like
        the commit's stats pass."""
        version = self._resolve_version(version, ref)
        m = self._load_state(version)
        if m is None:
            return None
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor
        stats = m.get("file_stats", {})

        def one(b: str, rel: str) -> tuple:
            p = self.root / rel
            md = pq.ParquetFile(p).metadata
            # data/{generation-tag}/{__bucket={b} | l0}/part-*.parquet
            parts = rel.split("/")
            gen = parts[1] if len(parts) > 2 and parts[0] == "data" else ""
            bs = _file_buckets(m, b, rel)
            return (bs[0], rel, gen, int(md.num_rows),
                    int(p.stat().st_size), int(md.num_row_groups),
                    json.dumps(stats.get(rel, {}), sort_keys=True), bs)

        pairs = [(b, f)
                 for b, fs in sorted(m["files"].items(), key=lambda kv: int(kv[0]))
                 for f in fs]
        if not pairs:
            return []
        with ThreadPoolExecutor(max_workers=min(16, max(1, len(pairs)))) as ex:
            return list(ex.map(lambda bf: one(*bf), pairs))

    FILES_SCHEMA = ("bucket int, path string, generation string, rows long, "
                    "bytes long, row_groups int, stats string, buckets array<int>")

    def files(self, spark: SparkSession, version: int | None = None,
              ref: str | None = None) -> DataFrame | None:
        """Iceberg ``db.table.files`` metadata-table analogue: one row per
        LIVE data file in the snapshot — the lowest bucket it covers
        (``bucket``) and all of them (``buckets``: one for a per-bucket
        file, the exact set for a delta file spanning many), generation (the
        commit or compaction tag that wrote the file), relative path,
        parquet footer row count, on-disk bytes, row-group count, and the
        file's recorded zone-map bounds as JSON. ``version=`` / ``ref=``
        time-travel exactly like :meth:`read`.

        With :meth:`history` (the ``snapshots`` analogue) this exposes the
        snapshot log as queryable DataFrames, so layout health — small-file
        pressure, per-bucket generation depth (the compaction trigger),
        byte skew across buckets — is auditable with plain ``groupBy``
        instead of bespoke tooling. Driver-side footer scan over the
        manifest's file list: O(live files) metadata I/O, a maintenance /
        observability accessor that never runs on the commit path."""
        rows = self._file_rows(version, ref)
        if rows is None:
            return None
        return spark.createDataFrame(rows, self.FILES_SCHEMA)

    PARTITIONS_SCHEMA = ("bucket int, n_files int, n_generations int, "
                         "rows long, bytes long")

    def partitions(self, spark: SparkSession, version: int | None = None,
                   ref: str | None = None) -> DataFrame | None:
        """Iceberg ``db.table.partitions`` metadata-table analogue: one row
        per bucket with the count of live files that cover it, their
        distinct generation count (the compaction-debt signal —
        ``hot_buckets`` fires off the same number), footer row total, and
        on-disk bytes. The per-bucket rollup of :meth:`files`, computed
        from the same driver-side footer scan; row/byte skew across
        buckets — the thing that decides a ``rebucket`` — reads directly
        off it. A delta file spanning several buckets counts in each, so
        ``rows``/``bytes`` are what a read of the bucket opens (their sum
        over buckets exceeds the table's until compaction splits the
        file). Time-travels like ``read``."""
        rows = self._file_rows(version, ref)
        if rows is None:
            return None
        return spark.createDataFrame(self.partition_rows(rows),
                                     self.PARTITIONS_SCHEMA)

    @staticmethod
    def partition_rows(file_rows: list[tuple]) -> list[tuple]:
        """The ``PARTITIONS_SCHEMA`` rollup of ``_file_rows`` output."""
        agg: dict[int, list] = {}
        for _b, _rel, gen, nrows, nbytes, _rg, _st, bs in file_rows:
            for b in bs:
                a = agg.setdefault(b, [0, set(), 0, 0])
                a[0] += 1
                a[1].add(gen)
                a[2] += nrows
                a[3] += nbytes
        return [(b, a[0], len(a[1]), a[2], a[3]) for b, a in sorted(agg.items())]

    def version_as_of(self, ts: float) -> int | None:
        """Timestamp time travel (Iceberg ``TIMESTAMP AS OF`` analogue):
        the largest RETAINED version whose ``committed_at`` <= ``ts``;
        None when every retained commit is newer (the asked-for instant
        predates the retention window — vacuum bounds how far back a
        wall-clock read can reach, exactly like version time travel).
        Pass the result to ``read(version=...)`` / ``files(version=...)``.
        Resolution is the commit's publish instant, so a read at ``ts``
        sees precisely the state a reader at that wall-clock moment saw."""
        best = None
        for v, _kind, p in self._log_entries():
            ca = json.loads(p.read_text()).get("committed_at")
            if ca is not None and float(ca) <= ts and (best is None or v > best):
                best = v
        return best

    # ------------------------------------------------------- tags (refs)
    @property
    def _refs_path(self) -> Path:
        return self.root / "_refs.json"

    def tags(self) -> dict[str, int]:
        """Named snapshot refs (the Iceberg tag analogue): name → pinned
        version. Tags survive vacuum — a tagged version and everything
        needed to materialize it is retained until ``drop_tag``."""
        try:
            return {str(k): int(v) for k, v in
                    json.loads(self._refs_path.read_text()).get("tags", {}).items()}
        except (OSError, ValueError):
            return {}

    def _write_refs(self, tags: dict[str, int]) -> None:
        tmp = self._refs_path.with_name(".tmp._refs.json")
        tmp.write_text(json.dumps({"format": 1, "tags": tags}))
        tmp.replace(self._refs_path)  # atomic publish, same as manifests

    def tag(self, name: str, version: int | None = None) -> int:
        """Pin ``name`` to ``version`` (default: current). The version must
        still be materializable (inside the retention window); re-tagging
        the SAME version is a no-op, moving an existing tag is an error
        (``drop_tag`` first — an audit tag that silently moves is worse
        than none). Writer-lease-guarded: tags gate vacuum's delete pass,
        so only the single writer may change them."""
        self._acquire_writer()
        v = self.version if version is None else int(version)
        if v < 0 or self._load_state(version=v) is None:
            raise ValueError(f"tag {name!r}: version {v} is not materializable "
                             "(never committed, or already vacuumed)")
        tags = self.tags()
        if name in tags and tags[name] != v:
            raise ValueError(f"tag {name!r} already pins version {tags[name]}; "
                             "drop_tag() it before re-pointing")
        tags[name] = v
        self._write_refs(tags)
        return v

    def drop_tag(self, name: str) -> bool:
        """Remove a tag (idempotent). The next vacuum may reclaim the
        version it pinned."""
        self._acquire_writer()
        tags = self.tags()
        if name not in tags:
            return False
        del tags[name]
        self._write_refs(tags)
        return True

    def _resolve_version(self, version: int | None,
                         ref: str | None) -> int | None:
        if ref is None:
            return version
        if version is not None:
            raise ValueError("pass version= or ref=, not both")
        tags = self.tags()
        if ref not in tags:
            raise KeyError(f"unknown tag {ref!r} (have: {sorted(tags)})")
        return tags[ref]

    # --------------------------------------------------------------- read
    @staticmethod
    def _between_filter(df: DataFrame, col: str, lo, hi) -> DataFrame:
        conds = []
        if lo is not None:
            conds.append(F.col(col) >= F.lit(lo))
        if hi is not None:
            conds.append(F.col(col) <= F.lit(hi))
        for c in conds:
            df = df.filter(c)
        return df

    def read(self, spark: SparkSession, buckets: list[int] | None = None,
             version: int | None = None,
             between: tuple[str, object, object] | None = None,
             ref: str | None = None,
             eq: tuple[str, object] | None = None) -> DataFrame | None:
        """Read table state (optionally only the given buckets — manifest-
        driven pruning, no directory listing). ``version`` time-travels to
        an earlier snapshot: data files are immutable and manifests are
        append-only, so every historical version stays readable until a
        ``vacuum`` retires it.

        ``between=(col, lo, hi)`` (either bound None = open) adds a range
        predicate served by the manifest's ZONE MAPS: files whose recorded
        ``col`` bounds (``stats_cols`` at commit time) cannot overlap the
        range are skipped without opening them — Iceberg-style file
        skipping, O(pruned files) less scan at any scale — and the exact
        row predicate still applies on the survivors (files with no
        recorded stats are scanned, so pruning is never lossy).

        ``ref="name"`` time-travels to a tagged snapshot (``tag()``).

        ``eq=(col, value)`` is the equality read: zone-map pruning on
        ``[value, value]`` PLUS manifest Bloom-filter skipping — files
        whose ``bloom_cols`` filter proves the value absent are never
        opened, which is the pruning high-cardinality values (commit shas,
        paths) need where min/max bounds are useless. Lossless: files with
        no recorded filter are scanned, and the exact predicate still
        applies to survivors.

        ``buckets=`` opens exactly the files that hold rows of one of
        them (a delta file records its exact bucket set); when such a file
        also holds other buckets, its rows are filtered to the asked-for
        ones, so the frame holds exactly their rows."""
        version = self._resolve_version(version, ref)
        m = self._load_state(version)
        if m is None:
            return None
        if buckets is not None and m.get("n_buckets", self.n_buckets) != self.n_buckets:
            # time travel across a rebucket: the requested ids were hashed
            # under the CURRENT layout and don't address this version's
            # buckets — fall back to a full (correct, unpruned) read
            buckets = None
        bloom_pos = None
        if eq is not None:
            if between is not None:
                raise ValueError("pass eq= or between=, not both")
            if eq[1] is None:
                raise ValueError("eq= needs a non-null probe value")
            between = (eq[0], eq[1], eq[1])
            bloom_pos = self._bloom_probe_positions(spark, eq[1])
        stats = m.get("file_stats", {})
        jlo = jhi = col = None
        if between is not None:
            col, lo, hi = between
            jlo, jhi = _stat_json(lo), _stat_json(hi)
        wanted = None if buckets is None else {int(b) for b in buckets}
        files: list[str] = []
        spill = False  # a chosen file also holds rows of other buckets
        for b, fs in m["files"].items():
            for f in fs:
                if wanted is not None:
                    held = _file_buckets(m, b, f)
                    if wanted.isdisjoint(held):
                        continue
                    spill = spill or not wanted.issuperset(held)
                fst = stats.get(f, {})
                if between is not None and not _stats_overlap(
                        fst.get(col), jlo, jhi):
                    continue
                if bloom_pos is not None and _bloom_excludes(
                        fst.get("__bloom__", {}).get(col), bloom_pos):
                    continue
                files.append(f)
        if not files:
            return None
        df = self._scan(spark, m, files, wanted if spill else None)
        if between is not None:
            df = self._between_filter(df, *between)
        return df

    def _scan(self, spark: SparkSession, m: dict, files: list[str],
              buckets=None) -> DataFrame:
        """The rows of data files ``files`` (relative paths) of manifest
        ``m``, with the bucket column, only those of ``buckets`` if given."""
        # Direct-file reads skip hive partition discovery, so the bucket
        # column is re-derived from the keys (same deterministic hash; a
        # delta file's own copy of it is not in the recorded schema).
        # A bucket's delta generations may span schema versions (merge-on-
        # read): the recorded live schema is their union, missing → null.
        df = _parquet_reader(spark, m.get("data_schema")).parquet(
            *[str(self.root / f) for f in files]).withColumn(
            # derive with the layout the MANIFEST was written under, so a
            # time-travel read across a rebucket still groups coherently
            BUCKET_COL, bucket_expr(self.key_cols, m.get("n_buckets", self.n_buckets))
        )
        if buckets is not None:
            df = df.filter(F.col(BUCKET_COL).isin(sorted(buckets)))
        return df

    def read_live(self, spark: SparkSession, buckets: list[int] | None = None,
                  op_col: str = "op", version: int | None = None,
                  between: tuple[str, object, object] | None = None,
                  ref: str | None = None,
                  eq: tuple[str, object] | None = None) -> DataFrame | None:
        """Current state minus delete tombstones (the user-facing table).

        Merge-on-read: reduces the delta generations that cover a bucket
        under the table's merge rule (``_reduce``). A delta generation may
        be one file spanning many buckets; compaction writes one file per
        bucket — either way a
        generation holds at most one row per key (delta files are
        per-batch winners, compaction files are fully reduced). FAST
        PATH: a bucket covered by exactly ONE generation needs no reduce
        at all — when every requested bucket is single-generation (the
        steady state right after compaction, or after a first load), the
        plan is scan + tombstone filter with ZERO exchanges. Otherwise the
        reduce shuffles once on the key; at 100 TB the scheduled
        compaction keeps most reads on the fast path.

        ``between=(col, lo, hi)`` filters on the REDUCED row's value.
        Zone-map file skipping applies only to SINGLE-generation buckets:
        in a multi-generation bucket an out-of-range winner file could be
        pruned and a stale in-range loser would wrongly survive, so those
        buckets scan every generation and filter AFTER the reduce. Steady
        state after compaction is all-single-generation — the pruned fast
        path — which is exactly where the 100 TB scan savings live."""
        version = self._resolve_version(version, ref)
        m = self._load_state(version)
        if m is None:
            return None
        if buckets is not None and m.get("n_buckets", self.n_buckets) != self.n_buckets:
            buckets = None  # cross-layout time travel — see read()
        if eq is not None:
            if between is not None:
                raise ValueError("pass eq= or between=, not both")
            between = (eq[0], eq[1], eq[1])  # same winner-filter semantics;
            # single-generation buckets additionally Bloom-prune via read(eq=)
        depth = {b: len({_generation(f) for f in fs})
                 for b, fs in _coverage(m, buckets).items()}
        if between is None:
            df = self.read(spark, buckets, version=version)
            if df is None:
                return None
            df = df.drop(BUCKET_COL)
            if any(d > 1 for d in depth.values()):
                df = self._reduce(df)
            return df.filter(F.col(op_col) != "D")
        single = [b for b, d in depth.items() if d == 1]
        multi = [b for b, d in depth.items() if d > 1]
        parts: list[DataFrame] = []
        if single:
            d1 = (self.read(spark, single, version=version, eq=eq)
                  if eq is not None else
                  self.read(spark, single, version=version, between=between))
            if d1 is not None:  # single-generation: rows ARE the winners
                parts.append(d1.drop(BUCKET_COL))
        if multi:
            d2 = self.read(spark, multi, version=version)
            if d2 is not None:
                parts.append(self._between_filter(
                    self._reduce(d2.drop(BUCKET_COL)), *between))
        if not parts:
            return None
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out.filter(F.col(op_col) != "D")

    def _reduce(self, df: DataFrame) -> DataFrame:
        """One row per key of ``df`` (generations of the table's rows,
        without the bucket column) under the table's merge rule: the
        greatest (``seq_no``, tiebreak) row, tombstones kept; or, on a sum
        table, every other column summed and cast back to its type, with
        ``op`` and ``seq_no`` their maxima, dropping a key whose sums are
        all zero (null counts as zero)."""
        if self.merge == "lww":
            from .operators.upsert import last_writer_wins

            tiebreak = "event_id" if "event_id" in df.columns else "seq_no"
            return last_writer_wins(df, self.key_cols, tiebreak_col=tiebreak)
        types = dict(df.dtypes)
        measures = [c for c in df.columns
                    if c not in {*self.key_cols, "op", "seq_no"}]
        out = df.groupBy(*self.key_cols).agg(
            *[F.sum(c).cast(types[c]).alias(c) for c in measures],
            *[F.max(c).alias(c) for c in ("op", "seq_no") if c in types])
        if measures:
            out = out.filter(functools.reduce(operator.or_, [
                F.coalesce(F.col(c), F.lit(0)) != 0 for c in measures]))
        return out.select(*df.columns)

    def _require_lww(self, op: str) -> None:
        """DML that replaces or deletes a key's state has no meaning on a
        sum table, where every generation adds to the key."""
        if self.merge != "lww":
            raise ValueError(
                f"{op}: table {self.root} merges by {self.merge!r}; {op} "
                f"needs a last-writer-wins table")

    def read_changes(self, spark: SparkSession, since_version: int,
                     to_version: int | None = None,
                     ignore_cow: bool = False) -> DataFrame | None:
        """Incremental change feed (Delta CDF / Iceberg incremental-scan
        analogue): the winner rows committed by every data commit in
        ``(since_version, to_version]``, annotated with ``_commit_version``
        and ``_commit_batch_id``. The scan is manifest-driven — cost is
        O(changed data in the range), never a table scan — so a downstream
        consumer (index builder, replica, feature pipeline) tails the table
        by polling ``version`` and reading only what's new.

        Rows are the per-batch LWW winners exactly as committed (CDC
        envelope intact, tombstones included as ``op = 'D'`` rows);
        a key updated in several commits of the range appears once per
        commit — consumers re-reduce with their own LWW if they need
        final-state semantics.

        Compaction versions contribute nothing (file rewrites, no logical
        change). Copy-on-write data commits (``commit_merged``) replace
        whole buckets, so their net change is not row-extractable — they
        raise unless ``ignore_cow=True`` (the merge-on-read hot path never
        produces them). Returns None when the range holds no changes.
        Raises on a range whose manifests were vacuumed away."""
        parts: list[DataFrame] = []
        for v, d in self._change_manifests(since_version, to_version):
            adds = [str(self.root / f) for fs in d.get("files_add", {}).values()
                    for f in fs]
            if (not adds and d.get("commit") is not None
                    and d.get("files_replace")):
                if ignore_cow:
                    continue
                raise ValueError(
                    f"read_changes: v{v} is a copy-on-write commit "
                    f"(batch {d['commit']}); its net change is not "
                    f"row-extractable — pass ignore_cow=True to skip")
            if not adds:
                continue  # compaction / empty batch
            parts.append(
                _parquet_reader(spark, d.get("written_schema")).parquet(*adds)
                .withColumn("_commit_version", F.lit(v))
                .withColumn("_commit_batch_id", F.lit(d["batch_id"]))
            )
        if not parts:
            return None
        out = parts[0]
        for df in parts[1:]:
            out = out.unionByName(df, allowMissingColumns=True)
        return out

    def _change_manifests(self, since_version: int,
                          to_version: int | None) -> list[tuple[int, dict]]:
        """(version, manifest) of every commit in ``(since_version,
        to_version]`` — what the change feed walks. Raises on a range
        beyond the head or one whose manifests were vacuumed away."""
        head = self.version
        to_version = head if to_version is None else to_version
        if since_version >= to_version:
            return []
        if to_version > head:
            raise ValueError(
                f"read_changes: to_version {to_version} is beyond head {head}")
        entries = [(v, p) for v, _, p in self._raw_log_entries()
                   if since_version < v <= to_version]
        # versions are contiguous by construction — a hole means vacuum
        # retired part of the range; silently skipping it would drop changes
        missing = set(range(since_version + 1, to_version + 1)) - {
            v for v, _ in entries}
        if missing:
            raise ValueError(
                f"read_changes: versions {sorted(missing)} in "
                f"({since_version}, {to_version}] are no longer in the log "
                f"(vacuumed)")
        return [(v, json.loads(p.read_text())) for v, p in entries]

    def changed_buckets(self, since_version: int,
                        to_version: int | None = None) -> list[int] | None:
        """The buckets that the files added by commits in
        ``(since_version, to_version]`` cover — where every row of
        ``read_changes`` over the same range lives (a spanning delta file
        names its exact recorded bucket set) — from the manifests alone, with
        no Spark job. None when a commit in the range was written under
        another bucket layout (a rebucket in between), whose ids do not
        address this one. Raises like ``read_changes`` on a vacuumed
        range."""
        out: set[int] = set()
        for _, d in self._change_manifests(since_version, to_version):
            if int(d.get("n_buckets", self.n_buckets)) != self.n_buckets:
                return None
            out.update(_coverage({"files": d.get("files_add", {}),
                                  "file_stats": d.get("file_stats", {})}))
        return sorted(out)

    def _raw_log_entries(self) -> list[tuple[int, str, Path]]:
        """Like ``_log_entries`` but prefers the DELTA manifest when a
        version exists as both (post-hoc checkpoint promotion keeps the
        original delta on disk) — the delta carries that commit's
        ``files_add``, which the change feed needs."""
        seen: dict[int, tuple[str, Path]] = {}
        for p in (self.root / "_log").iterdir():
            m = _LOG_RE.match(p.name)
            if not m:
                continue
            v, kind = int(m.group(1)), m.group(2)
            if v not in seen or kind == "delta":
                seen[v] = (kind, p)
        return [(v, k, p) for v, (k, p) in sorted(seen.items())]

    def key_bucket(self, spark: SparkSession, key: dict) -> int:
        """The bucket that owns ``key`` — Spark's own xxhash64, bit-for-bit.
        When the table recorded a schema, the key literals take the stored
        key column types: xxhash64(int32) != xxhash64(int64), so Python
        type inference alone would silently hash into the wrong bucket
        for narrow integer keys. String, integral and boolean keys hash on
        the driver with no Spark job (``spark_xxhash64``); any other key,
        or a literal that needs a cast to its stored type, goes through a
        one-row Spark probe. Point lookups then read 1/n_buckets of
        the table: ``t.read_live(spark, buckets=[t.key_bucket(spark,
        k)])`` plus an equality filter that parquet pushes down."""
        missing = [c for c in self.key_cols if c not in key]
        if missing:
            raise ValueError(f"key_bucket: missing key columns {missing}")
        m = self._load_state()
        if (m is None or not m.get("schema")) and any(
                isinstance(key[c], int) for c in self.key_cols):
            warnings.warn(
                "key_bucket: table has no recorded schema and the key has "
                "integer components — type inference (bigint) may hash into "
                "the wrong bucket if the stored key column is narrower",
                stacklevel=2)
        types = {}
        if m is not None and m.get("schema"):
            from pyspark.sql.types import StructType

            types = {f.name: f.dataType
                     for f in StructType.fromJson(json.loads(m["schema"])).fields}
        vals = [key[c] for c in self.key_cols]
        # no recorded type: the one createDataFrame infers (int → bigint);
        # a value of any other Python type falls through to the probe
        h = spark_xxhash64(vals, [
            types[c].simpleString() if c in types else
            "boolean" if isinstance(v, bool) else
            "bigint" if isinstance(v, int) else "string"
            for c, v in zip(self.key_cols, vals)])
        if h is not None:
            return h % self.n_buckets
        df = spark.createDataFrame([tuple(vals)], schema=self.key_cols)
        if types:
            for c in self.key_cols:
                if c in types:
                    df = df.withColumn(c, F.col(c).cast(types[c]))
        row = df.select(
            bucket_expr(self.key_cols, self.n_buckets).alias("b")).collect()
        return int(row[0]["b"])

    def lookup(self, spark: SparkSession, key: dict,
               version: int | None = None) -> DataFrame | None:
        """Manifest-pruned point lookup: scans only the key's bucket
        (1/n_buckets of the files) with the equality predicate pushed to
        parquet — the O(1)-ish primary-key read path. The key's rows of
        every generation are few, so they are reduced in ONE partition:
        a single partition already meets the aggregate's distribution,
        and the plan has no exchange (one Spark job)."""
        b = self.key_bucket(spark, key)
        df = self.read(spark, buckets=[b], version=version)
        if df is None:
            return None
        for c in self.key_cols:
            df = df.filter(F.col(c) == F.lit(key[c]))
        return (self._reduce(df.drop(BUCKET_COL).coalesce(1))
                .filter(F.col("op") != "D"))

    # -------------------------------------------------------------- write
    def commit_delta(
        self,
        delta: DataFrame,
        batch_id: int,
        touched_buckets: list[int],
        watermark_seq: int,
        lineage: dict | None = None,
        metrics: dict | None = None,
        schema_json: str | None = None,
        offsets: dict[int, int] | None = None,
    ) -> bool:
        """Merge-on-read commit with caller-supplied offsets: append the
        batch's per-key winners (with the bucket column) as one new file
        per touched bucket — NO state read, NO rewrite. Readers reduce
        across a bucket's generations (``read_live``); ``compact`` bounds
        their count. ``commit_delta_auto`` is the hot-path commit, which
        writes one file per write task instead; ``commit_merged`` remains
        the copy-on-write commit."""
        if self.is_committed(batch_id):
            return False
        # one file per bucket per generation; the repartition shuffles only
        # the per-key winners (O(keys-in-batch), usually cached upstream)
        delta = delta.repartition(max(len(touched_buckets), 1), F.col(BUCKET_COL))
        new_files = self._write_bucketed(delta, self._stage_tag(batch_id),
                                         touched_buckets)
        return self._publish(
            batch_id=batch_id, files_add=new_files,
            watermark_seq=watermark_seq, lineage=lineage,
            metrics=metrics, schema_json=schema_json, offsets=offsets,
            file_stats=self._collect_file_stats(new_files),
            written_schema=_file_schema(delta))

    def _stage_tag(self, batch_id: int) -> str:
        """Staging directory name for a batch's data files. In concurrent
        mode the writer token is appended: two writers racing the SAME
        redelivered batch must never share a staging dir (the loser's
        overwrite could delete files the winner's manifest references);
        the loser's orphaned files are fsck-reclaimable."""
        tag = f"b{batch_id:06d}"
        if self.concurrent_writers:
            tag += f"-{self._writer_token[:8]}"
        return tag

    def delta_partitions(self, spark: SparkSession) -> int:
        """The most write tasks a delta commit uses: enough for
        parallelism, no more. Also the partition count of
        ``prepartition_delta``, so a caller's cached pipeline computes its
        derived columns this wide however few files the commit writes."""
        return min(self.n_buckets, max(2, spark.sparkContext.defaultParallelism * 2))

    def write_tasks_for(self, spark: SparkSession, input_bytes: int) -> int:
        """Write tasks (= level-0 files) for a delta commit whose source
        reads ``input_bytes``: one per ``spark.sql.files.maxPartitionBytes``
        — the split size the session's scan of the same bytes uses —
        capped at ``delta_partitions()``. A tail segment or a few-MB batch
        writes one file; a multi-GB batch, a restore or a view bootstrap
        over a large table keeps the full write parallelism."""
        split = _byte_size(spark.conf.get("spark.sql.files.maxPartitionBytes",
                                          _DEFAULT_SPLIT))
        return max(1, min(self.delta_partitions(spark),
                          -(-int(input_bytes) // max(1, split))))

    @staticmethod
    def _input_bytes(df: DataFrame) -> int:
        """On-disk bytes of the files ``df`` reads (``inputFiles``; a file
        the driver cannot stat counts as 0, a frame built in memory or
        from a cache reads none) — what a delta commit sizes its write
        tasks by when the caller does not say."""
        from urllib.parse import unquote, urlparse

        total = 0
        for u in df.inputFiles():
            try:
                total += os.stat(unquote(urlparse(u).path)).st_size
            except OSError:
                pass
        return total

    def prepartition_delta(self, delta: DataFrame) -> DataFrame:
        """Bucket-align a delta for ``commit_delta_auto(prepartitioned=True)``:
        stamp THIS table's bucket id (its own ``key_cols``/``n_buckets`` —
        never a caller-side copy that a mid-lifetime ``rebucket()`` would
        silently invalidate) and hash-partition by it, ``delta_partitions()``
        wide. Callers compute derived columns and ``persist()`` AFTER this so
        the cache stores bucket-aligned partitions and the commit's own
        exchange is skipped: the commit coalesces them into its write tasks
        without a shuffle."""
        # one projection, not drop + withColumn: each DataFrame op is an
        # eager Catalyst analysis pass — serial driver latency paid per
        # micro-batch on both sides of the N→4N ratio
        out = delta.select(
            *[c for c in delta.columns if c != BUCKET_COL],
            bucket_expr(self.key_cols, self.n_buckets).alias(BUCKET_COL))
        return out.repartition(
            self.delta_partitions(out.sparkSession), F.col(BUCKET_COL))

    def commit_delta_auto(
        self,
        delta: DataFrame,
        batch_id: int,
        lineage: dict | None = None,
        metrics: dict | None = None,
        schema_json: str | None = None,
        seq_col: str = "seq_no",
        prepartitioned: bool = False,
        input_bytes: int | None = None,
    ) -> dict | None:
        """Merge-on-read commit whose bucket stats come from the WRITTEN
        parquet files instead of a separate Spark aggregation job.

        The write is the only action: one level-0 file per write task
        (``write_tasks_for(input_bytes)``; by default the bytes of the
        files ``delta`` reads), rows sorted by bucket and then key, so a
        small commit writes one file however many buckets it touches.
        Then the driver reads each new file's footer — row count and the
        ``seq_col`` column's min/max — and its bucket column (the exact
        bucket set the file holds, recorded in the manifest) to derive
        the per-bucket replay offsets and the watermark. Local I/O of a
        footer and one sorted integer column per file. This is the
        lakehouse-idiomatic shape: column statistics already paid for by
        the parquet writer double as the commit's lineage, the way Iceberg
        manifests carry per-file column bounds. Files whose footers carry
        no usable ``seq_col`` statistics (stats disabled / all-null row
        group) fall back to one tiny Spark min/max pass over just those
        files.

        Returns {n_keys, seq_min, seq_max} (None values when the batch was
        empty), or None if ``batch_id`` was already committed."""
        if self.is_committed(batch_id):
            return None
        payload = self._write_delta_with_stats(
            delta, self._stage_tag(batch_id), seq_col, schema_json,
            prepartitioned=prepartitioned, input_bytes=input_bytes)
        prev_wm = self.watermark()
        seq_min, seq_max = payload["seq_min"], payload["seq_max"]
        published = self._publish(
            batch_id=batch_id, files_add=payload["new_files"],
            watermark_seq=seq_max if seq_max is not None else prev_wm,
            lineage={**(lineage or {}), "seq_min": seq_min, "seq_max": seq_max,
                     "n_keys": payload["n_keys"]},
            metrics=metrics, schema_json=payload["schema_json"],
            offsets=payload["offsets"], file_stats=payload["file_stats"],
            written_schema=payload["written_schema"],
        )
        if not published:  # a concurrent writer committed this batch first
            return None
        return {"n_keys": payload["n_keys"], "seq_min": seq_min, "seq_max": seq_max}

    def _write_delta_with_stats(self, delta: DataFrame, dirname: str,
                                seq_col: str = "seq_no",
                                schema_json: str | None = None,
                                prepartitioned: bool = False,
                                input_bytes: int | None = None) -> dict:
        """Write a delta's level-0 parquet under ``data/{dirname}/l0`` — one
        file per write task, rows sorted by bucket and then key, the bucket
        column stored — and derive the commit payload (files listed under
        the lowest bucket each holds, their exact bucket sets, per-bucket
        offsets, watermark inputs, zone-map stats) from the WRITTEN
        files — the shared body of ``commit_delta_auto`` (immediate
        publish) and ``stage_delta`` (write-audit-publish)."""
        # always record the commit's schema: key_bucket/lookup need the key
        # column TYPES to hash bit-exactly (xxhash64(int32) != xxhash64(
        # bigint)) — without it a point lookup on an int-keyed table would
        # silently probe the wrong bucket
        written_schema = _file_schema(delta)
        if schema_json is None:
            schema_json = written_schema
        spark = delta.sparkSession
        tasks = self.write_tasks_for(
            spark, self._input_bytes(delta) if input_bytes is None else input_bytes)
        if prepartitioned:
            # caller guarantees BUCKET_COL is present and the DataFrame is
            # already hash-partitioned by it (delta_partitions()-sized) —
            # typically so a persisted upstream cache stores bucket-aligned
            # partitions and THIS write runs exchange-free from the cache:
            # coalescing whole partitions keeps each bucket in one task
            if BUCKET_COL not in delta.columns:
                raise ValueError("prepartitioned=True requires the bucket column")
            delta = delta.coalesce(tasks)
        else:
            if BUCKET_COL not in delta.columns:
                delta = delta.withColumn(
                    BUCKET_COL, bucket_expr(self.key_cols, self.n_buckets))
            delta = delta.repartition(tasks, F.col(BUCKET_COL))
        staging = self.root / "data" / dirname / "l0"
        (delta.sortWithinPartitions(BUCKET_COL, *self.key_cols)
         .write.mode("overwrite").parquet(str(staging)))

        import pyarrow.compute as pc
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def written(f: Path):
            """rows, the exact bucket set, (min, max) of ``seq_col``"""
            pf = pq.ParquetFile(f)
            md = pf.metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            held: set[int] = set()
            lo = hi = None
            for rg in range(md.num_row_groups):
                rgm = md.row_group(rg)
                if rgm.num_rows == 0:
                    continue
                st = rgm.column(idx[BUCKET_COL]).statistics
                if st is not None and st.has_min_max and st.min == st.max:
                    held.add(int(st.min))  # sorted rows: one-bucket group
                else:
                    col = pf.read_row_group(rg, columns=[BUCKET_COL]).column(0)
                    held.update(int(x) for x in pc.unique(col).to_pylist()
                                if x is not None)
                st = rgm.column(idx[seq_col]).statistics
                if st is None or not st.has_min_max:
                    continue  # stats disabled or all-null row group
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
            return f, md.num_rows, sorted(held), (lo, hi)

        files = sorted(staging.glob("*.parquet"))
        with ThreadPoolExecutor(min(16, max(1, len(files)))) as pool:
            stats = [s for s in pool.map(written, files) if s[1] > 0]
        for f in set(files) - {s[0] for s in stats}:
            f.unlink()  # an empty task's file: nothing to publish
        if prepartitioned:
            # the contract the caller asserted is cheap to CHECK from the
            # staged bucket sets — fail the commit instead of publishing a
            # corrupt manifest if the bucket ids came from a stale layout
            # (wrong n_buckets after rebucket), or if the frame was not
            # hash-partitioned on the bucket (a bucket split across the
            # commit's files)
            bad = sorted({b for _, _, held, _ in stats for b in held
                          if not 0 <= b < self.n_buckets})
            owner: dict[int, Path] = {}
            split = sorted({b for f, _, held, _ in stats for b in held
                            if owner.setdefault(b, f) != f})
            if bad or split:
                import shutil
                shutil.rmtree(staging.parent, ignore_errors=True)
                raise ValueError(
                    f"prepartitioned delta violates the bucket contract: "
                    f"out-of-range buckets {bad} (n_buckets={self.n_buckets}), "
                    f"buckets split across files {split} — use "
                    f"SnapshotTable.prepartition_delta() to build the input")
        new_files: dict[str, list[str]] = {}
        held_by: dict[str, list[int]] = {}
        offsets: dict[int, int] = {}
        n_keys, seq_min, seq_max = 0, None, None
        for f, rows, held, (lo, hi) in stats:
            if lo is None:  # rare fallback: one small Spark pass over the gap
                row = (spark.read.parquet(str(f))
                       .agg(F.min(seq_col), F.max(seq_col)).collect()[0])
                lo, hi = row[0], row[1]
            rel = str(f.relative_to(self.root))
            new_files.setdefault(str(held[0]), []).append(rel)
            held_by[rel] = held
            n_keys += rows
            if hi is not None:
                # one seq bound per file: every bucket it holds is applied
                # up to the file's max (the batch advanced the global
                # sequence frontier for all of them)
                for b in held:
                    offsets[b] = max(offsets.get(b, -1), int(hi))
                seq_min = int(lo) if seq_min is None else min(seq_min, int(lo))
                seq_max = int(hi) if seq_max is None else max(seq_max, int(hi))

        file_stats = self._merge_file_stats(
            self._collect_file_stats(new_files),
            self._bloom_stats(delta, new_files, held_by))
        for rel, held in held_by.items():
            file_stats.setdefault(rel, {})[BUCKETS_STAT] = _runs(held)
        return {"new_files": new_files, "offsets": offsets, "n_keys": n_keys,
                "seq_min": seq_min, "seq_max": seq_max,
                "schema_json": schema_json, "file_stats": file_stats,
                "written_schema": written_schema}

    # -------------------------------------------------- write-audit-publish
    def _staged_dir(self) -> Path:
        return self.root / "_staged"

    def _staged_path(self, name: str) -> Path:
        if not re.fullmatch(r"[A-Za-z0-9._-]{1,64}", name):
            raise ValueError(f"invalid stage name {name!r}")
        return self._staged_dir() / f"{name}.json"

    def stage_delta(
        self,
        delta: DataFrame,
        batch_id: int,
        name: str,
        lineage: dict | None = None,
        metrics: dict | None = None,
        schema_json: str | None = None,
        seq_col: str = "seq_no",
    ) -> dict | None:
        """Write-audit-publish, step 1 (Iceberg WAP analogue): write the
        batch's data files and a STAGED manifest under ``_staged/{name}``
        — INVISIBLE to every reader (``read*``, change feed, lookups) and
        protected from ``vacuum``/``fsck`` sweeps — so an audit job can
        validate the batch (``read_staged``) before ``publish_staged``
        makes it atomically visible, or ``drop_staged`` discards it.

        The data files land in their final location (``data/b{batch}``);
        publish is a pure manifest operation — no data is rewritten or
        moved, exactly like a normal commit's atomic rename.

        Returns the commit summary ({n_keys, seq_min, seq_max}), or None
        when ``batch_id`` is already committed (idempotent under replay).
        """
        if self.is_committed(batch_id):
            return None
        self._acquire_writer()
        p = self._staged_path(name)
        if p.exists():
            raise RuntimeError(f"stage {name!r} already exists — publish or drop it")
        payload = self._write_delta_with_stats(
            delta, f"b{batch_id:06d}", seq_col, schema_json)
        staged = {
            "name": name,
            "batch_id": batch_id,
            "base_version": self.version,
            "files_add": payload["new_files"],
            "file_stats": payload["file_stats"],
            "offsets": {str(b): int(s) for b, s in sorted(payload["offsets"].items())},
            "schema": payload["schema_json"],
            "written_schema": payload["written_schema"],
            "n_keys": payload["n_keys"],
            "seq_min": payload["seq_min"],
            "seq_max": payload["seq_max"],
            "lineage": lineage or {},
            "metrics": metrics or {},
            "staged_at": time.time(),
        }
        self._staged_dir().mkdir(exist_ok=True)
        fd, tmp = tempfile.mkstemp(prefix=".tmp.", dir=self._staged_dir())
        with os.fdopen(fd, "w") as f:
            json.dump(staged, f)
            f.flush()
            os.fsync(f.fileno())
        os.rename(tmp, p)
        return {"n_keys": payload["n_keys"], "seq_min": payload["seq_min"],
                "seq_max": payload["seq_max"]}

    def staged(self) -> dict[str, dict]:
        """Pending stages: name → summary (batch_id, base_version, n_keys,
        seq range, staged_at). Torn ``.tmp.*`` files are ignored."""
        d = self._staged_dir()
        if not d.exists():
            return {}
        out: dict[str, dict] = {}
        for p in sorted(d.glob("*.json")):
            if p.name.startswith(".tmp."):
                continue
            s = json.loads(p.read_text())
            out[s["name"]] = {k: s[k] for k in
                              ("batch_id", "base_version", "n_keys",
                               "seq_min", "seq_max", "staged_at")}
        return out

    def read_staged(self, spark: SparkSession, name: str) -> DataFrame | None:
        """Audit read: the staged batch's rows (per-key winners incl.
        tombstones, with the bucket column) — what an audit job runs its
        CHECK constraints over before ``publish_staged``."""
        p = self._staged_path(name)
        if not p.exists():
            return None
        s = json.loads(p.read_text())
        files = [str(self.root / f) for fs in s["files_add"].values() for f in fs]
        if not files:
            return None
        return _parquet_reader(spark, s.get("written_schema")).parquet(
            *files).withColumn(BUCKET_COL, bucket_expr(self.key_cols, self.n_buckets))

    def publish_staged(self, name: str, require_fast_forward: bool = True) -> bool:
        """Write-audit-publish, step 2: atomically promote the staged batch
        into the snapshot log — a pure manifest commit, identical in every
        downstream observable (change feed, offsets, lineage, zone maps)
        to a direct ``commit_delta_auto``.

        ``require_fast_forward=True`` (default) refuses when the table
        advanced past the stage's base version: merge-on-read LWW makes
        out-of-order publication CORRECT for final state (winners are
        decided by seq_no, not arrival), but an audit that validated
        against the old base may be stale — pass False to publish anyway
        (the lineage records both versions).

        Returns False (and cleans up the stage marker) when the batch was
        already committed — the crash-between-publish-and-unlink window
        heals idempotently on retry."""
        p = self._staged_path(name)
        if not p.exists():
            raise RuntimeError(f"no stage named {name!r}")
        s = json.loads(p.read_text())
        if self.is_committed(s["batch_id"]):
            p.unlink()  # crashed after _publish last time — finish cleanup
            return False
        self._acquire_writer()
        head = self.version
        if require_fast_forward and head != s["base_version"]:
            raise RuntimeError(
                f"stage {name!r} was built on v{s['base_version']} but the "
                f"table is at v{head} — re-audit and publish with "
                f"require_fast_forward=False, or drop the stage")
        seq_max = s["seq_max"]
        self._publish(
            batch_id=s["batch_id"], files_add=s["files_add"],
            watermark_seq=seq_max if seq_max is not None else self.watermark(),
            lineage={**s["lineage"], "seq_min": s["seq_min"],
                     "seq_max": seq_max, "n_keys": s["n_keys"],
                     "staged_as": name, "staged_base_version": s["base_version"],
                     "published_at_version": head + 1},
            metrics=s["metrics"] or None, schema_json=s["schema"],
            offsets={int(b): v for b, v in s["offsets"].items()},
            file_stats=s["file_stats"], written_schema=s.get("written_schema"),
        )
        p.unlink()
        return True

    def drop_staged(self, name: str) -> bool:
        """Discard a staged batch: unlink its data files and the stage
        marker. Idempotent (False when no such stage)."""
        p = self._staged_path(name)
        if not p.exists():
            return False
        self._acquire_writer()
        s = json.loads(p.read_text())
        if not self.is_committed(s["batch_id"]):
            # committed means the files are live table data — marker only
            for fs in s["files_add"].values():
                for f in fs:
                    (self.root / f).unlink(missing_ok=True)
        p.unlink()
        for d in sorted((self.root / "data").rglob("*"), reverse=True):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
        return True

    def _staged_referenced_files(self) -> set[str]:
        """Files held by pending stages — protected from vacuum/fsck sweeps
        (a staged batch is invisible but NOT an orphan)."""
        out: set[str] = set()
        for name in self.staged():
            s = json.loads(self._staged_path(name).read_text())
            for fs in s["files_add"].values():
                out.update(fs)
        return out

    def hot_buckets(self, threshold: int = COMPACT_EVERY) -> list[int]:
        """Buckets covered by at least ``threshold`` generations — the
        compaction work list. A delta generation may be one file spanning
        many buckets (it counts once in each bucket it holds), or one file
        per bucket; compaction writes one file per bucket. O(manifest), no
        data read."""
        m = self._load_state()
        if m is None:
            return []
        return [b for b, fs in _coverage(m).items()
                if len({_generation(f) for f in fs}) >= threshold]

    def compact_hot(self, spark: SparkSession,
                    threshold: int = COMPACT_EVERY) -> list[int]:
        """Compact ``hot_buckets(threshold)``; returns the hot buckets, or
        [] when none were due."""
        hot = self.hot_buckets(threshold)
        return hot if hot and self.compact(spark, buckets=hot) else []

    def compact(self, spark: SparkSession, key_reduce=None,
                buckets: list[int] | None = None,
                cluster_by: list[str] | None = None,
                cluster_mode: str = "lex",
                lineage_extra: dict | None = None) -> bool:
        """Fold a bucket's delta generations into one file (reduced under
        the table's merge rule, tombstones retained). ``buckets=None``
        compacts the whole table; passing ``hot_buckets(threshold)`` makes
        compaction INCREMENTAL: only the listed buckets are read
        (manifest-pruned) and merged;
        every other bucket's file list carries over untouched (the delta
        manifest records only the replaced buckets). A delta file leaves
        the table only in the commit that rewrites every bucket it holds,
        so none of its rows can resurface or vanish: the closure
        (``_closure``) adds every bucket that a delta file holding a
        listed bucket also holds, and those extra buckets are SPLIT, not
        merged — the retired delta files' rows for them are reduced
        into one per-bucket file that joins their older files, which are
        not read. The cost is the listed buckets' state plus the rows of
        the delta files that hold them, never the state of the buckets
        those deltas merely touched. ``key_reduce(df) -> df`` defaults to
        the table's merge rule (``_reduce``). No-op on an empty table or
        empty bucket list.

        ``cluster_by`` sorts each bucket's rows by the given columns before
        the write (Delta OPTIMIZE ZORDER's 1-D analogue): the bucket file's
        parquet ROW GROUPS then carry tight, non-overlapping min/max bounds
        on those columns, so any later ranged read (``between=`` or a plain
        pushed-down range filter) skips whole row groups inside the file —
        the intra-file complement to the manifest's per-file zone maps.
        Sorting happens within the already-bucketed partitions (no extra
        exchange beyond compaction's own repartition).

        ``cluster_mode="zorder"`` sorts by the MORTON CODE of the
        ``cluster_by`` columns instead of lexicographically (Delta
        OPTIMIZE ZORDER proper): each column is min/max-quantized to 16
        bits (one cheap agg pass) and the bits interleaved
        (``zorder_value``), so contiguous row runs — and therefore parquet
        row groups — carry tight bounds on EVERY cluster column at once,
        not just the leading one. Use it when ranged reads filter on more
        than one column; numeric/timestamp columns only (quantization is
        linear min/max — wild outliers compress the useful range)."""
        prev = self._load_state()
        if prev is None:
            return False
        live = _coverage(prev)
        want = set(live) if buckets is None else {b for b in buckets if b in live}
        target = sorted(_closure(prev, want))
        if not target:
            return False
        # the closure's other buckets are SPLIT, not merged: only the rows
        # the retired spanning files hold for them are reduced and written
        # as one per-bucket file each, beside their untouched older files
        split = [b for b in target if b not in want]
        spanning = sorted({f for b in target for f in live[b]
                           if len(_file_buckets(prev, str(b), f)) > 1})
        df = self.read(spark, buckets=sorted(want))
        if split:
            df = df.unionByName(self._scan(spark, prev, spanning, split))
        reduced = (key_reduce or self._reduce)(df.drop(BUCKET_COL)).withColumn(
            BUCKET_COL, bucket_expr(self.key_cols, self.n_buckets)
        )
        tag = f"compact{prev['version'] + 1:06d}"
        reduced = reduced.repartition(max(len(target), 1), F.col(BUCKET_COL))
        persisted = None
        if self.bloom_cols or (cluster_by and cluster_mode == "zorder"):
            # maintenance path needs >1 action over the reduce (bloom agg
            # and/or z-order bounds) — persist so it computes once; keep a
            # handle to the EXACT persisted frame (later reassignments
            # derive from it, and unpersist is per-frame)
            reduced = persisted = reduced.persist()
        if cluster_by and cluster_mode == "zorder":
            bounds = reduced.agg(*[f(F.col(c).cast("double")).alias(f"{t}_{c}")
                                   for c in cluster_by
                                   for t, f in (("mn", F.min), ("mx", F.max))]
                                 ).collect()[0]
            quant = []
            for c in cluster_by:
                mn, mx = bounds[f"mn_{c}"], bounds[f"mx_{c}"]
                span = (mx - mn) if (mn is not None and mx is not None
                                     and mx > mn) else 1.0
                base = mn if mn is not None else 0.0
                q = F.floor((F.coalesce(F.col(c).cast("double"), F.lit(base))
                             - F.lit(base)) / F.lit(span) * F.lit(65535.0))
                quant.append(F.least(F.greatest(q, F.lit(0)), F.lit(65535)))
            reduced = reduced.withColumn("__z", zorder_value(quant))
            reduced = reduced.sortWithinPartitions(BUCKET_COL, "__z").drop("__z")
        elif cluster_by:
            reduced = reduced.sortWithinPartitions(
                BUCKET_COL, *[F.col(c) for c in cluster_by])
        try:
            new_files = self._write_bucketed(reduced, tag, target)
            file_stats = self._merge_file_stats(
                self._collect_file_stats(new_files),
                self._bloom_stats(reduced, new_files))
        finally:
            if persisted is not None:
                persisted.unpersist()
        retired = set(spanning)
        replace = {str(b): new_files.get(str(b), []) for b in want}
        for b in split:
            replace[str(b)] = [f for f in prev["files"].get(str(b), [])
                               if f not in retired] + new_files.get(str(b), [])
        self._publish(batch_id=prev["batch_id"],
                      files_replace={b: replace[b] for b in map(str, target)},
                      base_version=prev["version"],
                      watermark_seq=prev.get("watermark_seq", -1),
                      lineage={"compaction": True, "buckets": target,
                               **({"split": split} if split else {}),
                               **({"cluster_by": cluster_by,
                                   "cluster_mode": cluster_mode}
                                  if cluster_by else {}),
                               **(lineage_extra or {})},
                      file_stats=file_stats,
                      add_committed=False,
                      written_schema=_file_schema(reduced))
        return True

    def rebucket(self, spark: SparkSession, new_n_buckets: int) -> bool:
        """Transactionally change the table's bucket layout — the
        maintenance op a day-one partition count needs when the table grows
        100x (at 100 TB you want thousands of buckets, not the 32 a pilot
        started with; Iceberg calls this partition-spec evolution).

        One full reduced rewrite: read every generation, reduce each key
        under the table's merge rule (tombstones retained), hash into the
        NEW bucket space, and publish a manifest that (a) replaces every
        old bucket's file list and (b) carries the new ``n_buckets`` — so
        the layout flips at the
        same atomic manifest rename as the data, and a crash anywhere
        leaves either the complete old table or the complete new one.
        ``_table.json`` is re-stamped after the publish; a crash in that
        window is healed on the next open (the log wins). Readers of
        HISTORICAL versions keep working: per-manifest layouts make
        cross-layout bucket pruning fall back to full reads.

        Logically a no-op for consumers: the change feed treats it like
        compaction (no ``files_add`` — no spurious change rows), committed
        batch ids, offsets, and the watermark all carry over. Cost is
        O(live table), the floor for a layout change; run it as rarely as
        a real lakehouse would."""
        new_n = int(new_n_buckets)
        if new_n < 1:
            raise ValueError(f"rebucket: n_buckets must be >= 1, got {new_n}")
        prev = self._load_state()
        if prev is None:
            return False
        if new_n == self.n_buckets:
            return False
        df = self.read(spark)
        if df is None:
            return False
        old_n = self.n_buckets
        reduced = self._reduce(df.drop(BUCKET_COL)).withColumn(
            BUCKET_COL, bucket_expr(self.key_cols, new_n))
        self.n_buckets = new_n  # write path targets the new layout
        try:
            tag = f"rebucket{prev['version'] + 1:06d}"
            nparts = self.delta_partitions(spark)  # n_buckets is new_n here
            new_files = self._write_bucketed(
                reduced.repartition(nparts, F.col(BUCKET_COL)),
                tag, list(range(new_n)))
            files_replace = {b: [] for b in prev["files"]}
            files_replace.update({b: fs for b, fs in new_files.items() if fs})
            # offsets are per-BUCKET resume cursors for external tailers;
            # the old layout's keys are meaningless in the new bucket
            # space, so reset and re-key. Every new non-empty bucket is
            # fully applied up to the table watermark (batches advance a
            # global seq frontier), so wm is its exact resume point;
            # never-touched buckets stay absent (tailer default -1).
            wm = int(prev.get("watermark_seq", -1))
            new_offsets = ({int(b): wm for b, fs in new_files.items() if fs}
                           if wm >= 0 else {})
            self._publish(batch_id=prev["batch_id"],
                          files_replace=files_replace,
                          base_version=prev["version"],
                          watermark_seq=wm,
                          lineage={"rebucket": {"from": old_n, "to": new_n}},
                          file_stats=self._collect_file_stats(new_files),
                          add_committed=False,
                          offsets=new_offsets, offsets_reset=True,
                          written_schema=_file_schema(reduced))
        except BaseException:
            self.n_buckets = old_n  # nothing published — stay on old layout
            raise
        self._stamp_table_meta()  # mirror heals on open if we crash here
        return True

    def restore(self, spark: SparkSession, version: int | None = None,
                ref: str | None = None, batch_id: int | None = None,
                op_col: str = "op") -> dict:
        """Restore live CONTENT to an earlier snapshot — as a FORWARD diff
        commit (git revert, not git reset). The LWW diff between the
        target version's live state and the current one becomes a normal
        CDC batch: keys whose payload changed (or were deleted) since the
        target get an upsert carrying the old payload, keys created since
        get a delete tombstone, unchanged keys emit nothing. Because the
        restore rides the ordinary commit path, the change feed shows it
        as real changes, incremental views fold it, resume/exactly-once
        bookkeeping is untouched, and history is preserved (the restored-
        FROM versions stay readable; nothing is rewritten or unlinked).

        Content semantics: the restored rows carry the target version's
        payload at ``seq_no = current watermark`` (NOT watermark+1 — that
        sequence number belongs to the source's next real event, which
        must still WIN over the restore) and a synthesized tiebreak that
        sorts above any ASCII event id and increases monotonically across
        stacked restores. Columns ADDED since the target version are
        reverted to NULL (the target state predates them); columns since
        dropped cannot be restored through the current schema and are
        skipped. Lineage records ``restore_of_version``. Caveats: a real
        event id above U+FFFF at exactly the watermark sequence, or a
        table with no ``event_id`` tiebreak column, can tie with the one
        key carrying the watermark event — both are documented edges, not
        reachable from this engine's WAL format.

        Cost: one full-outer key join of two live reads (O(live table) —
        the floor for a content diff), then the standard delta commit.
        Returns {"restored", "changed", "version"}; a no-op diff commits
        nothing."""
        self._require_lww("restore")
        from functools import reduce as _reduce
        from operator import and_ as _and

        target_v = self._resolve_version(version, ref)
        if target_v is None:
            raise ValueError("restore: pass version= or ref=")
        cur = self.read_live(spark, op_col=op_col)
        if cur is None:
            raise ValueError("restore: table has no current state")
        old = self.read_live(spark, version=target_v, op_col=op_col)
        if old is None:  # target predates any data: everything tombstones
            old = cur.limit(0)
        # schema evolution: a column added AFTER the target version exists
        # in cur but not in old — the target state is NULL there, so align
        # old with explicit null columns (they diff, and the restore commit
        # nulls them). Columns dropped since the target can't ride the
        # current schema; they are skipped.
        cur_types = dict(cur.dtypes)
        for c in cur.columns:
            if c not in old.columns:
                old = old.withColumn(c, F.lit(None).cast(cur_types[c]))
        seq_col = "seq_no"
        tiebreak_col = "event_id" if "event_id" in old.columns else seq_col
        skip = set(self.key_cols) | {seq_col, tiebreak_col, op_col, BUCKET_COL}
        pay = [c for c in cur.columns if c not in skip]
        o = old.select(
            *self.key_cols,
            *[F.col(c).alias(f"__o_{c}") for c in pay],
            F.lit(True).alias("__in_o"))
        c_ = cur.select(
            *self.key_cols,
            *[F.col(c).alias(f"__c_{c}") for c in pay],
            F.lit(True).alias("__in_c"))
        j = o.join(c_, self.key_cols, "full_outer")
        same = _reduce(_and, [F.col(f"__o_{c}").eqNullSafe(F.col(f"__c_{c}"))
                              for c in pay], F.lit(True))
        changed = j.filter(F.col("__in_o").isNull() | F.col("__in_c").isNull()
                           | ~same)
        # seq = WATERMARK, not +1: +1 is the source's next real sequence
        # number — minting it would (a) tie that future event against the
        # restore row and lose it to the synthetic tiebreak, and (b) push
        # watermark/offsets past a sequence the source hasn't emitted,
        # making a seq-resuming tailer skip it. At seq=watermark the
        # restore beats every live row (all <= watermark) via the tiebreak
        # and still loses to every future real event (> watermark).
        # A table with NO event_id tiebreak has only the seq order, so it
        # keeps the old +1 semantics (documented caveat above).
        new_seq = self.watermark() + (1 if tiebreak_col == seq_col else 0)
        tb_type = dict(old.dtypes).get(tiebreak_col, "string")
        cols = [
            *[F.col(k) for k in self.key_cols],
            *[F.col(f"__o_{c}").alias(c) for c in pay],
            F.when(F.col("__in_o").isNull(), F.lit("D"))
             .otherwise(F.lit("U")).alias(op_col),
            F.lit(new_seq).cast("long").alias(seq_col),
        ]
        if tiebreak_col != seq_col:
            # unique per key within the batch (keys are distinct post-join);
            # "\uffff" sorts above any ASCII event id, and the zero-padded
            # CURRENT VERSION makes stacked restores strictly increasing
            # (each later restore out-orders the rows of the one before)
            kh = F.xxhash64(*[F.col(k) for k in self.key_cols])
            tb = (F.concat(F.lit("\uffff"),
                           F.lit(f"{self.version + 1:020d}-"),
                           kh.cast("string"))
                  if tb_type == "string" else kh.cast(tb_type))
            cols.append(tb.alias(tiebreak_col))
        delta = changed.select(*cols)
        if delta.isEmpty():
            return {"restored": False, "changed": 0, "version": self.version}
        if batch_id is None:
            # never max(committed)+1 — that is the WAL's NEXT batch id and
            # committing it would make resume skip the real batch
            batch_id = MAINT_BATCH_BASE + self.version + 1
        stats = self.commit_delta_auto(
            delta, batch_id, lineage={"restore_of_version": target_v})
        return {"restored": True,
                "changed": int(stats["n_keys"]) if stats else 0,
                "version": self.version}

    def delete_where(self, spark: SparkSession, condition,
                     batch_id: int | None = None,
                     op_col: str = "op") -> dict:
        """Row-level soft DELETE (the DML half of GDPR erasure; see
        ``purge_where`` for the physical half). Live rows matching
        ``condition`` — a SQL boolean expression string or a Column —
        get delete tombstones through the ORDINARY commit path, so the
        change feed announces them (``op='D'`` rows carrying the deleted
        row's pre-image, Delta CDF style), incremental views fold them,
        time travel still sees the pre-delete versions, and exactly-once
        bookkeeping is untouched.

        Ordering reuses ``restore``'s convention: tombstones sit at
        ``seq_no = current watermark`` with a synthesized tiebreak above
        any real event id — string tables get a ``\\uffff``-prefixed id
        (above any ASCII, strictly increasing across stacked DML
        commits); integral tables get the TYPE'S MAX literal (a hashed
        tiebreak could be negative and silently lose to a real event for
        any key whose winner sits exactly at the watermark — the
        globally-latest key always does) — so they beat every row already
        in state but LOSE to the source's next real event — an upstream
        re-insert after the DELETE wins, which is the correct CDC
        semantics. Tables without an ``event_id`` tiebreak column use
        ``watermark+1`` (same documented caveat as restore).

        Cost: one live read + filter + standard delta commit — O(live) scan
        floor (predicate pushdown and zone maps prune where they can), and
        the WRITE is O(matched rows). Returns {"deleted", "version"}."""
        self._require_lww("delete_where")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cur = self.read_live(spark, op_col=op_col)
        if cur is None:
            return {"deleted": 0, "version": self.version}
        seq_col = "seq_no"
        tiebreak_col = "event_id" if "event_id" in cur.columns else seq_col
        new_seq = self.watermark() + (1 if tiebreak_col == seq_col else 0)
        tb_type = dict(cur.dtypes).get(tiebreak_col, "string")
        delta = (cur.filter(cond)
                 .withColumn(op_col, F.lit("D"))
                 .withColumn(seq_col, F.lit(new_seq).cast("long")))
        if tiebreak_col != seq_col:
            int_max = {"bigint": 2**63 - 1, "int": 2**31 - 1,
                       "smallint": 2**15 - 1, "tinyint": 127}
            if tb_type == "string":
                kh = F.xxhash64(*[F.col(k) for k in self.key_cols])
                tb = F.concat(F.lit("\uffff"),
                              F.lit(f"{self.version + 1:020d}-"),
                              kh.cast("string"))
            elif tb_type in int_max:
                # all tombstones of one (and any stacked) DML commit share
                # the max id \u2014 immaterial: winner choice among identical-
                # key tombstones picks a tombstone either way
                tb = F.lit(int_max[tb_type]).cast(tb_type)
            else:  # exotic tiebreak type: bump seq instead (restore's rule)
                tb = F.col(tiebreak_col)
                delta = delta.withColumn(
                    seq_col, F.lit(new_seq + 1).cast("long"))
            delta = delta.withColumn(tiebreak_col, tb)
        if delta.isEmpty():
            return {"deleted": 0, "version": self.version}
        if batch_id is None:
            batch_id = MAINT_BATCH_BASE + self.version + 1
        stats = self.commit_delta_auto(
            delta, batch_id,
            lineage={"dml": "delete",
                     "predicate": condition if isinstance(condition, str)
                     else str(condition)})
        return {"deleted": int(stats["n_keys"]) if stats else 0,
                "version": self.version}

    def purge_keys(self, spark: SparkSession, keys: DataFrame) -> dict:
        """PHYSICAL erase of the given keys from the CURRENT layout — the
        hard half of GDPR erasure. Every generation of every affected
        bucket is rewritten without the matched keys (winners, stale
        losers, and their tombstones all go); zone maps and Bloom filters
        are recomputed from the rewritten files, so point lookups stop
        seeing the key at the manifest level too.

        This is deliberately NOT a logical change: the rewrite rides the
        compaction path (``files_replace``, no ``files_add``), so the
        change feed shows nothing — announce the deletion FIRST with
        ``delete_where`` (consumers fold the tombstone), then purge, then
        ``vacuum(keep_versions=1)`` to unlink the pre-purge files and
        retire the manifests that referenced them. Until that vacuum, old
        snapshots still materialize the data (time travel is the point of
        the log); snapshot TAGS pin versions through vacuum, so a tag on a
        pre-purge version BLOCKS full erasure until dropped — callers
        doing compliance erasure should check ``tags()``.

        Write-audit-publish stages are invisible to readers but are real
        parquet on disk; purge refuses to run while any exist (publish or
        drop them first). Cost: O(affected buckets' state) — the matched
        keys' buckets only, manifest-pruned, keys broadcast into a
        left-anti join. Returns {"purged_keys", "buckets", "version"}."""
        self._require_lww("purge_keys")
        staged = self.staged()
        if staged:
            raise ValueError(
                f"purge_keys: staged commits {sorted(staged)} exist — their "
                f"files may carry the keys; publish_staged/drop_staged first")
        kdf = keys.select(*self.key_cols).distinct().persist()
        try:
            n_keys = kdf.count()
            if n_keys == 0:
                return {"purged_keys": 0, "buckets": [],
                        "version": self.version}
            affected = sorted(
                r["__b"] for r in kdf.select(
                    bucket_expr(self.key_cols, self.n_buckets).alias("__b")
                ).distinct().collect())
            def reduce(d: DataFrame) -> DataFrame:
                return self._reduce(d).join(F.broadcast(kdf), on=self.key_cols,
                                            how="left_anti")

            done = self.compact(spark, key_reduce=reduce, buckets=affected,
                                lineage_extra={"purge_keys": n_keys})
            return {"purged_keys": n_keys if done else 0,
                    "buckets": affected if done else [],
                    "version": self.version}
        finally:
            kdf.unpersist()

    def purge_where(self, spark: SparkSession, condition,
                    op_col: str = "op") -> dict:
        """``purge_keys`` by predicate: physically erase every key whose
        CURRENT live row matches ``condition`` (SQL string or Column).
        Matching is against live winners — a key whose only match is a
        stale overwritten generation is NOT selected; pass explicit keys
        to ``purge_keys`` for erase-regardless-of-current-state. See
        ``purge_keys`` for the erasure protocol (delete_where → purge →
        vacuum) and its tag/WAP caveats."""
        self._require_lww("purge_where")
        cond = F.expr(condition) if isinstance(condition, str) else condition
        cur = self.read_live(spark, op_col=op_col)
        if cur is None:
            return {"purged_keys": 0, "buckets": [], "version": self.version}
        return self.purge_keys(spark, cur.filter(cond))

    def clone_to(self, target_root: str | Path) -> "SnapshotTable":
        """Zero-copy SHALLOW CLONE (Delta ``SHALLOW CLONE`` / Iceberg
        snapshot-branch analogue): create a new table whose v0 checkpoint
        references THIS table's current data files by ABSOLUTE path — no
        data is copied, so branching a 100 TB table is one manifest write.

        The clone is a fully independent table from then on: new commits,
        compaction, and rebucket write under ITS root; compaction gradually
        rewrites bucket file lists to local files, weaning the clone off
        the source. Committed batch ids, per-bucket offsets, watermark,
        schema, and zone-map/Bloom stats all carry over, so replaying the
        source's WAL into the clone is exactly-once from the branch point.

        Maintenance safety: the clone's ``vacuum``/``fsck`` only ever
        unlink files under its OWN ``data/`` directory, so source files
        are structurally out of reach. The inverse is the standard shallow-
        clone caveat: a ``vacuum`` on the SOURCE can retire files the clone
        still references — keep a tag on the source at the branch point
        (``tag()`` pins its snapshot through vacuum) for as long as the
        clone lives.

        Target must be empty (no log entries). Returns the clone handle.
        """
        state = self._load_state()
        if state is None:
            raise RuntimeError(f"clone_to: source table {self.root} is empty")
        tgt = SnapshotTable(target_root, self.key_cols,
                            n_buckets=state.get("n_buckets", self.n_buckets),
                            checkpoint_every=self.checkpoint_every,
                            stats_cols=self.stats_cols,
                            bloom_cols=self.bloom_cols, merge=self.merge)
        if tgt._log_entries():
            raise RuntimeError(f"clone_to: target {tgt.root} is not empty")
        files_abs = {b: [str(self.root / f) for f in fs]
                     for b, fs in state["files"].items()}
        stats_abs = {str(self.root / f): st
                     for f, st in state.get("file_stats", {}).items()}
        manifest = {
            **state,
            "version": 0,
            "kind": "ckpt",
            "files": files_abs,
            "file_stats": stats_abs,
            "files_add": {},
            "files_replace": {},
            "commit": None,
            "lineage": {"clone": {"clone_of": str(self.root),
                                  "clone_source_version": state["version"]}},
            "metrics": {},
            "committed_at": time.time(),
        }
        tgt._write_manifest(manifest, 0, "ckpt")
        tgt._cache = None
        return tgt

    def _foreign_manifests(self) -> list[str]:
        """Manifest-like files under ``_log/`` that this log format does
        not recognize (any ``*.json`` not matching ``v{n}-{ckpt|delta}``,
        torn ``.tmp.*`` excluded — those are fsck's to report). Non-empty
        means the table was written by a DIFFERENT or older format: the
        referenced-set walk would silently see an empty/partial log, so a
        destructive sweep (``fsck(remove=True)``, ``vacuum``) would
        classify live data files as orphans and unlink them. Both refuse
        instead."""
        out = []
        for p in (self.root / "_log").iterdir():
            if p.name.startswith(".tmp.") or p.name == "WRITER":
                continue
            if not _LOG_RE.match(p.name):
                out.append(p.name)
        return sorted(out)

    def _guard_recognized_log(self, op: str) -> None:
        foreign = self._foreign_manifests()
        if foreign:
            raise RuntimeError(
                f"{op}: _log contains manifests this format does not "
                f"recognize ({foreign[:5]}{'...' if len(foreign) > 5 else ''}) "
                "— refusing a destructive sweep over a foreign/legacy log")
        if not self._log_entries() and any((self.root / "data").rglob("*.parquet")):
            raise RuntimeError(
                f"{op}: no recognizable manifests but data files exist — "
                "refusing to classify the whole table as orphans")

    def _referenced_files(self) -> set[str]:
        """Every data file referenced by ANY retained manifest: reset at
        checkpoints (a ckpt is full state), delta-apply otherwise — the
        same walk vacuum uses over its kept suffix, here over the whole
        retained log."""
        entries = self._log_entries()
        if not entries:
            return set()
        state = self._load_state(version=entries[0][0])
        referenced: set[str] = set(self._staged_referenced_files())
        for fs in state["files"].values():
            referenced.update(fs)
        for _, kind, p in entries[1:]:
            d = json.loads(p.read_text())
            state = d if kind == "ckpt" else _apply_delta(state, d)
            for fs in state["files"].values():
                referenced.update(fs)
        return referenced

    def fsck(self, remove: bool = False) -> dict:
        """Orphan scan: data files on disk that NO retained manifest
        references — the residue of a writer that crashed after staging
        parquet but before its atomic manifest publish (or an interrupted
        compaction/rebucket) — plus torn temp manifests (``.tmp.*`` left
        by a crash mid-publish). Readers are manifest-driven, so orphans
        never affect correctness; fsck reclaims the disk and keeps
        listings honest at scale.

        Also reports ``missing_files``: files a retained manifest
        references that are not on disk — a table that lost data (never
        removed, nothing to sweep).

        Report-only by default. ``remove=True`` unlinks them and is
        writer-lease-guarded: a LIVE concurrent writer's staged-but-
        unpublished files are indistinguishable from orphans, so only the
        single writer may sweep (same contract as vacuum).
        """
        if remove:
            self._acquire_writer()
            self._guard_recognized_log("fsck")
        referenced = self._referenced_files()
        missing = sorted(f for f in referenced if not (self.root / f).exists())
        orphans: list[str] = []
        for f in sorted((self.root / "data").rglob("*.parquet")):
            rel = str(f.relative_to(self.root))
            if rel not in referenced:
                orphans.append(rel)
        torn = sorted(p for p in (self.root / "_log").iterdir()
                      if p.name.startswith(".tmp."))
        removed = 0
        if remove:
            for rel in orphans:
                (self.root / rel).unlink()
                removed += 1
            for p in torn:
                p.unlink()
                removed += 1
            for d in sorted((self.root / "data").rglob("*"), reverse=True):
                if d.is_dir() and not any(d.iterdir()):
                    d.rmdir()
        return {"orphan_files": orphans,
                "missing_files": missing,
                "torn_manifests": [p.name for p in torn],
                "removed": removed}

    def checkpoint(self) -> int | None:
        """Promote the current version's delta manifest to a checkpoint
        (full materialized state), so readers replay zero deltas from here
        and a later ``vacuum`` can retain from this version cheaply.
        Returns the checkpointed version, or None on an empty log.

        The promoted checkpoint CARRIES the companion delta's change-feed
        fields (``files_add``/``files_replace``/``commit``/lineage/metrics),
        exactly like vacuum's own promotion: a bare ckpt would make any
        delta-replay over this version (vacuum's referenced-set walk, the
        change feed) silently skip the files this commit added — vacuum
        would then unlink LIVE data."""
        state = self._load_state()
        if state is None:
            return None
        entries = self._log_entries()
        if entries[-1][1] == "ckpt":
            return state["version"]  # already checkpointed
        own = json.loads(entries[-1][2].read_text())
        self._write_manifest(
            {**state, "kind": "ckpt",
             "files_add": own.get("files_add", {}),
             "files_replace": own.get("files_replace", {}),
             "commit": own.get("commit"),
             "written_schema": own.get("written_schema"),
             "lineage": own.get("lineage", {}),
             "metrics": own.get("metrics", {})},
            state["version"], "ckpt", allow_existing_delta=True)
        return state["version"]

    def vacuum(self, keep_versions: int = 2, min_age_s: float = 0.0) -> dict:
        """Retention-bounded cleanup: keep the latest ``keep_versions``
        snapshots; delete every data file referenced ONLY by older
        snapshots, then drop those older manifests. Time travel inside the
        retention window keeps working (their files are preserved; the
        oldest kept version is promoted to a checkpoint so it stays
        materializable); older versions disappear cleanly (``manifest_at``
        → None) rather than dangling. Tagged versions (``tag()``) extend
        the retention floor: a tag keeps its snapshot — and the contiguous
        log suffix from it — alive until ``drop_tag``. Files that no
        version references (a crashed writer's) go too, even when the
        window keeps every version. Driver-side file ops only — O(files),
        no Spark job.

        SINGLE-WRITER ONLY: vacuum unlinks every data file not referenced
        by a kept manifest, which would include a CONCURRENT writer's
        staged-but-unpublished files. The writer lease (``_acquire_writer``)
        enforces this against any other LIVE lease-holding process before
        the sweep — but ``concurrent_writers`` appenders are lease-less, so
        with that mode in use either quiesce appenders first or pass
        ``min_age_s`` larger than the longest stage-to-publish window:
        files younger than it are spared (Iceberg's
        remove-orphan-files retention-interval rule)."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        self._acquire_writer()
        self._guard_recognized_log("vacuum")
        entries = self._log_entries()
        cut = len(entries) - keep_versions
        # tags pin snapshots: retention is a contiguous suffix of the log
        # (incremental replay needs every manifest down to the floor), so
        # the floor drops to the OLDEST tagged version still in the log —
        # everything a tag needs stays materializable until drop_tag()
        pinned = {v for v in self.tags().values()
                  if any(e[0] == v for e in entries)}
        if pinned:
            min_pin = min(pinned)
            while cut > 0 and entries[cut][0] > min_pin:
                cut -= 1
        if not entries:
            return {"deleted_files": 0, "dropped_manifests": 0}
        # a window that keeps every version drops no manifest, but the
        # orphan sweep below still runs: a dead writer's files are
        # referenced by no version, kept or not
        cut = max(cut, 0)
        kept, dropped = entries[cut:], entries[:cut]
        # promote the oldest kept version to a checkpoint BEFORE dropping
        # the older manifests it would otherwise need for materialization
        oldest_v, oldest_kind, oldest_path = kept[0]
        state = self._load_state(version=oldest_v)
        if dropped and oldest_kind != "ckpt":
            # the promoted checkpoint must keep the delta's own change-feed
            # fields (files_add/files_replace/commit + lineage/metrics) —
            # a ckpt built from materialized state alone would make
            # read_changes silently treat this commit as a compaction and
            # DROP its rows for any consumer whose cursor predates it
            own = json.loads(oldest_path.read_text())
            self._write_manifest(
                {**state, "kind": "ckpt",
                 "files_add": own.get("files_add", {}),
                 "files_replace": own.get("files_replace", {}),
                 "commit": own.get("commit"),
                 "written_schema": own.get("written_schema"),
                 "lineage": own.get("lineage", {}),
                 "metrics": own.get("metrics", {})},
                oldest_v, "ckpt", allow_existing_delta=True)
            oldest_path.unlink()
        # files referenced by ANY kept version (incremental replay forward).
        # A kept CHECKPOINT is a full materialized state — RESET from its
        # own files map rather than delta-applying it (a ckpt's
        # files_add covers only its companion commit; treating it as a
        # delta would drop every file the ckpt carries but the running
        # state doesn't, and vacuum would unlink live data). Pending WAP
        # stages hold files no manifest references yet — protected too.
        referenced: set[str] = set(self._staged_referenced_files())
        for fs in state["files"].values():
            referenced.update(fs)
        for _, kind, p in kept[1:]:
            d = json.loads(p.read_text())
            state = d if kind == "ckpt" else _apply_delta(state, d)
            for fs in state["files"].values():
                referenced.update(fs)
        deleted = 0
        age_floor = time.time() - min_age_s
        for f in (self.root / "data").rglob("*.parquet"):
            rel = str(f.relative_to(self.root))
            if rel not in referenced:
                if min_age_s > 0 and f.stat().st_mtime > age_floor:
                    continue  # possibly a lease-less appender's in-flight stage
                f.unlink()
                deleted += 1
        # unlink dropped manifests from a RAW directory listing: a version
        # promoted to ckpt keeps its companion delta on disk (_log_entries
        # dedups to one path), and a stale below-floor delta would resurface
        # in _log_entries and break manifest_at / read_changes hole checks
        drop_versions = {v for v, _, _ in dropped}
        for p in (self.root / "_log").iterdir():
            mm = _LOG_RE.match(p.name)
            if mm and int(mm.group(1)) in drop_versions:
                p.unlink()
        # prune now-empty generation directories (cosmetic, keeps listings small)
        for d in sorted((self.root / "data").rglob("*"), reverse=True):
            if d.is_dir() and not any(d.iterdir()):
                d.rmdir()
        return {"deleted_files": deleted, "dropped_manifests": len(dropped)}

    def _write_bucketed(self, df: DataFrame, tag: str, touched: list[int]) -> dict[str, list[str]]:
        """Write one hive partition per touched bucket under data/{tag} —
        the per-bucket (L1) layout of compaction, rebucket and the
        copy-on-write commit; returns bucket -> relative file paths."""
        staging = self.root / "data" / tag
        df.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(str(staging))
        out: dict[str, list[str]] = {}
        for b in touched:
            bdir = staging / f"{BUCKET_COL}={b}"
            if bdir.exists():
                out[str(b)] = sorted(
                    str(p.relative_to(self.root)) for p in bdir.glob("*.parquet")
                )
        return out

    def _collect_file_stats(self, new_files: dict[str, list[str]]) -> dict[str, dict]:
        """Per-file zone maps for ``stats_cols``, read from the parquet
        footers the write already paid for (Iceberg-manifest analogue:
        column bounds travel with the commit, so scans can skip whole
        files without opening them). A column is recorded for a file only
        when EVERY non-empty row group carries usable min/max statistics —
        partial bounds would prune incorrectly. Metadata-only local I/O,
        parallelized driver-side like the commit's offset scan."""
        if not self.stats_cols:
            return {}
        import pyarrow.parquet as pq
        from concurrent.futures import ThreadPoolExecutor

        def one(rel: str) -> tuple[str, dict]:
            md = pq.ParquetFile(self.root / rel).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            out: dict[str, list] = {}
            for col in self.stats_cols:
                if col not in idx:
                    continue
                lo = hi = None
                complete = True
                for rg in range(md.num_row_groups):
                    rgm = md.row_group(rg)
                    if rgm.num_rows == 0:
                        continue
                    st = rgm.column(idx[col]).statistics
                    if st is None or not st.has_min_max:
                        complete = False
                        break
                    jlo, jhi = _stat_json(st.min), _stat_json(st.max)
                    if jlo is None or jhi is None:
                        complete = False  # unsupported type
                        break
                    lo = jlo if lo is None else min(lo, jlo)
                    hi = jhi if hi is None else max(hi, jhi)
                if complete and lo is not None:
                    out[col] = [lo, hi]
            return rel, out

        rels = [f for fs in new_files.values() for f in fs]
        if not rels:
            return {}
        with ThreadPoolExecutor(min(16, len(rels))) as pool:
            return {rel: st for rel, st in pool.map(one, rels) if st}

    def _bloom_stats(self, df: DataFrame, new_files: dict[str, list[str]],
                     held_by: dict[str, list[int]] | None = None
                     ) -> dict[str, dict]:
        """Per-file Bloom filters for ``bloom_cols``, computed as ONE
        map-side-combining Spark aggregate over the rows being written
        (O(batch), 32 ``bit_or`` words per column per bucket, zero Python
        in the plan). A file's filter is the OR of the filters of the
        buckets it holds: its bucket for a per-bucket file, its
        ``held_by`` bucket set for a delta file spanning many (whose
        filter fills faster — sized for one bucket's values, a spanning
        file skips less, never wrongly). Equality reads skip files whose
        filter proves the value absent — the pruning zone maps cannot do
        for high-cardinality values (commit shas, paths) whose min/max
        bounds are useless. Opt-in via ``bloom_cols``; a bucket that
        writes >1 per-bucket file in a generation simply records no
        filter (lossless: unfiltered files are always scanned)."""
        cols = [c for c in self.bloom_cols if c in df.columns]
        if not cols:
            return {}
        aggs = []
        for c in cols:
            pos = _bloom_pos_exprs(c)
            aggs.extend(
                F.bit_or(_bloom_word_expr(pos, w)).alias(f"__bf_{c}__{w}")
                for w in range(BLOOM_WORDS))
        import base64

        words = {int(r[BUCKET_COL]): {
                     c: [(r[f"__bf_{c}__{w}"] or 0) & 0xFFFFFFFFFFFFFFFF
                         for w in range(BLOOM_WORDS)] for c in cols}
                 for r in df.groupBy(BUCKET_COL).agg(*aggs).collect()}
        held_by = held_by or {}
        out: dict[str, dict] = {}
        for b, fs in new_files.items():
            for f in fs:
                if f not in held_by and len(fs) != 1:
                    continue
                per_col = {}
                for c in cols:
                    acc = [0] * BLOOM_WORDS
                    for x in held_by.get(f, [int(b)]):
                        for w, v in enumerate(words.get(x, {}).get(c, ())):
                            acc[w] |= v
                    raw = b"".join(w.to_bytes(8, "little") for w in acc)
                    per_col[c] = base64.b64encode(raw).decode()
                out[f] = {"__bloom__": per_col}
        return out

    @staticmethod
    def _merge_file_stats(stats: dict[str, dict],
                          blooms: dict[str, dict]) -> dict[str, dict]:
        for rel, extra in blooms.items():
            stats.setdefault(rel, {}).update(extra)
        return stats

    def _bloom_probe_positions(self, spark: SparkSession, value) -> list[int]:
        """The probed value's bit positions, computed by the SAME Spark
        expressions as the write side (one-row local job — the same
        pattern as ``key_bucket``'s hash-parity probe)."""
        exprs = _bloom_pos_exprs(F.lit(value))
        row = spark.range(1).select(
            *[e.alias(f"p{i}") for i, e in enumerate(exprs)]).collect()[0]
        return [int(row[f"p{i}"]) for i in range(BLOOM_K)]

    def _publish(self, *, batch_id: int, files_add: dict[str, list[str]] | None = None,
                 files_replace: dict[str, list[str]] | None = None,
                 watermark_seq: int = -1, lineage: dict | None = None,
                 metrics: dict | None = None, schema_json: str | None = None,
                 offsets: dict[int, int] | None = None,
                 file_stats: dict[str, dict] | None = None,
                 add_committed: bool = True,
                 offsets_reset: bool = False,
                 base_version: int | None = None,
                 written_schema: str | None = None) -> bool:
        """Publish one commit: write an O(batch) delta manifest — or, every
        ``checkpoint_every``-th version, the full checkpoint — and advance
        the in-process state cache.

        The version slot is claimed by an atomic no-clobber create
        (compare-and-swap). Losing the race triggers a REBASE: reload the
        head, validate the interleaved commits against this commit's plan
        (``_rebase_check`` — pure appends always pass; a replaced bucket
        or layout change that moved underneath raises
        ``ConcurrentWriteConflict``), and retry at the next version.
        ``base_version`` is the snapshot the caller PLANNED against
        (compact/COW pass it; appends default to the head at entry).
        ``written_schema`` is the schema of the files this commit wrote
        (``_file_schema``); None clears the table's ``data_schema``.

        Returns True when published; False when a rebase discovered that a
        concurrent writer already committed this ``batch_id`` (duplicate
        delivery raced across writers — a no-op, same contract as the
        ``is_committed`` pre-check)."""
        pure_append = not files_replace and not offsets_reset
        if not (self.concurrent_writers and pure_append):
            # exclusive paths (and all single-writer-mode commits) keep the
            # lease: vacuum's sweep and replacing commits need it
            self._acquire_writer()
        if base_version is None:
            base_version = (self._load_state() or _empty_state())["version"]
        for _ in range(64):
            prev = self._load_state() or _empty_state()
            if prev["version"] > base_version:
                outcome = self._rebase_check(
                    base_version, prev["version"],
                    files_replace=files_replace, batch_id=batch_id,
                    add_committed=add_committed, offsets_reset=offsets_reset)
                if outcome == "duplicate":
                    return False
                base_version = prev["version"]  # validated up to here
            version = prev["version"] + 1
            lin_key = str(batch_id) if add_committed else f"compact_v{version}"
            delta = {
                "version": version,
                "kind": "delta",
                "n_buckets": self.n_buckets,
                "batch_id": batch_id,
                "files_add": {b: fs for b, fs in (files_add or {}).items() if fs},
                "files_replace": files_replace or {},
                "file_stats": file_stats or {},
                "schema": schema_json,
                "written_schema": written_schema,
                "commit": batch_id if add_committed else None,
                "watermark_seq": int(watermark_seq),
                "offsets": {str(b): int(s) for b, s in sorted((offsets or {}).items())},
                "lineage": {lin_key: lineage} if lineage is not None else {},
                "metrics": {str(batch_id): metrics} if metrics else {},
                "committed_at": time.time(),
            }
            if offsets_reset:
                delta["offsets_reset"] = True
            state = _apply_delta(prev, delta)
            if len(state["committed_extra"]) > 4096:
                # the exception set is bounded by commit OUT-OF-ORDERNESS; a
                # permanent hole (a batch id skipped forever) pins the
                # high-watermark and regrows O(commits) manifests — surface it
                # instead of silently re-deriving the problem the delta log
                # was built to eliminate
                warnings.warn(
                    f"snapshot log {self.root}: committed_extra has "
                    f"{len(state['committed_extra'])} entries — batch id "
                    f"{state['committed_hwm'] + 1} appears permanently "
                    f"uncommitted, pinning the watermark; commit or renumber "
                    f"past the hole", stacklevel=3)
            try:
                if version % self.checkpoint_every == 0:
                    # checkpoint carries the full state PLUS this commit's own
                    # lineage/metrics and file delta (so history scans and the
                    # change feed see every batch exactly once)
                    manifest = {**state, "kind": "ckpt",
                                "lineage": delta["lineage"], "metrics": delta["metrics"],
                                "files_add": delta["files_add"],
                                "files_replace": delta["files_replace"],
                                "written_schema": written_schema,
                                "commit": delta["commit"]}
                    self._write_manifest(manifest, version, "ckpt")
                else:
                    self._write_manifest(delta, version, "delta")
            except SnapshotVersionClash:
                self._cache = None  # force a fresh head read, then rebase
                continue
            self._cache = (version, state)
            return True
        raise RuntimeError(
            f"snapshot log {self.root}: publish lost the version race 64 "
            f"times — pathological contention, raise the writer count limit "
            f"or batch the commits")

    def _rebase_check(self, since: int, upto: int, *, files_replace,
                      batch_id: int, add_committed: bool,
                      offsets_reset: bool) -> str:
        """Validate the interleaved commits (since, upto] against this
        commit's plan. Returns "duplicate" if one of them already committed
        this ``batch_id`` (publish becomes a no-op); raises
        ``ConcurrentWriteConflict`` when a rebase would be unsound:

        * the bucket layout changed (rebucket interleaved, or THIS commit
          is a rebucket) — every in-flight bucket stamp is stale;
        * this commit REPLACES a bucket an interleaved commit touched —
          the replacement was computed from pre-race state, so publishing
          it would silently drop the interleaved rows.

        Pure appends against pure appends always pass: the per-bucket LWW
        reduce is order-free and ``_apply_delta`` max-merges offsets and
        watermark, so append commits compose in any order."""
        replaced = {int(b) for b in files_replace or {}}
        for v, _, p in self._log_entries():
            if not (since < v <= upto):
                continue
            d = json.loads(p.read_text())
            if offsets_reset or d.get("offsets_reset"):
                raise ConcurrentWriteConflict(
                    f"snapshot log {self.root}: commit raced a bucket-layout "
                    f"change at v{v} — re-plan from the new head")
            if int(d.get("n_buckets", self.n_buckets)) != self.n_buckets:
                raise ConcurrentWriteConflict(
                    f"snapshot log {self.root}: interleaved v{v} uses a "
                    f"different bucket layout — re-open the table and re-plan")
            if add_committed and d.get("commit") == batch_id:
                return "duplicate"
            # a spanning delta file touches every bucket it covers
            touched = set(_coverage({"files": d.get("files_add", {}),
                                     "file_stats": d.get("file_stats", {})}))
            touched |= {int(b) for b in d.get("files_replace", {})}
            overlap = replaced & touched
            if overlap:
                raise ConcurrentWriteConflict(
                    f"snapshot log {self.root}: interleaved v{v} touched "
                    f"replaced bucket(s) {sorted(overlap)} — re-plan the "
                    f"replace from the new head")
        return "ok"

    def max_files_per_bucket(self) -> int:
        """The most files a one-bucket read opens (spanning files count
        in every bucket they cover)."""
        m = self._load_state()
        if m is None:
            return 0
        return max((len(fs) for fs in _coverage(m).values()), default=0)

    def commit_merged(
        self,
        merged: DataFrame,
        batch_id: int,
        touched_buckets: list[int],
        watermark_seq: int,
        lineage: dict | None = None,
        metrics: dict | None = None,
        schema_json: str | None = None,
        offsets: dict[int, int] | None = None,
    ) -> bool:
        """Write ``merged`` (state rows for the touched buckets, including
        the ``__bucket`` column) and atomically publish a new snapshot —
        the copy-on-write commit: each touched bucket's file list is
        REPLACED (a bucket the batch emptied is dropped). When a delta
        file spans a touched and an untouched bucket, the touched
        buckets' closure is compacted first (a logical no-op), so the
        replace retires only per-bucket files.

        Returns False (no-op) if ``batch_id`` was already committed.
        """
        self._require_lww("commit_merged")
        if self.is_committed(batch_id):
            return False
        m = self._load_state()
        if m is not None and _closure(m, touched_buckets) != set(touched_buckets):
            self.compact(merged.sparkSession, buckets=list(touched_buckets))
        # the merged content was computed from the CURRENT head — record it
        # so a raced publish validates interleavings from here, not from
        # whatever head exists after the (long) Spark write
        base_version = (self._load_state() or _empty_state())["version"]
        # Write one hive partition per touched bucket. repartition by the
        # bucket column so each bucket is written by tasks that own it; AQE
        # coalesces small ones.
        new_files = self._write_bucketed(
            merged.repartition(max(len(touched_buckets), 1), F.col(BUCKET_COL)),
            self._stage_tag(batch_id), touched_buckets,
        )
        return self._publish(
            batch_id=batch_id,
            files_replace={str(b): new_files.get(str(b), []) for b in touched_buckets},
            watermark_seq=watermark_seq, lineage=lineage, metrics=metrics,
            schema_json=schema_json, offsets=offsets,
            file_stats=self._collect_file_stats(new_files),
            base_version=base_version,
            written_schema=_file_schema(merged),
        )

    def _write_manifest(self, manifest: dict, version: int, kind: str,
                        allow_existing_delta: bool = False) -> None:
        log_dir = self.root / "_log"
        fd, tmp = tempfile.mkstemp(prefix=".tmp.", dir=log_dir)
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f)
            f.flush()
            os.fsync(f.fileno())
        final = log_dir / f"v{version:08d}-{kind}.json"
        # lost race / duplicate version — abort, keep log consistent
        # (checkpoint promotion of an existing delta version is the one
        # sanctioned overwrite-by-new-name: _log_entries prefers the ckpt)
        if not allow_existing_delta and (
            log_dir / f"v{version:08d}-{'delta' if kind == 'ckpt' else 'ckpt'}.json"
        ).exists():
            os.unlink(tmp)
            raise SnapshotVersionClash(
                f"snapshot v{version} already exists (concurrent writer?)")
        # ATOMIC no-clobber create: hard-link then unlink the tmp. A plain
        # rename would silently OVERWRITE a concurrent writer's manifest
        # that landed between an exists() check and the rename (rename(2)
        # replaces existing targets) — link(2) fails with EEXIST instead,
        # making the version slot a true compare-and-swap. This is what
        # lets optimistic concurrent writers race safely; at cluster scale
        # against an object store this CAS moves to the catalog, same as
        # Iceberg's commit lock.
        try:
            os.link(tmp, final)
        except FileExistsError:
            os.unlink(tmp)
            raise SnapshotVersionClash(
                f"snapshot v{version} already exists (concurrent writer?)") from None
        os.unlink(tmp)
