"""Per-file Bloom-filter indexes for the snapshot log (Delta bloom parity).

[min, max] file stats prune range-shaped predicates, but they are useless
for point lookups on high-cardinality UNCLUSTERED keys: every file's
[min, max] on a uuid-ish column spans nearly the whole domain, so a
``skip_where`` equality probe keeps every file. Delta's answer is a
per-file bloom filter index stored OUTSIDE the log; same design here:

- **spec** — manifest metadata key ``"bloom": {"cols": [...], "m": bits,
  "k": hashes}`` (PHYSICAL column names: stable across renames), set via
  :func:`snapshots.set_bloom_filter` and carried with every commit like
  CHECK constraints. O(columns) per commit, never O(files).
- **build** — each write-class commit indexes its NEW files in ONE
  Spark job over all bloom columns: the files are read with their own
  footer's schema of the bloom columns (no schema-inference job), k
  positions per row come from ``pmod(xxhash64(col, seed), m)``
  (JVM-side, whole-stage codegen), and a ``mapInArrow`` ORs them into
  one m-bit bitmap per (file, column) its task saw — no shuffle. The
  driver ORs the partial bitmaps of files split across tasks, so it only
  ever holds |new files in this batch| x |columns| x m/8 bytes —
  batch-sized. The commit's [min, max] stats come from the same files'
  parquet footers and cost no job at all.
- **storage** — ONE sidecar JSON per commit under ``<table>/_bloom/``;
  each covered file's stats entry carries the sidecar's relative path
  under the reserved ``__bloom`` key, so coverage replays through the
  segmented commit log's existing stats add/remove machinery and
  checkpoints stay O(files), not O(files x m). Files without coverage
  (written before the spec, or by the pure-Python DataSource writer) are
  simply always read.
- **probe** — ``read_snapshot(..., point_where={col: value})`` computes
  the value's k positions with a 1-row Spark job running the SAME
  expression the writer ran (exact hash parity by construction — no
  Python xxhash64 reimplementation to drift from the JVM's), loads each
  referenced sidecar once, and drops every covered file with any probe
  bit unset. Pruning is an optimization, never a filter: the caller
  still applies the real predicate.

At 100 TB: a point lookup on an order/customer/document key over ~10^6
files reads only true hits + ~fpp false positives instead of the full
table. Sizing: fpp ~= (1 - e^(-k*n/m))^k per file; the default m=2^20,
k=5 holds fpp below ~1% up to ~10^5 distinct keys per file — size m to
the table's rows-per-file at OPTIMIZE's target file size.

Reference: the reference has no indexing at all (its zones are re-read
wholesale, data_processing.py:217); public model is Delta's bloom filter
index (create-on-write, rewrite-to-backfill) re-expressed over this
repo's JSON snapshot log.
"""

from __future__ import annotations

import base64
import json

from pyspark.sql import SparkSession

from . import commitlog

SIDECAR_DIR = "_bloom"

# reserved stats key holding a file's sidecar pointer (beside __rows)
STATS_KEY = "__bloom"


def _position_cols(cols: list[str], m: int, k: int):
    """k bloom positions per row per column, as one array<long> column
    each — ``pmod(xxhash64(col, seed), m)`` stays inside whole-stage
    codegen; seeds 0..k-1 give k independent hash functions."""
    from pyspark.sql import functions as F

    return {
        c: F.array(
            *[F.pmod(F.xxhash64(F.col(c), F.lit(i)), F.lit(m)) for i in range(k)]
        )
        for c in cols
    }


def _or_positions(cols: list[str], m: int):
    """mapInArrow body: OR each row's positions into one m-bit bitmap per
    (file, column) the task saw, and emit those bitmaps (LSB-first bit
    order: position p is bit p & 7 of byte p >> 3). Null position arrays
    (null key values) set nothing, and a (file, column) with no non-null
    value emits nothing."""

    def run(batches):
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        acc: dict[tuple[str, str], np.ndarray] = {}
        for b in batches:
            enc = pc.dictionary_encode(b.column("__file"))
            names = enc.dictionary.to_pylist()
            fid = enc.indices.to_numpy()
            for c in cols:
                arr = b.column(c)
                if arr.null_count == len(arr):
                    continue
                ps = pc.list_flatten(arr).to_numpy()
                owner = fid[pc.list_parent_indices(arr).to_numpy()]
                for u in np.unique(owner):
                    bits = acc.get((names[u], c))
                    if bits is None:
                        bits = acc[(names[u], c)] = np.zeros(m, dtype=bool)
                    bits[ps[owner == u]] = True
        if acc:
            yield pa.RecordBatch.from_pydict(
                {
                    "__file": [f for f, _ in acc],
                    "__col": [c for _, c in acc],
                    "__bits": [
                        np.packbits(v, bitorder="little").tobytes()
                        for v in acc.values()
                    ],
                }
            )

    return run


def file_blooms(
    spark: SparkSession, files: list[str], cols: list[str], m: int, k: int
) -> dict[str, dict[str, str]]:
    """``{file: {col: base64 bitmap}}`` for every bloom column present in
    ``files`` — files in ``files`` order, columns in ``cols`` order. Null
    key values are excluded (a probe for None never prunes); a column
    absent from a file, or all null in it, gets no bitmap.

    ONE scan over all bloom columns per written schema: each file is read
    with its own footer's Spark schema of the bloom columns (so every
    file hashes under the type it was written with, and no
    schema-inference job runs), its positions are OR-ed into per-(file,
    column) bitmaps inside a ``mapInArrow`` (no shuffle), and the driver
    ORs the partial bitmaps of files split across tasks. Only m/8-byte
    bitmaps reach the driver. Files without a readable Spark footer are
    read with an inferred schema."""
    import numpy as np
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    groups: dict[str | None, list[str]] = {}
    for f in files:
        _, fields = commitlog.read_footer(f) or (None, None)
        key = None
        if fields is not None:
            key = json.dumps([fields[c] for c in cols if c in fields])
        groups.setdefault(key, []).append(f)
    parts: dict[tuple[str, str], np.ndarray] = {}
    for key, fs in groups.items():
        if key is None:
            df = spark.read.parquet(*fs)
        else:
            fields = json.loads(key)
            if not fields:
                continue
            schema = StructType.fromJson({"type": "struct", "fields": fields})
            df = spark.read.schema(schema).parquet(*fs)
        present = [c for c in cols if c in df.columns]
        if not present:
            continue
        pos = _position_cols(present, m, k)
        rows = (
            df.select(
                F.input_file_name().alias("__file"),
                *[F.when(F.col(c).isNotNull(), pos[c]).alias(c) for c in present],
            )
            .mapInArrow(
                _or_positions(present, m),
                "__file string, __col string, __bits binary",
            )
            .collect()
        )
        for r in rows:
            fc = (commitlog.normpath(r["__file"]), r["__col"])
            bits = np.frombuffer(bytes(r["__bits"]), dtype=np.uint8)
            parts[fc] = bits if fc not in parts else parts[fc] | bits
    out: dict[str, dict[str, str]] = {}
    for c in cols:
        for f in files:
            bm = parts.get((commitlog.normpath(f), c))
            if bm is not None:
                out.setdefault(f, {})[c] = base64.b64encode(bm.tobytes()).decode()
    return out


def probe_positions(
    spark: SparkSession, values: list, typ: str | None, m: int, k: int
) -> list[list[int]]:
    """The k bloom positions for each probe value, matching the writer's
    ``pmod(xxhash64(col, seed), m)`` exactly.

    Fast path: for the common probe types (string / bigint / int /
    smallint / tinyint / date) the positions are computed DRIVER-LOCAL by
    a pure-Python XXH64 whose parity with Spark's is pinned by a test
    battery (tests/test_bloom.py) — a point lookup then launches zero
    extra Spark jobs. Any other recorded type falls back to a 1-row Spark
    job running the writer's own expression over literals CAST TO THE
    COLUMN'S RECORDED TYPE (xxhash64 of int(1) and bigint(1) differ; the
    manifest schema's simpleString pins the type both sides hashed) —
    parity by construction, one small job of latency."""
    local = _local_hasher(typ)
    if local is not None:
        try:
            return [
                [_pmod(_xxh64_seeded(local(v), i), m) for i in range(k)]
                for v in values
            ]
        except (ValueError, TypeError, OverflowError):
            pass  # unparseable probe for the recorded type: JVM decides
    from pyspark.sql import functions as F

    lits = []
    for v in values:
        lit = F.lit(v)
        if typ is not None:
            lit = lit.cast(typ)
        lits.append(
            F.array(*[F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(m)) for i in range(k)])
        )
    row = spark.range(1).select(F.array(*lits).alias("p")).collect()[0]
    return [[int(x) for x in ps] for ps in row["p"]]


def probe_positions_widened(
    spark: SparkSession,
    values: list,
    typ: str | None,
    was: list[str],
    m: int,
    k: int,
) -> list[list[int]]:
    """:func:`probe_positions` under the column's type and under every
    type ``was`` it was widened from: files indexed before the widening
    hashed their values as the narrower type, and xxhash64 of int and
    bigint differ. A file may hold the value if ANY returned probe hits.
    Values the narrower type cannot hold are not probed under it — no
    file written with that type can contain them."""
    probes = probe_positions(spark, values, typ, m, k)
    for old in was:
        local = _local_hasher(old) or (lambda v: v)
        fit = []
        for v in values:
            try:
                local(v)
            except OverflowError:
                continue  # outside the narrower type's range
            except (ValueError, TypeError):
                pass  # probe_positions lets the JVM cast decide
            fit.append(v)
        if fit:
            probes += probe_positions(spark, fit, old, m, k)
    return probes


# -- pure-Python XXH64 (Spark's XxHash64 expression, driver-local) ----------
#
# Public algorithm (Collet's xxHash, the same one Spark vendors). Spark
# hashes a column value as: h = 42 (the expression's default seed), then
# for EACH child h = XXH64(child's primitive encoding, seed=h) — so
# xxhash64(col, lit(i)) is XXH64(long i, seed=XXH64(encode(v), seed=42)).
# Primitive encodings: integral types widen to... NO — int/short/byte/date
# hash their 4-byte form (hashInt), long hashes 8 bytes (hashLong),
# strings hash their UTF-8 bytes. Parity is pinned empirically against
# the JVM across types and lengths in tests/test_bloom.py.

_MASK = (1 << 64) - 1
_P1, _P2, _P3, _P4, _P5 = (
    0x9E3779B185EBCA87,
    0xC2B2AE3D27D4EB4F,
    0x165667B19E3779F9,
    0x85EBCA77C2B2AE63,
    0x27D4EB2F165667C5,
)


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK


def _fmix(h: int) -> int:
    h ^= h >> 33
    h = (h * _P2) & _MASK
    h ^= h >> 29
    h = (h * _P3) & _MASK
    h ^= h >> 32
    return h


def _xxh64_bytes(data: bytes, seed: int) -> int:
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK
        v2 = (seed + _P2) & _MASK
        v3 = seed & _MASK
        v4 = (seed - _P1) & _MASK
        while i + 32 <= n:
            w = int.from_bytes(data[i : i + 8], "little")
            v1 = (_rotl((v1 + w * _P2) & _MASK, 31) * _P1) & _MASK
            w = int.from_bytes(data[i + 8 : i + 16], "little")
            v2 = (_rotl((v2 + w * _P2) & _MASK, 31) * _P1) & _MASK
            w = int.from_bytes(data[i + 16 : i + 24], "little")
            v3 = (_rotl((v3 + w * _P2) & _MASK, 31) * _P1) & _MASK
            w = int.from_bytes(data[i + 24 : i + 32], "little")
            v4 = (_rotl((v4 + w * _P2) & _MASK, 31) * _P1) & _MASK
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12) + _rotl(v4, 18)) & _MASK
        for v in (v1, v2, v3, v4):
            h ^= (_rotl((v * _P2) & _MASK, 31) * _P1) & _MASK
            h = ((h * _P1) + _P4) & _MASK
    else:
        h = (seed + _P5) & _MASK
    h = (h + n) & _MASK
    while i + 8 <= n:
        w = int.from_bytes(data[i : i + 8], "little")
        h ^= (_rotl((w * _P2) & _MASK, 31) * _P1) & _MASK
        h = ((_rotl(h, 27) * _P1) + _P4) & _MASK
        i += 8
    if i + 4 <= n:
        w = int.from_bytes(data[i : i + 4], "little")
        h ^= (w * _P1) & _MASK
        h = ((_rotl(h, 23) * _P2) + _P3) & _MASK
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK
        h = (_rotl(h, 11) * _P1) & _MASK
        i += 1
    return _fmix(h)


def _xxh64_long(v: int, seed: int) -> int:
    return _xxh64_bytes((v & _MASK).to_bytes(8, "little"), seed)


def _xxh64_int(v: int, seed: int) -> int:
    return _xxh64_bytes((v & 0xFFFFFFFF).to_bytes(4, "little"), seed)


def _xxh64_seeded(encoded, i: int) -> int:
    """Spark's xxhash64(col, lit(i)) chain for one encoded value:
    ``encoded`` is (kind, payload) from a _local_hasher. The seed child
    ``F.lit(i)`` is an INTEGER literal (py4j maps a small Python int to
    java.lang.Integer), so it hashes through the 4-byte path — hashing
    it as a long is the one-bit-off trap the parity battery caught."""
    kind, payload = encoded
    if kind == "bytes":
        h = _xxh64_bytes(payload, 42)
    elif kind == "long":
        h = _xxh64_long(payload, 42)
    else:  # "int"
        h = _xxh64_int(payload, 42)
    return _xxh64_int(i, h)


def _to_signed64(h: int) -> int:
    return h - (1 << 64) if h >= (1 << 63) else h


def _pmod(h: int, m: int) -> int:
    # Spark's pmod over the SIGNED long xxhash64 result
    return _to_signed64(h) % m


def _local_hasher(typ: str | None):
    """(value) -> (kind, payload) encoder for the recorded column type,
    or None when only the JVM fallback is safe. Casting mirrors what
    ``CAST(lit AS typ)`` would do for the supported types."""
    import datetime as _dt

    if typ is None:
        return None
    t = typ.lower()
    if t == "string":
        return lambda v: ("bytes", str(v).encode("utf-8"))
    if t == "bigint":
        return lambda v: ("long", int(v))
    if t in ("int", "smallint", "tinyint"):
        def enc_int(v):
            iv = int(v)
            lo, hi = {
                "int": (-(2**31), 2**31 - 1),
                "smallint": (-(2**15), 2**15 - 1),
                "tinyint": (-128, 127),
            }[t]
            if not lo <= iv <= hi:
                raise OverflowError(iv)
            return ("int", iv)

        return enc_int
    if t == "date":
        def enc_date(v):
            d = v if isinstance(v, _dt.date) else _dt.date.fromisoformat(str(v))
            return ("int", (d - _dt.date(1970, 1, 1)).days)

        return enc_date
    return None


def might_contain(bitmap: bytes, positions: list[int]) -> bool:
    """All k bits set? False = the file definitely lacks the value."""
    return all(bitmap[p >> 3] & (1 << (p & 7)) for p in positions)


def sidecar_payload(blooms: dict[str, dict[str, str]], m: int, k: int) -> bytes:
    return json.dumps({"m": m, "k": k, "files": blooms}, indent=1).encode()


# Sidecars are IMMUTABLE once published (writer-unique uuid names, never
# rewritten), so parsed bitmaps are safe to cache process-wide across
# reads — repeated point lookups pay the fetch + JSON parse + b64 decode
# once. Bounded FIFO: a sidecar is ~files x m/8 bytes; 32 of them is a
# few MB of driver memory at the default sizing.
_GLOBAL_CARS: dict[str, dict | None] = {}
_GLOBAL_CARS_MAX = 32


class SidecarCache:
    """Lazy loader: each referenced sidecar is fetched and base64-decoded
    once (process-wide — see _GLOBAL_CARS); lookups key on normalized
    file path + column. Missing sidecars / files / columns return None —
    the caller must treat that as 'no evidence, read the file' (clones
    carry stats whose __bloom refs point at the SOURCE table's _bloom
    dir; a miss there degrades to a plain read, never a wrong prune).
    Cache keys are the caller-supplied ``key_prefix`` + relpath so two
    tables' same-named refs can never collide."""

    def __init__(self, read_bytes, key_prefix: str = ""):
        self._read = read_bytes  # (relpath) -> bytes | None
        self._prefix = key_prefix

    def bitmap(self, rel: str, file: str, col: str) -> bytes | None:
        key = f"{self._prefix}::{rel}"
        car = _GLOBAL_CARS.get(key, False)
        if car is False:
            raw = self._read(rel)
            if raw is None:
                car = None  # cached too: a vacuumed sidecar stays gone
            else:
                parsed = json.loads(raw.decode())
                car = {
                    (commitlog.normpath(f), c): base64.b64decode(b)
                    for f, cols in parsed["files"].items()
                    for c, b in cols.items()
                }
            while len(_GLOBAL_CARS) >= _GLOBAL_CARS_MAX:
                _GLOBAL_CARS.pop(next(iter(_GLOBAL_CARS)))
            _GLOBAL_CARS[key] = car
        if car is None:
            return None
        return car.get((commitlog.normpath(file), col))
