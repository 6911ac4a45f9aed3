"""Tera pipeline: teragen → terasort → teravalidate, Spark-native.

Reference semantics (studied, re-implemented from the published
algorithm — the reference itself bundles the ASF-licensed Hadoop
algorithm and the public spark-terasort Scala spec):

- **teragen** (``apps/terasort/teragen_api.cu:85-124``, Hadoop
  TeraGen): record r uses the 128-bit LCG ``X' = (A*X + C) mod 2^128``
  (L'Ecuyer constants, ``Random16.cpp``) advanced r+1 steps from seed
  0 via O(log n) jump; record = 10-byte key (bytes 0-9 of rand) +
  90-byte framed value (breaks 0x00 0x11, 32 ASCII hex digits of the
  record number, 0x88 0x99 0xAA 0xBB, 12×4 repeated rand hex chars,
  trailer 0xCC 0xDD 0xEE 0xFF) — ``generateRecord``,
  ``teragen_api.cu:28-66``.
- **terasort** (``apps/terasort/terasort_main.cpp:103``,
  ``TeraSort.scala:60-63``): total order by unsigned-lexicographic
  byte key = range partition + in-partition sort.
- **teravalidate** (``TeraValidate.scala:64-125``): per-partition
  in-order assertion + min/max boundary non-overlap across partitions
  + global count + checksum preservation.

Scale: teragen is embarrassingly parallel (per-partition LCG jump —
the reference's determinism-by-construction trick, SURVEY §5.1);
terasort's only shuffle is the range exchange; teravalidate reduces
~10 summary rows per partition.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# L'Ecuyer 128-bit LCG constants (public: Mathematics of Computation 68,
# pp. 249-260; used by sortbenchmark.org gensort and Hadoop teragen).
_A = 0x2360ED051FC65DA44385DF649FCCF645
_C = 0x4A696D47726179524950202020202001
_M = 1 << 128

KEY_LEN = 10
VALUE_LEN = 90
RECORD_LEN = KEY_LEN + VALUE_LEN

# Uppercase A-F: the published algorithm's getHexDigit emits '0'-'9'
# then 'A'-'F' (apps/terasort/Unsigned16.cpp:171-183, same in Hadoop
# TeraGen), so generated records are byte-identical to reference output.
_HEX = b"0123456789ABCDEF"


def lcg_skip(n: int, x: int = 0) -> int:
    """Advance the LCG ``n`` steps from state ``x`` in O(log n) by
    iterated squaring of the affine map (f^2 = (a², a·c + c))."""
    a, c = _A, _C
    while n:
        if n & 1:
            x = (a * x + c) % _M
        c = (a * c + c) % _M
        a = (a * a) % _M
        n >>= 1
    return x


def lcg_affine(n: int) -> tuple[int, int]:
    """Coefficients (a_n, c_n) of the n-fold composition f^n, so that
    ``x_{k+n} = a_n·x_k + c_n (mod 2^128)`` — the block-jump constant
    that lets a whole vector of states advance n steps elementwise."""
    a_res, c_res = 1, 0
    a, c = _A, _C
    while n:
        if n & 1:
            a_res, c_res = (a * a_res) % _M, (a * c_res + c) % _M
        c = (a * c + c) % _M
        a = (a * a) % _M
        n >>= 1
    return a_res, c_res


def _limbs16(v: int):
    """128-bit int → 8 little-endian 16-bit limbs (as uint64 scalars)."""
    import numpy as np

    return np.array([(v >> (16 * i)) & 0xFFFF for i in range(8)], np.uint64)


def _lcg_states(first_record: int, n: int):
    """The ``n`` consecutive states for records [first, first+n), as an
    (n, 16) big-endian uint8 matrix — vectorized by block-jump: the
    first S states are walked sequentially, then each next block of S
    is ``A_S·X + C_S`` elementwise on 16-bit limbs (u64 accumulators;
    max term ≈ 2^36, no overflow). Replaces n Python 128-bit mulmods
    with n/S vector affine steps."""
    import numpy as np

    S = min(n, 4096)
    mask = _M - 1
    x = lcg_skip(first_record)
    seed = bytearray(S * 16)
    for i in range(S):
        x = (_A * x + _C) & mask
        seed[i * 16 : i * 16 + 16] = x.to_bytes(16, "big")
    sb = np.frombuffer(bytes(seed), np.uint8).reshape(S, 16).astype(np.uint64)
    # big-endian bytes → little-endian 16-bit limbs: limb j = b[14-2j]<<8 | b[15-2j]
    cur = np.empty((S, 8), np.uint64)
    for j in range(8):
        cur[:, j] = (sb[:, 14 - 2 * j] << np.uint64(8)) | sb[:, 15 - 2 * j]

    blocks = [cur]
    if n > S:
        aS, cS = lcg_affine(S)
        A, C = _limbs16(aS), _limbs16(cS)
        produced = S
        while produced < n:
            prev = blocks[-1]
            nxt = np.empty_like(prev)
            carry = np.zeros(S, np.uint64)
            for k in range(8):
                acc = carry + C[k]
                for i in range(k + 1):
                    acc = acc + A[i] * prev[:, k - i]
                nxt[:, k] = acc & np.uint64(0xFFFF)
                carry = acc >> np.uint64(16)
            blocks.append(nxt)
            produced += S
    limbs = np.vstack(blocks)[:n]
    out = np.empty((n, 16), np.uint8)
    for j in range(8):
        out[:, 14 - 2 * j] = (limbs[:, j] >> np.uint64(8)).astype(np.uint8)
        out[:, 15 - 2 * j] = (limbs[:, j] & np.uint64(0xFF)).astype(np.uint8)
    return out


#: byte-value → that byte repeated 4× (the filler expansion), so the
#: hot path is 12 table lookups instead of a 48-iteration genexpr
_EXP = [bytes((c,)) * 4 for c in range(256)]


def _record(rand: int, record_number: int) -> tuple[bytes, bytes]:
    """Build one 100-byte record: (10-byte key, 90-byte value)."""
    rb = rand.to_bytes(16, "big")
    rand_hex = rb.hex().upper().encode()  # == b"%032X" % rand, at C speed
    filler = b"".join(_EXP[c] for c in rand_hex[20:32])
    value = b"".join(
        (b"\x00\x11", b"%032X" % record_number, b"\x88\x99\xaa\xbb", filler, b"\xcc\xdd\xee\xff")
    )
    return rb[:KEY_LEN], value


def generate_partition(first_record: int, num_records: int) -> Iterator[tuple[bytes, bytes]]:
    """Deterministic per-partition generator (seeded skip-ahead): the
    reference's A4 pattern — output is invariant to partitioning."""
    x = lcg_skip(first_record)
    for r in range(first_record, first_record + num_records):
        x = (_A * x + _C) % _M
        yield _record(x, r)


TERA_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), False),
        T.StructField("value", T.BinaryType(), False),
    ]
)


#: nibble → uppercase ASCII hex char, as a numpy lookup table
_HEXTAB = None


def _hextab():
    global _HEXTAB
    if _HEXTAB is None:
        import numpy as np

        _HEXTAB = np.frombuffer(_HEX, dtype=np.uint8)
    return _HEXTAB


def _gen_block(first_record: int, n: int):
    """Vectorized batch generator: returns (key_flat, val_flat) uint8
    arrays of shape (n*10,) and (n*90,) — byte-identical to ``_record``
    (pinned by test_teragen_known_record_zero) but built columnwise:
    the only per-record Python work is the sequential LCG advance."""
    import numpy as np

    hextab = _hextab()
    st = _lcg_states(first_record, n)

    # 32 uppercase hex chars of the 128-bit state (== rb.hex().upper())
    hexc = np.empty((n, 32), np.uint8)
    hexc[:, 0::2] = hextab[st >> 4]
    hexc[:, 1::2] = hextab[st & 0xF]

    val = np.empty((n, VALUE_LEN), np.uint8)
    val[:, 0] = 0x00
    val[:, 1] = 0x11
    # b"%032X" % record_number: record numbers < 2^64, so the leading
    # 16 digits are literal '0' and the trailing 16 come from nibbles
    val[:, 2:18] = ord("0")
    r = np.arange(first_record, first_record + n, dtype=np.uint64)
    for j in range(16):
        val[:, 18 + j] = hextab[((r >> np.uint64((15 - j) * 4)) & np.uint64(0xF)).astype(np.uint8)]
    val[:, 34:38] = (0x88, 0x99, 0xAA, 0xBB)
    val[:, 38:86] = np.repeat(hexc[:, 20:32], 4, axis=1)  # filler: each char ×4
    val[:, 86:90] = (0xCC, 0xDD, 0xEE, 0xFF)

    return np.ascontiguousarray(st[:, :KEY_LEN]).reshape(-1), val.reshape(-1)


def _binary_array(flat, n: int, width: int):
    """Zero-copy pyarrow BinaryArray over a flat uint8 buffer of
    ``n`` fixed-``width`` records (offsets are an arange)."""
    import numpy as np
    import pyarrow as pa

    offs = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(memoryview(offs)), pa.py_buffer(memoryview(flat))]
    )


def teragen(spark: SparkSession, num_records: int, num_partitions: int | None = None) -> DataFrame:
    """Distributed deterministic synthetic source (SURVEY A4).

    Arrow path: one ``mapInArrow`` task per partition yields record
    batches whose key/value columns are built as flat numpy buffers —
    no per-row Python objects at all. Each partition jumps the LCG to
    its first record (O(log n) skip-ahead), so output is invariant to
    ``num_partitions``.
    """
    import pyarrow as pa

    parts = num_partitions or spark.sparkContext.defaultParallelism
    per = num_records // parts
    extra = num_records % parts

    def gen(batches: "Iterable[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        for batch in batches:
            for idx in batch.column(0).to_pylist():
                idx = int(idx)
                first = idx * per + min(idx, extra)
                n = per + (1 if idx < extra else 0)
                for start in range(first, first + n, 65536):
                    cnt = min(65536, first + n - start)
                    kflat, vflat = _gen_block(start, cnt)
                    yield pa.record_batch(
                        [_binary_array(kflat, cnt, KEY_LEN), _binary_array(vflat, cnt, VALUE_LEN)],
                        names=["key", "value"],
                    )

    return spark.range(0, parts, 1, parts).mapInArrow(gen, TERA_SCHEMA)


def terasort(df: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """Total-order sort by unsigned-lexicographic binary key
    (``TeraSort.scala:60-63``): range-partition + sort within
    partitions. Catalyst compiles ``repartitionByRange + sortWithin``
    to a range exchange with sampled bounds — the distributed
    equivalent of the reference's 7-byte-prefix partitioner (O11)."""
    if num_partitions:
        return df.repartitionByRange(num_partitions, "key").sortWithinPartitions("key")
    return df.repartitionByRange("key").sortWithinPartitions("key")


def _joined_bytes(recs):
    """The values of a binary or large_binary Arrow array as one
    zero-copy buffer: the data buffer from the first offset to the
    last. The offsets are int32 or int64 according to the array's type
    (``large_binary`` under ``spark.sql.execution.arrow.useLargeVarTypes``)."""
    import numpy as np
    import pyarrow as pa

    _, offs_buf, data = recs.buffers()
    width = np.int64 if pa.types.is_large_binary(recs.type) else np.int32
    offs = np.frombuffer(offs_buf, width, len(recs) + 1, recs.offset * np.dtype(width).itemsize)
    first, last = int(offs[0]), int(offs[-1])
    return data.slice(first, last - first)


def write_tera_files(df: DataFrame, out_dir: str) -> int:
    """Sink: write (key, value) rows as raw record files, one per
    non-empty partition, named ``part-<idx:05d>.tera`` (the reference's
    ``INPUT<rank>`` file sink, ``apps/terasort/teragen_api.cu:104-121``).
    Returns the number of files written.

    Columnar: one ``mapInArrow`` task per partition, its index from
    ``TaskContext.partitionId()``. Each Arrow batch's first (key) and
    second (value) columns are joined row by row into one contiguous
    buffer (``binary_join_element_wise`` with an empty separator),
    which is written with a single ``write`` — no Python object per
    record. Records keep their partition order; keys and values of any
    width are concatenated unchanged. An empty partition leaves no
    file, and a null key or value raises. The ``part-*.tera`` files
    already in ``out_dir`` are deleted first, so a write with fewer
    partitions than an earlier one leaves none of its files behind.

    Local-filesystem implementation (each task writes its own file);
    on a cluster the same pattern targets a shared store.
    """
    import os

    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(out_dir):
        if name.startswith("part-") and name.endswith(".tera"):
            os.remove(os.path.join(out_dir, name))

    def write_partition(batches: "Iterable[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        import pyarrow as pa
        import pyarrow.compute as pc
        from pyspark import TaskContext

        idx = TaskContext.get().partitionId()
        n = 0
        path = os.path.join(out_dir, f"part-{idx:05d}.tera")
        with open(path, "wb") as f:
            for batch in batches:
                key, value = batch.column(0), batch.column(1)
                recs = pc.binary_join_element_wise(key, value, pa.scalar(b"", key.type))
                if recs.null_count:
                    raise TypeError(f"null key or value in partition {idx}")
                f.write(_joined_bytes(recs))
                n += len(recs)
        if n == 0:
            os.remove(path)
        yield pa.record_batch([pa.array([idx], pa.int32()), pa.array([n], pa.int64())], names=["pid", "n"])

    counts = df.mapInArrow(write_partition, "pid int, n long").collect()
    return sum(1 for r in counts if r.n > 0)


_CRCTAB = None


def _crc_table():
    """Standard CRC-32 (IEEE 802.3, reflected poly 0xEDB88320) lookup
    table — identical polynomial/init/final-xor to ``zlib.crc32``."""
    global _CRCTAB
    if _CRCTAB is None:
        import numpy as np

        tab = np.empty(256, np.uint32)
        for i in range(256):
            c = i
            for _ in range(8):
                c = (c >> 1) ^ 0xEDB88320 if c & 1 else c >> 1
            tab[i] = c
        _CRCTAB = tab
    return _CRCTAB


def crc32_rows(mat) -> "object":
    """Vectorized per-row CRC32 of an (n, w) uint8 matrix: one
    table-lookup step per byte column over the whole row vector.
    Equals ``zlib.crc32(row)`` for every row (property-tested)."""
    import numpy as np

    tab = _crc_table()
    crc = np.full(mat.shape[0], 0xFFFFFFFF, np.uint32)
    for j in range(mat.shape[1]):
        crc = tab[(crc ^ mat[:, j]) & 0xFF] ^ (crc >> np.uint32(8))
    return crc ^ np.uint32(0xFFFFFFFF)


#: records per validation block: small enough that a block's (pos,key)
#: list is a ~0.5 MB aggregation buffer, large enough that per-block
#: summary rows are 1/8192 of the data
VALIDATE_BLOCK = 8192

#: monotonically_increasing_id() = (partition_id << 33) | row_number —
#: the low 33 bits are the physical row number within the partition
_MID_ROW_MASK = (1 << 33) - 1


def teravalidate_partitions(df: DataFrame) -> DataFrame:
    """Per-partition validation summaries (``TeraValidate.scala:64-108``):
    record count, min/max key, sortedness, crc32 checksum sum.

    All-JVM two-level block aggregation — no Python worker ever sees a
    record, no window, and no full-record shuffle:

    - every row is tagged with its physical position
      (``monotonically_increasing_id``: low 33 bits = row number
      within partition) and its 8192-row block id;
    - **level 1** ``groupBy(pid, block)``: count, min/max key, crc sum
      (per-record ``F.crc32(key||value)`` — codegen, zlib/
      PureJavaCrc32 polynomial), plus the in-block order check:
      collect ``(pos, key)`` structs and compare the position-sorted
      key sequence against its key-sorted self (``sort_array`` +
      ``transform`` + ``array_sort`` — binary ordering in Spark SQL is
      unsigned lexicographic, the terasort order). Collecting POSITIONED
      structs makes the check independent of ``collect_list``'s
      buffer order, so hash-agg spills / sort-based fallback can't
      corrupt it. Only keys + per-block scalars reach the exchange —
      10 B of each 100 B record;
    - **level 2** ``groupBy(pid)``: roll blocks up to the partition —
      sums/min/max/crc plus cross-block adjacency (sorted
      ``(block, mn, mx)`` structs, a ``forall`` over adjacent pairs).
      Per-partition state is one small struct per block (≈ n/8192),
      bounded even for 10^9-row partitions.

    Python receives only ~num_partitions summary rows.

    Alternatives measured and rejected (local[32]):

    - mapInArrow per-partition numpy fold: right scale shape, but the
      JVM→Arrow serialization of (pid, key, crc) costs ~20 µs/record-
      core — 53 s vs 33 s for this plan at 10 GB (100 M records),
      measured back-to-back, checksums identical.
    - ``lag(key)`` over ``(partition by pid order by mid)`` + groupBy:
      full exchange + per-row WindowExec — 77-122 s end-to-end at
      1 GB vs ~8-26 s for the alternatives; the exchange
      re-materializes every record, which at 100 TB is a 30 TB shuffle
      that exists only to validate.
    - single ``groupBy(pid).agg(collect_list(key))`` + HOF scan:
      buffers entire partitions in one aggregation buffer — ~5 GB per
      group at 100 TB partition sizes. Blocks keep the same idea
      bounded.

    The checksum accumulates as decimal: at 100 TB (10^12 records ×
    up to 2^32 per CRC) the sum overflows int64, matching the
    reference's 128-bit ``Unsigned16`` accumulator
    (``TeraValidate.scala:110-125``).
    """
    mid = F.monotonically_increasing_id()
    tagged = df.select(
        F.spark_partition_id().alias("pid"),
        "key",
        F.crc32(F.concat("key", "value")).alias("crc"),
        mid.bitwiseAND(F.lit(_MID_ROW_MASK)).alias("pos"),
    ).withColumn("block", (F.col("pos") / VALIDATE_BLOCK).cast("long"))

    keys_by_pos = F.transform(F.sort_array(F.col("ls")), lambda x: x["key"])
    lvl1 = (
        tagged.groupBy("pid", "block")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("key").alias("mn"),
            F.max("key").alias("mx"),
            F.sum(F.col("crc").cast("decimal(20,0)")).alias("crc"),
            F.collect_list(F.struct("pos", "key")).alias("ls"),
        )
        .select(
            "pid",
            "block",
            "n",
            "mn",
            "mx",
            "crc",
            (keys_by_pos == F.array_sort(keys_by_pos)).alias("ok"),
        )
    )

    bs = F.sort_array(F.collect_list(F.struct("block", "mn", "mx")))
    adjacent = F.forall(
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("bs")) - 1),
            lambda i: F.col("bs")[i - 1]["mx"] <= F.col("bs")[i]["mn"],
        ),
        lambda x: x,
    )
    return (
        lvl1.groupBy("pid")
        .agg(
            F.sum("n").alias("n_records"),
            F.min("mn").alias("min_key"),
            F.max("mx").alias("max_key"),
            (F.count_if(~F.col("ok")) == 0).alias("blocks_ok"),
            F.sum("crc").cast("decimal(38,0)").alias("checksum"),
            bs.alias("bs"),
        )
        .select(
            F.col("pid").cast("int").alias("partition_id"),
            "n_records",
            "min_key",
            "max_key",
            (
                F.col("blocks_ok")
                & F.when(F.size("bs") > 1, adjacent).otherwise(F.lit(True))
            ).alias("in_order"),
            "checksum",
        )
    )


def teravalidate(sorted_df: DataFrame) -> dict:
    """Global validation verdict (``TeraValidate.scala:110-125``):
    partitions internally sorted, partition boundaries non-overlapping,
    plus global count/checksum for comparison with the input."""
    parts = [r for r in teravalidate_partitions(sorted_df).collect() if r.n_records > 0]
    parts.sort(key=lambda r: r.partition_id)
    boundaries_ok = all(
        bytes(parts[i].max_key) <= bytes(parts[i + 1].min_key) for i in range(len(parts) - 1)
    )
    return {
        "n_records": sum(r.n_records for r in parts),
        "checksum": int(sum(int(r.checksum) for r in parts)),
        "all_sorted": all(r.in_order for r in parts),
        "boundaries_ok": boundaries_ok,
        "n_partitions": len(parts),
    }
