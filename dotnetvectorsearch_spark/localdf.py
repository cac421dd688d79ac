"""The Arrow boundary between the driver and Spark, both directions.

**Driver -> Spark.** ``spark.createDataFrame(rows, schema)``
parallelizes the rows into ``defaultParallelism`` pickled slices (32
on the bench host) and every action on the frame replays them through
a Python-runner job. For the tiny frames the engine builds constantly —
a 1-row query vector, an 8-row centroid table, a recall scalar — that
is pure boundary overhead (guide §4: cross the JVM<->Python boundary
once; §6: Arrow for driver transfers).

:func:`local_df` therefore builds the frame as a pyarrow Table
(:func:`arrow_table`) and hands it to ``createDataFrame`` whenever
every field is in the supported scalar/array set: the rows land in the
JVM as a **LocalTableScan** (no RDD, no Python runner at action time —
measured count 0.39→0.16 s, collect 0.23→0.03 s, write 0.31→0.16 s for
an 8-row frame). Values are identical to the classic path:
ints/floats/strings/booleans/None map to the same JVM values,
``array<float>`` pays the same IEEE float64→float32 narrowing the
pickle path performs, NaN stays NaN (never null). Type verification
happens EAGERLY at construction (pyarrow raises on a value that does
not fit the declared type), which is stricter-at-the-driver than the
classic path's lazy executor-side check — the failure just surfaces
earlier, at the call site.

Fields outside the supported set (timestamps, decimals, nested
structs), or rows pyarrow rejects, fall back to the r13 behavior:
``parallelize(rows, 1 + n//100_000)`` single-slice construction — and
on runtimes without a driver ``sparkContext`` (Spark Connect), plain
``createDataFrame(rows, schema)``.

**Spark -> driver.** Several operators take a bounded driver path for
small inputs and keep their distributed plan, the only formulation that
scales past driver memory, for everything else: the engine's pinned
corpus, the IVF index write, connected components, PageRank and BPE
training. Each gate is one :func:`collect_bounded` call under a row
bound of its own and the shared byte bound :data:`DRIVER_BYTES`, read
at call time: setting it to 0 sends every gate down its distributed
path, which is how the tests and ``tools/check_oracle.py
--distributed`` prove each pair equal.

:func:`_spread` sizes the input partitions of the CPU-heavy text
operators (dedup, LM) from the same :func:`plan_bytes` evidence.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType

# The most Arrow bytes any bounded driver path collects: 64 MB passes
# through driver memory once.
DRIVER_BYTES = 64 * 1024 * 1024

# One slice comfortably holds ~100k small rows (driver-local data was
# never going to be big — anything near this bound should be a real
# distributed frame instead).
_ROWS_PER_SLICE = 100_000


def pa_schema(struct):
    """pyarrow schema for a StructType whose fields are all in the
    supported scalar/array set, else None (caller falls back). List
    elements are named ``element``, Spark's own parquet layout."""
    import pyarrow as pa

    scalar = {"bigint": pa.int64(), "int": pa.int32(),
              "smallint": pa.int16(), "tinyint": pa.int8(),
              "float": pa.float32(), "double": pa.float64(),
              "string": pa.string(), "boolean": pa.bool_()}
    fields = []
    for f in struct.fields:
        s = f.dataType.simpleString()
        if s in scalar:
            fields.append(pa.field(f.name, scalar[s]))
        elif s.startswith("array<") and s[6:-1] in scalar:
            fields.append(pa.field(f.name, pa.list_(
                pa.field("element", scalar[s[6:-1]]))))
        else:
            return None
    return pa.schema(fields)


def arrow_table(rows: list, struct):
    """pyarrow Table of driver-local positional ``rows`` under
    ``pa_schema(struct)``, or None when the schema or a value is outside
    the supported set, or a non-nullable field holds None."""
    sch = pa_schema(struct)
    if sch is None:
        return None
    try:
        import pyarrow as pa
        cols = []
        for i, f in enumerate(sch):
            vals = [r[i] for r in rows]
            if not _values_ok(vals, f.type, pa) or (
                    not struct.fields[i].nullable
                    and any(v is None for v in vals)):
                # stock createDataFrame would REJECT (or coerce) these
                # — let the classic path reproduce its exact behavior,
                # including its error message
                return None
            cols.append(pa.array(vals, type=f.type))
        return pa.Table.from_arrays(cols, schema=sch)
    except Exception:  # noqa: BLE001 - value/type outside Arrow's reach
        return None


def _arrow_local_df(spark: SparkSession, rows: list,
                    schema) -> DataFrame | None:
    """LocalTableScan-backed frame via a pyarrow Table, or None when
    the schema/values are outside the supported set."""
    from pyspark.sql.types import StructType, _parse_datatype_string

    st = (_parse_datatype_string(schema) if isinstance(schema, str)
          else schema)
    table = arrow_table(rows, st) if isinstance(st, StructType) else None
    try:
        return (None if table is None
                else spark.createDataFrame(table, schema=st))
    except Exception:  # noqa: BLE001 - value/type outside Arrow's reach
        return None


def _values_ok(vals, pa_type, pa) -> bool:
    """Enforce the same per-value strictness as PySpark's schema
    verifier, so the Arrow path never ACCEPTS a row the classic path
    rejects (e.g. a Python int in a double column): floats must be
    float, ints int (not bool), strings str, booleans bool; arrays are
    checked elementwise."""
    import numpy as np

    if pa.types.is_list(pa_type):
        for v in vals:
            if v is None:
                continue
            if not isinstance(v, (list, tuple, np.ndarray)):
                return False
            if isinstance(v, np.ndarray):
                continue     # dtype-checked by pa.array
            if not _values_ok(list(v), pa_type.value_type, pa):
                return False
        return True
    if pa.types.is_floating(pa_type):
        ok = (float, np.floating)
    elif pa.types.is_integer(pa_type):
        ok = (int, np.integer)
    elif pa.types.is_boolean(pa_type):
        ok = (bool, np.bool_)
    else:                    # string
        ok = (str,)
    for v in vals:
        if v is None:
            continue
        if not isinstance(v, ok):
            return False
        if not pa.types.is_boolean(pa_type) and isinstance(v, bool):
            return False
    return True


def local_df(spark: SparkSession, rows, schema) -> DataFrame:
    """``spark.createDataFrame(rows, schema)`` minus the boundary tax.

    ``rows`` is a driver-local list (possibly empty) of tuples/Rows
    (positional — matching what ``createDataFrame`` verifies against a
    supplied schema); ``schema`` a DDL string or StructType. Supported
    schemas become a JVM LocalTableScan via Arrow; everything else
    takes the single-slice parallelize path (same values, same schema,
    same nullability as stock ``createDataFrame``)."""
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    df = _arrow_local_df(spark, rows, schema)
    if df is not None:
        return df
    if not hasattr(spark, "sparkContext"):   # Spark Connect
        return spark.createDataFrame(rows, schema)
    n_slices = 1 + len(rows) // _ROWS_PER_SLICE
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n_slices), schema)


# ------------------------------------------------- Spark -> driver side

def local_path(uri: str) -> str | None:
    """The local filesystem path of a ``file:`` URI (``file:/p`` or
    ``file:///p``, as Hadoop renders them) or of a bare path; None when
    it names a remote store."""
    for pre in ("file://", "file:"):
        if uri.startswith(pre):
            uri = uri[len(pre):]
            break
    return None if "://" in uri else uri


def plan_bytes(df: DataFrame) -> int | None:
    """On-disk bytes of the local files a plan scans, or None when there
    is no such evidence (in-memory or shuffle-backed plans, remote
    stores)."""
    try:
        paths = [local_path(f) for f in df.inputFiles()]
        if not paths or None in paths:
            return None
        return sum(os.stat(p).st_size for p in paths)
    except Exception:  # noqa: BLE001 - non-file-backed plans
        return None


# One spread partition per this many input bytes (see _spread): 96 KB
# of raw text is ~10-30x that in shingle/hash work, comfortably a task.
_SPREAD_BYTES = 96 * 1024


def _spread(df: DataFrame, key: str, amp: int = 1) -> DataFrame:
    """Hash-repartition to the session's default parallelism when the
    input has fewer partitions. Small corpora often arrive as a single
    file/partition; the text operators' shingle/hash stages are CPU-bound
    per row, so without this they serialize onto one task. At real scale
    inputs already have enough splits and this is a no-op.

    ``amp`` is the call site's downstream CPU-amplification factor
    relative to the byte budget below (guide §2.5: partition by the
    COST of the stage, not raw input bytes). The default 1 fits
    scheduling-bound consumers (one explode + one keyed aggregate:
    minhash/simhash signatures, span grams). Sites whose next stages do
    super-linear work per input byte — char k-gram winnowing (~1
    hash+window row per CHARACTER), shingle inverted-index SELF-joins,
    per-block quadratic pair generation — pass ``amp`` ≈ their measured
    work multiplier so the target reflects stage cost. The r13 bytes
    target with amp=1 everywhere left 25 of 32 cores idle on exactly
    those sites (VERDICT r13 item 1: jaccard_pairs ×0.36,
    winnow_fingerprints ×0.64); the within-session A/B for the amp'd
    sites is in OPTIMIZATION_r14.md.

    The common at-scale case is decided from ``inputFiles()`` alone —
    but file COUNT alone does not give a partition count: Spark packs
    multiple small files into one FilePartition (up to
    ``maxPartitionBytes``, charging ``openCostInBytes`` per file), so
    ``files >= target`` can still scan as a handful of tasks. The
    metadata shortcut therefore requires the file count to clear the
    target with a wide margin (every FilePartition holds at most
    ``maxPartitionBytes / openCostInBytes`` files, 128 MB / 4 MB = 32 by
    default, so ``target * 32`` files GUARANTEES >= target partitions).
    Below that, pay the ``df.rdd`` hop — which compiles the physical
    plan — and check the scan's actual partition count.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        def _bytes(conf: str, default: int) -> int:
            m = re.fullmatch(
                r"(\d+)\s*([kmgt]?)b?",
                str(spark.conf.get(conf, str(default))).strip().lower())
            if not m:
                return default
            return int(m.group(1)) * 1024 ** " kmgt".index(m.group(2) or " ")
        pack = max(1, _bytes("spark.sql.files.maxPartitionBytes", 2 ** 27)
                   // max(1, _bytes("spark.sql.files.openCostInBytes",
                                    2 ** 22)))
        files = df.inputFiles()
        if len(files) >= target * pack:
            return df
        # Scale-adaptive target (guide §2: derive partitioning from
        # input size, not a constant): every downstream stage of the
        # spread frame — and of every transient persist derived from it
        # — schedules `target` tasks, so over-spreading a kilobyte-scale
        # corpus turns one query into hundreds of empty tasks (measured
        # 15-25% of minhash/semdedup/cluster query time at sf0.1).
        # One partition per _SPREAD_BYTES keeps the CPU-heavy
        # shingle/hash stages parallel (text work amplifies bytes by
        # ~10-30x) while capping task count at what the data warrants;
        # the defaultParallelism ceiling keeps at-scale behavior
        # identical, and inputs with enough real splits never reach
        # here at all.
        #
        # Plans without local file evidence (plan_bytes is None) keep
        # the defaultParallelism target: an in-memory or shuffle-backed
        # corpus has no byte evidence to shrink by, and collapsing it to
        # the floor serializes CPU-heavy stages (ADVICE r13 medium).
        nbytes = plan_bytes(df)
        if nbytes is not None:
            target = max(4, min(
                target, -(-nbytes * max(1, amp) // _SPREAD_BYTES)))
    except Exception:  # noqa: BLE001 - non-file-backed plans
        pass
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target, key)
    return df


# Arrow bytes of one value of each fixed-width Spark type.
_WIDTH = {"boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "date": 4,
          "float": 4, "bigint": 8, "double": 8, "timestamp": 8,
          "timestamp_ntz": 8}


def _width(dt) -> int | None:
    s = dt.simpleString()
    return 16 if s.startswith("decimal") else _WIDTH.get(s)


def _bytes_per_row(df: DataFrame) -> int | Column:
    """A row's Arrow bytes: an int when every column is fixed-width (its
    width plus a byte of validity), else a Spark expression that adds
    an estimate for each variable-width column — exact for string and
    binary values and for arrays of a fixed-width type, the length of
    the string form for any other value, plus 8 bytes of offsets and
    validity."""
    fixed, var = 0, []
    for f in df.schema.fields:
        w = _width(f.dataType)
        if w is not None:
            fixed += w + 1
            continue
        c = df[f.name]
        elem = getattr(f.dataType, "elementType", None)
        ew = None if elem is None else _width(elem)
        if ew is not None:
            b = F.greatest(F.size(c), F.lit(0)) * ew
        elif isinstance(f.dataType, (StringType, BinaryType)):
            b = F.octet_length(c)
        else:
            b = F.octet_length(c.cast("string"))
        var.append(F.coalesce(b, F.lit(0)) + 8)
    return sum(var, F.lit(fixed)) if var else fixed


def collect_bounded(df: DataFrame, max_rows: int, max_bytes: int):
    """``(table, reason)``: ``df`` as one driver-side pyarrow Table when
    it has at most ``max_rows`` rows and ``max_bytes`` Arrow bytes, else
    ``(None, reason)`` with nothing past the bound collected.

    1. Size first, only when the schema needs it. When every column is
       fixed-width the byte bound is a row bound and no job runs;
       otherwise one job collects the estimated bytes of at most
       ``max_rows + 1`` rows (:func:`_bytes_per_row`; 4 bytes a row)
       and the driver counts and sums them.
    2. Collect once, with ``limit(max_rows + 1).toArrow()``: nulls stay
       null (never NaN) and arrays arrive in Spark's
       ``list<element: ...>`` layout.
    3. Check the collected table's ``num_rows`` and ``nbytes`` again.

    A bound of 0 bytes refuses without a job."""
    import pyarrow.compute as pc

    too_many = f"more than {max_rows} rows"
    too_big = f"more than {max_bytes} bytes"
    if max_bytes <= 0:
        return None, too_big
    per_row = _bytes_per_row(df)
    if isinstance(per_row, int):
        if per_row * max_rows > max_bytes:
            max_rows, too_many = max_bytes // per_row, too_big
    else:
        sizes = (df.select(per_row.cast("int").alias("b"))
                 .limit(max_rows + 1).toArrow().column("b"))
        if len(sizes) > max_rows:
            return None, too_many
        if (pc.sum(sizes).as_py() or 0) > max_bytes:
            return None, too_big
    table = df.limit(max_rows + 1).toArrow()
    if table.num_rows > max_rows:
        return None, too_many
    if table.nbytes > max_bytes:
        return None, too_big
    return table, "within bound"
