"""Table loading for the driver's TPC-H-ish parquet testdata.

At 100 TB these reads become partitioned scans over object storage; the
API stays `spark.read.parquet(dir)` — Spark's FileSourceStrategy plans
stripe/row-group-aligned splits exactly like the reference's
`Reader.Options.range` split model (reference
`RecordReaderImpl.java:220-255`).

`events.ts` is special: the driver's testdata has shipped the column as
both parquet TIMESTAMP(NANOS) and timestamp[us] across rounds, so the
loader resolves the FILE's type at read time instead of assuming one —
the same file-vs-reader-type resolution the reference performs in
`SchemaEvolution.buildConversion` (`SchemaEvolution.java:335`).
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import TimestampNTZType

TABLE_NAMES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return _load_events(spark, path)
    return _load_generic(spark, path)


def _footer_file(path: str) -> str:
    if os.path.isdir(path):
        for n in sorted(os.listdir(path)):
            if n.endswith(".parquet"):
                return os.path.join(path, n)
    return path


def events_ts_parquet_type(path: str):
    """The parquet footer's physical type for events.ts (pyarrow type).

    Footer-only read — no data pages touched. At 100 TB (many files)
    one representative footer decides the dispatch, exactly like the
    reference reads one file tail to plan the whole scan.
    """
    import pyarrow.parquet as pq

    return pq.read_schema(_footer_file(path)).field("ts").type


def _nanos_as_long_ddl(schema) -> str:
    """Spark DDL for a pyarrow schema with TIMESTAMP(NANOS) columns
    mapped to bigint — the explicit-schema twin of the legacy
    `nanosAsLong` conf, used so readers never have to flip a
    SESSION-WIDE conf around a read (concurrent queries on the same
    session could otherwise resolve schemas under the wrong value).
    Conservative: raises on types it does not know rather than
    guessing."""
    import pyarrow as pa

    def ddl(t) -> str:
        if pa.types.is_timestamp(t):
            if t.unit == "ns":
                return "bigint"
            return "timestamp" if t.tz is not None else "timestamp_ntz"
        simple = {
            "int8": "tinyint", "int16": "smallint", "int32": "int",
            "int64": "bigint", "float": "float", "double": "double",
            "string": "string", "large_string": "string",
            "bool": "boolean", "binary": "binary", "large_binary": "binary",
            "date32[day]": "date",
        }
        if str(t) in simple:
            return simple[str(t)]
        if pa.types.is_decimal(t):
            return f"decimal({t.precision},{t.scale})"
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return f"array<{ddl(t.value_type)}>"
        raise ValueError(f"unmapped parquet type for explicit-schema read: {t}")

    return ", ".join(f"`{f.name}` {ddl(f.type)}" for f in schema)


# (footer file, mtime_ns, size) -> (DDL string or "", [nanos cols]).
# Metadata only — a few hundred bytes per table, never row data; keyed
# on the file identity so a driver-regenerated testdata invalidates it.
_DDL_CACHE: dict[tuple[str, int, int], tuple[str, list[str]]] = {}


def _explicit_ddl(path: str) -> tuple[str, list[str]]:
    """(Spark DDL, nanos columns) for a parquet file's footer schema,
    from the pyarrow footer (~1 ms) — or ("", []) when the footer
    carries a type `_nanos_as_long_ddl` does not map (callers fall
    back to Spark's inference). Motivation (r13 optimization round,
    guide §6 repeated-listing/planning costs): `spark.read.parquet`
    pays ~150-180 ms of JVM schema inference PER CALL, and a query
    re-resolves every table it loads on every run — q5 touches six
    tables, ~0.9 s of pure driver planning per execution. An explicit
    schema cuts the call to ~20-50 ms and was verified `==` to the
    inferred StructType for every testdata table at all three SFs
    (pinned by tests/test_00_schema_contract.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    f = _footer_file(path)
    st = os.stat(f)
    key = (f, st.st_mtime_ns, st.st_size)
    hit = _DDL_CACHE.get(key)
    if hit is None:
        schema = pq.read_schema(f)
        ns_cols = [
            fld.name
            for fld in schema
            if pa.types.is_timestamp(fld.type) and fld.type.unit == "ns"
        ]
        try:
            hit = (_nanos_as_long_ddl(schema), ns_cols)
        except ValueError:
            hit = ("", ns_cols)
        _DDL_CACHE[key] = hit
    return hit


def _load_generic(spark: SparkSession, path: str) -> DataFrame:
    """Generic table load through an EXPLICIT footer-derived schema
    (planning cost — see `_explicit_ddl`; inference fallback for
    unmapped types), robust to a nanos-generation drift in ANY
    timestamp column (Spark's reader rejects TIMESTAMP(NANOS)): nanos
    columns are read as long — no session conf is touched, race-free
    under concurrent queries — and converted to micros.
    """
    import pyspark.sql.functions as F

    ddl, ns_cols = _explicit_ddl(path)
    if not ddl:
        return spark.read.parquet(path)
    df = spark.read.schema(ddl).parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Dtype-dispatched events load; always returns ts as session-tz
    TIMESTAMP (session tz is pinned UTC, `session.py:47`).

    - timestamp[ns]: Spark's vectorized reader rejects nanos; read as
      raw long via an explicit schema and convert (driver values carry
      no sub-microsecond bits, so this is lossless vs the oracle).
    - timestamp[us] → Spark TIMESTAMP_NTZ: cast to timestamp (identity
      under UTC session tz, matching DuckDB's naive reading).
    - raw integer epochs: unit resolved from the column's footer-stat
      magnitude (nanos/micros/millis/seconds around the 2001-2033
      epoch band), then converted to micros.
    - already TIMESTAMP: pass through.
    """
    import pyarrow as pa
    import pyspark.sql.functions as F

    t = events_ts_parquet_type(path)
    if pa.types.is_timestamp(t) and t.unit == "ns":
        return _load_generic(spark, path)  # ns ts -> micros conversion
    if pa.types.is_integer(t):
        to_micros = _epoch_micros_expr(path)
        df = _load_generic(spark, path)
        return df.withColumn("ts", F.timestamp_micros(to_micros))
    df = _load_generic(spark, path)
    if isinstance(df.schema["ts"].dataType, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def _epoch_units_per_second(path: str) -> int:
    """For a raw-integer events.ts, infer the epoch unit from the
    footer's column max (metadata only — no data pages). Returns units
    per second (1e9/1e6/1e3/1). Unit bands are disjoint for any date
    between ~1973 and ~2500; a max outside every band raises rather
    than guesses."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(_footer_file(path)).metadata
    mx = None
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        col = next(
            group.column(i)
            for i in range(group.num_columns)
            if group.column(i).path_in_schema == "ts"
        )
        if col.statistics is not None and col.statistics.has_min_max:
            v = col.statistics.max
            mx = v if mx is None else max(mx, v)
    if mx is None:
        raise ValueError(f"events.ts at {path}: integer column without footer stats")
    if int(1e17) <= mx < int(2e19):
        return 1_000_000_000  # nanos
    if int(1e14) <= mx < int(1e17):
        return 1_000_000  # micros
    if int(1e11) <= mx < int(1e14):
        return 1_000  # millis
    if int(1e8) <= mx < int(1e11):
        return 1  # seconds
    raise ValueError(
        f"events.ts at {path}: integer epoch max {mx} outside every known unit band"
    )


def _epoch_micros_expr(path: str):
    """Expression converting a raw-integer events.ts to epoch micros,
    unit-dispatched via `_epoch_units_per_second`."""
    import pyspark.sql.functions as F

    ups = _epoch_units_per_second(path)
    if ups == 1_000_000_000:
        return F.expr("ts div 1000")
    if ups == 1_000_000:
        return F.col("ts")
    return F.col("ts") * (1_000_000 // ups)


# `.scratch/` next to the package directory: each checkout stages its
# own artifacts, so two checkouts never share a fingerprint-valid stage
_SCRATCH_ROOT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scratch"
)


def scratch_dir(sf_dir: str) -> str:
    """Per-sf scratch directory for derived artifacts (ORC copies, ACID
    delta dirs, streaming checkpoints). Lives under the checkout's
    gitignored `.scratch/`.
    """
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    d = os.path.join(_SCRATCH_ROOT, tag)
    os.makedirs(d, exist_ok=True)
    return d


def source_fingerprint(sf_dir: str, *names: str) -> str:
    """Fingerprint (path + mtime + size) of the source parquet files a
    derived scratch artifact is built from. Completion markers store
    this string, so artifacts rebuild automatically whenever the driver
    regenerates testdata — the round-2 failure mode was a `_done`
    marker surviving a testdata change and pinning a sink built from
    corrupted values.
    """
    parts = []
    for name in names:
        p = os.path.join(sf_dir, f"{name}.parquet")
        st = os.stat(p)
        parts.append(f"{p}:{st.st_mtime_ns}:{st.st_size}")
    return ";".join(parts)


def marker_valid(marker_path: str, fingerprint: str) -> bool:
    """True iff the completion marker exists AND matches the current
    source fingerprint (empty legacy markers never match)."""
    try:
        with open(marker_path) as fh:
            return fh.read() == fingerprint
    except OSError:
        return False


def staged(
    dest: str,
    fingerprint: str,
    build: Callable[[], object],
    clear: Iterable[str] | None = None,
) -> str:
    """Stage a derived input at `dest` and return `dest`.

    The stage is valid only while its marker `<dest>._fp` holds
    `fingerprint`, and the marker is written only after `build()`
    returns: the ORC rule that a file is valid once its tail is
    written last. A matching marker returns at once. Otherwise the
    marker and every path in `clear` (default: `dest` alone) are
    removed, then `build()` runs. An exception from `build()`
    propagates and leaves no marker, so the next call rebuilds instead
    of serving a partial stage. Stagers that write into a directory
    other stagers share pass `clear=()` and name `dest` inside it with
    a leading underscore, which Spark's file sources skip.
    """
    marker = dest + "._fp"
    if marker_valid(marker, fingerprint):
        return dest
    for path in (marker, *((dest,) if clear is None else clear)):
        _remove(path)
    build()
    with open(marker, "w") as fh:
        fh.write(fingerprint)
    return dest


def unstage(dest: str) -> None:
    """Remove a staged input and its marker, so the next `staged` call
    for `dest` rebuilds it."""
    _remove(dest + "._fp")
    _remove(dest)


def _remove(path: str) -> None:
    if os.path.isdir(path) and not os.path.islink(path):
        shutil.rmtree(path, ignore_errors=True)
    elif os.path.lexists(path):
        os.remove(path)
