"""Named-source catalog: the Spark analog of the reference's location
registry.

The reference registers named federated locations per authenticated user
(``rdbms(name, db, schema, table)``, ``DistributedQueryEngine.diff:270-271``;
``UserManagers(...).getClient(user).getRDBMSServer(dbName)``,
``DistributedQueryEngine.diff:109-114``) and infers each schema on first
touch through an inferrer SPI (``DistributedQueryEngine.diff:154,160-196``).

Here a source is a (format, path-or-url, options) triple; schema inference
is Spark's own (``DataFrameReader`` for files, JDBC metadata for
``jdbc`` sources — the exact machinery the reference hand-rolls at
``DistributedQueryEngine.diff:202-247``). Registered names become temp
views so both the DataFrame API and ``spark.sql`` resolve them.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pyarrow.parquet as pa_pq
import pyarrow.types as pa_types
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The driver-provided star schema (TESTDATA.md) plus pipeline tables.
STAR_TABLES = (
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
)


def staging_key(sf_dir: str) -> str:
    """Staging-dir key for ANY per-sf_dir derived artifact (streaming
    stage dirs, sink round-trips, signature stores, IVF indexes):
    basename for readability + a hash of the FULL resolved path, so two
    sf_dirs sharing a basename cannot collide. One definition — batch
    and streaming staging must never fork their keying scheme."""
    import hashlib
    from pathlib import Path

    p = Path(sf_dir).resolve()
    return f"{p.name or 'sf'}-{hashlib.md5(str(p).encode()).hexdigest()[:8]}"


def local_relation(spark: SparkSession, rows: list, schema: str) -> DataFrame:
    """Driver rows as a ``LocalRelation`` (built through Arrow), for
    request-sized relations computed on the driver: the rows cross to
    the JVM as columnar batches and the plan holds them inline, where a
    Python list passed to ``createDataFrame`` is pickled row by row into
    an RDD-backed ``LogicalRDD``. ``schema`` is a DDL string."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    struct = _parse_datatype_string(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)


def read_parquet_table(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with a timestamp-normalization shim.

    The testdata generator's timestamp encoding has varied across driver
    rounds, so BOTH hazards are handled by sniffing the footer (one
    metadata read, no data scan):

    - ``TIMESTAMP(NANOS)``: Spark (through 4.x) rejects it
      (PARQUET_TYPE_ILLEGAL). Read as raw int64
      (``spark.sql.legacy.parquet.nanosAsLong``) and floor-divide to
      microseconds — the same truncation DuckDB applies casting
      TIMESTAMP_NS → TIMESTAMP, so oracle comparison stays exact.
    - ``timestamp[us]`` without the UTC flag: Spark 4 infers
      TIMESTAMP_NTZ, which half the timestamp functions
      (``unix_micros``, …) reject. Cast to the session-zone TIMESTAMP
      (session tz is pinned UTC, so values are identical and DuckDB's
      naive timestamps still compare equal).

    Either way every caller sees one timestamp type: TIMESTAMP (ltz).
    """
    ns_cols: list[str] = []
    ntz = False
    try:
        from pathlib import Path as _P

        probe = _P(path)
        if probe.is_dir():
            # Spark-style directory dataset: sniff the first data file
            probe = next(
                p
                for p in sorted(probe.rglob("*.parquet"))
                if not p.name.startswith((".", "_"))
            )
        schema = pa_pq.read_schema(str(probe))
        # pyarrow reports BOTH TIMESTAMP(NANOS) and legacy INT96 as
        # timestamp[ns]; only the former needs (or tolerates) the
        # nanosAsLong shim — Spark reads INT96 natively as TIMESTAMP.
        # Distinguish via the parquet PHYSICAL type (metadata-only).
        # Read physical types from the FILE-LEVEL parquet schema, not
        # row-group metadata: a zero-row-group file (empty table, or
        # the first part-file of a multi-part Spark write) has no
        # row_group(0) but its schema still carries INT96 vs INT64 —
        # so the probe works on empty data AND can't mistake an empty
        # INT96 part for a NANOS file (ADVICE r7 + the regression its
        # suggested phys={} fallback would have introduced). The probe
        # still gets its OWN try/except; on failure phys=None means
        # UNKNOWN, and the ns branch then fails safe toward the native
        # INT96 read (applying the nanos shim to INT96 breaks the
        # read; skipping it on a true NANOS file merely reproduces the
        # pre-shim loud failure). The NTZ branch never needs phys:
        # INT96 always surfaces as timestamp[ns], so a us-unit NTZ
        # field cannot be INT96.
        try:
            pschema = pa_pq.ParquetFile(str(probe)).schema
            phys = {
                pschema.column(i).path: pschema.column(i).physical_type
                for i in range(len(pschema))
            }
        except Exception:
            phys = None
        for f in schema:
            if pa_types.is_timestamp(f.type):
                if f.type.unit == "ns":
                    if phys is not None and phys.get(f.name) != "INT96":
                        ns_cols.append(f.name)
                elif f.type.tz is None:
                    ntz = True
    except Exception:
        pass
    if ns_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    if ntz:
        for f in df.schema.fields:
            if f.dataType.typeName() == "timestamp_ntz":
                df = df.withColumn(f.name, F.col(f.name).cast("timestamp"))
    return df


@dataclass(frozen=True)
class Source:
    """A named external data source (cf. ``RDBMSDatabase(name, vendor,
    host, port, database, ...)``, ``DistributedQueryEngine.diff:20-62``)."""

    name: str
    fmt: str  # "parquet" | "csv" | "json" | "jdbc" | "binaryFile" | ...
    path: str  # file path, directory, or JDBC URL
    options: dict[str, str] = field(default_factory=dict)
    schema_ddl: str | None = None  # explicit schema (else inferred)


class SourceCatalog:
    """name → Source registry; resolves to DataFrames lazily.

    Unlike the reference there is no per-user credential service — the
    multi-tenant ``UserManagers`` lookup collapses to a plain dict here,
    which is the honest Spark-shaped core of that feature.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._sources: dict[str, Source] = {}

    def register(self, source: Source, as_view: bool = True) -> None:
        self._sources[source.name] = source
        if as_view:
            self.table(source.name).createOrReplaceTempView(source.name)

    def register_parquet_dir(self, sf_dir: str, tables=STAR_TABLES) -> None:
        """Register every star-schema table under ``sf_dir`` (the analog
        of the reference test fixture's ``rdbms(...)`` registrations)."""
        for name in tables:
            self.register(Source(name, "parquet", f"{sf_dir}/{name}.parquet"))

    def source(self, name: str) -> Source:
        return self._sources[name]

    def table(self, name: str) -> DataFrame:
        """Resolve a registered name to a DataFrame. Schema inference is
        delegated to Spark (the reference's ``RDBMSInferrer`` path,
        ``DistributedQueryEngine.diff:160-196``, is built-in here)."""
        src = self._sources[name]
        reader = self.spark.read
        if src.schema_ddl:
            reader = reader.schema(src.schema_ddl)
        if src.options:
            reader = reader.options(**src.options)
        if src.fmt == "jdbc":
            return reader.format("jdbc").option("url", src.path).load()
        if src.fmt == "parquet" and not src.options and not src.schema_ddl:
            return read_parquet_table(self.spark, src.path)
        return reader.format(src.fmt).load(src.path)

    def names(self) -> list[str]:
        return sorted(self._sources)


class Tables:
    """Convenience accessor: ``Tables(spark, sf_dir).lineitem`` → DataFrame.

    Plain parquet reads — column pruning and predicate pushdown reach the
    scan automatically (verify via ``df.explain`` → PushedFilters /
    ReadSchema).
    """

    def __init__(self, spark: SparkSession, sf_dir: str):
        self._spark = spark
        self._sf_dir = sf_dir
        self._cache: dict[str, DataFrame] = {}

    def __getattr__(self, name: str) -> DataFrame:
        if name.startswith("_"):
            raise AttributeError(name)
        if name not in STAR_TABLES:
            raise AttributeError(f"unknown table {name!r}")
        # Memoized: repeated access must return the SAME plan instance so
        # column references like `t.nation.n_nationkey` resolve against
        # the DataFrame being joined.
        if name not in self._cache:
            self._cache[name] = read_parquet_table(
                self._spark, f"{self._sf_dir}/{name}.parquet"
            )
        return self._cache[name]
