"""Table loading + session configuration shared by every query.

Handles the two environment quirks (FIXTURES.md §B caveats):
  * ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (which Spark's
    reader rejects) in some fixture generations and TIMESTAMP(MICROS) in
    others — handle both: read nanos as long via
    ``spark.sql.legacy.parquet.nanosAsLong``
    and floor-convert to a µs TIMESTAMP_NTZ.
  * session timezone pinned to UTC so LTZ<->NTZ casts are value-preserving.
"""

from __future__ import annotations

import hashlib
import os
import tempfile
import zipfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

TABLES = (
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


def _package_zip(pkg_dir: str) -> str:
    """A zip of the package's ``.py`` files in the temp dir, named by a
    digest of their paths and bytes and written (tmp + rename) only when
    absent: drivers started from different checkouts never overwrite each
    other's zip, and identical copies share one file."""
    pkg_name = os.path.basename(pkg_dir)
    files: list[tuple[str, str]] = []  # (archive name, path)
    for root, dirs, names in os.walk(pkg_dir):
        dirs.sort()
        for fn in sorted(names):
            if fn.endswith(".py"):
                full = os.path.join(root, fn)
                files.append((os.path.join(pkg_name, os.path.relpath(full, pkg_dir)), full))
    digest = hashlib.sha256()
    for arc, full in files:
        with open(full, "rb") as f:
            data = f.read()
        digest.update(f"{arc}\0{len(data)}\0".encode())
        digest.update(data)
    zpath = os.path.join(
        tempfile.gettempdir(), f"{pkg_name}-{digest.hexdigest()[:16]}.zip"
    )
    if not os.path.exists(zpath):
        tmp = zpath + f".tmp{os.getpid()}"
        with zipfile.ZipFile(tmp, "w") as zf:
            for arc, full in files:
                zf.write(full, arc)
        os.replace(tmp, zpath)
    return zpath


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable in Spark's Python workers regardless of
    the driver's cwd: the Python Data Source / UDF classes are cloudpickled
    BY REFERENCE, so the worker must be able to import the module.  A zip
    of the package is addPyFile'd once per SparkContext."""
    sc = spark.sparkContext
    if getattr(sc, "_flif_pkg_shipped", False):
        return
    zpath = _package_zip(os.path.dirname(os.path.abspath(__file__)))
    sc.addPyFile(zpath)
    # addPyFile covers executor-side task workers and the batch planner
    # runner, but the STREAMING source runner (python_streaming_source_
    # runner.py) never receives the python includes on this Spark build —
    # a readStream from a cwd outside the repo dies with
    # ModuleNotFoundError at read_command.  sc.environment is captured
    # into the wrapped function's envVars at dataSource.register time
    # and reaches every spawned Python runner as process env, so putting
    # the zip on PYTHONPATH there closes the gap (verified: streaming
    # from /tmp works with this and fails without).
    prev = sc.environment.get("PYTHONPATH")
    sc.environment["PYTHONPATH"] = (
        zpath if not prev else zpath + os.pathsep + prev
    )
    sc._flif_pkg_shipped = True


def configure(spark: SparkSession) -> SparkSession:
    """Runtime confs every query relies on (safe to set repeatedly)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # some events.parquet generations store TIMESTAMP(NANOS); without this
    # the scan throws PARQUET_TYPE_ILLEGAL.  With it, a nanos ts arrives as
    # epoch-nanos bigint (load_table converts); a micros ts is unaffected
    # and reads as timestamp_ntz directly.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # let the fixedlen reader's pushFilters run (off by default in 4.1);
    # with it disabled Spark refuses any reader that implements the hook
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    # allow a join to ride a SUBSET of its keys' partitioning: a side
    # hashpartitioned on user_id co-locates (user_id, bucket) groups
    # too, so e.g. ts_gap_fill's grid⋈hourly join and its downstream
    # user_id window share ONE exchange instead of re-shuffling the
    # grid twice (the default `true` forces both SMJ children onto ALL
    # join keys).  Purely a physical-planning choice — AQE still splits
    # skewed partitions (plans/NOTES.md round-8).
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    _ship_package(spark)
    return spark


def _nanos_cols(path: str) -> list[str]:
    """Top-level TIMESTAMP(NANOS) columns per the parquet footer.

    With ``nanosAsLong=true`` (set globally in ``configure``) Spark reads
    those as epoch-nanos bigint while DuckDB reads real timestamps — any
    query filtering/grouping on such a column silently diverges.  Round 3
    proved this is roll-dependent PER COLUMN (events.ts has shipped as
    nanos; nothing stops a roll from shipping l_shipdate/o_orderdate as
    nanos too), so detection must come from the file itself, not a
    hard-coded column list.  Footer-only read: a few KB regardless of
    file size, driver-side, once per load.
    """
    import pyarrow.parquet as pq
    import pyarrow.types as pt

    if os.path.isdir(path):
        cands = sorted(
            f for f in os.listdir(path)
            if f.endswith(".parquet") and not f.startswith(("_", "."))
        )
        if not cands:
            return []
        path = os.path.join(path, cands[0])
    try:
        schema = pq.read_schema(path)
    except (OSError, ValueError):
        return []
    return [
        f.name
        for f in schema
        if pt.is_timestamp(f.type) and f.type.unit == "ns"
    ]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    configure(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for col in _nanos_cols(path):
        if dtypes.get(col) == "bigint":
            # floor-divide to µs (integer div — no double rounding), NTZ to
            # match the naive timestamps DuckDB sees.
            df = df.withColumn(
                col,
                F.timestamp_micros(F.expr(f"`{col}` div 1000")).cast(
                    "timestamp_ntz"
                ),
            )
    return df


def get_session(app: str = "flif-spark", cpus: int | None = None) -> SparkSession:
    """Local session for tests/bench; the driver supplies its own session
    for ``__spark_entry__`` calls."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
    spark = (
        SparkSession.builder.appName(app)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(max(8, cpus)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # Shuffle/spill codec, env-parameterized (round-15 sf1 sweep,
        # OPTIMIZATION_r15.md §codec): on local[32] lz4-vs-zstd was
        # mixed and inside the noise band (containment -12%, line_dedup
        # +12%), because page-cache "network" makes compression pure
        # CPU here — so the LOCAL default stays Spark's lz4 and the
        # driver's bench stays comparable round-over-round.  On a real
        # cluster, where shuffle bytes cross NICs, zstd's ratio usually
        # wins (guide §2.3): set SPARK_GRAFT_IO_CODEC=zstd there.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_IO_CODEC", "lz4"),
        )
        .getOrCreate()
    )
    return configure(spark)
