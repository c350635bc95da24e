"""SparkSession factory tuned for this engine.

Local mode here, but every knob is chosen to also be correct on a large
cluster: AQE for runtime re-planning (skew joins, partition coalescing),
UTC session timezone (oracle comparability), Arrow for the Pandas-UDF slow
path, and shuffle partitions sized to the parallelism at hand rather than
the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "console_etl_spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster ``master`` comes from spark-submit; locally we use
    ``local[N]`` with N from $SPARK_GRAFT_CPUS (default all cores).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    if shuffle_partitions is None:
        try:
            shuffle_partitions = int(cpus)
        except ValueError:
            shuffle_partitions = os.cpu_count() or 8

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Coalesce post-shuffle partitions by SIZE, not defaultParallelism:
        # with parallelismFirst (the default) every exchange keeps ~32
        # partitions even for kilobytes, and multi-stage plans pay ~200
        # no-op task launches. Size-based is also the production setting —
        # at real scale partitions exceed the advisory anyway. Operators
        # that need parallelism on small bytes (GEMM, shingle explosion)
        # use spread()'s explicit repartition, which AQE never coalesces.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_ADVISORY_MB", "16") + "m",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # Python DataSource pushdown (datasource.py implements
        # pushFilters; Spark refuses to plan such a reader with this off)
        .config("spark.sql.python.filterPushdown.enabled", "true")
        # Older fixture generations ship events.ts as parquet
        # TIMESTAMP(NANOS); Spark has no nanos timestamp type, so read
        # as long and normalize in load_table() (current micros fixtures
        # take the TIMESTAMP_NTZ branch there instead).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Local benches read few small parquet files; the 128 MB default
        # split would give 1-3 tasks on 32 cores. On a real cluster (many
        # files, 100 TB) leave this at default via SPARK_GRAFT_SPLIT_MB.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_SPLIT_MB", "16") + "m",
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    # Only force a master when none is configured (i.e. not under spark-submit).
    if not os.environ.get("SPARK_MASTER") and "SPARK_SUBMIT_OPTS" not in os.environ:
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_df(spark: SparkSession, schema: StructType, columns: list[list]) -> DataFrame:
    """A DataFrame over driver-side column values, one list per field
    of ``schema``.

    It is built from an Arrow table, so it plans as a LocalRelation and
    collecting it runs no Spark job. ``createDataFrame`` over a list of
    rows would parallelise them and start Python workers instead.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, schema)


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Read one fixture table (see TESTDATA.md).

    The fixture's ``events.ts`` column has shipped under two different
    parquet physical types across generations, and the engine accepts
    both (the robustness contract in BASELINE.md):

    - TIMESTAMP(NANOS): Spark has no nanos type, so ``nanosAsLong``
      reads it as long; we truncate to microsecond TimestampType — the
      same truncation DuckDB applies casting timestamp_ns to timestamp.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): Spark 4 reads this as
      TIMESTAMP_NTZ; under the UTC session timezone pinned below, a cast
      to TimestampType is wall-clock-identical, so every downstream
      epoch/window/date expression (and the DuckDB oracle, which sees
      naive micros either way) is unchanged.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # The driver may hand us a session without this conf; it is
        # runtime-settable and required to read TIMESTAMP(NANOS) parquet.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp semantics (date_trunc / window / cast-to-date) follow the
    # session timezone; the oracle's timestamps are wall-clock naive, so
    # any non-UTC session would shift hour/date buckets. Runtime-settable,
    # idempotent — pin it here so queries are correct on ANY session.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            # integer `div`, not `/`: ns-since-epoch exceeds 2^53, double
            # division would lose microseconds.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            # Wall-clock-identical under the UTC session TZ pinned above.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


from collections import OrderedDict as _OrderedDict
import itertools as _itertools

_PIN_GROUPS: "_OrderedDict[int, tuple]" = _OrderedDict()
_PIN_CAP = int(os.environ.get("SPARK_GRAFT_PIN_GROUPS", "8"))
_pin_seq = _itertools.count()


def pin(*dfs):
    """Persist operator intermediates with a BOUNDED lifetime.

    Operators persist intermediates that feed multiple branches of the
    lazy plan they return; they cannot unpersist before the caller acts,
    and Spark's CacheManager holds cached plans until an explicit
    unpersist/clearCache — so bare ``.persist()`` leaks storage in
    long-lived sessions. ``pin`` closes the leak class with a
    self-evicting FIFO of pin groups (one group per call): when more
    than ``$SPARK_GRAFT_PIN_GROUPS`` (default 8) groups are live, the
    oldest group is unpersisted. Cache usage is therefore bounded for
    ANY session lifetime with no caller-side contract; an evicted block
    is never a correctness event — the unpersisted InMemoryRelation
    recomputes from lineage, only the reuse speedup is lost.

    (A GC-finalizer tie to the returned DataFrame was considered and
    rejected: helper results chained inside larger operators are
    refcount-dropped at frame exit, which would release the cache
    before the plan ever executes. ``localCheckpoint`` was rejected for
    the 100 TB story: it truncates lineage, so losing one executor of a
    thousand fails the job instead of recomputing.)

    Returns the single DataFrame (or the tuple) persisted.
    """
    for d in dfs:
        d.persist()
    _PIN_GROUPS[next(_pin_seq)] = dfs
    while len(_PIN_GROUPS) > _PIN_CAP:
        _, old = _PIN_GROUPS.popitem(last=False)
        for d in old:
            try:
                d.unpersist(False)
            except Exception:
                pass  # session already stopped
    return dfs[0] if len(dfs) == 1 else dfs


_BCAST_GROUPS: "_OrderedDict[int, object]" = _OrderedDict()
_BCAST_CAP = int(os.environ.get("SPARK_GRAFT_BCAST_GROUPS", "16"))
_bcast_seq = _itertools.count()


def bpin(bc):
    """Bounded lifetime for raw ``sparkContext.broadcast`` variables —
    the broadcast twin of ``pin``. Spark never frees a broadcast until
    the context stops, so the GEMM kernels' centroid/codebook/rotation
    broadcasts would accumulate without bound across repeated index
    builds and searches in a long-lived session. Registered broadcasts
    evict FIFO past ``$SPARK_GRAFT_BCAST_GROUPS`` (default 16) via
    ``unpersist()`` (non-blocking): executor blocks are dropped, the
    driver keeps the value, and any LATER task use re-broadcasts on
    demand — eviction is a re-send cost, never a correctness event
    (which is why ``destroy()`` is NOT used: a lazily-executed plan may
    still hold the handle)."""
    _BCAST_GROUPS[next(_bcast_seq)] = bc
    while len(_BCAST_GROUPS) > _BCAST_CAP:
        _, old = _BCAST_GROUPS.popitem(last=False)
        try:
            old.unpersist(False)
        except Exception:
            pass  # session already stopped
    return bc


def release_pins():
    """Unpersist every live pin group (idempotent). Optional hygiene for
    hosts that want cache empty NOW rather than bounded — bench.py calls
    it between measurements."""
    while _PIN_GROUPS:
        _, old = _PIN_GROUPS.popitem(last=False)
        for d in old:
            try:
                d.unpersist(False)
            except Exception:
                pass
    return None


def spread(df, multiplier: int = 1):
    """Round-robin repartition to the session's full parallelism.

    Use before compute-heavy per-row operators (shingle explosion, GEMM
    blocks) when the input may arrive in fewer splits than cores — a
    single small parquet file otherwise serializes the whole operator on
    one task. At real scale inputs already arrive in many splits and the
    shuffle this forces is cheap relative to the operator it feeds.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * multiplier
    return df.repartition(target)
