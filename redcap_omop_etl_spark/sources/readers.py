"""Schema-explicit readers over the engine's table catalog.

The reference scans CSV/JSON with pandas and *explicit* column pruning
(``usecols`` at ``dcc_transforms.py:226-230``) and all-string dtypes; here
every scan goes through ``spark.read`` with a declared schema so Catalyst
gets column pruning + predicate pushdown for free, and type errors surface
at the operator boundary (``try_*``), never mid-pipeline.

At 100 TB the catalog abstraction matters: each table is one parquet
dataset, scans are split by ``spark.sql.files.maxPartitionBytes``, and a
filter/projection written against a ``Catalog`` table reaches the parquet
reader as ``PushedFilters`` / ``ReadSchema`` (verify with
``df.explain("formatted")``).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The driver's relational test tables (TESTDATA.md); schemas pinned so a
# schema drift in the files is an error, not a silent re-infer.
TABLES: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one catalog table from ``{sf_dir}/{name}.parquet``.

    Parquet carries its own schema; we do not force-cast here (that would
    defeat vectorized reading) but the catalog schema documents the
    contract, and ``Catalog.validate`` can assert it.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {sorted(TABLES)}")
    # Set here (not only in session.py) so queries are self-sufficient on a
    # caller-provided session, e.g. the driver's plain harness session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # Source-boundary repair. The corpus writes TIMESTAMP(isAdjustedToUTC=
    # false, MICROS), which Spark 4 reads as TIMESTAMP_NTZ; the catalog
    # contract is TimestampType. With the session TZ pinned UTC
    # (session.py) the NTZ->TZ cast is value-preserving, and doing it here
    # means every operator downstream (unix_micros, range frames,
    # stream-stream interval joins) sees one timestamp type. The bigint
    # branch covers nanos-encoded files under nanosAsLong; integer `div`
    # keeps full precision.
    dtypes = dict(df.dtypes)
    for field in TABLES[name].fields:
        if isinstance(field.dataType, T.TimestampType):
            if dtypes.get(field.name) == "bigint":
                df = df.withColumn(field.name, F.timestamp_micros(F.expr(f"{field.name} div 1000")))
            elif dtypes.get(field.name) == "timestamp_ntz":
                df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    return df


def fan_out(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Round-robin repartition iff the current partitioning is narrower
    than the cluster's parallelism.

    Compute-heavy per-row operators (shingling, hashing, HOF lambdas —
    which evaluate interpreted, outside whole-stage codegen) are CPU-bound,
    so a scan that produced fewer splits than cores serializes them. At
    100 TB scans yield thousands of splits and this is a no-op; on a small
    single-file table it buys full parallelism for the cost of shuffling a
    few MB.

    The decision launches no job; it reads only what the planner already
    knows:

    - a ``repartition(n)``/``coalesce(n)`` on top has width ``n``, which
      AQE leaves as is;
    - a plan without an exchange counts its scan's splits
      (``rdd.getNumPartitions``: file-split enumeration, planning only);
    - any other plan with an exchange would have to RUN to report its
      width: under AQE, ``df.rdd`` materializes every query stage (3 jobs
      on a maintenance tick's join input) and throws them away. It counts
      as narrow when the optimizer's size estimate is under ``target``
      advisory partitions (``spark.sql.adaptive.advisoryPartitionSizeInBytes``),
      the size below which AQE may coalesce it to fewer than ``target``.
      AQE's parallelism-first coalescing keeps ``target`` partitions down
      to ``target`` × 1 MB, so between the two sizes this widens an input
      that was already wide: one extra round-robin shuffle of under
      ``target`` advisory partitions.
    """
    spark = df.sparkSession
    target = min_parallelism or spark.sparkContext.defaultParallelism
    qe = df._jdf.queryExecution()
    top = qe.optimizedPlan()
    if top.nodeName() == "Repartition":
        narrow = top.numPartitions() < target
    elif "Exchange" not in qe.executedPlan().toString():
        narrow = df.rdd.getNumPartitions() < target
    else:
        advisory = spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
            spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
        )
        narrow = int(top.stats().sizeInBytes()) < target * advisory
    return df.repartition(target) if narrow else df


# small_plan_rounds' gate: 256k rows (~6 MB shuffled as edge pairs) is
# under a tenth of one advisory (64 MB) partition, where AQE's runtime
# coalescing and skew splits buy nothing; below it the static width is
# one partition per 64k rows.
_SMALL_PLAN_ROWS = 256 * 1024
_ROWS_PER_PART = 64 * 1024


@contextmanager
def small_plan_rounds(spark, n_rows: int):
    """Plan an iterative loop's per-round queries as single jobs when the
    MEASURED working-set row count is tiny.

    With AQE on, every exchange materializes as its own driver-paced job
    (QueryStageExec) — a round of a contraction/propagation loop is 4-6
    jobs whose scheduling overhead dwarfs the data below one advisory
    partition (~64 MB). Inside this context, plans are built with AQE off
    and a static shuffle width derived from ``n_rows`` (64k rows per
    partition), so a round plans as ONE job with single-digit tasks.
    From ``_SMALL_PLAN_ROWS`` up the context is a no-op: big graphs keep AQE's
    coalescing and skew handling. Both knobs derive from the measured
    input, not the local core count. Only affects queries PLANNED inside
    the block (per-round ``localCheckpoint`` calls plan eagerly); the
    caller's final action keeps the session settings."""
    conf = spark.conf
    if n_rows >= _SMALL_PLAN_ROWS:
        yield
        return
    aqe_was = conf.get("spark.sql.adaptive.enabled")
    parts_was = conf.get("spark.sql.shuffle.partitions")
    conf.set("spark.sql.adaptive.enabled", "false")
    conf.set("spark.sql.shuffle.partitions", str(max(1, n_rows // _ROWS_PER_PART)))
    try:
        yield
    finally:
        conf.set("spark.sql.adaptive.enabled", aqe_was)
        conf.set("spark.sql.shuffle.partitions", parts_was)


class Catalog:
    """A scale-factor-rooted view of the test corpus.

    ``Catalog(spark, '/root/testdata/sf0.01')[name]`` returns the DataFrame;
    tables are also registered as temp views on first access so SQL-form
    operators can refer to them by name.
    """

    def __init__(self, spark: SparkSession, sf_dir: str, register_views: bool = True):
        self.spark = spark
        self.sf_dir = sf_dir
        self._register = register_views
        self._cache: dict[str, DataFrame] = {}

    def __getitem__(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = load_table(self.spark, self.sf_dir, name)
            if self._register:
                df.createOrReplaceTempView(name)
            self._cache[name] = df
        return self._cache[name]

    def register_all(self) -> None:
        for name in TABLES:
            self[name]
