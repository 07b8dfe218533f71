"""Scale-safe KEYED window primitives: per-key row index, running sum,
ntile, and top-k whose parallelism is bounded by the PARTITION count,
never by the key cardinality.

Why this module exists: ``Window.partitionBy(key)`` shuffles every row of
the input onto ``key`` and sorts each key's rows inside ONE task. That is
the right plan when the key is high-cardinality (per-user windows: millions
of tasks), and exactly the wrong plan when the key is a low-cardinality
dimension — ``documents.source`` has ~20 values, so a per-source running
sum over a 100 TB corpus becomes twenty ~5 TB single-task sorts no matter
how many executors the cluster has.

The fix generalizes the two-phase partition-offset trick already used for
the GLOBAL index (``sinks/chunked.py:with_global_index``, allowlisted in
``tools/audit_plans.py``) to keyed prefix aggregates:

1. ``repartitionByRange(*key_cols, *order_cols)`` — the RangePartitioner
   assigns ascending (key, order) ranges to ascending partition ids, so
   each key occupies a CONTIGUOUS run of partitions and, across partitions,
   lower pid ⇒ earlier in the key's order. Parallelism = partition count.
2. A per-(pid, key) summary aggregate — row count and optional value sum.
   Because each key's pid-range is contiguous, the summary has at most
   ``#partitions + #keys − 1`` rows: TINY (bounded by cluster width plus
   key cardinality, never by data).
3. Cumulative offsets per key over that summary — a keyed window over the
   tiny frame (rows per key ≤ #partitions).
4. Broadcast the offsets back and finish with a LOCAL window partitioned
   by ``(__pid, key)``: per-key global index = pid-offset + local
   row_number; per-key exclusive prefix sum = pid-sum-offset + local
   exclusive sum. Every data-sized sort stays partitioned by ``__pid``.

Correctness does not depend on where the range boundaries land (offsets
are computed from the partitions' ACTUAL contents), only on the
partitioner being a range partitioner over the requested sort order AND
on the summary branch and the data branch seeing the SAME partition-id
assignment. The latter is made structural by persisting the ranged frame
(one InMemoryRelation, boundaries sampled once) rather than relying on
Spark's non-contractual exchange reuse — see ``_keyed_offsets``.

When the key IS high-cardinality, plain ``Window.partitionBy(key)`` is
already parallel and strictly cheaper (one shuffle, no summary join) —
these primitives are for dimension-keyed prefixes over fact-sized data.
No counterpart in ``/root/reference`` (its pandas loop is single-node,
reference redcap-etl.py:399-422 iterates rows); this is the Spark-first
generalization the 100 TB target demands.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from redcap_omop_etl_spark.caching import materialize


def _as_col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


def _keyed_offsets(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    value_col: str | None = None,
) -> DataFrame:
    """Shared phase 1-3: range-partition on (keys, order), attach
    ``__pid``, and broadcast-join back per-(pid, key) cumulative offsets:

    - ``__cnt_off``: rows of this key in strictly-lower pids,
    - ``__tot``: this key's total row count,
    - ``__sum_off`` / ``__sum_tot`` (when ``value_col``): same for sums.

    Returns the data frame WITH ``__pid`` and the offset columns; callers
    add the local (pid, key)-partitioned window and drop the helpers.
    """
    sort_exprs = [_as_col(k) for k in key_cols] + [_as_col(o) for o in order_cols]
    parted = df.repartitionByRange(*sort_exprs)
    # The persist makes the pid assignment STRUCTURAL rather than
    # reliant on exchange reuse: both consumers (the summary branch and
    # the data branch) reference ONE InMemoryRelation over ONE physical
    # RDD, whose RangePartitioner boundaries are sampled exactly once at
    # first materialization (eviction-recompute re-fetches the same
    # shuffle output under the same boundaries object). Without it, the
    # two branches share the exchange only via Spark's non-contractual
    # ReusedExchange — if reuse were disabled or an AQE change split the
    # exchange, each branch could sample DIFFERENT range boundaries and
    # the __pid equi-join below would silently misassign offsets. The
    # persist is lazy (no plan-construction job) and MEMORY_AND_DISK, so
    # at 100 TB it degrades to a local-disk spill of the working set —
    # the cost of one extra materialization buys a correctness invariant
    # instead of a config assumption.
    with_pid = materialize(parted.withColumn("__pid", F.spark_partition_id()), "persist")
    aggs = [F.count(F.lit(1)).alias("__n")]
    if value_col is not None:
        aggs.append(F.sum(value_col).alias("__s"))
    summary = with_pid.groupBy("__pid", *key_cols).agg(*aggs)
    # Cumulative offsets per key over the summary: a keyed window whose
    # frame holds ≤ #partitions rows per key — bounded by cluster width,
    # never by data (the audit's global-window flag does not apply; the
    # spec is keyed and the input is the summary aggregate).
    woff = Window.partitionBy(*key_cols).orderBy("__pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wtot = Window.partitionBy(*key_cols)
    off_cols = [
        F.coalesce(F.sum("__n").over(woff), F.lit(0)).alias("__cnt_off"),
        F.sum("__n").over(wtot).alias("__tot"),
    ]
    if value_col is not None:
        off_cols += [
            F.coalesce(F.sum("__s").over(woff), F.lit(0)).alias("__sum_off"),
            F.sum("__s").over(wtot).alias("__sum_tot"),
        ]
    offsets = summary.select("__pid", *key_cols, *off_cols)
    return with_pid.join(F.broadcast(offsets), ["__pid", *key_cols])


def with_keyed_index(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    index_col: str = "__idx",
) -> DataFrame:
    """0-based per-key row index in ``order_cols`` order — the keyed
    generalization of ``with_global_index`` — with parallelism equal to
    the partition count (the data-sized row_number window partitions by
    ``(__pid, *key_cols)``, never by the key alone).

    Equivalent to ``row_number() OVER (PARTITION BY keys ORDER BY order)
    - 1`` for any deterministic total order (unique ``order_cols`` within
    a key), which is what every call site in this repo supplies.
    """
    joined = _keyed_offsets(df, key_cols, order_cols)
    w = Window.partitionBy("__pid", *key_cols).orderBy(
        *[_as_col(o) for o in order_cols]
    )
    return (
        joined.withColumn(index_col, F.col("__cnt_off") + F.row_number().over(w) - 1)
        .drop("__pid", "__cnt_off", "__tot")
    )


def keyed_running_sum(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    value_col: str,
    sum_col: str = "__psum",
    inclusive: bool = False,
) -> DataFrame:
    """Per-key prefix sum of ``value_col`` in ``order_cols`` order
    (exclusive by default: the canonical bin-packing form
    ``sum(v) OVER (PARTITION BY keys ORDER BY order ROWS BETWEEN
    UNBOUNDED PRECEDING AND 1 PRECEDING)``), computed two-phase so the
    data-sized sort is partitioned by ``(__pid, keys)``.
    """
    joined = _keyed_offsets(df, key_cols, order_cols, value_col=value_col)
    frame_end = 0 if inclusive else -1
    w = (
        Window.partitionBy("__pid", *key_cols)
        .orderBy(*[_as_col(o) for o in order_cols])
        .rowsBetween(Window.unboundedPreceding, frame_end)
    )
    local = F.coalesce(F.sum(value_col).over(w), F.lit(0))
    return (
        joined.withColumn(sum_col, F.col("__sum_off") + local)
        .drop("__pid", "__cnt_off", "__tot", "__sum_off", "__sum_tot")
    )


def keyed_ntile(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    n_tiles: int,
    tile_col: str = "tile",
) -> DataFrame:
    """Per-key ``ntile(n)`` reproduced arithmetically from the two-phase
    index: with per-key total ``t``, ``q = t div n``, ``r = t mod n``, SQL
    ntile gives the first ``r`` tiles ``q+1`` rows and the rest ``q`` —
    i.e. for 0-based index ``i``: ``i div (q+1) + 1`` while
    ``i < r·(q+1)``, else ``r + (i − r·(q+1)) div q + 1``. Bit-identical
    to ``ntile(n) OVER (PARTITION BY keys ORDER BY order)`` for any
    deterministic total order, but the data-sized sort stays partitioned
    by ``(__pid, keys)`` instead of the (low-cardinality) key.

    The per-key total rides along from the same offsets summary — no
    second scan, no extra shuffle.
    """
    joined = _keyed_offsets(df, key_cols, order_cols)
    w = Window.partitionBy("__pid", *key_cols).orderBy(
        *[_as_col(o) for o in order_cols]
    )
    i = (F.col("__cnt_off") + F.row_number().over(w) - 1).cast("bigint")
    t = F.col("__tot").cast("bigint")
    n = F.lit(int(n_tiles)).cast("bigint")
    q = F.expr(f"CAST(__tot AS BIGINT) div {int(n_tiles)}")
    r = t % n
    # greatest(q, 1): the else-branch divisor — unreachable when q = 0
    # (every i < t = r·1 then), guarded so ANSI mode can't raise on the
    # never-taken division.
    tile = (
        F.when(i < r * (q + 1), F.expr(f"__i div (__q + 1)"))
        .otherwise(r + F.expr("(__i - __r * (__q + 1)) div greatest(__q, 1L)"))
        + 1
    )
    return (
        joined.withColumn("__i", i)
        .withColumn("__q", q)
        .withColumn("__r", r)
        .withColumn(tile_col, tile.cast("bigint"))
        .drop("__pid", "__cnt_off", "__tot", "__i", "__q", "__r")
    )


def keyed_topk(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list,
    k: int,
    rank_col: str = "__rk",
) -> DataFrame:
    """Top-``k`` rows per key with their exact per-key rank, WITHOUT
    shuffling the corpus onto the key: phase 1 ranks inside every
    EXISTING partition (``row_number`` over ``(__pid, keys)``), pruning
    the input to ≤ ``#partitions × #keys × k`` candidate rows; phase 2
    ranks that tiny candidate frame per key exactly.

    Physical-plan honesty (read from the executed plan, pinned in
    tests): Spark does insert an ``Exchange hashpartitioning(__pid,
    keys)`` to satisfy the phase-1 window's clustering requirement — but
    its ``WindowGroupLimit … Partial`` optimization applies the rank
    limit map-side BELOW that exchange, so what actually shuffles is the
    already-pruned ≤ ``#keys × k`` rows per map task, not the corpus;
    the corpus-sized work is per-partition map-side sorts at full scan
    parallelism. (The naive ``rank over (key) + filter`` gets the same
    map-side prune ONLY when the filter sits directly above the window —
    an aggregate consuming all ranked rows, as the quota audit this
    primitive replaced did, defeats it and forces the full corpus onto
    the key.)

    Exactness: every true global top-k row has local rank ≤ its global
    rank ≤ k inside whatever partition holds it, so it always survives
    phase 1 (the classic two-phase top-k argument — requires a
    deterministic total order, i.e. unique ``order_cols`` within a key).
    The phase-2 keyed window is over the candidate frame only: ≤
    ``#partitions × k`` rows per key — bounded by cluster width, not data.
    """
    ordered = [_as_col(o) for o in order_cols]
    with_pid = df.withColumn("__pid", F.spark_partition_id())
    w_local = Window.partitionBy("__pid", *key_cols).orderBy(*ordered)
    cand = (
        with_pid.withColumn("__lrk", F.row_number().over(w_local))
        .filter(F.col("__lrk") <= k)
        .drop("__pid", "__lrk")
    )
    w_key = Window.partitionBy(*key_cols).orderBy(*ordered)
    return cand.withColumn(rank_col, F.row_number().over(w_key)).filter(
        F.col(rank_col) <= k
    )
