"""Scale tooling: salted aggregation/join equivalence, bucketed
shuffle-free joins."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from event_store_spark.functions.bucketing import (
    bucketed_join,
    exchange_count,
    write_bucketed,
)
from event_store_spark.functions.skew import salted_agg, salted_join
from event_store_spark.tables import load_table


def test_salted_agg_exact_equivalence(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    direct = {
        (r.l_returnflag, r.l_linestatus): (r.s, r.c, r.mn, r.mx)
        for r in li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("s"),
            F.count("l_quantity").alias("c"),
            F.min("l_quantity").alias("mn"),
            F.max("l_quantity").alias("mx"),
        )
        .collect()
    }
    salted = {
        (r.l_returnflag, r.l_linestatus): (r.s, r.c, r.mn, r.mx)
        for r in salted_agg(
            li,
            ["l_returnflag", "l_linestatus"],
            {
                "s": ("l_quantity", "sum"),
                "c": ("l_quantity", "count"),
                "mn": ("l_quantity", "min"),
                "mx": ("l_quantity", "max"),
            },
            salt_buckets=8,
        ).collect()
    }
    assert direct.keys() == salted.keys()
    for k, (s, c, mn, mx) in direct.items():
        s2, c2, mn2, mx2 = salted[k]
        assert (c, mn, mx) == (c2, mn2, mx2)
        assert abs(s - s2) < 1e-6 * max(abs(s), 1)  # float re-association only


def test_salted_agg_rejects_non_decomposable(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    with pytest.raises(ValueError, match="non-decomposable"):
        salted_agg(li, ["l_returnflag"], {"a": ("l_quantity", "avg")})


def test_salted_join_exact_equivalence(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem").select("l_partkey", "l_quantity")
    part = load_table(spark, sf_smoke, "part").select("p_partkey", "p_size")
    plain = li.join(part, li.l_partkey == part.p_partkey).count()
    salted = salted_join(li, part, "l_partkey", "p_partkey").count()
    assert plain == salted


def test_bucketed_join_has_no_shuffle(spark, sf_smoke):
    # managed tables land in the session's spark-warehouse dir (static conf);
    # dropped in the finally block
    orders = load_table(spark, sf_smoke, "orders")
    customer = load_table(spark, sf_smoke, "customer")
    write_bucketed(orders, "b_orders", "o_custkey", num_buckets=8)
    write_bucketed(customer, "b_customer", "c_custkey", num_buckets=8)
    prev_threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    # force a non-broadcast join so the bucket layout (not broadcast) is
    # what avoids the shuffle — the 100 TB fact⋈fact scenario
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "b_orders", "b_customer", ("o_custkey", "c_custkey"))
        assert exchange_count(joined) == 0, "bucketed join must not shuffle"
        # same row count as the shuffling plan
        plain = orders.join(customer, orders.o_custkey == customer.c_custkey)
        assert joined.count() == plain.count()
        assert exchange_count(plain) > 0  # the baseline does shuffle
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_threshold)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_customer")


def test_global_rank_edge_cases(spark):
    """Two-pass rank == unpartitioned-window rank on degenerate inputs:
    single row, constant band (worst-case skew), negative band values."""
    from pyspark.sql import Window as W
    from event_store_spark.plans.scale_rank import global_rank

    cases = [
        [(1.0, 1)],                                   # single row
        [(5.0, i) for i in range(7)],                 # constant key → one band
        [(-3.2, 1), (-3.1, 2), (0.0, 3), (2.5, 4)],   # negative bands
        [(float(i % 3), i) for i in range(20)],       # ties broken by id
    ]
    for rows in cases:
        df = spark.createDataFrame(rows, "price double, id int")
        ranked, total = global_rank(df, F.floor("price"), ["price", "id"])
        assert total == len(rows)
        got = {r.id: r._rank for r in ranked.collect()}
        w = W.orderBy("price", "id")
        expected = {
            r.id: r.rk
            for r in df.withColumn("rk", F.row_number().over(w)).collect()
        }
        assert got == expected, rows


def test_zorder_write_bounds_files_touched_by_box_predicate(spark, sf_correct, tmp_path):
    """The layout claim made physical: write lineitem 64-ways under (a)
    natural orderkey ranges and (b) z-cell keys, then run a 2-D box
    predicate (one partkey-prefix x one suppkey-prefix — exactly one
    z-cell). The matching rows live in 1-2 z-files but scatter across
    the natural files — the clustering every min-max/stats-based reader
    (parquet row-group stats, Delta/Iceberg file stats) turns into
    skipped IO. Mirrors plans/layout.py's span computation end-to-end
    through a REAL write+read."""
    from pyspark.sql import functions as F

    from event_store_spark.plans.layout import ZBITS, ZFILE_SHIFT, zvalue
    from event_store_spark.tables import load_table

    li = load_table(spark, sf_correct, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey"
    )
    mx = li.agg(
        F.max("l_partkey").alias("mp"), F.max("l_suppkey").alias("ms")
    ).head()
    sa = ZBITS - int(mx["mp"]).bit_length()
    sb = ZBITS - int(mx["ms"]).bit_length()
    z = zvalue(F.shiftleft("l_partkey", sa), F.shiftleft("l_suppkey", sb))
    nat, zp = str(tmp_path / "nat"), str(tmp_path / "z")
    li.repartition(
        64, (F.col("l_orderkey") / 250).cast("bigint")
    ).write.parquet(nat)
    li.repartition(64, F.shiftright(z, ZFILE_SHIFT)).write.parquet(zp)

    # one 5-bit-prefix cell per dimension (the z-cell prefix is 10 bits)
    pw = 1 << (ZBITS - 5 - sa)  # partkey width of one prefix bucket
    sw = 1 << (ZBITS - 5 - sb)
    plo, slo = 8 * pw, 8 * sw  # an arbitrary interior cell
    box = (
        F.col("l_partkey").between(plo, plo + pw - 1)
        & F.col("l_suppkey").between(slo, slo + sw - 1)
    )

    def files_touched(path):
        return (
            spark.read.parquet(path)
            .where(box)
            .select(F.input_file_name())
            .distinct()
            .count()
        )

    n_rows = li.where(box).count()
    assert n_rows > 0  # the box must actually select something
    n_nat, n_z = files_touched(nat), files_touched(zp)
    assert n_z <= 2  # one cell -> one file (+1 for a boundary straddle)
    assert n_z * 4 <= n_nat  # scattered everywhere under insertion order


def test_zvalue_interleave_properties(spark):
    """Morton-key algebra, property-checked through the actual Catalyst
    expression: interleaving is a bijection (distinct inputs -> distinct
    z), reconstructible (de-interleaving the bits recovers both keys),
    and prefix-monotone (the cell prefix bounds both coordinates —
    the guarantee zorder_pruning's spans rest on)."""
    from pyspark.sql import functions as F

    from event_store_spark.plans.layout import zvalue

    df = spark.range(0, 512).select(
        (F.col("id") % 32).alias("a"), (F.col("id") / 32).cast("bigint").alias("b")
    )
    out = df.select("a", "b", zvalue(F.col("a"), F.col("b"), bits=5).alias("z")).collect()
    assert len({r.z for r in out}) == 512  # bijection on the 32x32 grid
    for r in out:
        a = sum(((r.z >> (2 * i)) & 1) << i for i in range(5))
        b = sum(((r.z >> (2 * i + 1)) & 1) << i for i in range(5))
        assert (a, b) == (r.a, r.b)  # exact de-interleave
        # prefix cell (top 2+2 bits) bounds both coordinates in an 8-wide box
        cell = r.z >> 6
        ca = sum(((cell >> (2 * i)) & 1) << i for i in range(2))
        cb = sum(((cell >> (2 * i + 1)) & 1) << i for i in range(2))
        assert ca * 8 <= r.a < (ca + 1) * 8
        assert cb * 8 <= r.b < (cb + 1) * 8


def test_parquet_aggregate_pushdown_under_dsv2(spark, sf_correct):
    """Scan-efficiency escape hatch, pinned: with the parquet DSv2 reader
    and spark.sql.parquet.aggregatePushdown on, MIN/MAX/COUNT aggregates
    compile to a PushedAggregation scan — answered from parquet footer
    statistics without reading data pages (metadata-speed at 100 TB).
    The repo's default session keeps the battle-tested v1 reader for
    general queries; this pins that the stats-only path is available and
    correct when a stats query opts in."""
    from pyspark.sql import functions as F

    v1_key = "spark.sql.sources.useV1SourceList"
    pd_key = "spark.sql.parquet.aggregatePushdown"
    old_v1, old_pd = spark.conf.get(v1_key), spark.conf.get(pd_key)
    try:
        spark.conf.set(v1_key, "")  # parquet via DSv2
        spark.conf.set(pd_key, "true")
        df = (
            spark.read.parquet(f"{sf_correct}/orders.parquet")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min("o_orderkey").alias("mn"),
                F.max("o_orderkey").alias("mx"),
            )
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "PushedAggregation" in plan
        row = df.head()
        # values must agree with the data-page path
        full = spark.read.parquet(f"{sf_correct}/orders.parquet")
        assert (row["n"], row["mn"], row["mx"]) == (
            full.count(),
            full.agg(F.min("o_orderkey")).head()[0],
            full.agg(F.max("o_orderkey")).head()[0],
        )
    finally:
        spark.conf.set(v1_key, old_v1)
        spark.conf.set(pd_key, old_pd)


def test_runtime_bloom_filter_semi_pushdown(spark, sf_correct):
    """Scan-reduction pin #2: when a selective dim side cannot broadcast,
    Spark's runtime Bloom-filter injection (the semi-join pushdown every
    warehouse engine ships) filters the fact side MAP-SIDE before the
    shuffle — might_contain appears against the lineitem scan — and the
    filtered join result stays value-correct."""
    from pyspark.sql import functions as F

    from event_store_spark.tables import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_correct, "lineitem")
        orders = load_table(spark, sf_correct, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        ).select("o_orderkey")
        j = li.join(orders, li.l_orderkey == orders.o_orderkey).agg(
            F.sum("l_quantity").alias("s")
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "might_contain" in plan.lower()
        filtered = j.head()["s"]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
    # same aggregate without the bloom machinery
    li = load_table(spark, sf_correct, "lineitem")
    orders = load_table(spark, sf_correct, "orders").where(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    plain = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .agg(F.sum("l_quantity").alias("s"))
        .head()["s"]
    )
    assert filtered == plain


def test_default_driver_memory_follows_memtotal(tmp_path):
    """Without SPARK_DRIVER_MEMORY the local heap is half of MemTotal,
    clamped to [1 GB, 16 GB]: a fixed 16 GB heap on a 16 GB machine got
    the suite's JVM OOM-killed."""
    from event_store_spark.session import default_driver_memory

    def on(kib):
        f = tmp_path / f"meminfo-{kib}"
        f.write_text(f"MemTotal:       {kib} kB\nMemFree:        1024 kB\n")
        return default_driver_memory(str(f))

    assert on(16_000_000) == "7812m"
    assert on(1_000_000) == "1024m"
    assert on(128 * 1024 * 1024) == "16384m"
    assert default_driver_memory(str(tmp_path / "absent")) == "16g"
