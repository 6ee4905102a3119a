package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins & merge (SURVEY.md §2.5, J1–J4).
  *
  * J1–J3 are the reference's planned enrichment joins against a small
  * device-metadata dimension (Learning Guide.txt:1045 §5, :1071 §2-3); the
  * TPC-H star schema plays that role at scale. J4 is the reference's only
  * implemented multi-source combination: the last-write-wins key-upsert
  * (mongo_to_postgres_sync.py:378-399), expressed here as a full-outer
  * merge — the batch analog of `MERGE INTO`.
  *
  * Scale notes: dimensions (part/customer at these shapes) broadcast —
  * zero shuffle on the fact side, the scan streams through a broadcast hash
  * join inside one codegen stage. The fact table never moves. If the
  * dimension outgrew the broadcast threshold, the fallback is a shuffled
  * hash join on the equi-key, which AQE picks automatically.
  */
object Joins {

  /** J1: broadcast equi-join fact→dim — revenue per part brand
    * (Learning Guide.txt:1045 §5 "Broadcast join for device_metadata").
    * The revenue sum runs in DECIMAL end to end (price and discount are
    * exact 2-decimal values) so it is order-independent and cross-engine
    * exact — a double sum here drifts with partition count. */
  def broadcastJoin(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val p  = Tables.part(spark, dir)
    val lineRevenue = li("l_extendedprice").cast("decimal(18,2)") *
      (lit(1.0) - li("l_discount")).cast("decimal(8,4)")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(
        Exact.rnd(sum(lineRevenue).cast("double"), 2).as("revenue"),
        count(lit(1)).as("cnt"))
  }

  /** J8: the 3-table priority composite (TPC-H Q3 shape) — segment-filtered
    * customers × date-bounded orders × post-cutoff lineitems, revenue per
    * order, top 10. The shape every warehouse optimizer is judged on:
    * filters reach all three scans, the dimension side broadcasts, the two
    * fact joins share the orderkey, the agg is partial+final in DECIMAL
    * (j1's order-independent revenue discipline), and the final sort+limit
    * compiles to TakeOrderedAndProject — never a global sort of the
    * aggregate. */
  def shippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = "1998-01-01"
    val c = Tables.customer(spark, dir)
      .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") < lit(cutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cutoff))
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1.0) - col("l_discount")).cast("decimal(8,4)")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(Exact.rnd(sum(rev).cast("double"), 2).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
  }

  /** J9: the 6-table regional-revenue composite (TPC-H Q5 shape) — revenue
    * by nation for one region and a two-year order window, where the
    * supplier must be LOCAL to the customer (c_nationkey = s_nationkey).
    * The deepest join tree in the registry, shaped the way a 100 TB
    * warehouse must run it: region→nation→supplier collapse into one
    * broadcast dimension before ever touching a fact; customer broadcasts
    * against the order side; the single shuffle join is fact⋈fact on
    * l_orderkey = o_orderkey with the date filter pushed into the orders
    * scan; the local-supplier equality rides the customer broadcast as a
    * join condition, never a post-join filter over a wider product. Revenue
    * runs in DECIMAL end to end (the j1 order-independence discipline) and
    * the 5-row result sorts trivially. */
  def regionalRevenue(spark: SparkSession, dir: String): DataFrame = {
    val (lo, hi) = ("1997-01-01", "1999-01-01")
    val r = Tables.region(spark, dir)
      .filter(col("r_name") === "ASIA").select("r_regionkey")
    val n = Tables.nation(spark, dir)
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val s = Tables.supplier(spark, dir)
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
    val c = Tables.customer(spark, dir).select("c_custkey", "c_nationkey")
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit(lo) && col("o_orderdate") < lit(hi))
      .select("o_orderkey", "o_custkey")
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1.0) - col("l_discount")).cast("decimal(8,4)")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(Exact.rnd(sum(rev).cast("double"), 2).as("revenue"),
        count(lit(1)).as("cnt"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** J2: left enrichment join (Learning Guide.txt:1071 §2 Layer 2) —
    * orders enriched with customer attributes. Customer is broadcast. */
  def enrichmentJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("c_name"), col("c_mktsegment"))
  }

  /** J3: referential-integrity anti-join (Learning Guide.txt:1071 §3
    * relationship test) — customers with no orders. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  /** J3b: semi-join companion — customers having at least one order. */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  /** J4: last-write-wins key-upsert merge
    * (mongo_to_postgres_sync.py:378-399; streaming_job.py:497-509).
    * Base snapshot = first 3 weeks of per-user aggregates; update batch =
    * the rest; merged = full-outer coalesce(update, base) keyed by user_id —
    * the pure-Spark `MERGE INTO`. The streaming foreachBatch upsert sink
    * (graft.streaming.UpsertSink) applies the same last-write-wins rule. */
  def upsertMerge(spark: SparkSession, dir: String): DataFrame = {
    // the batch cutoffs bound the RAW scan column so they push into the
    // scan (Tables.eventsWithRawTs — each side reads only its row groups)
    val events = Tables.eventsWithRawTs(spark, dir)
    val cutoffN = graft.Tables.rawTs("2024-01-22 00:00:00")
    def snap(df: DataFrame): DataFrame =
      df.groupBy(col("user_id"))
        .agg(Exact.rnd(Exact.sumD("value"), 2).as("total_value"),
          count(lit(1)).as("cnt"), max("ts").as("last_ts"))
    val base    = snap(events.filter(col("ts_raw") < lit(cutoffN)))
      .withColumnRenamed("total_value", "b_total").withColumnRenamed("cnt", "b_cnt")
      .withColumnRenamed("last_ts", "b_last").withColumnRenamed("user_id", "b_user")
    val updates = snap(events.filter(col("ts_raw") >= lit(cutoffN)))
    merge(base, updates)
  }

  /** Full-outer merge: rows from `updates` win, `base` fills the gaps. */
  private def merge(base: DataFrame, updates: DataFrame): DataFrame =
    base.join(updates, col("b_user") === col("user_id"), "full_outer")
      .select(
        coalesce(col("user_id"), col("b_user")).as("user_id"),
        coalesce(col("total_value"), col("b_total")).as("total_value"),
        coalesce(col("cnt"), col("b_cnt")).as("cnt"),
        coalesce(col("last_ts"), col("b_last")).as("last_ts"),
        when(col("user_id").isNotNull && col("b_user").isNotNull, "updated")
          .when(col("user_id").isNotNull, "inserted")
          .otherwise("unchanged").as("merge_action"))

  /** J5: bucketed co-located join — the "pre-partition both sides on the
    * join key" layout (builder brief; Learning Guide.txt:1045 §5 partition
    * advice generalized to joins). Both tables are written `bucketBy` the
    * order key into the session catalog once; the sort-merge join then reads
    * bucket-aligned files with NO shuffle exchange on either side
    * (JoinsSpec asserts it). This is the layout that makes a repeated
    * fact-to-fact join at 100 TB pay its shuffle once at write time instead
    * of on every query; `hint("merge")` pins SMJ so the demo doesn't degrade
    * to a broadcast at toy scale. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val db = "graft_buckets"
    ensureBucketedTables(spark, dir)
    val li = spark.table(s"$db.lineitem_b").hint("merge")
    val o  = spark.table(s"$db.orders_b").hint("merge")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        Exact.rnd(Exact.sumD("l_quantity"), 2).as("total_qty"),
        count(lit(1)).as("cnt"))
  }

  /** The entries that read the bucketed tables: Bench stages them as
    * `j5_stage_buckets` when one of these is selected. */
  val bucketedReaders: Set[String] = Set("j5_bucketed_join")

  /** The one-time bucketed-layout build behind J5 — in production this is
    * the table-creation DDL that pays the join's shuffle once at write time;
    * Bench times it as its own `j5_stage_buckets` entry so the query entry
    * measures the actual (shuffle-free) join. Memoized per (session, sf
    * dir): session-catalog tables at a fresh path per build — the in-memory
    * catalog dies with the session but managed-table locations would not,
    * so the bucketed files live in session-scoped temp dirs. */
  /** Whether this session already holds the bucketed tables for `dir` —
    * Bench's temperature probe for the `j5_stage_buckets` entry (always
    * cold in a fresh JVM: the in-memory catalog dies with the session). */
  def bucketedTablesReady(spark: SparkSession, dir: String): Boolean =
    spark.catalog.tableExists("graft_buckets.lineitem_b") &&
      BucketedTables.dirFor.get(spark) == dir

  def ensureBucketedTables(spark: SparkSession, dir: String): Unit = {
    val db = "graft_buckets"
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    if (!spark.catalog.tableExists(s"$db.lineitem_b") ||
        BucketedTables.dirFor.get(spark) != dir) {
      val loc = java.nio.file.Files.createTempDirectory("graft-buckets-").toString
      // the two table builds are independent jobs — submit them from two
      // driver threads so the second build's tasks back-fill the cores the
      // first build's write tail leaves idle (guide §2.6: actions are only
      // sequential because driver code calls them sequentially). Each write
      // targets its own path and catalog entry; saveAsTable's catalog
      // commits are driver-side metadata and the in-memory catalog is
      // thread-safe, so the only shared state is the pre-created database.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
      try {
        val builds = Seq(
          () => Tables.lineitem(spark, dir).write
            .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
            .option("path", s"$loc/lineitem_b")
            .mode("overwrite").saveAsTable(s"$db.lineitem_b"),
          () => Tables.orders(spark, dir).write
            .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
            .option("path", s"$loc/orders_b")
            .mode("overwrite").saveAsTable(s"$db.orders_b"))
          .map(b => pool.submit(new java.util.concurrent.Callable[Unit] {
            def call(): Unit = b()
          }))
        builds.foreach(_.get()) // propagate the first failure, wait for both
      } finally pool.shutdown()
      BucketedTables.dirFor.put(spark, dir)
    }
  }

  /** J6: as-of join — attach to each reading the most recent COMPLETED
    * hourly aggregate of its sensor (hour close ≤ event ts): the
    * enrich-with-latest-context shape every time-series serving layer needs
    * (the reference's API reads "latest aggregates per sensor";
    * Learning Guide.txt:1084) and an operator Spark's join zoo lacks.
    *
    * Composition, not custom physical operator (the preferred ladder):
    * union the two streams tagged by kind, ONE hash shuffle on the key,
    * one ordered window pass carrying the last non-null right payload
    * forward — `last(ignoreNulls)` over rows-unbounded-preceding. No
    * range-predicate join (which Spark plans as a broadcast/cartesian range
    * explosion), no per-key collect. At 100 TB this is exactly one exchange
    * of events ∪ aggregates and a linear scan per key partition — the same
    * cost as W1's running window. Right rows sort before left at equal
    * timestamps (kind 0 < 1), giving the ≤ bound; events before any closed
    * hour keep NULLs (left-join semantics). DuckDB's native ASOF LEFT JOIN
    * is the oracle — the composition must reproduce the real operator. */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val events = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    // hours whose readings are all NULL-valued have no average to carry;
    // dropping them keeps asof_close and asof_avg pointing at the SAME hour
    // (last(ignoreNulls) would otherwise skip such an hour for the avg but
    // not for the close marker)
    val hourly = WindowAggregates.hourlyAgg(spark, dir)
      .filter(col("avg_value").isNotNull)
      .select(
        col("user_id"),
        (col("hour") + expr("INTERVAL 1 HOUR")).as("close_ts"),
        col("avg_value").as("hourly_avg"))
    val left = events
      .withColumn("kind", lit(1))
      .withColumn("ats", col("ts"))
      .withColumn("close_ts", lit(null).cast("timestamp"))
      .withColumn("hourly_avg", lit(null).cast("double"))
    val right = hourly
      .withColumn("kind", lit(0))
      .withColumn("ats", col("close_ts"))
      .withColumn("event_id", lit(null).cast("long"))
      .withColumn("ts", lit(null).cast("timestamp"))
      .withColumn("value", lit(null).cast("double"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ats"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    left.unionByName(right.select(left.columns.map(col): _*))
      .withColumn("asof_close", last(col("close_ts"), ignoreNulls = true).over(w))
      .withColumn("asof_avg", last(col("hourly_avg"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("ts"), col("value"),
        col("asof_close"), col("asof_avg"))
  }

  /** J7: range join — each event matched to the (variable-length) session
    * interval containing it: the point-in-interval shape (IP→range,
    * event→maintenance-window, reading→calibration-period) that Spark's
    * planner turns into a broadcast-nested-loop scan of every (point,
    * interval) pair.
    *
    * Scalable composition: a time GRID. Intervals explode to the 30-min
    * grid cells they overlap (fan-out ≈ span/cell + 1, and the cell width
    * equals the session gap so a session's fan-out is proportional to its
    * real duration); points map to their one cell; candidates meet in an
    * equi-join on (key, cell) and the exact containment predicate verifies.
    * Work ∝ overlapping candidates, never points × intervals — the same
    * block-then-verify ladder as every LSH family in this repo, applied to
    * the time axis. Sessions partition a sensor's events, so the result is
    * exactly one interval per event (the oracle's plain range join must
    * agree row-for-row). */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val cell = 1800L // seconds — the session gap
    val sessions = WindowAggregates.sessionize(spark, dir)
      .select(col("user_id"), col("session_start"), col("session_end"))
    val sessionCells = sessions.select(
      col("user_id"), col("session_start"), col("session_end"),
      explode(sequence(
        floor(unix_timestamp(col("session_start")) / cell).cast("long"),
        floor(unix_timestamp(col("session_end")) / cell).cast("long"))).as("cell"))
    val points = Tables.events(spark, dir)
      .filter(col("ts").isNotNull && col("user_id").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("cell", floor(unix_timestamp(col("ts")) / cell).cast("long"))
    points.join(sessionCells, Seq("user_id", "cell"))
      .filter(col("ts") >= col("session_start") && col("ts") < col("session_end"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("session_start"), col("session_end"))
  }

  /** J10: large-order join-back (TPC-H Q18 shape) — orders whose summed
    * lineitem quantity clears a high threshold, re-joined to their order and
    * customer rows. The decisive 100 TB property is AGGREGATE-THEN-JOIN:
    * the only shuffle is the partial+final quantity sum on l_orderkey; the
    * HAVING bound then cuts the survivor set to the extreme tail (threshold
    * 300 vs a ~460 max), so BOTH join-backs ride the tiny side as an
    * explicit broadcast — orders and customer stream through their scans
    * and never shuffle. Joining before aggregating (the naive Q18 plan)
    * would shuffle every lineitem AND every order row; this plan moves the
    * fact tables zero times. Quantities are integral doubles, so the sum is
    * binary-exact and the rounded threshold compare is engine-portable. */
  def bigSpenderOrders(spark: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(Exact.rnd(sum(col("l_quantity")), 2).as("total_qty"))
      .filter(col("total_qty") > 300.0)
    val withOrders = Tables.orders(spark, dir)
      .join(broadcast(qty), col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_totalprice"), col("total_qty"))
    Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_name"))
      .join(broadcast(withOrders), col("c_custkey") === col("o_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("total_qty"))
  }

  /** J11: small-quantity revenue (TPC-H Q17 shape) — average yearly revenue
    * lost if small orders (below half the part's average quantity) of one
    * brand were no longer taken. The correlated subquery decorrelates into
    * a per-part aggregate joined back to the same brand-filtered lineitems:
    * the brand dimension broadcasts into the fact scan (lineitem never
    * shuffles to find its parts), the per-part average is a partial+final
    * agg whose output is one row per brand part — small by construction, so
    * the join-back broadcasts too. Two passes over the brand-filtered scan
    * is the canonical warehouse Q17 plan; a window over partkey would sort
    * the same shuffled data for no gain. The quantity average is exact
    * (integral doubles, sum exact in binary), so the `<` boundary compare
    * is bit-identical cross-engine; revenue runs in DECIMAL (j1). */
  def smallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val brandParts = Tables.part(spark, dir)
      .filter(col("p_brand") === "Brand#12").select("p_partkey")
    val li = Tables.lineitem(spark, dir)
      .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      .select(col("l_partkey"), col("l_quantity"), col("l_extendedprice"))
    val bound = li.groupBy(col("l_partkey"))
      .agg((sum(col("l_quantity")) / count(col("l_quantity")) * 0.5)
        .as("qty_bound"))
      .select(col("l_partkey").as("b_partkey"), col("qty_bound"))
    li.join(broadcast(bound), col("l_partkey") === col("b_partkey"))
      .filter(col("l_quantity") < col("qty_bound"))
      .agg(Exact.rnd(Exact.sumD("l_extendedprice") / 7.0, 2).as("avg_yearly"),
        count(lit(1)).as("n_small"))
  }

  /** J12: promo revenue share (TPC-H Q14 shape) — the share of one month's
    * revenue earned by promo-type parts. Conditional aggregation over a
    * single broadcast-joined pass: the month bound pushes into the lineitem
    * scan (PushedFilters on l_shipdate), the part type rides the broadcast,
    * and both sums come out of ONE partial+final agg — no second pass, no
    * join of two aggregates. The share divides the two DECIMAL-exact sums
    * only after both are rounded doubles, keeping the ratio bit-portable. */
  def promoShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1.0) - col("l_discount")).cast("decimal(8,4)")
    val agg = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-09-01") &&
        col("l_shipdate") < lit("1997-10-01"))
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        // ELSE NULL: sum skips nulls in both engines, avoiding a zero
        // literal whose decimal type unification differs cross-engine
        Exact.rnd(sum(when(col("is_promo"), rev)).cast("double"), 2)
          .as("promo_revenue"),
        Exact.rnd(sum(rev).cast("double"), 2).as("total_revenue"))
    agg.select(col("promo_revenue"), col("total_revenue"),
      Exact.rnd(col("promo_revenue") * 100.0 / col("total_revenue"), 4)
        .as("promo_pct"))
  }

  /** J13: the global-threshold filter (TPC-H Q11 shape) — per-part stock
    * value from one nation's suppliers, keeping parts whose value exceeds a
    * fixed fraction (1/10000) of the corpus-wide total. The scale-critical
    * move is the SAME two-phase form as m6_token_budget: per-part sums from
    * one partial+final hash agg, the grand total as a one-row aggregate of
    * that (small) frame riding a broadcast crossJoin back — never a
    * correlated per-group subquery, never an unpartitioned window funneling
    * every part through one task. Like tokenBudget (and withSharePct), the
    * threshold branch re-derives pv rather than caching it — two
    * column-pruned scans, each collapsing map-side, beat pinning a
    * fact-derived frame in executor memory; a corpus-release pipeline would
    * stage pv once (the DedupStaging discipline) and read it twice. Sums run
    * in DECIMAL (exact, order-independent); the threshold compare casts both
    * exact decimals to double once — a deterministic IEEE compare in both
    * engines. */
  def importantParts(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .filter(col("s_nationkey") === 5).select("s_suppkey")
    val value = col("l_extendedprice").cast("decimal(18,2)") *
      col("l_quantity").cast("decimal(8,0)")
    val pv = Tables.lineitem(spark, dir)
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("l_partkey"))
      .agg(sum(value).as("pv"))
    val tot = pv.agg(sum(col("pv")).cast("double").as("tot"))
    pv.crossJoin(broadcast(tot))
      .filter(col("pv").cast("double") > col("tot") / 10000.0)
      .select(col("l_partkey"),
        Exact.rnd(col("pv").cast("double"), 2).as("stock_value"))
  }

  /** J14: scalar-subquery + anti-join (TPC-H Q22 shape) — wealthy lapsed
    * customers: balance above the positive-balance average, no order since
    * 2000-01-01, rolled up per nation. The scalar average is a one-row
    * broadcast (exact decimal sum / non-null count); the anti-join probes a
    * pre-distinct'd recent-buyer key set — the date bound is pushed into the
    * orders scan BEFORE the distinct, so at 100 TB the anti side is pruned
    * to the recent partitions and collapses map-side before its one shuffle.
    * Customer never shuffles twice: the average rides a broadcast, the
    * anti-join hashes on c_custkey, the final rollup on c_nationkey. */
  def wealthyLapsed(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val avgRow = c.filter(col("c_acctbal") > 0.0)
      .agg(Exact.avgD("c_acctbal").as("avg_bal"))
    val recentBuyers = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("2000-01-01"))
      .select(col("o_custkey")).distinct()
    c.crossJoin(broadcast(avgRow))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recentBuyers, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n_cust"),
        Exact.rnd(Exact.sumD("c_acctbal"), 2).as("total_bal"))
  }

  /** J15: the decorrelated double-EXISTS (TPC-H Q21 shape) — suppliers who
    * were the SOLE late shipper on a multi-supplier order ("late" = shipped
    * more than 120 days after the order date). The textbook form is a
    * correlated EXISTS(another supplier) AND NOT EXISTS(another late
    * supplier) per lineitem — a per-row re-probe that dies at scale. The
    * Spark-first form collapses the fact to ONE ROW PER (order, supplier)
    * first — a plain max(late) aggregate with map-side partials — so the
    * THREE distincts the textbook plan needs (distinct suppliers, distinct
    * late suppliers, distinct waited orders) all become plain counts over
    * an already-distinct frame: no expand, no per-group distinct state.
    * (The previous two-countDistinct form expanded the joined fact 2× and
    * was the heaviest join entry at the 100× probe — 1115 CPU-s at sf10.)
    * The per-order rollup and the join-back hash on l_orderkey over the
    * deduped pairs (≤ suppliers-per-order rows per order); supplier names
    * ride a broadcast at the end. numwait counts rows, which ARE distinct
    * orders here (one row per (order, supplier) by construction — a
    * supplier twice-late on one order waits once). */
  def waitingSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    val l = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .withColumn("late",
        col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 120 DAYS"))
      .select("l_orderkey", "l_suppkey", "late")
    val supOrder = l.groupBy(col("l_orderkey"), col("l_suppkey"))
      .agg(max(col("late")).as("late"))
    val perOrder = supOrder.groupBy(col("l_orderkey"))
      .agg(
        count(lit(1)).as("n_supp"),
        count(when(col("late"), lit(1))).as("n_late"))
    val s = Tables.supplier(spark, dir).select("s_suppkey", "s_name")
    supOrder.filter(col("late"))
      .join(perOrder, Seq("l_orderkey"))
      .filter(col("n_supp") >= 2 && col("n_late") === 1)
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_suppkey"), col("s_name"))
      .agg(count(lit(1)).as("numwait"))
  }

  private object BucketedTables {
    // weak keys: a closed session's entry is collectable — a strong
    // SparkSession-keyed map would pin every session a long-lived service
    // ever opened
    val dirFor: java.util.Map[SparkSession, String] =
      java.util.Collections.synchronizedMap(
        new java.util.WeakHashMap[SparkSession, String])
  }

  /** J16: cheapest-supplier-per-part — the TPC-H Q2 shape (min-cost
    * correlated subquery, decorrelated): per (part, supplier) the average
    * sale price, per part the supplier achieving the minimum (ties to the
    * smaller suppkey), joined back through the supplier→nation dimension
    * stack. The decorrelation is the argmin-as-aggregate pattern: one
    * map-side-combined min(struct(cost, suppkey)) per part key — no window
    * over the fact, no correlated re-scan. At scale: the (part, supplier)
    * aggregate is the only fact shuffle; part joins as a keyed equi-join
    * (part is fact-sized at TPC-H scale, AQE may still broadcast at test
    * SF), supplier and nation broadcast. */
  def cheapestSupplier(spark: SparkSession, dir: String): DataFrame = {
    val pc = Tables.lineitem(spark, dir)
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(Exact.rnd(Exact.avgD("l_extendedprice"), 2).as("cost"))
    val best = pc.groupBy(col("l_partkey"))
      .agg(min(struct(col("cost"), col("l_suppkey"))).as("m"))
      .select(col("l_partkey"), col("m.l_suppkey").as("l_suppkey"),
        col("m.cost").as("best_cost"))
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_name", "s_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    best
      .join(Tables.part(spark, dir).select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_brand"), col("s_name"), col("n_name"),
        col("best_cost"))
  }

  /** The exact 2-decimal revenue term every TPC-H shape shares (j1's
    * order-independence discipline). */
  private def lineRev: Column =
    col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1.0) - col("l_discount")).cast("decimal(8,4)")

  /** J17: order-priority late-shipment census — the TPC-H Q4 shape. The
    * correlated EXISTS (any lineitem shipped > 60 days after the order
    * date) compiles to one LEFT SEMI hash join on the order key with the
    * date comparison as a residual condition — the probe never duplicates
    * an order however many lineitems are late, so the count needs no
    * distinct. At scale: both sides are facts; the semi join shuffles each
    * once on the shared key and the quarter filter reaches the orders scan
    * as a pushed predicate. */
  def latePriority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val l = Tables.lineitem(spark, dir).select("l_orderkey", "l_shipdate")
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate") + expr("INTERVAL 60 DAYS"),
        "leftsemi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  /** J18: shipping-class priority split — the TPC-H Q12 shape with
    * `l_returnflag` standing in for the absent l_shipmode: per class, how
    * many 1998 shipments belonged to high-priority orders vs not. One
    * fact-fact equi-join (orders projected to two columns) and a single
    * conditional-aggregation pass — the two counts are CASE branches of
    * one agg, never two scans. */
  def priorityByClass(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1998-01-01") &&
        col("l_shipdate") < lit("1999-01-01"))
      .select("l_orderkey", "l_returnflag")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderpriority")
    val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        count(when(high, lit(1))).as("high_line_count"),
        count(when(!high, lit(1))).as("low_line_count"))
  }

  /** J19: customer order-count distribution — the TPC-H Q13 shape: LEFT
    * OUTER join so never-ordered customers survive with c_count = 0, the
    * priority filter standing in for the absent comment anti-pattern, then
    * the distribution of customers over order counts. Two aggregations:
    * the first shuffles on the customer key (the outer join already
    * co-partitions), the second runs over at most |distinct counts| rows. */
  def custOrderDistribution(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderpriority") =!= "4-NOT SPECIFIED")
      .select("o_orderkey", "o_custkey")
    Tables.customer(spark, dir).select("c_custkey")
      .join(o, col("c_custkey") === col("o_custkey"), "left")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
  }

  /** J20: part-supplier census — the TPC-H Q16 shape over the lineitem
    * bridge (the schema has no partsupp): distinct suppliers per
    * (brand, type, size) for non-PROMO parts in the sampled size set,
    * excluding flagged suppliers (negative balance standing in for the
    * complaints filter) by a broadcast ANTI join BEFORE the expensive
    * distinct aggregation, so excluded rows never reach the shuffle. */
  def partSupplierCensus(spark: SparkSession, dir: String): DataFrame = {
    val bad = Tables.supplier(spark, dir)
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val p = Tables.part(spark, dir)
      .filter(col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 9, 17, 25, 33, 41, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables.lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(bad), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
  }

  /** J21: disjunctive-predicate revenue — the TPC-H Q19 shape: an
    * OR-of-ANDs over columns of BOTH join sides. Catalyst cannot push the
    * disjunction through the join, so the per-side ENVELOPES (the union of
    * each branch's bounds: quantity ∈ [1,30], size ∈ [1,15], the three
    * brands) are stated explicitly ahead of the join — each scan prunes
    * with its implied predicate and the exact disjunction evaluates on the
    * joined survivors only. The filtered part side broadcasts. */
  def disjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_quantity") >= 1 && col("l_quantity") <= 30)
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = Tables.part(spark, dir)
      .filter(col("p_brand").isin("Brand#12", "Brand#15", "Brand#23") &&
        col("p_size").between(1, 15))
      .select("p_partkey", "p_brand", "p_size")
    val hit =
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 5) &&
        col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 10) &&
        col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#15" && col("p_size").between(1, 15) &&
        col("l_quantity").between(20, 30))
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(hit)
      .agg(
        Exact.rnd(sum(lineRev).cast("double"), 2).as("revenue"),
        count(lit(1)).as("cnt"))
  }

  /** J22: dominant-supplier detection — the TPC-H Q20 shape inverted for
    * the partsupp-less schema: suppliers who shipped MORE THAN HALF of a
    * SMALL-type part's total 1997 volume. Two keyed aggregations (the
    * second reuses the first's frame), the half-share test in exact
    * DECIMAL via `2·q_sp > q_p` (no 0.5 float), dimensions broadcast at
    * the end. At scale the only fact shuffles are the (part, supplier)
    * rollup and its per-part reduction. */
  def dominantSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "SMALL").select("p_partkey")
    val qsp = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .join(p, col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(sum(col("l_quantity").cast("decimal(28,2)")).as("q_sp"))
    val qp = qsp.groupBy(col("l_partkey"))
      .agg(sum(col("q_sp")).as("q_p"))
    val sup = Tables.supplier(spark, dir)
      .select("s_suppkey", "s_name", "s_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    qsp.join(qp, Seq("l_partkey"))
      .filter(col("q_sp") * 2 > col("q_p"))
      .groupBy(col("l_suppkey"))
      .agg(
        count(lit(1)).as("n_dominated"),
        Exact.rnd(max(col("q_sp")).cast("double"), 2).as("max_qty"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("n_name"),
        col("n_dominated"), col("max_qty"))
  }

  /** J23: two-nation trade flow — the TPC-H Q7 shape: revenue between
    * supplier nation and customer nation per ship year, both directions.
    * The nation filter reaches each dimension BEFORE it touches a fact
    * (supplier and customer shrink to 2/25ths), the filtered supplier side
    * broadcasts into the lineitem scan, and the one unavoidable fact-fact
    * shuffle is the orderkey join; the final cross-pair filter runs on
    * already-tagged rows. */
  def nationFlow(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .filter(col("n_name").isin("NATION_3", "NATION_7"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1996-01-01") &&
        col("l_shipdate") < lit("1998-01-01"))
      .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount",
        "l_shipdate")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_custkey")
    l.join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).as("l_year"))
      .agg(Exact.rnd(sum(lineRev).cast("double"), 2).as("revenue"))
  }

  /** J24: national market share — the TPC-H Q8 shape: of the STANDARD-part
    * revenue bought by ASIA customers in 1996-97, the share supplied by
    * NATION_7, per order year. The share is one conditional-agg pass (the
    * numerator is a CASE branch of the same sum), region/nation membership
    * resolves dimension-side, and the exact DECIMAL sums cast to double
    * only for the final division. */
  def marketShare(spark: SparkSession, dir: String): DataFrame = {
    val asiaN = Tables.nation(spark, dir)
      .join(broadcast(
          Tables.region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(asiaN), col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey")
    val p = Tables.part(spark, dir)
      .filter(col("p_type") === "STANDARD").select("p_partkey")
    val supN = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .select("n_nationkey", "n_name")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1996-01-01") &&
        col("o_orderdate") < lit("1998-01-01"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val natRev = sum(when(col("supp_nation") === "NATION_7", lineRev))
      .cast("double")
    val totRev = sum(lineRev).cast("double")
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice",
        "l_discount")
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(year(col("o_orderdate")).as("o_year"))
      .agg(
        Exact.rnd(natRev, 2).as("nation_rev"),
        Exact.rnd(totRev, 2).as("total_rev"),
        Exact.rnd(natRev / totRev, 6).as("mkt_share"))
  }

  /** J25: product-line profit — the TPC-H Q9 shape: per supplier nation and
    * order year, the profit on parts matching a name pattern, with
    * 0.6 · retail price · quantity standing in for the absent
    * ps_supplycost. All arithmetic stays DECIMAL to the final cast; part
    * filters at the scan (the LIKE prunes nothing columnar but the join
    * shrinks to matching parts), supplier/nation broadcast, the orderkey
    * join is the one fact-fact shuffle. */
  def productProfit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(spark, dir)
      .filter(col("p_name").like("%red%"))
      .select("p_partkey", "p_retailprice")
    val sup = Tables.supplier(spark, dir).select("s_suppkey", "s_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    val o = Tables.orders(spark, dir).select("o_orderkey", "o_orderdate")
    val amount = lineRev -
      col("p_retailprice").cast("decimal(18,2)") *
        col("l_quantity").cast("decimal(8,0)") *
        lit(0.6).cast("decimal(2,1)")
    Tables.lineitem(spark, dir)
      .join(p, col("l_partkey") === col("p_partkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name"), year(col("o_orderdate")).as("o_year"))
      .agg(Exact.rnd(sum(amount).cast("double"), 2).as("sum_profit"))
  }

  /** J26: returned-item revenue ranking — the TPC-H Q10 shape: the 20
    * customers who returned the most Q1-1997 revenue. The returnflag and
    * quarter filters reach both fact scans, the per-customer rollup is the
    * one planned shuffle, customer joins as a keyed equi-join (fact-sized
    * at TPC-H scale — AQE may still broadcast at test SF), nation
    * broadcasts, and the final `ORDER BY … LIMIT 20` compiles to
    * TakeOrderedAndProject — never a global sort. */
  def returnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1997-01-01") &&
        col("o_orderdate") < lit("1997-04-01"))
      .select("o_orderkey", "o_custkey")
    val l = Tables.lineitem(spark, dir)
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal", "c_nationkey")
    val nat = Tables.nation(spark, dir).select("n_nationkey", "n_name")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(Exact.rnd(sum(lineRev).cast("double"), 2).as("revenue"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"),
        col("n_name"), col("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** J27: the single-scan conditional revenue delta — the TPC-H Q6 shape:
    * revenue forecast from eliminating a band of small discounts on
    * small-quantity 1997 shipments. No join at all — ONE column-pruned
    * lineitem scan with all three predicates (ship-year range, discount
    * band, quantity cap) pushed into the parquet reader, collapsing to a
    * one-row exact-DECIMAL aggregate (map-side partials, a one-row final
    * exchange). The canonical pushdown showcase: at 100 TB the scan
    * prunes to the year's partitions and row groups whose min/max bounds
    * fail any predicate never decompress; the plan-contract spec pins all
    * three predicates in PushedFilters. The discount-band compare runs on
    * the raw doubles (same literals, same IEEE compare in both engines —
    * the fixture generates discounts at 0.01 granularity, so the band
    * edges are exact value matches, not epsilon tests). */
  def revenueDelta(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1998-01-01") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        count(lit(1)).as("n_lines"),
        Exact.rnd(sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(8,4)")).cast("double"), 2)
          .as("revenue_delta"))

  /** J28: top supplier by quarterly revenue — the TPC-H Q15 shape
    * (revenue view + correlated `= max(...)` subquery), decorrelated with
    * the j13 one-row-broadcast discipline: per-supplier exact-DECIMAL
    * revenue over one shipping quarter (the only fact shuffle), the
    * global maximum as a one-row aggregate of that supplier-sized frame
    * riding a broadcast crossJoin back, and an EXACT decimal equality
    * keeping every tied supplier — the view semantics, deterministic
    * because no rounding precedes the compare. Supplier names ride a
    * broadcast dim join at the end; no window touches the aggregate, and
    * nothing rescans the fact. */
  def topSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") >= lit("1997-01-01") &&
        col("l_shipdate") < lit("1997-04-01"))
      .groupBy(col("l_suppkey"))
      .agg(sum(lineRev).as("rev"))
    val mx = rev.agg(max(col("rev")).as("max_rev"))
    rev.crossJoin(broadcast(mx))
      .filter(col("rev") === col("max_rev"))
      .join(broadcast(Tables.supplier(spark, dir).select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        Exact.rnd(col("rev").cast("double"), 2).as("total_rev"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "j27_revenue_delta"     -> revenueDelta,
    "j28_top_supplier"      -> topSupplier,
    "j1_broadcast_join" -> broadcastJoin,
    "j8_shipping_priority" -> shippingPriority,
    "j9_regional_revenue" -> regionalRevenue,
    "j5_bucketed_join"  -> bucketedJoin,
    "j6_asof_join"      -> asofJoin,
    "j7_range_join"     -> rangeJoin,
    "j2_enrichment_join" -> enrichmentJoin,
    "j3_anti_join"      -> antiJoin,
    "j3b_semi_join"     -> semiJoin,
    "j4_upsert_merge"   -> upsertMerge,
    "j10_big_spenders"  -> bigSpenderOrders,
    "j11_small_qty_revenue" -> smallQtyRevenue,
    "j12_promo_share"   -> promoShare,
    "j13_important_parts" -> importantParts,
    "j14_wealthy_lapsed" -> wealthyLapsed,
    "j15_waiting_suppliers" -> waitingSuppliers,
    "j16_cheapest_supplier" -> cheapestSupplier,
    "j17_late_priority"     -> latePriority,
    "j18_class_priority"    -> priorityByClass,
    "j19_custdist"          -> custOrderDistribution,
    "j20_partsupp_census"   -> partSupplierCensus,
    "j21_disjunctive_revenue" -> disjunctiveRevenue,
    "j22_dominant_suppliers" -> dominantSuppliers,
    "j23_nation_flow"       -> nationFlow,
    "j24_market_share"      -> marketShare,
    "j25_product_profit"    -> productProfit,
    "j26_returned_revenue"  -> returnedRevenue)

  val oracles: Map[String, String] = Map(
    // Q6 shape: one scan, three pushable predicates, one exact-DECIMAL agg.
    "j27_revenue_delta" ->
      s"""SELECT CAST(count(*) AS BIGINT) AS n_lines,
                 ${Exact.sqlRnd(
                   "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
                   "CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE)", 2)}
                   AS revenue_delta
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1997-01-01'
            AND l_shipdate < TIMESTAMP '1998-01-01'
            AND l_discount >= 0.05 AND l_discount <= 0.07
            AND l_quantity < 24""",
    // Q15 shape: the revenue view once, the scalar max from the view, exact
    // decimal equality keeping ties, names from the supplier dim.
    "j28_top_supplier" ->
      s"""WITH rev AS (
            SELECT l_suppkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1.0 - l_discount AS DECIMAL(8,4))) AS rev
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01'
              AND l_shipdate < TIMESTAMP '1997-04-01'
            GROUP BY 1)
          SELECT s_suppkey, s_name,
                 ${Exact.sqlRnd("CAST(rev AS DOUBLE)", 2)} AS total_rev
          FROM rev JOIN supplier ON l_suppkey = s_suppkey,
               (SELECT max(rev) AS max_rev FROM rev) m
          WHERE rev = max_rev""",
    "j1_broadcast_join" ->
      s"""SELECT p_brand,
         ${Exact.sqlRnd("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS DOUBLE)", 2)} AS revenue,
         count(*) AS cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         GROUP BY 1""",
    "j9_regional_revenue" ->
      s"""SELECT n_name,
         ${Exact.sqlRnd("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS DOUBLE)", 2)} AS revenue,
         count(*) AS cnt
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1999-01-01'
         GROUP BY 1
         ORDER BY revenue DESC, n_name""",
    "j8_shipping_priority" ->
      s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
         ${Exact.sqlRnd("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS DOUBLE)", 2)} AS revenue
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-01-01'
           AND l_shipdate > TIMESTAMP '1998-01-01'
         GROUP BY 1, 2, 3
         ORDER BY revenue DESC, l_orderkey
         LIMIT 10""",
    // Bucketed layout must answer identically to the direct join.
    "j5_bucketed_join" ->
      s"""SELECT o_orderpriority,
         ${Exact.sqlRnd(Exact.sqlSum("l_quantity"), 2)} AS total_qty,
         count(*) AS cnt
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1""",
    // DuckDB's NATIVE as-of operator verifies the union+window composition.
    "j6_asof_join" ->
      s"""WITH e AS (SELECT event_id, user_id, ts, value FROM events
                     WHERE ts IS NOT NULL AND user_id IS NOT NULL),
          hourly AS (SELECT user_id,
                       date_trunc('hour', ts) + INTERVAL 1 HOUR AS close_ts,
                       ${Exact.sqlRnd(Exact.sqlAvg("value"), 4)} AS asof_avg
                     FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
                     GROUP BY 1, 2
                     HAVING ${Exact.sqlRnd(Exact.sqlAvg("value"), 4)} IS NOT NULL)
          SELECT e.event_id, e.user_id, e.ts, e.value,
                 h.close_ts AS asof_close, h.asof_avg
          FROM e ASOF LEFT JOIN hourly h
            ON e.user_id = h.user_id AND e.ts >= h.close_ts""",
    // The oracle's PLAIN range join (DuckDB plans IEJoin) must agree with
    // the grid-bucketed composition row-for-row.
    "j7_range_join" ->
      """WITH e AS (SELECT event_id, user_id, ts, value FROM events
                    WHERE ts IS NOT NULL AND user_id IS NOT NULL),
         marked AS (SELECT user_id, ts,
           CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                THEN 1 ELSE 0 END AS new_s
           FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         sess AS (SELECT user_id, ts,
           sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS sid
           FROM marked),
         intervals AS (SELECT user_id, min(ts) AS session_start,
                         max(ts) + INTERVAL 30 MINUTE AS session_end
                       FROM sess GROUP BY user_id, sid)
         SELECT event_id, e.user_id, e.ts, session_start, session_end
         FROM e JOIN intervals i
           ON e.user_id = i.user_id
          AND e.ts >= i.session_start AND e.ts < i.session_end""",
    "j2_enrichment_join" ->
      """SELECT o_orderkey, o_custkey, o_totalprice, c_name, c_mktsegment
         FROM orders LEFT JOIN customer ON o_custkey = c_custkey""",
    "j3_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "j3b_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""",
    "j4_upsert_merge" ->
      s"""WITH base AS (
           SELECT user_id, ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value, count(*) AS cnt,
                  max(ts) AS last_ts
           FROM events WHERE ts < TIMESTAMP '2024-01-22 00:00:00' GROUP BY 1),
         updates AS (
           SELECT user_id, ${Exact.sqlRnd(Exact.sqlSum("value"), 2)} AS total_value, count(*) AS cnt,
                  max(ts) AS last_ts
           FROM events WHERE ts >= TIMESTAMP '2024-01-22 00:00:00' GROUP BY 1)
         SELECT
           coalesce(u.user_id, b.user_id) AS user_id,
           coalesce(u.total_value, b.total_value) AS total_value,
           coalesce(u.cnt, b.cnt) AS cnt,
           coalesce(u.last_ts, b.last_ts) AS last_ts,
           CASE WHEN u.user_id IS NOT NULL AND b.user_id IS NOT NULL THEN 'updated'
                WHEN u.user_id IS NOT NULL THEN 'inserted'
                ELSE 'unchanged' END AS merge_action
         FROM base b FULL OUTER JOIN updates u ON b.user_id = u.user_id""",
    // Aggregate-then-join: the HAVING survivor set drives both join-backs.
    "j10_big_spenders" ->
      s"""WITH q AS (SELECT l_orderkey,
                       ${Exact.sqlRnd("sum(l_quantity)", 2)} AS total_qty
                     FROM lineitem GROUP BY 1
                     HAVING ${Exact.sqlRnd("sum(l_quantity)", 2)} > 300)
          SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
                 total_qty
          FROM q JOIN orders ON o_orderkey = l_orderkey
                 JOIN customer ON c_custkey = o_custkey""",
    // Decorrelated Q17: per-part average joined back to the same
    // brand-filtered lineitems.
    "j11_small_qty_revenue" ->
      s"""WITH li AS (SELECT l_partkey, l_quantity, l_extendedprice
                      FROM lineitem JOIN part ON l_partkey = p_partkey
                      WHERE p_brand = 'Brand#12'),
               b AS (SELECT l_partkey AS b_partkey,
                            sum(l_quantity) / count(l_quantity) * 0.5
                              AS qty_bound
                     FROM li GROUP BY 1)
          SELECT ${Exact.sqlRnd(s"${Exact.sqlSum("l_extendedprice")} / 7.0", 2)}
                   AS avg_yearly,
                 count(*) AS n_small
          FROM li JOIN b ON l_partkey = b_partkey
          WHERE l_quantity < qty_bound""",
    // One conditional agg pass; the share divides the rounded doubles.
    "j12_promo_share" ->
      s"""SELECT promo_revenue, total_revenue,
                 ${Exact.sqlRnd("promo_revenue * 100.0 / total_revenue", 4)}
                   AS promo_pct
          FROM (SELECT
                  ${Exact.sqlRnd(
                    "CAST(sum(CASE WHEN p_type = 'PROMO' THEN " +
                    "CAST(l_extendedprice AS DECIMAL(18,2)) * " +
                    "CAST(1.0 - l_discount AS DECIMAL(8,4)) END) AS DOUBLE)",
                    2)} AS promo_revenue,
                  ${Exact.sqlRnd(
                    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
                    "CAST(1.0 - l_discount AS DECIMAL(8,4))) AS DOUBLE)",
                    2)} AS total_revenue
                FROM lineitem JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= TIMESTAMP '1997-09-01'
                  AND l_shipdate < TIMESTAMP '1997-10-01')""",
    // Q11 shape: two-phase global threshold — per-part sums once, the grand
    // total from the aggregated frame, exact decimals cast to double for the
    // deterministic compare.
    "j13_important_parts" ->
      s"""WITH pv AS (
            SELECT l_partkey,
                   sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(l_quantity AS DECIMAL(8,0))) AS pv
            FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
            WHERE s_nationkey = 5 GROUP BY 1)
          SELECT l_partkey,
                 ${Exact.sqlRnd("CAST(pv AS DOUBLE)", 2)} AS stock_value
          FROM pv, (SELECT CAST(sum(pv) AS DOUBLE) AS tot FROM pv) t
          WHERE CAST(pv AS DOUBLE) > tot / 10000.0""",
    // Q22 shape: scalar positive-balance average + anti-join on recent
    // buyers, per-nation rollup.
    "j14_wealthy_lapsed" ->
      s"""WITH a AS (SELECT ${Exact.sqlAvg("c_acctbal")} AS avg_bal
                     FROM customer WHERE c_acctbal > 0.0)
          SELECT c_nationkey, count(*) AS n_cust,
                 ${Exact.sqlRnd(Exact.sqlSum("c_acctbal"), 2)} AS total_bal
          FROM customer, a
          WHERE c_acctbal > avg_bal
            AND NOT EXISTS (SELECT 1 FROM orders
                            WHERE o_custkey = c_custkey
                              AND o_orderdate >= TIMESTAMP '2000-01-01')
          GROUP BY 1""",
    // Q21 shape, decorrelated identically: per-order distinct/late-distinct
    // supplier counts replace both correlated EXISTS probes.
    // Q2-shape replay: the same rounded per-(part,supplier) cost, argmin
    // via row_number (ties to the smaller suppkey), dimension join-backs.
    "j16_cheapest_supplier" ->
      s"""WITH pc AS (
           SELECT l_partkey, l_suppkey,
                  ${Exact.sqlRnd(Exact.sqlAvg("l_extendedprice"), 2)} AS cost
           FROM lineitem GROUP BY 1, 2),
         b AS (
           SELECT l_partkey, l_suppkey, cost FROM (
             SELECT l_partkey, l_suppkey, cost,
               row_number() OVER (PARTITION BY l_partkey
                 ORDER BY cost, l_suppkey) AS rn
             FROM pc) t WHERE rn = 1)
         SELECT p_partkey, p_brand, s_name, n_name, cost AS best_cost
         FROM b JOIN part ON l_partkey = p_partkey
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey""",
    "j15_waiting_suppliers" ->
      """WITH l AS (
           SELECT l_orderkey, l_suppkey,
                  (l_shipdate > o_orderdate + INTERVAL 120 DAY) AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         o AS (
           SELECT l_orderkey,
                  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
                  CAST(count(DISTINCT CASE WHEN late THEN l_suppkey END)
                       AS BIGINT) AS n_late
           FROM l GROUP BY 1)
         SELECT s_suppkey, s_name,
                CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS numwait
         FROM l JOIN o USING (l_orderkey)
                JOIN supplier ON l_suppkey = s_suppkey
         WHERE late AND n_supp >= 2 AND n_late = 1
         GROUP BY 1, 2""",
    // Q4 shape: the correlated EXISTS replays as-is — DuckDB decorrelates
    // it to the same semi join the Spark plan states explicitly.
    "j17_late_priority" ->
      """SELECT o_orderpriority, count(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey
                         AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY 1""",
    "j18_class_priority" ->
      """SELECT l_returnflag,
                count(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                           THEN 1 END) AS high_line_count,
                count(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH')
                           THEN 1 END) AS low_line_count
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE l_shipdate >= TIMESTAMP '1998-01-01'
           AND l_shipdate < TIMESTAMP '1999-01-01'
         GROUP BY 1""",
    // Q13 shape: the priority predicate lives in the OUTER join condition,
    // so filtered-out orders still leave their customer behind at count 0.
    "j19_custdist" ->
      """WITH per AS (
           SELECT c_custkey, count(o_orderkey) AS c_count
           FROM customer LEFT JOIN orders
             ON c_custkey = o_custkey
            AND o_orderpriority <> '4-NOT SPECIFIED'
           GROUP BY 1)
         SELECT c_count, count(*) AS custdist FROM per GROUP BY 1""",
    "j20_partsupp_census" ->
      """SELECT p_brand, p_type, p_size,
                CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE p_type <> 'PROMO' AND p_size IN (1,9,17,25,33,41,49)
           AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier
                                 WHERE s_acctbal < 0)
         GROUP BY 1, 2, 3""",
    // Q19 shape: the bare disjunction — the engine-side envelope filters
    // are implied by it, so the oracle needs none of them.
    "j21_disjunctive_revenue" ->
      s"""SELECT
         ${Exact.sqlRnd("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS DOUBLE)", 2)} AS revenue,
         count(*) AS cnt
         FROM lineitem JOIN part ON l_partkey = p_partkey
         WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
                AND l_quantity BETWEEN 1 AND 11)
            OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
                AND l_quantity BETWEEN 10 AND 20)
            OR (p_brand = 'Brand#15' AND p_size BETWEEN 1 AND 15
                AND l_quantity BETWEEN 20 AND 30)""",
    // Q20 shape: the half-share test stays in DECIMAL (2·q_sp > q_p), so
    // both engines compare exact values.
    "j22_dominant_suppliers" ->
      s"""WITH qsp AS (
           SELECT l_partkey, l_suppkey,
                  sum(CAST(l_quantity AS DECIMAL(28,2))) AS q_sp
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE p_type = 'SMALL'
             AND l_shipdate >= TIMESTAMP '1997-01-01'
             AND l_shipdate < TIMESTAMP '1998-01-01'
           GROUP BY 1, 2),
         qp AS (SELECT l_partkey, sum(q_sp) AS q_p FROM qsp GROUP BY 1),
         dom AS (
           SELECT l_suppkey, count(*) AS n_dominated,
                  ${Exact.sqlRnd("CAST(max(q_sp) AS DOUBLE)", 2)} AS max_qty
           FROM qsp JOIN qp USING (l_partkey)
           WHERE q_sp * 2 > q_p
           GROUP BY 1)
         SELECT s_suppkey, s_name, n_name, n_dominated, max_qty
         FROM dom JOIN supplier ON l_suppkey = s_suppkey
                  JOIN nation ON s_nationkey = n_nationkey""",
    "j23_nation_flow" ->
      s"""SELECT supp_nation, cust_nation, l_year,
         ${Exact.sqlRnd("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS DOUBLE)", 2)} AS revenue
         FROM (SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
                      year(l_shipdate) AS l_year,
                      l_extendedprice, l_discount
               FROM lineitem
               JOIN supplier ON l_suppkey = s_suppkey
               JOIN nation ns ON s_nationkey = ns.n_nationkey
               JOIN orders ON l_orderkey = o_orderkey
               JOIN customer ON o_custkey = c_custkey
               JOIN nation nc ON c_nationkey = nc.n_nationkey
               WHERE l_shipdate >= TIMESTAMP '1996-01-01'
                 AND l_shipdate < TIMESTAMP '1998-01-01'
                 AND ((ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
                   OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3')))
         GROUP BY 1, 2, 3""",
    // Q8 shape: the share divides the UNROUNDED exact doubles; each output
    // column rounds independently, mirroring the engine's agg expressions.
    "j24_market_share" ->
      s"""SELECT o_year,
                 ${Exact.sqlRnd("nation_rev", 2)} AS nation_rev,
                 ${Exact.sqlRnd("total_rev", 2)} AS total_rev,
                 ${Exact.sqlRnd("nation_rev / total_rev", 6)} AS mkt_share
         FROM (SELECT year(o_orderdate) AS o_year,
                 CAST(sum(CASE WHEN sn = 'NATION_7' THEN rev END) AS DOUBLE)
                   AS nation_rev,
                 CAST(sum(rev) AS DOUBLE) AS total_rev
               FROM (SELECT o_orderdate, ns.n_name AS sn,
                       CAST(l_extendedprice AS DECIMAL(18,2)) *
                       CAST(1.0 - l_discount AS DECIMAL(8,4)) AS rev
                     FROM lineitem
                     JOIN part ON l_partkey = p_partkey
                     JOIN supplier ON l_suppkey = s_suppkey
                     JOIN nation ns ON s_nationkey = ns.n_nationkey
                     JOIN orders ON l_orderkey = o_orderkey
                     JOIN customer ON o_custkey = c_custkey
                     JOIN nation nc ON c_nationkey = nc.n_nationkey
                     JOIN region ON nc.n_regionkey = r_regionkey
                     WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
                       AND o_orderdate >= TIMESTAMP '1996-01-01'
                       AND o_orderdate < TIMESTAMP '1998-01-01')
               GROUP BY 1)""",
    "j25_product_profit" ->
      s"""SELECT n_name, year(o_orderdate) AS o_year,
         ${Exact.sqlRnd(
           "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
           "CAST(1.0 - l_discount AS DECIMAL(8,4)) - " +
           "CAST(p_retailprice AS DECIMAL(18,2)) * " +
           "CAST(l_quantity AS DECIMAL(8,0)) * " +
           "CAST(0.6 AS DECIMAL(2,1))) AS DOUBLE)", 2)} AS sum_profit
         FROM lineitem
         JOIN part ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN orders ON l_orderkey = o_orderkey
         WHERE p_name LIKE '%red%'
         GROUP BY 1, 2""",
    "j26_returned_revenue" ->
      s"""SELECT c_custkey, c_name, c_acctbal, n_name, revenue
         FROM (SELECT o_custkey,
                 ${Exact.sqlRnd("CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1.0 - l_discount AS DECIMAL(8,4))) AS DOUBLE)", 2)} AS revenue
               FROM lineitem JOIN orders ON l_orderkey = o_orderkey
               WHERE l_returnflag = 'R'
                 AND o_orderdate >= TIMESTAMP '1997-01-01'
                 AND o_orderdate < TIMESTAMP '1997-04-01'
               GROUP BY 1)
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY revenue DESC, c_custkey LIMIT 20""")
}
