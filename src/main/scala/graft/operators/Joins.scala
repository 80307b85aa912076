package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.{Op, Tables}

/** Join family (SURVEY §2.3). Small dimension sides are explicitly
  * broadcast — at 100 TB the fact side never shuffles for these.
  */
object Joins {

  private val dec = DecimalType(18, 2)

  /** J2: left outer join + sentinel fill. The right side is filtered so
    * some keys genuinely miss (reference fills unknown homes with a
    * zero sentinel — /root/reference/src/queries/ntl_queries.py:50-65).
    */
  def leftJoinSentinel(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
    val rich = Tables.customer(spark, dir)
      .where(col("c_acctbal") > 5000)
      .select(col("c_custkey"), col("c_mktsegment"))
    // rich is O(customer) (~45% of a 10⁸-row dimension at 100 TB) —
    // shuffle join on the customer key, never broadcast
    o.join(rich.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"), "left")
      .select(col("o_orderkey"), col("o_custkey"),
        coalesce(col("c_mktsegment"), lit("0000000000000")).as("segment"))
  }

  private val leftJoinSentinelSql =
    """SELECT o_orderkey, o_custkey,
      |  COALESCE(c.c_mktsegment, '0000000000000') AS segment
      |FROM orders o LEFT JOIN
      |  (SELECT c_custkey, c_mktsegment FROM customer WHERE c_acctbal > 5000) c
      |  ON o.o_custkey = c.c_custkey""".stripMargin

  /** J5: left-semi join (restrict-to-set; cleaner than the reference's
    * inner+project — /root/reference/src/transforms/ntl_transforms.py:54-62).
    */
  def semiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val bigOrders = Tables.orders(spark, dir).where(col("o_totalprice") > 200000)
    c.join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
  }

  private val semiJoinSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders
      |  WHERE o_custkey = c_custkey AND o_totalprice > 200000)""".stripMargin

  /** Anti pattern: left join + IS NULL in the reference
    * (/root/reference/scripts/MakeEmpiricNetworks.py:64-77) → left_anti.
    */
  def antiJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
  }

  private val antiJoinSql =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin

  /** J6: array-membership (non-equi) join — region-level membership
    * arrays joined by ARRAY_CONTAINS
    * (/root/reference/src/imputers/home_ageb_imputers.py:156-165).
    * The array side is tiny => BroadcastNestedLoopJoin is the right
    * physical plan; the scalable alternative (explode → equi-join) is
    * exercised by `array_explode_join`.
    */
  def arrayMembershipJoin(spark: SparkSession, dir: String): DataFrame = {
    val comp = Tables.nation(spark, dir)
      .groupBy(col("n_regionkey"))
      .agg(sort_array(collect_list(col("n_nationkey"))).as("component"))
    val c = Tables.customer(spark, dir)
    c.join(broadcast(comp), array_contains(col("component"), col("c_nationkey")))
      .select(col("c_custkey"), col("n_regionkey"))
  }

  private val arrayMembershipJoinSql =
    """WITH comp AS (
      |  SELECT n_regionkey, list(n_nationkey ORDER BY n_nationkey) AS component
      |  FROM nation GROUP BY n_regionkey)
      |SELECT c_custkey, n_regionkey
      |FROM customer JOIN comp ON list_contains(component, c_nationkey)""".stripMargin

  /** J6-scalable: same semantics via explode → equi-join (the shape
    * that survives 100 TB; SURVEY J6 note).
    */
  def arrayExplodeJoin(spark: SparkSession, dir: String): DataFrame = {
    val comp = Tables.nation(spark, dir)
      .groupBy(col("n_regionkey"))
      .agg(sort_array(collect_list(col("n_nationkey"))).as("component"))
      .select(col("n_regionkey"), explode(col("component")).as("member"))
    val c = Tables.customer(spark, dir)
    c.join(broadcast(comp), col("c_nationkey") === col("member"))
      .select(col("c_custkey"), col("n_regionkey"))
  }

  /** J8: dedup-before-expensive-compute + join-back on the natural key
    * (/root/reference/scripts/FactPingsBaseGenerator.py:161-211). The
    * "expensive" stage (sqrt/pow here; point-in-polygon there) runs
    * once per distinct key, not once per fact row.
    */
  def dedupJoinback(spark: SparkSession, dir: String): DataFrame = {
    // r11 (VERDICT r10 #4, guide §2.4 — operations keyed the same way
    // share the partitioning): repartition the fact on the key ONCE;
    // the distinct aggregates in place and the join-back meets it
    // co-partitioned (SHJ pin, key side the per-partition build), so
    // no join exchange and — decisively — no broadcast: the old plan
    // let AQE broadcast the ~570k-row distinct relation at bench SF
    // (measured: the single-threaded broadcast build dominated the
    // query) and that key relation is corpus-scale at 100 TB, where a
    // broadcast cannot exist at all. r11 A/B, identical checksums:
    // sf0.1 0.376 vs 1.044 s (2.8×), 10× full-referential 0.860 vs
    // 1.283 s. The verdict's other candidate — a Bloom/semi-join
    // prune — is structurally inapplicable here: the join is LEFT and
    // the key relation derives from the fact itself, so every row
    // matches and there is nothing to prune.
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
      .repartition(col("l_partkey"), col("l_suppkey"))
    val coords = li.select(col("l_partkey"), col("l_suppkey")).distinct()
    // NO round(·, 4): sqrt and the double multiply are IEEE-correctly-
    // rounded and bit-identical across engines at any magnitude,
    // whereas round-to-4dp is only portable while |x|·10⁴ is far from
    // the double ulp — at 1e10-scale keys Spark's exact-decimal
    // rounding and DuckDB's scale-multiply rounding flip .5-boundary
    // rows (caught by the 10x full-referential sweep, r9)
    val enriched = coords.withColumn("dist",
      sqrt(col("l_partkey").cast("double") * col("l_suppkey").cast("double")))
    li.join(enriched.hint("shuffle_hash"), Seq("l_partkey", "l_suppkey"), "left")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("dist"))
  }

  private val dedupJoinbackSql =
    """WITH coords AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
      |enriched AS (
      |  SELECT l_partkey, l_suppkey,
      |    sqrt(CAST(l_partkey AS DOUBLE) * CAST(l_suppkey AS DOUBLE)) AS dist
      |  FROM coords)
      |SELECT l.l_orderkey, l.l_linenumber, l.l_partkey, l.l_suppkey, e.dist
      |FROM lineitem l LEFT JOIN enriched e
      |  ON l.l_partkey = e.l_partkey AND l.l_suppkey = e.l_suppkey""".stripMargin

  /** J9+J10+A5: broadcast dim join + AVG/STDDEV aggregation per
    * municipality-analog (/root/reference/scripts/RGAggregatorByMun.py:83-102).
    * STDDEV is spelled as an explicit scalar formula over exact decimal
    * sums so both engines do identical IEEE double arithmetic
    * (stddev_samp: sqrt((s2 - s1²/n)/(n-1))).
    */
  def dimJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
    val s = Tables.supplier(spark, dir).select(col("s_suppkey"), col("s_nationkey"))
    val q = col("l_quantity").cast(dec)
    li.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n"),
        sum(q).cast("double").as("s1"),
        sum(q * q).cast("double").as("s2"))
      .select(
        col("s_nationkey"),
        col("n"),
        (col("s1") / col("n")).as("avg_qty"),
        sqrt((col("s2") - col("s1") * col("s1") / col("n")) / (col("n") - 1))
          .as("stddev_qty"))
  }

  private val dimJoinAggSql =
    """WITH g AS (
      |  SELECT s.s_nationkey, count(*) AS n,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
      |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s2
      |  FROM lineitem l JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  GROUP BY s.s_nationkey)
      |SELECT s_nationkey, n, s1 / n AS avg_qty,
      |  sqrt((s2 - s1 * s1 / n) / (n - 1)) AS stddev_qty
      |FROM g""".stripMargin

  /** J12: small-catalog enrichment left join
    * (/root/reference/scripts/IndexingHomeAgebs.py:134-140).
    */
  def regionEnrich(spark: SparkSession, dir: String): DataFrame = {
    val n = Tables.nation(spark, dir)
    val r = Tables.region(spark, dir)
    n.join(broadcast(r), col("n_regionkey") === col("r_regionkey"), "left")
      .select(col("n_nationkey"), col("n_name"), col("r_name"))
  }

  private val regionEnrichSql =
    """SELECT n_nationkey, n_name, r_name
      |FROM nation LEFT JOIN region ON n_regionkey = r_regionkey""".stripMargin

  /** Classic 3-table join + agg + top-k (shipping-priority shape):
    * exercises Catalyst join ordering, pushed filters on all three
    * scans, and TakeOrderedAndProject.
    */
  def q3Shipping(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir).where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey"))
    val o = Tables.orders(spark, dir)
      .where(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"),
        col("o_orderpriority"))
    val l = Tables.lineitem(spark, dir)
      .where(col("l_shipdate") > lit("1996-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
    // Join order: reduce ORDERS by the segment first, then attach the
    // fact. The r10-measured alternative (l⋈o, then the joined fact
    // rows re-exchanged by o_custkey to meet customer) shipped every
    // surviving lineitem row across TWO key layouts; here the fact
    // crosses exactly once (orderkey), and the post-join aggregation
    // keys start with l_orderkey so the join's partitioning is reused
    // — no aggregation exchange at all.
    // The BUILDING segment is ~1/5 of customer — still corpus-scale at
    // 100 TB, so BOTH joins stay pinned shuffle-hash (never a
    // broadcast that only fits at bench SF; unpinned, the static
    // estimator broadcast the FILTERED FACT side here — measured 10×
    // slower at sf0.1 and an executor OOM at scale).
    val oc = o.join(c.hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    l.join(oc.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum((col("l_extendedprice").cast(dec)
        * (lit(BigDecimal("1.00")) - col("l_discount").cast(dec))))
        .cast("double").as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(20)
  }

  private val q3ShippingSql =
    """SELECT l_orderkey, o_orderdate, o_orderpriority,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |WHERE c_mktsegment = 'BUILDING'
      |  AND o_orderdate < TIMESTAMP '1998-01-01'
      |  AND l_shipdate > TIMESTAMP '1996-01-01'
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, l_orderkey ASC LIMIT 20""".stripMargin

  /** Skew-mitigated dimension join as a first-class query: the fact
    * side salts its hot key into 8 sub-keys and the dimension
    * replicates per salt ([[graft.functions.Skew.saltedJoin]]) — the
    * deterministic layout for broadcast-ineligible dimension joins on
    * skewed keys; result is provably identical to the plain join (the
    * oracle IS the plain join). Sum goes through DECIMAL for
    * cross-engine float parity.
    */
  def saltedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val ev = Tables.events(spark, dir).select(col("user_id"), col("value"))
    val dim = Tables.customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    graft.functions.Skew.saltedJoin(ev, dim, "user_id", factor = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("sum_value"))
  }

  private val saltedJoinAggSql =
    """SELECT c_mktsegment, count(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events JOIN customer ON user_id = c_custkey
      |GROUP BY 1""".stripMargin

  /** Bucketed co-located join as a first-class query (SURVEY §4.3, the
    * 100 TB recurring-join story): both sides are materialized as
    * 8-bucket managed tables on the join key, so the join itself plans
    * with NO shuffle exchange (asserted in BucketingSpec); the oracle
    * is the plain unbucketed join — bucketing is provably invisible to
    * results. The writes are the amortized one-time cost a recurring
    * pipeline pays once per ingest, not per query.
    */
  def bucketedJoinAgg(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    Seq("graft_li_b8", "graft_o_b8").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      // a fresh JVM's in-memory catalog has no memory of a previous
      // run's tables while their directories persist — remove both
      val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
      val d = new java.io.File(wh, t)
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val cs = f.listFiles(); if (cs != null) cs.foreach(rm) }
        f.delete(); ()
      }
      if (d.exists()) rm(d)
    }
    Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"))
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("graft_li_b8")
    Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderpriority"))
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("graft_o_b8")
    spark.table("graft_li_b8")
      .join(spark.table("graft_o_b8"), col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum((col("l_extendedprice").cast(DecimalType(18, 2))
          * (lit(BigDecimal("1.00")) - col("l_discount").cast(DecimalType(18, 2)))))
          .cast("double").as("revenue"))
  }

  private val bucketedJoinAggSql =
    """SELECT o_orderpriority, count(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1.00 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |GROUP BY 1""".stripMargin

  /** Null-safe equi-join (`<=>` / IS NOT DISTINCT FROM): NULL keys
    * match each other instead of dropping out — the semantics dimension
    * nothing else in the inventory exercises. Keys are made sparsely
    * NULL on both sides (suppliers and nations whose region bucket is
    * 0), so the NULL group is catalog-bounded and the join result
    * contains both ordinary matches and the NULL×NULL block.
    * Spark plans `<=>` as an ordinary hash-join key (EqualNullSafe is
    * a valid equi-join expression — no nested-loop fallback).
    */
  def nullSafeJoin(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables.supplier(spark, dir)
      .select(col("s_suppkey"),
        when(col("s_nationkey") % 5 === 0, lit(null)).otherwise(col("s_nationkey"))
          .as("s_nk"))
    val n = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"),
        when(col("n_nationkey") % 5 === 0, lit(null)).otherwise(col("n_nationkey"))
          .as("n_nk"))
    s.join(broadcast(n), col("s_nk") <=> col("n_nk"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_suppliers"))
  }

  private val nullSafeJoinSql =
    """WITH s AS (
      |  SELECT s_suppkey,
      |    CASE WHEN s_nationkey % 5 = 0 THEN NULL ELSE s_nationkey END AS s_nk
      |  FROM supplier),
      |n AS (
      |  SELECT n_nationkey, n_name,
      |    CASE WHEN n_nationkey % 5 = 0 THEN NULL ELSE n_nationkey END AS n_nk
      |  FROM nation)
      |SELECT n_name, count(*) AS n_suppliers
      |FROM s JOIN n ON s.s_nk IS NOT DISTINCT FROM n.n_nk
      |GROUP BY 1""".stripMargin

  /** SCD1 upsert (MERGE semantics relationally): an updates relation
    * overrides matching keys in the base catalog, inserts new keys,
    * and untouched base rows pass through — full-outer join +
    * column-wise coalesce with the update side winning.
    *
    * Scale notes: a key-shuffled full-outer join — the engine-agnostic
    * MERGE shape when updates are not partition-aligned; when they
    * are, `Sources.overwritePartitions` is the cheaper path (rewrite
    * only the touched partitions). Updates here are derived
    * deterministically (every 7th nation renamed + one new key) so
    * the op is self-contained and oracle-checkable.
    */
  def upsertCatalog(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.nation(spark, dir)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    val updates = base.where(col("n_nationkey") % 7 === 0)
      .select(col("n_nationkey"),
        concat(col("n_name"), lit("_V2")).as("n_name"), col("n_regionkey"))
      .unionByName(spark.range(1).select(
        lit(999).cast("int").as("n_nationkey"),
        lit("NEWLAND").as("n_name"),
        lit(0).cast("int").as("n_regionkey")))
    base.alias("b")
      .join(updates.alias("u"),
        col("b.n_nationkey") === col("u.n_nationkey"), "full_outer")
      .select(
        coalesce(col("u.n_nationkey"), col("b.n_nationkey")).as("n_nationkey"),
        coalesce(col("u.n_name"), col("b.n_name")).as("n_name"),
        coalesce(col("u.n_regionkey"), col("b.n_regionkey")).as("n_regionkey"))
  }

  private val upsertCatalogSql =
    """WITH base AS (SELECT n_nationkey, n_name, n_regionkey FROM nation),
      |updates AS (
      |  SELECT n_nationkey, n_name || '_V2' AS n_name, n_regionkey
      |  FROM base WHERE n_nationkey % 7 = 0
      |  UNION ALL
      |  SELECT CAST(999 AS INTEGER), 'NEWLAND', CAST(0 AS INTEGER))
      |SELECT
      |  COALESCE(u.n_nationkey, b.n_nationkey) AS n_nationkey,
      |  COALESCE(u.n_name, b.n_name) AS n_name,
      |  COALESCE(u.n_regionkey, b.n_regionkey) AS n_regionkey
      |FROM base b FULL JOIN updates u ON b.n_nationkey = u.n_nationkey""".stripMargin

  /** SCD2 history build: each customer's order-status change log
    * becomes validity intervals — valid_from = the change's date,
    * valid_to = the next change's date (NULL while current). The
    * other half of the MERGE story next to [[upsertCatalog]]'s SCD1:
    * instead of update-in-place, every version is kept with its
    * validity range, which is what time-travel joins consume.
    *
    * Scale shape: one customer-key exchange for the lead() window;
    * rows with no status change are collapsed first (lag filter) on
    * the same partitioning, so consecutive-dedup and interval
    * construction share a single sort.
    */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
    Tables.orders(spark, dir)
      .select(col("o_custkey"), col("o_orderstatus"),
        col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev_status", lag(col("o_orderstatus"), 1).over(w))
      .where(col("prev_status").isNull
        || col("prev_status") =!= col("o_orderstatus"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(w))
      .select(col("o_custkey"), col("o_orderstatus").as("status"),
        col("o_orderdate").as("valid_from"), col("valid_to"))
  }

  private val scd2HistorySql =
    """WITH changes AS (
      |  SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
      |    lag(o_orderstatus) OVER w AS prev_status
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC))
      |SELECT o_custkey, o_orderstatus AS status,
      |  o_orderdate AS valid_from,
      |  lead(o_orderdate) OVER (PARTITION BY o_custkey
      |    ORDER BY o_orderdate ASC, o_orderkey ASC) AS valid_to
      |FROM changes
      |WHERE prev_status IS NULL OR prev_status <> o_orderstatus""".stripMargin

  /** TPC-H Q5-shaped local-supplier revenue: the 6-relation join-order
    * stress test — two fact joins (orders⋈lineitem) and a
    * four-deep dimension chain (customer→nation→region plus the
    * supplier co-nationality constraint).
    *
    * Scale shape: region/nation/supplier are catalog-sized →
    * broadcast. Customer is NOT (1.5M rows/SF, ~10⁸ at 100 TB —
    * VERDICT r3 #4): it reaches the fact side through a shuffle on
    * o_custkey/c_custkey, which AQE may locally downgrade to broadcast
    * at toy SF but stays a sound exchange at any scale. The
    * co-nationality predicate (c_nationkey = s_nationkey) rides the
    * supplier broadcast as an equi-key, never a residual. Exact
    * decimal revenue.
    */
  def q5LocalSupplier(spark: SparkSession, dir: String): DataFrame = {
    val asia = Tables.region(spark, dir).where(col("r_name") === "ASIA")
    val nations = Tables.nation(spark, dir)
      .join(broadcast(asia), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nations), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir)
      .select(col("s_suppkey"), col("s_nationkey"))
    val ord = Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(spark, dir)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supp),
        col("l_suppkey") === col("s_suppkey")
          && col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum((col("l_extendedprice").cast(dec)
        * (lit(1.0).cast(dec) - col("l_discount").cast(dec))).cast(DecimalType(38, 4)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  /** TPC-H Q7 shape (volume shipping): bilateral trade between two
    * nations by supplier nation, customer nation, and ship year.
    * Exercises the one join mix Q3/Q5 don't: a selective broadcast on
    * the SUPPLIER side prunes the fact scan early, the fact-fact
    * lineitem⋈orders rides the orderkey shuffle, and customer (the
    * big dimension) stays on the custkey shuffle per the locked join
    * contract. The cross-nation residual (supp ≠ cust) applies after
    * both enrichments.
    */
  def q7NationVolume(spark: SparkSession, dir: String): DataFrame = {
    val nat = Tables.nation(spark, dir)
      .where(col("n_name").isin("NATION_1", "NATION_2"))
      .select(col("n_nationkey"), col("n_name"))
    val supp = Tables.supplier(spark, dir)
      .join(broadcast(nat), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val ord = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"))
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .join(broadcast(supp), col("l_suppkey") === col("s_suppkey"))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
      .where(col("supp_nation") =!= col("cust_nation"))
      .withColumn("l_year", year(col("l_shipdate")))
      .groupBy(col("supp_nation"), col("cust_nation"), col("l_year"))
      .agg(sum((col("l_extendedprice").cast(dec)
        * (lit(1.0).cast(dec) - col("l_discount").cast(dec))).cast(DecimalType(38, 4)))
        .cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
  }

  private val q7NationVolumeSql =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM (
      |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      |    CAST(year(l_shipdate) AS INTEGER) AS l_year,
      |    l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ns ON s_nationkey = ns.n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  WHERE ns.n_name IN ('NATION_1', 'NATION_2')
      |    AND nc.n_name IN ('NATION_1', 'NATION_2')
      |    AND ns.n_name <> nc.n_name
      |    AND l_shipdate >= TIMESTAMP '1996-01-01'
      |    AND l_shipdate < TIMESTAMP '1998-01-01')
      |GROUP BY 1, 2, 3""".stripMargin

  private val q5LocalSupplierSql =
    """SELECT n_name,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    AS DECIMAL(38,4))) AS DOUBLE) AS revenue,
      |  count(*) AS n_items
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |WHERE r_name = 'ASIA'
      |  AND o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1997-01-01'
      |GROUP BY 1""".stripMargin

  /** TPC-H Q18 shape (large-volume orders): orders whose total line
    * quantity clears a threshold, enriched with their customer.
    * The defining scale shape is HAVING-gates-the-join: the lineitem
    * aggregation reduces the fact to the qualifying orderkeys BEFORE
    * any enrichment join runs, so orders joins a pre-shrunk relation
    * on the orderkey shuffle and customer (the big dimension) stays on
    * the custkey shuffle per the locked join contract. Top-100 by
    * price with the unique orderkey as tiebreak — deterministic.
    */
  def q18LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity").cast(dec)).cast("double").as("sum_qty"))
      .where(col("sum_qty") > 150.0)
    Tables.orders(spark, dir)
      .join(big, col("o_orderkey") === col("l_orderkey"))
      .join(Tables.customer(spark, dir).hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)
  }

  private val q18LargeOrdersSql =
    """SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
      |FROM orders
      |JOIN (SELECT l_orderkey,
      |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
      |      FROM lineitem GROUP BY 1
      |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) > 150.0) b
      |  ON o_orderkey = b.l_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |ORDER BY o_totalprice DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  /** TPC-H Q9 shape (product-line profit): revenue of a name-filtered
    * part family by supplier nation and order year. Five relations in
    * one pass over the fact: the supplier→nation map enriches lineitem
    * map-side (supplier broadcasts per the locked q5/q7 contract); the
    * LIKE-filtered part keys stay on the partkey SHUFFLE — part is
    * catalog-cardinality (~10⁹ keys at 100 TB even after the name
    * filter; the q5 customer lesson), so a static broadcast would OOM
    * at scale while AQE may still broadcast at test SF where it
    * measures small. The only other big exchange is the fact-fact
    * lineitem⋈orders orderkey shuffle; the final rollup groups on
    * (nation, year).
    */
  def q9ProfitByNation(spark: SparkSession, dir: String): DataFrame = {
    val redParts = Tables.part(spark, dir)
      .where(col("p_name").contains("red")).select(col("p_partkey"))
    val suppNation = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"))
    Tables.lineitem(spark, dir)
      .join(redParts.hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(Tables.orders(spark, dir).select(col("o_orderkey"), col("o_orderdate")),
        col("l_orderkey") === col("o_orderkey"))
      .withColumn("o_year", year(col("o_orderdate")))
      .groupBy(col("nation"), col("o_year"))
      .agg(sum((col("l_extendedprice").cast(dec)
        * (lit(1.0).cast(dec) - col("l_discount").cast(dec))).cast(DecimalType(38, 4)))
        .cast("double").as("profit"),
        count(lit(1)).as("n_items"))
  }

  private val q9ProfitByNationSql =
    """SELECT nation, o_year,
      |  CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |    * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |    AS DECIMAL(38,4))) AS DOUBLE) AS profit,
      |  count(*) AS n_items
      |FROM (
      |  SELECT n_name AS nation,
      |    CAST(year(o_orderdate) AS INTEGER) AS o_year,
      |    l_extendedprice, l_discount
      |  FROM lineitem
      |  JOIN part ON l_partkey = p_partkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN orders ON l_orderkey = o_orderkey
      |  WHERE p_name LIKE '%red%')
      |GROUP BY 1, 2""".stripMargin

  /** TPC-H Q4 shape (priority check): order counts by priority for a
    * quarter, restricted to orders with at least one qualifying line —
    * the canonical EXISTS-decorrelation: the subquery becomes a LEFT
    * SEMI join on the orderkey shuffle, so multiplicity on the line
    * side can never inflate the count and nothing fact-sized is
    * broadcast. (This schema has no commit/receipt dates; the
    * qualifying-line predicate is a discount threshold, the shape —
    * date-windowed EXISTS semi + grouped count — is Q4's.)
    */
  def q4PriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    val qualifying = Tables.lineitem(spark, dir)
      .where(col("l_discount") > 0.05).select(col("l_orderkey"))
    Tables.orders(spark, dir)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .join(qualifying, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
  }

  private val q4PriorityCheckSql =
    """SELECT o_orderpriority, count(*) AS order_count
      |FROM orders
      |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      |  AND o_orderdate < TIMESTAMP '1996-04-01'
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey AND l_discount > 0.05)
      |GROUP BY 1""".stripMargin

  /** TPC-H Q12 shape (two-tier line classification): per line class,
    * how many lines belong to critical-priority orders vs not — the
    * CASE-bucketed double count over the fact-fact orderkey join, with
    * the date window pruning the lineitem scan before the shuffle.
    * (l_returnflag stands in for the schema's missing l_shipmode.)
    */
  def q12LineClasses(spark: SparkSession, dir: String): DataFrame = {
    val crit = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-01-01").cast("timestamp")
        && col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .select(col("l_orderkey"), col("l_returnflag"))
      .join(Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(sum(when(crit, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(crit, 0L).otherwise(1L)).as("low_line_count"))
  }

  private val q12LineClassesSql =
    """SELECT l_returnflag,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
      |  CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
      |      THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      |  AND l_shipdate < TIMESTAMP '1998-01-01'
      |GROUP BY 1""".stripMargin

  /** TPC-H Q14 shape (promo revenue share): the month's revenue share
    * of PROMO-type parts — conditional-over-total aggregation in one
    * pass. The part map reaches the date-pruned fact on the partkey
    * shuffle (part is catalog-cardinality — the q5 customer lesson, no
    * static broadcast; AQE may still broadcast at test SF where it
    * measures small). Revenue stays DECIMAL through both sums; one
    * double division at the end, rounded 1e-9.
    */
  def q14PromoShare(spark: SparkSession, dir: String): DataFrame = {
    val rev = (col("l_extendedprice").cast(dec)
      * (lit(1.0).cast(dec) - col("l_discount").cast(dec)))
      .cast(DecimalType(38, 4))
    Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= lit("1997-09-01").cast("timestamp")
        && col("l_shipdate") < lit("1997-10-01").cast("timestamp"))
      .join(Tables.part(spark, dir).select(col("p_partkey"), col("p_type"))
        .hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type") === "PROMO", rev)
          .otherwise(lit(0).cast(DecimalType(38, 4)))).as("promo_rev"),
        sum(rev).as("total_rev"))
      .select(
        round(lit(100.0) * col("promo_rev").cast("double")
          / col("total_rev").cast("double"), 9).as("promo_share_pct"),
        col("promo_rev").cast("double").as("promo_rev"),
        col("total_rev").cast("double").as("total_rev"))
  }

  private val q14PromoShareSql =
    """SELECT
      |  round(100.0 * CAST(promo_rev AS DOUBLE) / CAST(total_rev AS DOUBLE), 9)
      |    AS promo_share_pct,
      |  CAST(promo_rev AS DOUBLE) AS promo_rev,
      |  CAST(total_rev AS DOUBLE) AS total_rev
      |FROM (
      |  SELECT
      |    SUM(CASE WHEN p_type = 'PROMO'
      |        THEN CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |          * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |          AS DECIMAL(38,4))
      |        ELSE CAST(0 AS DECIMAL(38,4)) END) AS promo_rev,
      |    SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2))
      |      * (CAST(1.0 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
      |      AS DECIMAL(38,4))) AS total_rev
      |  FROM lineitem JOIN part ON l_partkey = p_partkey
      |  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
      |    AND l_shipdate < TIMESTAMP '1997-10-01')""".stripMargin

  /** CDC snapshot diff: old vs new table version → per-key change
    * classification (added / removed / changed), unchanged rows
    * dropped. The change-data-capture primitive behind incremental
    * downstream refresh; one full-outer key join, same shape as
    * [[upsertCatalog]]. The "new" snapshot is derived
    * deterministically (balance bump on every 10th key, every 97th
    * key dropped, one insert) so the op is self-contained.
    */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val old = Tables.customer(spark, dir)
      .select(col("c_custkey"), col("c_acctbal"))
    val neu = old.where(col("c_custkey") % 97 =!= 0)
      .select(col("c_custkey"),
        when(col("c_custkey") % 10 === 0, col("c_acctbal") + 10.0)
          .otherwise(col("c_acctbal")).as("c_acctbal"))
      .unionByName(spark.range(1).select(
        lit(999999L).as("c_custkey"), lit(1.0).as("c_acctbal")))
    old.alias("o").join(neu.alias("n"),
        col("o.c_custkey") === col("n.c_custkey"), "full_outer")
      .select(
        coalesce(col("o.c_custkey"), col("n.c_custkey")).as("c_custkey"),
        col("o.c_acctbal").as("old_bal"), col("n.c_acctbal").as("new_bal"),
        when(col("o.c_custkey").isNull, lit("added"))
          .when(col("n.c_custkey").isNull, lit("removed"))
          .when(col("o.c_acctbal") =!= col("n.c_acctbal"), lit("changed"))
          .otherwise(lit("unchanged")).as("change_type"))
      .where(col("change_type") =!= "unchanged")
  }

  private val snapshotDiffSql =
    """WITH old AS (SELECT c_custkey, c_acctbal FROM customer),
      |neu AS (
      |  SELECT c_custkey,
      |    CASE WHEN c_custkey % 10 = 0 THEN c_acctbal + 10.0
      |         ELSE c_acctbal END AS c_acctbal
      |  FROM old WHERE c_custkey % 97 <> 0
      |  UNION ALL
      |  SELECT CAST(999999 AS BIGINT), CAST(1.0 AS DOUBLE))
      |SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
      |  o.c_acctbal AS old_bal, n.c_acctbal AS new_bal,
      |  CASE WHEN o.c_custkey IS NULL THEN 'added'
      |       WHEN n.c_custkey IS NULL THEN 'removed'
      |       WHEN o.c_acctbal <> n.c_acctbal THEN 'changed'
      |       ELSE 'unchanged' END AS change_type
      |FROM old o FULL JOIN neu n ON o.c_custkey = n.c_custkey
      |WHERE (CASE WHEN o.c_custkey IS NULL THEN 'added'
      |       WHEN n.c_custkey IS NULL THEN 'removed'
      |       WHEN o.c_acctbal <> n.c_acctbal THEN 'changed'
      |       ELSE 'unchanged' END) <> 'unchanged'""".stripMargin

  val ops: Seq[Op] = Seq(
    Op("q3_shipping", q3Shipping, Some(q3ShippingSql), bench = true),
    Op("q5_local_supplier", q5LocalSupplier, Some(q5LocalSupplierSql)),
    Op("q7_nation_volume", q7NationVolume, Some(q7NationVolumeSql)),
    Op("q18_large_orders", q18LargeOrders, Some(q18LargeOrdersSql)),
    Op("q9_profit_by_nation", q9ProfitByNation, Some(q9ProfitByNationSql)),
    Op("q4_priority_check", q4PriorityCheck, Some(q4PriorityCheckSql)),
    Op("q12_line_classes", q12LineClasses, Some(q12LineClassesSql)),
    Op("q14_promo_share", q14PromoShare, Some(q14PromoShareSql)),
    Op("snapshot_diff", snapshotDiff, Some(snapshotDiffSql)),
    Op("null_safe_join", nullSafeJoin, Some(nullSafeJoinSql)),
    Op("upsert_catalog", upsertCatalog, Some(upsertCatalogSql)),
    Op("scd2_history", scd2History, Some(scd2HistorySql)),
    Op("salted_join_agg", saltedJoinAgg, Some(saltedJoinAggSql)),
    Op("bucketed_join_agg", bucketedJoinAgg, Some(bucketedJoinAggSql)),
    Op("left_join_sentinel", leftJoinSentinel, Some(leftJoinSentinelSql)),
    Op("semi_join", semiJoin, Some(semiJoinSql)),
    Op("anti_join", antiJoin, Some(antiJoinSql)),
    Op("array_membership_join", arrayMembershipJoin, Some(arrayMembershipJoinSql)),
    Op("array_explode_join", arrayExplodeJoin, Some(arrayMembershipJoinSql)),
    Op("dedup_joinback", dedupJoinback, Some(dedupJoinbackSql), bench = true),
    Op("dim_join_agg", dimJoinAgg, Some(dimJoinAggSql), bench = true),
    Op("region_enrich", regionEnrich, Some(regionEnrichSql)),
  )
}
