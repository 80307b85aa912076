package graft

/** Dev tool (r19): the ORACLE-ENGINE-RESOURCE-BOUND fallback gate from
  * the r18 sweep (COVERAGE.md, impute_fixpoint), generalized. For
  * queries whose DuckDB mirror exhausts this box at 10× (the wedge-
  * family graph queries: DuckDB materializes the Σd² join), replay the
  * SAME oracle SQL through Spark's OWN SQL frontend over the
  * replicated files and compare against the DataFrame spelling with a
  * distributed exceptAll in both directions — an independent
  * FORMULATION check (SQL semantics vs DF plan) that never collects
  * the result to the driver.
  *
  * Usage: runMain graft.DevSqlReplay [sfDir] [reps] names...
  */
object DevSqlReplay {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 10
    val names = args.drop(2).toSeq
    require(names.nonEmpty, "pass query names")
    val spark = Sessions.build("graft-sql-replay",
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString))
    spark.sparkContext.setLogLevel("WARN")
    val dir = if (reps <= 1) sfDir
              else DevScaleData.build(spark, sfDir, reps)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      Tables.load(spark, dir, t).createOrReplaceTempView(t)
    var bad = 0
    for (name <- names) {
      val op = SparkEntry.allOps.find(_.name == name).get
      val t0 = System.nanoTime()
      val df = op.run(spark, dir)
      // the r18 dialect shims (COVERAGE.md): both operands of // are
      // non-negative everywhere it appears, so DuckDB floor-division
      // and Spark DIV agree
      val shimmed = op.oracle.get
        .replace("//", " DIV ")
        .replace("epoch_us(", "unix_micros(")
      // an oracle written in DuckDB-only syntax (unnest, list slices)
      // cannot replay here: report it and go on to the next name
      val sq = try Some(spark.sql(shimmed).toDF(df.columns: _*)) catch {
        case e: org.apache.spark.sql.AnalysisException =>
          println(f"[replay] $name%-24s FAIL oracle SQL is not Spark SQL: " +
            e.getMessage.takeWhile(_ != '\n'))
          None
      }
      // ONE pass per side: order-free multiset signature (count +
      // decimal sum of per-row hashes over name-sorted columns). An
      // exceptAll would re-execute the expensive SQL plan three more
      // times and quadruple the tmpfs shuffle footprint.
      def sig(x: org.apache.spark.sql.DataFrame): (Long, java.math.BigDecimal) = {
        import org.apache.spark.sql.functions._
        // Hash per column FIRST (xxhash64 never returns null — a null
        // input yields the seed constant), then mix the fixed-width
        // column hashes positionally. concat_ws would SKIP nulls and
        // has no delimiter escaping, so (NULL,"x")/("x",NULL) or
        // "a|b" vs "a","b" would alias — a false PASS in the one tool
        // that gates oracle-resource-bound formulations. Plain
        // xxhash64(cols:_*) has the same null-skip, hence two levels.
        val cols = x.columns.sorted.map(c => xxhash64(col(c).cast("string")))
        val r = x.select(xxhash64(cols: _*).as("h"))
          .agg(count(lit(1)), sum(col("h").cast(
            org.apache.spark.sql.types.DecimalType(38, 0)))).collect()(0)
        (r.getLong(0), r.getDecimal(1))
      }
      sq match {
        case None => bad += 1
        case Some(replayed) =>
          val (nDf, hDf) = sig(df)
          val (nSq, hSq) = sig(replayed)
          val ok = nDf == nSq && hDf == hSq
          if (!ok) bad += 1
          println(f"[replay] $name%-24s ${if (ok) "PASS" else "FAIL"} " +
            f"rows=$nDf/$nSq hash=${hDf}/${hSq} " +
            f"(${(System.nanoTime() - t0) / 1e9}%.1f s)")
      }
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
  }
}
