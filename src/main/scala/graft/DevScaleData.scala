package graft

import org.apache.spark.sql.functions._

/** Dev tool: build a FULL-REFERENTIAL ≈sf1 dataset for the
  * registry-wide correctness sweep — every fact AND dim table
  * replicated `reps`× with CONSISTENT key offsets, so joins match in
  * every replica. region/nation stay symlinked: their keys
  * (c_nationkey etc.) are NOT offset, so FK integrity holds by
  * construction. [[DevSqlReplay]] reads its output when `reps > 1`.
  *
  * Key offsets are r*3 600 000 000; the EVENTS replica additionally
  * shifts ts by +30r DAYS so replicas live in DISJOINT time buckets —
  * the contact graph ((cell, time-bucket) co-location) grows ~linearly
  * (reps× nodes/edges), like a corpus collected reps× longer. A
  * geography-preserving replication (density ×reps ⇒ pair volume
  * ×reps², the events-family stress recorded in BENCH.md r16) would
  * not do here: a FULL-registry correctness sweep at ×reps² contact
  * density puts every wedge/triangle-shaped graph query into quadratic
  * territory (clustering_coefficient alone sat >15 min at 10× density,
  * wedge volume ~×1000 — and note lon spans only 3600 buckets, so an
  * id-shift "geography spread" just rotates within the SAME cells; the
  * time axis is the only one that actually separates replicas).
  * Documents/embeddings replicate with MUTATED payloads
  * (vowel-rotation + replica tag on text; a per-(replica, dim)
  * deterministic perturbation on embeddings): exact copies would make
  * every doc a reps-way duplicate and grow every dedup/LSH/ANN
  * candidate-pair set reps² — 100× the quadratic kernels for zero
  * extra correctness signal (a first identical-copy build sat >10 min
  * inside one pair hashAgg). Mutation keeps corpus growth linear with
  * a realistic near-dup tail (same-rotation replicas differ only by
  * the tag), exercising the same code paths — and both engines read
  * the same parquet, so the oracle comparison stays exact whatever
  * the semantics do.
  *
  * Usage: runMain graft.DevScaleData [sfDir] [reps]
  * Output: /dev/shm/graft_full<reps>x (idempotent via _done marker).
  */
object DevScaleData {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = if (args.length > 1) args(1).toInt else 10
    val spark = Sessions.build("graft-scale-data",
      sys.env.getOrElse("SPARK_GRAFT_CPUS",
        Runtime.getRuntime.availableProcessors.toString))
    spark.sparkContext.setLogLevel("WARN")
    println(build(spark, sfDir, reps))
    spark.stop()
  }

  def build(spark: org.apache.spark.sql.SparkSession,
      sfDir: String, reps: Int): String = {
    val out = s"/dev/shm/graft_full${reps}x"
    val done = new java.io.File(s"$out/_done")
    if (done.exists()) return out
    new java.io.File(out).mkdirs()
    // single part file published as a plain .parquet FILE (the layout
    // the DuckDB side globs), 16 MB row groups: a coalesce(1) file with
    // the 128 MB default leaves 1-2 row groups, and Spark's scan
    // parallelism is bounded by row-group count
    def publish(df: org.apache.spark.sql.DataFrame, t: String): Unit = {
      df.coalesce(1).write.mode("overwrite")
        .option("parquet.block.size", 16 * 1024 * 1024)
        .parquet(s"$out/_tmp_$t")
      val part = new java.io.File(s"$out/_tmp_$t").listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(s"$out/$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    val big = 3600000000L
    /** Replicate with the named key columns offset per replica. */
    def rep(df: org.apache.spark.sql.DataFrame, keys: Set[String])
        : org.apache.spark.sql.DataFrame =
      (0 until reps).map(r => df.select(df.columns.map {
        case c if keys(c) => (col(c) + lit(r * big)).as(c)
        case c => col(c)
      }: _*)).reduce(_ unionByName _)

    val ev = Tables.events(spark, sfDir)
    publish((0 until reps).map { r =>
      ev.select((col("event_id") + lit(r * big)).as("event_id"),
        // +30r days: disjoint time windows per replica — co-location
        // pairs, sessions, and windows never cross replicas
        (col("ts") + expr(s"INTERVAL ${r * 30} DAY")).as("ts"),
        (col("user_id") + lit(r * big)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }.reduce(_ unionByName _), "events")
    publish(rep(Tables.orders(spark, sfDir),
      Set("o_orderkey", "o_custkey")), "orders")
    publish(rep(Tables.lineitem(spark, sfDir),
      Set("l_orderkey", "l_partkey", "l_suppkey")), "lineitem")
    publish(rep(Tables.customer(spark, sfDir), Set("c_custkey")), "customer")
    publish(rep(Tables.supplier(spark, sfDir), Set("s_suppkey")), "supplier")
    // part: brands are a FIXED 25-value domain in the TPC-H generator,
    // so identical-brand replicas merge brand-blocked self-joins into
    // reps×-fat blocks (reps² pair enumeration — fuzzy_pairs sat ~2 h
    // of Levenshtein DP at 10×). A bigger catalog gets new brands per
    // replica (replica 0 untouched); brand-literal filters elsewhere
    // (q19 etc.) simply keep matching replica 0 — correctness is
    // engine-vs-oracle on identical bytes either way.
    val part = Tables.part(spark, sfDir)
    publish((0 until reps).map { r =>
      val brand = if (r == 0) col("p_brand")
                  else concat(col("p_brand"), lit(s"#$r"))
      part.select((col("p_partkey") + lit(r * big)).as("p_partkey"),
        col("p_name"), brand.as("p_brand"), col("p_type"),
        col("p_size"), col("p_retailprice"))
    }.reduce(_ unionByName _), "part")
    val doc = Tables.documents(spark, sfDir)
    publish((0 until reps).map { r =>
      val mutated =
        if (r == 0) col("text")
        else {
          // distinct rotation class per r%4, distinct tag per replica:
          // no exact dups across replicas, near-dups only within a
          // rotation class (differing by the tag)
          val vowels = "aeiouAEIOU"
          val rot = (r - 1) % 4 + 1
          val to = vowels.drop(rot * 2) + vowels.take(rot * 2)
          concat(translate(col("text"), vowels, to), lit(s" q$r"))
        }
      doc.select((col("doc_id") + lit(r * big)).as("doc_id"),
        mutated.as("text"), col("lang"), col("source"),
        length(mutated).cast("long").as("n_chars"))
    }.reduce(_ unionByName _), "documents")
    val emb = Tables.embeddings(spark, sfDir)
    publish((0 until reps).map { r =>
      val vid = col("vec_id") + lit(r * big)
      val vec =
        if (r == 0) col("embedding")
        else
          // deterministic per-(replica, dim) perturbation decorrelates
          // replicas (a uniform scale would keep cosine = 1 and leave
          // every vector a reps-way ANN twin)
          expr(s"transform(embedding, (x, i) -> CAST(x + " +
            s"(($r * 31 + i * 17) % 11 - 5) * CAST(0.07 AS FLOAT) AS FLOAT))")
      emb.select(vid.as("vec_id"), vec.as("embedding"), col("label"))
    }.reduce(_ unionByName _), "embeddings")
    for (t <- Seq("region", "nation")) {
      val link = java.nio.file.Paths.get(s"$out/$t.parquet")
      java.nio.file.Files.deleteIfExists(link)
      java.nio.file.Files.createSymbolicLink(link,
        java.nio.file.Paths.get(s"$sfDir/$t.parquet"))
    }
    done.createNewFile()
    out
  }
}
