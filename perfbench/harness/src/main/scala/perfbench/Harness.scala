package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.time.LocalDate
import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.{Sessions, SparkEntry, Tables}
import graft.graph.Sbm
import graft.operators.{Interactions, Scaling}
import graft.pipeline.Pipeline
import graft.pipeline.Pipeline.RunConfig
import graft.sim.Seir
import graft.sources.GraphML

/** Benchmark harness: one workload per JVM, driven by perfbench/run.py.
  *
  *   --workload daily|suite --data DIR --out DIR --result FILE
  *   --seconds N --trace 0|1 --cpus N --run-id ID [--spans FILE]
  *   [--pair-candidates N]   (daily; the generator's count)
  *
  * `daily` is the `graft.Main run-daily` product: Pipeline.dailyRun plus
  * its four sinks. `suite` runs the registry's bench ops back to back,
  * each to the noop sink. Results go to --result as one JSON object;
  * run.py checks the outputs and prints the benchmark's result line.
  */
object Harness {

  /** Seeds of the SEIR fan-out: `run-daily`'s default. */
  val SeirSeeds: Range = 0 until 4
  /** Untimed daily runs before the timed ones. */
  val WarmUps = 2
  /** Fewest timed repeats per run, whatever --seconds says. A traced
    * run needs one, as the untraced base of the tracing overhead.
    */
  val MinRepeats = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val res = new Result
    val spansFile = opt.get("spans")
    var tracer: Option[Tracer] = None
    try {
      opt("workload") match {
        case "daily" => tracer = new Daily(opt, res).run()
        case "suite" => tracer = new Suite(opt, res).run()
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
    } finally {
      Files.writeString(Paths.get(opt("result")), res.json)
      for (t <- tracer; f <- spansFile) Files.writeString(Paths.get(f),
        t.spans.map(s =>
          Json.obj(Seq("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
            "run_id" -> s.runId, "start_ns" -> s.startNs, "end_ns" -> s.endNs)))
          .mkString("", "\n", "\n"))
    }
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** Collected results: metrics by name, plus check inputs. */
  final class Result {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]
    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]

    def json: String = Json.obj(Seq(
      "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.toSeq, "metrics" -> metrics, "info" -> info))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Shared skeleton: repeated set-ups, then a timed loop of one
    * operation, counting failures by exception class.
    */
  abstract class Workload(opt: Map[String, String], res: Result) {
    val data: String = opt("data")
    val out: String = opt("out")
    val seconds: Double = opt("seconds").toDouble
    val trace: Boolean = opt("trace") == "1"
    val cpus: String = opt("cpus")
    var spark: SparkSession = _

    /** One operation of the timed loop, writing under `dir`. */
    def operation(dir: String): Unit
    /** Traced pass: each layer once, then the operation itself. */
    def traced(t: Tracer, l: SpanListener): Unit
    /** Untimed facts the output checks need. */
    def checkFacts(dir: String): Unit = ()

    def startSession(): Unit = {
      spark = Sessions.build("perfbench", cpus)
      spark.sparkContext.setLogLevel("ERROR")
    }

    /** Runs one operation; false (and the failure recorded) if it threw. */
    def attempt(dir: String): Boolean = {
      res.attempted += 1
      val t0 = System.nanoTime()
      try { operation(dir); true }
      catch {
        case e: Throwable =>
          res.failed += 1
          // the class thrown, and the root cause Spark may wrap it around
          val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
          res.failures += (if (root eq e) e.getClass.getName
            else s"${e.getClass.getName} <- ${root.getClass.getName}")
          System.err.println(f"[perfbench] operation failed after " +
            f"${secondsSince(t0)}%.1f s: $e; root cause at\n  " +
            root.getStackTrace.take(12).mkString("\n  "))
          false
      } finally
        try release()
        catch { case e: Exception => System.err.println(s"[perfbench] release: $e") }
    }

    /** After each operation: note what it left cached, then drop it. */
    def release(): Unit = {
      val cached = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
      res.info("last_cached_bytes") = cached
      spark.catalog.clearCache()
    }

    def loadInputs(): Unit

    def run(): Option[Tracer] = {
      // set-up: session start, input load and warm-up runs, the first
      // cold; a run still gets markedly faster until the JIT has seen
      // a few of them
      startSession()
      loadInputs()
      var ok = true
      var w = 0
      while (ok && w < WarmUps) {
        val warm = s"$out/warm-$w"
        val t0 = System.nanoTime()
        ok = attempt(warm)
        deleteTree(new File(warm))
        System.err.println(f"[perfbench] warm-up $w: ${secondsSince(t0)}%.2f s")
        w += 1
      }
      if (!ok) return None
      res.info("ready_epoch_s") = System.currentTimeMillis() / 1e3

      val runs = mutable.ArrayBuffer.empty[Double]
      val end = System.nanoTime() + (seconds * 1e9).toLong
      var last: String = null
      val minRepeats = if (trace) 1 else MinRepeats
      while (ok && (runs.size < minRepeats ||
          (!trace && System.nanoTime() < end))) {
        val dir = s"$out/run-${runs.size}"
        // start every timed run from a collected heap, so one run's
        // garbage is not charged to the next
        System.gc()
        val t0 = System.nanoTime()
        ok = attempt(dir)
        val t = secondsSince(t0)
        if (last != null) deleteTree(new File(last))
        last = dir
        if (ok) runs += t
        System.err.println(f"[perfbench] run ${runs.size}: $t%.2f s")
      }
      if (!ok) return None
      res.metrics("run_s") = median(runs.toSeq)
      res.info("run_times_s") = runs.toSeq
      res.info("outputs") = last
      checkFacts(last)

      if (!trace) return None
      val l = new SpanListener
      spark.sparkContext.addSparkListener(l)
      val t = new Tracer(spark.sparkContext, opt("run-id"))
      traced(t, l)
      l.drain()
      spark.sparkContext.removeSparkListener(l)
      Some(t)
    }

    /** spark.* and jvm.* metrics over one traced operation. */
    def runtimeMetrics(t: Tracer, l: SpanListener, root: String,
        rssMb: Double): Unit = {
      val c = l.total(t.subtree(root))
      val wall = t.seconds(root)
      val m = res.metrics
      m("spark.jobs") = c.jobs.toDouble
      m("spark.stages") = c.stages.toDouble
      m("spark.tasks") = c.tasks.toDouble
      m("spark.task_run_s") = c.taskRunMs / 1e3
      m("spark.task_cpu_s") = c.taskCpuNs / 1e9
      m("spark.gc_s") = c.gcMs / 1e3
      m("spark.shuffle_write_mb") = c.shuffleWriteBytes / 1048576.0
      m("spark.shuffle_read_mb") = c.shuffleReadBytes / 1048576.0
      m("spark.spill_mb") = c.spillBytes / 1048576.0
      m("spark.peak_exec_mem_mb") = c.peakExecBytes / 1048576.0
      m("spark.idle_core_s") =
        spark.sparkContext.defaultParallelism * wall - c.taskRunMs / 1e3
      m("jvm.peak_rss_mb") = rssMb
      m("trace.overhead_s") = wall - res.metrics("run_s")
    }

    /** Runs `body` in span `name` and returns its jobs and tasks. */
    def counted(t: Tracer, l: SpanListener, name: String)(body: => Unit)
        : SparkCounters = {
      t.span(name)(body)
      l.drain()
      l.total(Seq(name))
    }

    /** The registry ops of this workload: op.run() construction and
      * noop-sink execution timed apart (the `driver` layer).
      */
    def registryOps(t: Tracer, l: SpanListener, names: Seq[String]): Unit = {
      val ops = names.map(n => SparkEntry.allOps.find(_.name == n).get)
      var constructS = 0.0
      var constructJobs = 0L
      ops.foreach { op =>
        val df = t.span(s"driver.construct.${op.name}")(op.run(spark, data))
        l.drain()
        constructS += t.seconds(s"driver.construct.${op.name}")
        constructJobs += l.total(Seq(s"driver.construct.${op.name}")).jobs
        t.span(s"query.${op.name}.execute")(noop(df))
        res.metrics(s"query.${op.name}_s") =
          t.seconds(s"driver.construct.${op.name}") +
            t.seconds(s"query.${op.name}.execute")
      }
      res.metrics("driver.construct_s") = constructS
      res.metrics("driver.construct_jobs") = constructJobs.toDouble
    }
  }

  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Peak resident set (VmHWM) after resetting it, in MB. */
  object Rss {
    def reset(): Unit =
      try Files.writeString(Paths.get("/proc/self/clear_refs"), "5")
      catch { case _: Exception => () }
    def peakMb(): Double = {
      val lines = Files.readAllLines(Paths.get("/proc/self/status"))
      val kb = (0 until lines.size).map(lines.get)
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(Double.NaN)
      kb / 1024
    }
  }

  /** The daily contact-network run (`graft.Main run-daily`). */
  final class Daily(opt: Map[String, String], res: Result)
      extends Workload(opt, res) {
    val cfg: RunConfig = RunConfig(data, LocalDate.parse("2024-01-15"))
    /** Last run's network, for the output checks. */
    var network: (DataFrame, DataFrame) = _

    def loadInputs(): Unit = Tables.events(spark, data).count()

    /** Same calls and sinks as `graft.Main run-daily`. */
    def operation(dir: String): Unit = {
      val (matrix, vertices, edges, status) =
        Pipeline.dailyRun(spark, cfg, SeirSeeds)
      sinks(dir, matrix, vertices, edges, status)
      network = (vertices, edges)
    }

    def sinks(dir: String, matrix: DataFrame, vertices: DataFrame,
        edges: DataFrame, status: DataFrame): Unit = {
      new File(dir).mkdirs()
      matrix.coalesce(1).write.mode("overwrite").parquet(s"$dir/contact_matrix")
      GraphML.write(vertices, edges, s"$dir/network.graphml")
      status.write.mode("overwrite").parquet(s"$dir/seir_status")
      Seir.infectedPerBlock(status, nodeBlocks(vertices))
        .write.mode("overwrite").parquet(s"$dir/infected_per_block")
    }

    def nodeBlocks(vertices: DataFrame): DataFrame =
      vertices.selectExpr("CAST(node_id AS LONG) AS nodeId",
        "attrs['block'] AS block")

    override def checkFacts(dir: String): Unit = {
      val (vertices, edges) = network
      res.info("sbm_nodes") = vertices.count()
      res.info("sbm_edges") = edges.count()
      res.info("seir_seeds") = SeirSeeds.size
      res.info("scaled_size_sum") = Scaling.scaledSizesExact(spark, data)
        .agg(org.apache.spark.sql.functions.sum(col("scaled_size"))).head().getLong(0)
      res.info("oracle_total_vs_observed") =
        SparkEntry.oracleSql("total_vs_observed")
    }

    def traced(t: Tracer, l: SpanListener): Unit = {
      val m = res.metrics
      val dir = s"$out/traced"
      new File(dir).mkdirs()
      val scan = counted(t, l, "sources.scan")(noop(Tables.events(spark, data)))
      m("sources.scan_s") = t.seconds("sources.scan")
      m("sources.input_rows") = scan.inputRecords.toDouble

      t.span("operators.Interactions.sizes")(
        noop(Interactions.sizes(spark, data)))
      t.span("operators.Interactions.observed_contacts")(
        noop(Interactions.observedContacts(spark, data)))
      val matrix = t.span("operators.Interactions.total_vs_observed")(
        Interactions.totalVsObserved(spark, data).collect())
      m("operators.Interactions.sizes_s") = t.seconds("operators.Interactions.sizes")
      m("operators.Interactions.observed_contacts_s") =
        t.seconds("operators.Interactions.observed_contacts")
      m("operators.Interactions.total_vs_observed_s") =
        t.seconds("operators.Interactions.total_vs_observed")
      m("operators.Interactions.matrix_rows") = matrix.length.toDouble
      // observed_contacts counts distinct ordered pairs per home pair
      // and every device has one home, so the matrix sums to twice
      // the distinct unordered pairs
      val distinct = matrix.map(_.getLong(3)).sum / 2.0
      m("operators.Interactions.distinct_pairs") = distinct
      val candidates = opt("pair-candidates").toDouble
      m("operators.Interactions.pair_candidates") = candidates
      m("operators.Interactions.pair_yield") = distinct / candidates

      val sizes = t.span("operators.Scaling.scaled_sizes")(
        Scaling.scaledSizesExact(spark, data).orderBy(col("event_type"))
          .collect().map(r => r.getString(0) -> r.getLong(2)).toSeq)
      m("operators.Scaling.scaled_sizes_s") = t.seconds("operators.Scaling.scaled_sizes")

      // as `graft.Main build-network` does, from the stage outputs
      val probs = spark.createDataFrame(matrix.toSeq.map(r =>
          (r.getString(0), r.getString(1), r.getDouble(4))))
        .toDF("block_a", "block_b", "prob")
      var network: (DataFrame, DataFrame) = null
      var nodes = 0L
      var edgeRows: Array[org.apache.spark.sql.Row] = null
      val sbm = counted(t, l, "graph.Sbm.generate") {
        network = Sbm.generate(spark,
          sizes.map { case (b, n) => b -> math.max(1L, n / 100) }, probs, 3696L)
        nodes = network._1.count()
        edgeRows = network._2.collect()
      }
      m("graph.Sbm.generate_s") = t.seconds("graph.Sbm.generate")
      m("graph.Sbm.nodes") = nodes.toDouble
      m("graph.Sbm.edges") = edgeRows.length.toDouble
      m("graph.Sbm.jobs") = sbm.jobs.toDouble
      m("graph.Sbm.tasks") = sbm.tasks.toDouble

      t.span("sources.graphml_write")(
        GraphML.write(network._1, network._2, s"$dir/stage-network.graphml"))
      m("sources.graphml_write_s") = t.seconds("sources.graphml_write")

      val adj = edgeRows.flatMap(r => Seq(
          r.getString(0).toLong -> r.getString(1).toLong,
          r.getString(1).toLong -> r.getString(0).toLong))
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).distinct }
      val status = Seir.runMany(spark, adj, cfg.beta, cfg.sigma, cfg.gamma,
        adj.keys.toSeq.sorted.take(1), 50.0, SeirSeeds)
      val seir = counted(t, l, "sim.Seir.run_many")(noop(status))
      m("sim.Seir.run_many_s") = t.seconds("sim.Seir.run_many")
      m("sim.Seir.seeds") = SeirSeeds.size.toDouble
      // the simulation stage is the one holding the most task time
      val simStage = seir.stageTaskMs.values.maxByOption(_.sum)
      m("sim.Seir.straggler_ratio") = simStage.map { ts =>
        ts.max / math.max(1.0, median(ts.map(_.toDouble).toSeq))
      }.getOrElse(Double.NaN)
      t.span("sim.infected_per_block")(
        noop(Seir.infectedPerBlock(status, nodeBlocks(network._1))))
      m("sim.infected_per_block_s") = t.seconds("sim.infected_per_block")

      registryOps(t, l, Seq("interaction_pairs", "observed_contacts",
        "total_vs_observed"))

      // the whole daily run, traced: construction, then the sinks
      Rss.reset()
      t.span("daily_run") {
        val (mx, v, e, st) = t.span("pipeline.daily_run_construct")(
          Pipeline.dailyRun(spark, cfg, SeirSeeds))
        t.span("sources.sink")(sinks(s"$dir/daily", mx, v, e, st))
      }
      l.drain()
      val rss = Rss.peakMb()
      release()
      m("spark.cached_mb") =
        res.info("last_cached_bytes").asInstanceOf[Long] / 1048576.0
      m("pipeline.daily_run_construct_s") = t.seconds("pipeline.daily_run_construct")
      m("pipeline.daily_run_construct_jobs") =
        l.total(Seq("pipeline.daily_run_construct")).jobs.toDouble
      m("sources.sink_s") = t.seconds("sources.sink")
      runtimeMetrics(t, l, "daily_run", rss)
    }
  }

  /** The registry's bench ops, back to back, each to the noop sink. */
  final class Suite(opt: Map[String, String], res: Result)
      extends Workload(opt, res) {
    val names: Seq[String] = SparkEntry.benchQueries.map(_.name)

    def loadInputs(): Unit = Seq("events", "lineitem", "orders", "customer",
      "supplier", "part", "nation", "region", "documents", "embeddings")
      .filter(n => new File(s"$data/$n.parquet").exists())
      .foreach(n => Tables.load(spark, data, n).count())

    /** One op's failure fails the whole pass: the pass is the timed
      * unit, so a partial pass must not read as a fast one.
      */
    def operation(dir: String): Unit =
      SparkEntry.benchQueries.foreach(op => noop(op.run(spark, data)))

    override def checkFacts(dir: String): Unit = {
      // each op's result, once, for the oracle comparison
      new File(dir).mkdirs()
      SparkEntry.benchQueries.foreach { op =>
        op.run(spark, data).coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/${op.name}")
      }
      res.info("oracle_sql") = SparkEntry.benchQueries
        .flatMap(op => op.oracle.map(op.name -> _)).toMap
    }

    def traced(t: Tracer, l: SpanListener): Unit = {
      Rss.reset()
      t.span("suite")(registryOps(t, l, names))
      l.drain()
      val rss = Rss.peakMb()
      release()
      res.metrics("spark.cached_mb") =
        res.info("last_cached_bytes").asInstanceOf[Long] / 1048576.0
      runtimeMetrics(t, l, "suite", rss)
    }
  }
}

/** Minimal JSON writer for the harness's result file. */
object Json {
  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case s: String => str(s)
    case kvs: scala.collection.Map[_, _] =>
      obj(kvs.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
