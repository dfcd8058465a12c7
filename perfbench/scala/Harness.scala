package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import org.apache.spark.perfbench.BusDrain

import graft.SparkEntry
import graft.pipeline.{Dag, DomainConfig, PipelineBuilder, StarPipeline}
import graft.queries._
import graft.sources.CsvIngest.ColumnSpec

/** The JVM half of the benchmark (see run.py): sets up one workload, times
  * its ops in a closed loop for the requested window, and writes every op's
  * record to a JSON file. Output checks against DuckDB happen in run.py,
  * over the tables and dumps this program leaves under `--work`.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --work DIR --out FILE --cpus N [--days d1,d2,..]
  */
object Harness {
  type Query = (SparkSession, String) => DataFrame

  /** The queries a `catalogue` run times: one of every layer the catalogue
    * exercises (named beside each query). The whole 159-query catalogue takes
    * minutes at any scale, longer than one run may take. */
  val catalogueTimed: Seq[String] = Seq(
    "doc_fingerprint",    // functions: MinHash and SimHash kernels
    "dedup_containment",  // operators: Dedup, IntersectSize kernel
    "corpus_curate",      // operators: Curate, iterative dedup with checkpoints
    "gopher_quality",     // functions: text quality kernels
    "bpe_tokens",         // functions: BPE tokenizer kernel
    "q_topk_rewrite",     // plans: TopKRewrite
    "stats_auto_dfp",     // plans: DfpRewrite over a StatsIndex
    "dq_check",           // operators: Expectations
    "q_fuzzy_join",       // operators: FuzzyJoin, DeletionVariants kernel
    "sales_summary")      // operators: Scd2, DateDim, FactBuild, Datamart

  /** Raw tables `star_daily` ingests from its CSV drops. */
  val dailyDomain = DomainConfig.Domain("sales", Seq(
    DomainConfig.RawTable("orders", Seq(
      ColumnSpec("o_orderkey", "INTEGER"), ColumnSpec("o_custkey", "INTEGER"),
      ColumnSpec("o_orderstatus", "STRING"), ColumnSpec("o_totalprice", "FLOAT"),
      ColumnSpec("o_orderdate", "DATE"), ColumnSpec("o_orderpriority", "STRING"))),
    DomainConfig.RawTable("lineitem", Seq(
      ColumnSpec("l_orderkey", "INTEGER"), ColumnSpec("l_partkey", "INTEGER"),
      ColumnSpec("l_suppkey", "INTEGER"), ColumnSpec("l_linenumber", "INTEGER"),
      ColumnSpec("l_quantity", "FLOAT"), ColumnSpec("l_extendedprice", "FLOAT"),
      ColumnSpec("l_discount", "FLOAT"), ColumnSpec("l_tax", "FLOAT"),
      ColumnSpec("l_returnflag", "STRING"), ColumnSpec("l_linestatus", "STRING"),
      ColumnSpec("l_shipdate", "DATE")))), Nil)

  /** Pipeline tables whose oracle SQL the daily checks use. */
  val StarTables = Set("dim_customers", "dim_parts", "dim_dates", "fact_orders",
    "sales_summary", "customer_analytics")

  /** Untimed days run before the window: enough to finish JIT and codegen
    * warm-up and to leave the first-day table creation behind. */
  val WarmDays = 2

  final class Op(val name: String, val kind: String, val traced: Boolean) {
    var wall = 0.0
    var ok = true
    var error = ""
    val phases = mutable.LinkedHashMap[String, Double]()
    val tasks = mutable.LinkedHashMap[String, Double]()
    var work: Map[String, Work] = Map.empty
    var planS = 0.0
    var countS = -1.0
    var filesWritten, bytesWritten = 0L
    var storedBytes = -1L
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val data = a("data")
    val work = a("work")
    val cpus = a("cpus").toInt

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sc = spark.sparkContext
    val spans = new Spans
    val collector = new Collector
    val ops = mutable.ArrayBuffer[Op]()
    val checks = mutable.ArrayBuffer[Map[String, Any]]()
    var tracing = false
    var setupS = 0.0
    var windowStart = 0L
    var untracedEnd = 0L
    var gcAtTrace = -1L
    val fixtureDir = sys.env.getOrElse("SPARK_GRAFT_TMPDIR", s"$work/fixtures")

    def startTracing(): Unit = if (traced && !tracing) {
      BusDrain(sc)
      sc.addSparkListener(collector)
      spark.listenerManager.register(collector)
      BusDrain(sc)
      collector.take()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      gcAtTrace = gcMillis()
      tracing = true
      spans.enabled = true
    }

    /** Time one op; its Spark work is read from the collector afterwards. */
    def timed(op: Op)(body: Op => Unit): Op = {
      if (ops.isEmpty) {
        setupS = (System.currentTimeMillis() -
          ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
        windowStart = System.nanoTime()
      }
      if (tracing) { BusDrain(sc); collector.take() }
      val before = if (tracing) treeSize(Paths.get(if (op.kind == "query") fixtureDir else s"$work/wh")) else (0L, 0L)
      val t0 = System.nanoTime()
      try spans(op.name, "harness")(body(op))
      catch { case e: Throwable =>
        op.ok = false
        op.error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"
      }
      op.wall = (System.nanoTime() - t0) / 1e9
      sc.clearJobGroup()
      if (tracing) {
        BusDrain(sc)
        val (w, plan) = collector.take()
        op.work = w
        op.planS = plan
        val after = treeSize(Paths.get(if (op.kind == "query") fixtureDir else s"$work/wh"))
        op.filesWritten = math.max(0L, after._1 - before._1)
        op.bytesWritten = math.max(0L, after._2 - before._2)
      }
      ops += op
      op
    }

    def group(op: Op, phase: String): Unit =
      sc.setJobGroup(s"op${ops.size}#$phase", s"${op.name} $phase", interruptOnCancel = false)

    /** Wrap each task so its wall time, job group and span are recorded. */
    def wrap(op: Op, tasks: Seq[Dag.Task]): Seq[Dag.Task] = tasks.map { t =>
      Dag.Task(t.id, t.deps, t.retries, t.retryDelay)(() => {
        group(op, t.id)
        val t0 = System.nanoTime()
        try spans(t.id, if (t.id.startsWith("raw.")) "graft.sources" else "graft.operators")(t.run())
        finally op.tasks(t.id) = (System.nanoTime() - t0) / 1e9
      })
    }

    def runDag(op: Op, build: => Seq[Dag.Task]): Unit = {
      group(op, "construct")
      val t0 = System.nanoTime()
      val tasks = spans("construct", "graft.pipeline")(wrap(op, build))
      val t1 = System.nanoTime()
      val report = spans("dag", "graft.pipeline")(Dag.run(tasks))
      op.phases("construct") = (t1 - t0) / 1e9
      op.phases("exec") = (System.nanoTime() - t1) / 1e9
      report.statuses.collectFirst { case (id, Dag.Failed(_, e)) => (id, e) }
        .foreach { case (id, e) => throw new IllegalStateException(s"task $id failed: $e", e) }
      require(report.succeeded, s"DAG did not succeed: ${report.statuses}")
    }

    /** Closed loop over `next` until the window (half of it while the
      * untraced part of a traced run lasts) is spent and at least `minOps`
      * ops (`tracedMinOps` in the traced part) ran in each part. */
    def loop(minOps: Int, tracedMinOps: Int)(next: Int => Boolean): Unit = {
      val parts = if (traced) Seq(false, true) else Seq(false)
      var i = 0
      var more = true
      parts.foreach { tracedPart =>
        if (tracedPart) { untracedEnd = System.nanoTime(); startTracing() }
        val budget = if (traced) seconds / 2 else seconds
        val partStart = System.nanoTime()
        var n = 0
        val least = if (tracedPart) tracedMinOps else minOps
        while (more && (n < least || (System.nanoTime() - partStart) / 1e9 < budget)) {
          more = next(i)
          i += 1; n += 1
        }
      }
    }

    def treeBytes(p: String): Long = treeSize(Paths.get(p))._2

    workload match {
      case "star_daily" =>
        val days = a("days").split(",").toSeq
        val wh = s"$work/wh"
        def day(k: Int, warm: Boolean): Unit = {
          val d = days(k)
          val op = new Op(s"day:$d", "day", tracing)
          val body = (o: Op) => runDag(o,
            PipelineBuilder.tasks(spark, dailyDomain, s"$data/inbox", wh, d) ++
              StarPipeline.incrementalTasks(spark, data, wh, d))
          val error = if (warm) untimed(body(op)) else { timed(op)(body); op.error }
          // the customer mart is rewritten every day: keep this day's copy
          val mart = Paths.get(s"$wh/datamart/customer_analytics")
          val copy = Paths.get(s"$work/check/day$k")
          if (Files.isDirectory(mart)) copyParquet(mart, copy)
          checks += Map("kind" -> "day", "op" -> (if (warm) -1 else ops.size - 1),
            "day" -> d, "days" -> days.take(k + 1), "warehouse" -> wh,
            "customers" -> copy.toString, "check_dir" -> s"$work/check",
            "error" -> error)
        }
        (0 until WarmDays).foreach(k => day(k, warm = true))
        loop(minOps = 2, tracedMinOps = 2) { i =>
          val k = WarmDays + i
          day(k, warm = false)
          k + 1 < days.size
        }
        ops.lastOption.foreach(_.storedBytes = treeBytes(wh))
        // every day's fact and summary partitions, read through the newest
        // manifests, for the DuckDB check
        untimed {
          graft.sources.IndexedScan.readIndexedVersioned(spark,
              s"$wh/core/fact_orders", s"$wh/core/fact_orders/_stats_gens")
            .withColumn("order_date", col("order_date").cast("date"))
            .coalesce(1).write.mode("overwrite").parquet(s"$work/check/fact_orders")
          graft.operators.DatamartIncr.readSalesSummaryVersioned(spark,
              s"$wh/datamart/sales_summary", s"$wh/datamart/sales_summary/_stats_gens")
            .coalesce(1).write.mode("overwrite").parquet(s"$work/check/sales_summary")
        }

      case "catalogue" =>
        val catalogue = SparkEntry.queries
        val order = new scala.util.Random(seed).shuffle(catalogueTimed)
        // warm pass: the first run of each query compiles its code, builds
        // its fixtures, and leaves its full output for the DuckDB check
        order.foreach { name =>
          val error = untimed(catalogue(name)(spark, data).coalesce(1).write
            .mode("overwrite").parquet(s"$work/check/q/$name"))
          checks += Map("kind" -> "query", "name" -> name, "dir" -> s"$work/check/q/$name",
            "sql" -> SparkEntry.oracleSql(name), "error" -> error)
          Fixtures.reapTransients(spark)
        }
        // two traced passes, so the per-op counts can be compared
        loop(minOps = order.size, tracedMinOps = 2 * order.size) { i =>
          val name = order(i % order.size)
          val op = timed(new Op(name, "query", tracing)) { o =>
            group(o, "construct")
            val t0 = System.nanoTime()
            val df = spans("construct", "graft.queries")(catalogue(name)(spark, data))
            val t1 = System.nanoTime()
            group(o, "exec")
            spans("exec", "spark")(df.write.format("noop").mode("overwrite").save())
            o.phases("construct") = (t1 - t0) / 1e9
            o.phases("exec") = (System.nanoTime() - t1) / 1e9
          }
          Fixtures.reapTransients(spark)
          if (op.traced) {
            // the old graft.Bench figure: construct + .count(), which lets
            // Catalyst prune every column the count does not read
            val t0 = System.nanoTime()
            try { catalogue(name)(spark, data).count(); op.countS = (System.nanoTime() - t0) / 1e9 }
            catch { case _: Throwable => () }
            Fixtures.reapTransients(spark)
          }
          true
        }
        ops.lastOption.foreach(_.storedBytes = treeBytes(fixtureDir))

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val windowEnd = System.nanoTime()

    val gcS = if (gcAtTrace < 0) 0.0 else (gcMillis() - gcAtTrace) / 1e3
    val heapPeak = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum
    val heapMax = Runtime.getRuntime.maxMemory
    Fixtures.clear()
    val leftover = Option(new java.io.File(fixtureDir).list()).map(_.toSeq).getOrElse(Nil)
    spark.stop()

    val result = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "heap_max_bytes" -> heapMax,
      "load_1m" -> ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage,
      "setup_s" -> setupS,
      "window_s" -> (windowEnd - windowStart) / 1e9,
      "untraced_s" -> (if (untracedEnd > 0) (untracedEnd - windowStart) / 1e9 else 0.0),
      "gc_s" -> gcS, "heap_peak_bytes" -> heapPeak,
      "fixture_leftovers" -> leftover,
      "ops" -> ops.map(opJson),
      "checks" -> checks,
      "oracle" -> SparkEntry.oracleSql.filter { case (k, _) => StarTables(k) },
      "spans" -> spans.all.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "layer" -> s.layer, "start_ns" -> s.startNs, "end_ns" -> s.endNs)),
      "self_s" -> spans.selfSeconds)
    val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    Files.writeString(Paths.get(a("out")), json.writeValueAsString(result))
  }

  /** Run an untimed warm-up op; returns its error, empty when it passed. */
  private def untimed(body: => Any): String =
    try { body; "" }
    catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}" }

  private def opJson(o: Op): Map[String, Any] = Map(
    "name" -> o.name, "kind" -> o.kind, "traced" -> o.traced, "wall_s" -> o.wall,
    "ok" -> o.ok, "error" -> o.error, "phases" -> o.phases.toMap, "tasks" -> o.tasks.toMap,
    "plan_s" -> o.planS, "count_s" -> o.countS, "stored_bytes" -> o.storedBytes,
    "files_written" -> o.filesWritten, "bytes_written" -> o.bytesWritten,
    "work" -> o.work.map { case (g, w) =>
      g -> Map("jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "failed_tasks" -> w.failedTasks, "run_s" -> w.runMs / 1e3, "cpu_s" -> w.cpuNs / 1e9,
        "shuffle_write_bytes" -> w.shuffleWrite, "shuffle_read_bytes" -> w.shuffleRead,
        "spill_bytes" -> w.spill, "input_bytes" -> w.input, "output_bytes" -> w.output,
        "busy_s" -> w.busySeconds)
    })

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Copy the visible parquet files directly under `from` into `to`. */
  private def copyParquet(from: Path, to: Path): Unit = {
    Files.createDirectories(to)
    val s = Files.list(from)
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
    }.foreach(p => Files.copy(p, to.resolve(p.getFileName)))
    finally s.close()
  }

  /** (regular files, bytes) under `root`; (0, 0) when it does not exist. */
  private def treeSize(root: Path): (Long, Long) =
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((n, b), p) => (n + 1, b + Files.size(p)) }
      finally s.close()
    }
}
