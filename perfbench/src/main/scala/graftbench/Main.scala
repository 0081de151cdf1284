package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.hll.functions._
import graft.theta.functions._
import graft.kll.functions._
import graft.freq.functions._
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{theta_union => _, _}
import org.apache.spark.sql.streaming.Trigger

/**
 * The benchmark's JVM half: sets up `--setups` times (session, Preflight, one
 * untimed warm-in pass that also lands the oracle-checked outputs), runs
 * timed passes of one workload for `--seconds`, runs the in-JVM correctness
 * identities, and writes everything to `<work>/result.json`.
 * `perfbench/run.py` drives it and owns the DuckDB oracle comparison and the
 * summary line.
 *
 * Args: --workload W --input DIR --work DIR --seconds S --trace 0|1 --setups N
 */
object Main {

  final case class StepRun(step: Step, constructS: Double, executeS: Double,
      error: Option[String])
  final case class PassRun(id: String, traced: Boolean, wallS: Double, cpuS: Double,
      jitCpuS: Double, gcS: Double, steps: Seq[StepRun], spans: Seq[Span])

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.byName(opt("workload"))
    val input = new File(opt("input")).getAbsolutePath
    val work = new File(opt("work")).getAbsolutePath
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val setups = opt("setups").toInt

    // Set-up: session build + Preflight + one warm-in pass at the benched
    // scale, repeated; the first is timed from JVM start. The warm-in pass
    // also lands every oracle-checked step's output for the correctness gate.
    val checkDir = s"$work/check"
    var checkPass: PassRun = null
    var spark: SparkSession = null
    val setupS = (0 until setups).map { i =>
      val t0 = if (i == 0) ManagementFactory.getRuntimeMXBean.getStartTime
               else System.currentTimeMillis()
      if (spark != null) { spark.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession() }
      spark = session(workload, work)
      log(s"setup $i: session")
      graft.sources.Preflight.check(spark, input)
      log(s"setup $i: preflight")
      checkPass = runPass(spark, workload, input, work, s"warm$i", None, Some(checkDir))
      reset(spark, work)
      log(s"setup $i: warm-in pass")
      (System.currentTimeMillis() - t0) / 1e3
    }

    val tracer = if (trace) Some(new Tracer) else None
    val passes = ArrayBuffer.empty[PassRun]
    val t0 = System.nanoTime()
    // In a traced run, passes alternate untraced/traced so the tracing
    // overhead is measured inside the same run.
    while ((System.nanoTime() - t0) / 1e9 < seconds || passes.size < (if (trace) 2 else 1)) {
      val traced = tracer.filter(_ => passes.size % 2 == 1)
      traced.foreach { t =>
        spark.sparkContext.addSparkListener(t); spark.streams.addListener(t.streamListener)
      }
      passes += runPass(spark, workload, input, work, s"p${passes.size}", traced, None)
      traced.foreach { t =>
        org.apache.spark.graftbench.ListenerBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(t); spark.streams.removeListener(t.streamListener)
      }
      reset(spark, work)
    }
    log(s"${passes.size} timed passes")
    val peakRssKb = vmHwmKb()

    // Untimed: the in-JVM identities, on the same inputs.
    val checks = checkPass.steps.map(r => r.step.name -> r.error).toMap ++
      Checks.run(spark, workload, input, work)
    val scanCounts = workload.steps.filter(_.module == "sources").map { s =>
      s.name -> Tables.table(spark, input, s.name.stripPrefix("scan_")).count()
    }.toMap
    val inputRows = workload.inputTables.map(t => t -> Tables.table(spark, input, t).count()).toMap

    val perLayer = tracer.map { t =>
      perLayerMetrics(spark, t, workload, passes.toSeq, input, inputRows)
    }
    log("checks")
    tracer.foreach(_ => writeSpans(s"$work/spans.jsonl", passes.toSeq))

    val oracleSql = graft.SparkEntry.oracleSql
    val result = ListMap(
      "workload" -> workload.name,
      "setup_s" -> setupS,
      "passes" -> passes.map(p => ListMap("id" -> p.id, "traced" -> p.traced,
        "wall_s" -> p.wallS, "cpu_s" -> p.cpuS,
        "jit_cpu_s" -> p.jitCpuS, "gc_s" -> p.gcS,
        "steps" -> p.steps.map(s => ListMap("name" -> s.step.name, "module" -> s.step.module,
          "construct_s" -> s.constructS, "execute_s" -> s.executeS,
          "error" -> s.error.orNull)))),
      "peak_rss_kb" -> peakRssKb,
      "input_rows" -> inputRows,
      "checks" -> checks.map { case (k, v) => k -> v.orNull },
      "scan_counts" -> scanCounts,
      "oracles" -> workload.steps.flatMap(s => s.oracle.map(q => s.name -> ListMap(
        "query" -> q, "sql" -> oracleSql.getOrElse(q, null), "out" -> s"$checkDir/${s.name}"))).toMap,
      "per_layer" -> perLayer.orNull)
    val w = new java.io.PrintWriter(s"$work/result.json", "UTF-8")
    try w.write(json.writeValueAsString(result)) finally w.close()
    // Ends the JVM without stopping the session or running Spark's shutdown
    // hooks, which take 10 s and more to delete the state stores' local
    // directories; run.py deletes the whole work directory before each run.
    Console.out.flush()
    Runtime.getRuntime.halt(0)
  }

  private def log(msg: String): Unit = println(f"[graftbench ${
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%7.2f s] $msg")

  def session(workload: Workload, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .withExtensions(new graft.hll.GraftSparkExtensions)
      .master("local[4]")
      .appName(s"graftbench-${workload.name}")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** The JIT compiler threads' ids. The JVM runs with a fixed set of them
   * (`-XX:-UseDynamicNumberOfCompilerThreads`), so they are looked up once;
   * a lookup that finds a vanished thread starts over. */
  private var knownCompilerTids: Seq[String] = Nil

  private def compilerTids(refresh: Boolean): Seq[String] = {
    if (refresh || knownCompilerTids.isEmpty)
      knownCompilerTids = Option(new File("/proc/self/task").list).toSeq.flatten
        .filter(tid => readFile(s"/proc/self/task/$tid/comm").exists(_.contains("CompilerThre")))
    knownCompilerTids
  }

  private def readFile(path: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8"))
    catch { case NonFatal(_) => None }

  /** CPU seconds the JIT compiler threads have used (utime + stime from
   * /proc, in clock ticks of 1/100 s). */
  def jitCpuS(): Double = {
    def read(tids: Seq[String]): Option[Double] = {
      val stats = tids.map(t => readFile(s"/proc/self/task/$t/stat"))
      if (stats.exists(_.isEmpty)) None
      else Some(stats.flatten.map { st =>
        val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
        f(11).toLong + f(12).toLong
      }.sum / 100.0)
    }
    read(compilerTids(refresh = false)).orElse(read(compilerTids(refresh = true))).getOrElse(0.0)
  }

  /** Process CPU seconds without the JIT compiler threads: the work the
   * program does, plus GC. Compilation is a warm-up cost that fades with
   * input size, and at this scale it is a third of the process's CPU and
   * most of its run-to-run variation. */
  private def cpuS(): Double = processCpuS() - jitCpuS()

  /** GC seconds so far, recorded per pass next to the CPU seconds. */
  private def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** One pass over the workload's steps, in order, each step starting after
   * the previous one completed. With `checkDir`, oracle-checked steps write
   * their output there instead of to the noop sink. */
  def runPass(spark: SparkSession, w: Workload, input: String, work: String, passId: String,
      tracer: Option[Tracer], checkDir: Option[String]): PassRun = {
    val ctx = new Ctx(spark, input, work)
    val spans = ArrayBuffer.empty[Span]
    var cpu = 0.0
    val (jit0, gc0) = (jitCpuS(), gcS())
    val runs = w.steps.map { step =>
      def phase[T](name: String)(body: => T): (T, Double) = {
        val span = Span(passId, step.name, step.module, name, System.currentTimeMillis(), 0L)
        spark.sparkContext.setLocalProperty(Tracer.SpanKey, span.id)
        tracer.foreach(_.currentSpan = span.id)
        val c0 = cpuS()
        val t0 = System.nanoTime()
        try {
          val out = body
          (out, (System.nanoTime() - t0) / 1e9)
        } finally {
          cpu += cpuS() - c0
          spans += span.copy(endMs = System.currentTimeMillis())
          spark.sparkContext.setLocalProperty(Tracer.SpanKey, null)
          tracer.foreach(_.currentSpan = null)
        }
      }
      var (cs, es) = (0.0, 0.0)
      val error = try {
        val (df, c) = phase("construct")(step.build(ctx))
        cs = c
        es = phase("execute")(execute(step, df, work,
          checkDir.filter(_ => step.oracle.isDefined).map(d => s"$d/${step.name}")))._2
        None
      } catch {
        case NonFatal(t) => Some(s"${t.getClass.getSimpleName}: ${String.valueOf(t.getMessage).take(300)}")
      }
      StepRun(step, cs, es, error)
    }
    PassRun(passId, tracer.isDefined, runs.map(r => r.constructS + r.executeS).sum, cpu,
      jitCpuS() - jit0, gcS() - gc0, runs, spans.toSeq)
  }

  /** Execute phase: run the plan into its sink, or with `dump` into parquet
   * for the oracle gate. */
  private def execute(step: Step, df: DataFrame, work: String, dump: Option[String]): Unit =
    (step.sink, dump) match {
      case (Parquet(rel), _) => df.write.mode("overwrite").parquet(s"$work/$rel")
      case (Noop, Some(path)) => df.write.mode("overwrite").parquet(path)
      case (Noop, None) => df.write.format("noop").mode("overwrite").save()
    }

  /** Between passes, outside any timed window: drop operator memos, cached
   * frames, persisted RDDs, memory-sink tables and checkpoints, then GC. */
  def reset(spark: SparkSession, work: String): Unit = {
    clearMemos(spark)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
    deleteRecursively(new File(s"$work/checkpoints"))
    System.gc()
  }

  /** `graft.clearAllMemos`, looked up at run time so the benchmark keeps
   * building if the library retires its memos. */
  private def clearMemos(spark: SparkSession): Unit =
    try {
      val pkg = Class.forName("graft.package$")
      pkg.getMethod("clearAllMemos", classOf[SparkSession])
        .invoke(pkg.getField("MODULE$").get(null), spark)
    } catch { case _: ClassNotFoundException | _: NoSuchMethodException => () }

  private def deleteRecursively(f: File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L) finally src.close()
  }

  private def perLayerMetrics(spark: SparkSession, t: Tracer, w: Workload,
      passes: Seq[PassRun], input: String, inputRows: Map[String, Long]): Map[String, Double] = {
    val textMb = if (w.inputTables.contains("documents"))
      Tables.documents(spark, input).agg(sum(octet_length(col("text")))).head().getLong(0) / 1e6
    else 0.0
    val scanMb = w.steps.filter(_.kernel.contains("scan")).map { s =>
      val path = new org.apache.hadoop.fs.Path(s"$input/${s.name.stripPrefix("scan_")}.parquet")
      path.getFileSystem(spark.sparkContext.hadoopConfiguration).getContentSummary(path).getLength
    }.sum / 1e6
    val traced = passes.filter(_.traced)
    val progressBySpan = t.progress.asScala.toSeq
    val perPass = traced.map { p =>
      val stats = p.spans.map(s => s -> t.stats(s))
      val ids = p.spans.map(_.id).toSet
      val progress = progressBySpan.filter(x => ids.contains(x._1)).map(_._2)
      (Workloads.Modules.flatMap(m => Tracer.moduleMetrics(m, stats)) ++
        Tracer.kernelMetrics(w.steps, stats, textMb, scanMb, inputRows, progress)).toMap
    }
    val medians = perPass.head.keys.map(k => k -> Tracer.median(perPass.map(_(k)))).toMap
    val overhead = Tracer.median(traced.map(_.wallS)) -
      Tracer.median(passes.filterNot(_.traced).map(_.wallS))
    medians ++ Checks.pairCounts(spark, w, input) + ("trace.overhead_s" -> overhead)
  }

  private def writeSpans(path: String, passes: Seq[PassRun]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try passes.filter(_.traced).flatMap(_.spans).foreach { s =>
      w.println(json.writeValueAsString(ListMap("pass" -> s.pass, "step" -> s.step, "module" -> s.module,
        "phase" -> s.phase, "start_ms" -> s.startMs, "end_ms" -> s.endMs)))
    } finally w.close()
  }
}

/** The in-JVM correctness identities (the DuckDB oracles run in run.py). */
object Checks {
  import Workloads.Sketch

  type Result = Map[String, Option[String]]

  def run(spark: SparkSession, w: Workload, input: String, work: String): Result =
    w.name match {
      case "sketch_rollup" =>
        sketchIdentities(spark, input, work) ++ streamParity(spark, input, work)
      case "neardup_sf01" => Map("minhash_signatures" -> guard(signatureShape(spark, input)))
      case _ => Map.empty
    }

  private def guard(body: => Option[String]): Option[String] =
    try body catch { case NonFatal(t) => Some(s"check threw ${t.getClass.getSimpleName}: ${t.getMessage}") }

  private def bytesByKey(df: DataFrame): Map[Any, Seq[Byte]] =
    df.collect().map(r => r.get(0) -> r.getAs[Array[Byte]](1).toSeq).toMap

  private def sameSketches(what: String, merged: DataFrame, direct: DataFrame): Option[String] = {
    val (a, b) = (bytesByKey(merged), bytesByKey(direct))
    if (a.isEmpty) Some(s"$what: no merged sketches")
    else if (a.keySet != b.keySet) Some(s"$what: keys differ (${a.keySet} vs ${b.keySet})")
    else a.keys.find(k => a(k) != b(k)).map(k => s"$what: merged sketch bytes differ from direct for $k")
  }

  private def sameRows(what: String, a: DataFrame, b: DataFrame): Option[String] = {
    val (x, y) = (a.collect().map(_.toString).sorted.toSeq, b.collect().map(_.toString).sorted.toSeq)
    if (x.isEmpty) Some(s"$what: empty result")
    else if (x != y) Some(s"$what: ${x.size} vs ${y.size} rows, first difference " +
      x.zipAll(y, "", "").find(p => p._1 != p._2).getOrElse(""))
    else None
  }

  /** The re-aggregation identity: merging stored sketches gives the same
   * result as building the sketch directly from the raw rows. HLL and theta
   * must match byte for byte; KLL (randomised compaction) and frequent items
   * (purge order) must agree on every exactly-tracked statistic. */
  def sketchIdentities(spark: SparkSession, input: String, work: String): Result = {
    def stored(rel: String) = spark.read.parquet(s"$work/$rel")
    val li = Tables.lineitem(spark, input)
    val hll = guard {
      sameSketches("hll parts", stored(Sketch.Hll).groupBy("l_returnflag").agg(hll_merge(col("parts"))),
        li.groupBy("l_returnflag").agg(hll_init_agg(col("l_partkey")))) orElse
      sameSketches("hll supps", stored(Sketch.Hll).groupBy("l_returnflag").agg(hll_merge(col("supps"))),
        li.groupBy("l_returnflag").agg(hll_init_agg(col("l_suppkey")))) orElse
      sameRows("hll estimates",
        stored(Sketch.Hll).groupBy("l_returnflag")
          .agg(hll_cardinality(hll_merge(col("parts"))), hll_cardinality(hll_merge(col("supps")))),
        li.groupBy("l_returnflag")
          .agg(hll_cardinality(hll_init_agg(col("l_partkey"))),
            hll_cardinality(hll_init_agg(col("l_suppkey")))))
    }
    val events = Tables.events(spark, input)
    val eventsHll = guard {
      sameSketches("events hll", stored(Sketch.EventsHll).groupBy("event_type").agg(hll_merge(col("users"))),
        events.groupBy("event_type").agg(hll_init_agg(col("user_id"))))
    }
    val sql = guard {
      sameRows("sql names", Sketch.sqlMerge(new Ctx(spark, input, work)).select("event_type", "users"),
        events.groupBy("event_type").agg(hll_cardinality(hll_init_agg(col("user_id")))))
    }
    val orders = Tables.orders(spark, input)
    val theta = guard {
      sameRows("theta estimates",
        stored(Sketch.Theta).groupBy("o_orderpriority").agg(theta_estimate(theta_union(col("custs")))),
        orders.groupBy("o_orderpriority").agg(theta_estimate(theta_init_agg(col("o_custkey")))))
    }
    val kll = guard {
      def stats(df: DataFrame, c: String) = df.select(col("l_returnflag"), kll_n(col(c)),
        kll_quantile(col(c), 0.0), kll_quantile(col(c), 1.0))
      sameRows("kll n/min/max",
        stats(stored(Sketch.Kll).groupBy("l_returnflag").agg(kll_merge(col("prices")).as("k")), "k"),
        stats(li.groupBy("l_returnflag").agg(kll_init_agg(col("l_extendedprice")).as("k")), "k"))
    }
    val freq = guard {
      sameRows("freq stream length",
        stored(Sketch.Freq).agg(freq_stream_length(freq_merge(col("supps")))),
        li.agg(freq_stream_length(freq_init_agg(col("l_suppkey").cast("string")))))
    }
    Map("hll_build" -> hll, "hll_merge" -> hll, "hll_build_events" -> eventsHll,
      "sql_merge" -> sql, "theta_build" -> theta, "theta_merge" -> theta,
      "kll_build" -> kll, "kll_merge" -> kll, "freq_build" -> freq, "freq_merge" -> freq)
  }

  private def signatureShape(spark: SparkSession, input: String): Option[String] = {
    val docs = Tables.documents(spark, input)
    val sigs = docs.select(graft.dedup.Dedup.minhashSignature(
      graft.dedup.Dedup.shingles(col("text"), 10)).as("sig"))
    val good = sigs.filter(size(col("sig")) === 128).count()
    val n = docs.count()
    if (good == n) None else Some(s"minhash signatures: $good of $n have 128 values")
  }

  /** Stream/batch parity of the final state: the per-day HLL windows the
   * q116 step keeps in RocksDB state equal, byte for byte, the batch
   * aggregate of the same days. */
  def streamParity(spark: SparkSession, input: String, work: String): Result = Map(
    "q116_streaming_hll_rocksdb" -> guard {
      def daily(df: DataFrame) = df.groupBy(window(col("ts"), "1 day").as("w"))
        .agg(hll_init_agg(col("event_type"), 0.069).as("h"))
        .select(col("w.start").cast("date").as("day"), col("h"))
      val name = "bench_parity_hll"
      val q = graft.streaming.TransformWithStateOps.withRocksDbStateStore(spark)(
        daily(Tables.eventsStream(spark, input).withWatermark("ts", "36 hours"))
          .writeStream.format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", s"$work/checkpoints/$name")
          .trigger(Trigger.AvailableNow()).start())
      q.awaitTermination()
      val streamed = spark.table(name)
      sameSketches("hll windows stream vs batch", streamed,
        daily(Tables.events(spark, input)).join(streamed.select("day"), "day"))
    })

  /** LSH candidate pairs (documents sharing a whole band of the 128-value
   * MinHash signature, 32 bands of 4) against the verified near-dup pairs,
   * with the q14 parameters. Untimed; traced runs only. */
  def pairCounts(spark: SparkSession, w: Workload, input: String): Map[String, Double] =
    if (!w.steps.exists(_.name == "jaccard_pairs")) Map.empty else {
      val sigs = Tables.documents(spark, input).select(col("doc_id"),
        graft.dedup.Dedup.minhashSignature(graft.dedup.Dedup.shingles(col("text"), 10)).as("sig"))
      val bands = sigs.select(col("doc_id"),
        posexplode(expr("transform(sequence(0, 31), b -> slice(sig, b * 4 + 1, 4))")).as(Seq("band", "key")))
      val candidates = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count().toDouble
      val verified = graft.SparkEntry.queries("q14_dedup_minhash")(spark, input).count().toDouble
      Map("dedup.candidate_pairs" -> candidates, "dedup.verified_pairs" -> verified,
        "dedup.pair_yield" -> (if (candidates > 0) verified / candidates else 0.0))
    }
}
