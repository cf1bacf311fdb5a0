package perfbench

import graft.SparkEntry
import graft.ops.{Housekeeping, Stage}
import graft.tables.Tables
import org.apache.spark.PerfbenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

import java.io.PrintStream
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run in one fresh JVM: build a session as a user would, run
  * the given query keys pass after pass on it through `SparkEntry.queries`,
  * and write every measurement to a JSON file for perfbench/run.py.
  *
  * A key's latency is `Op.fn(spark, sfDir)` plus full materialization of
  * its result (the `noop` sink: every row and column, the final sort
  * included, nothing transferred to the driver). `Housekeeping.releaseAll`
  * runs after each key, inside the pass but outside the key's latency.
  *
  * Usage: Harness --sf DIR --out FILE --plan FILE [--trace] [--check-dir DIR]
  *                [--warm-streams]
  *
  * The plan file holds one line per pass: the keys of that pass, comma
  * separated, in the order to run them. Pass 0 is cold, the others warm; a
  * traced run traces pass 0 and every even warm pass. With `--check-dir`,
  * every key runs once more between the cold and the warm passes and its
  * result is written there as parquet, with the keys' oracle SQL in
  * `oracle_sql.json`.
  */
object Harness {
  final case class Args(sf: String, out: String, plan: Seq[Seq[String]] = Nil,
                        trace: Boolean = false, checkDir: Option[String] = None,
                        warmStreams: Boolean = false)

  def parse(args: List[String], a: Args = Args("", "")): Args = args match {
    case "--sf" :: v :: rest => parse(rest, a.copy(sf = v))
    case "--out" :: v :: rest => parse(rest, a.copy(out = v))
    case "--plan" :: v :: rest =>
      val lines = Files.readAllLines(Paths.get(v)).asScala.toSeq.filter(_.nonEmpty)
      parse(rest, a.copy(plan = lines.map(_.split(",").toSeq)))
    case "--trace" :: rest => parse(rest, a.copy(trace = true))
    case "--check-dir" :: v :: rest => parse(rest, a.copy(checkDir = Some(v)))
    case "--warm-streams" :: rest => parse(rest, a.copy(warmStreams = true))
    case Nil => require(a.sf.nonEmpty && a.out.nonEmpty, "--sf and --out are required"); a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Epoch milliseconds on a monotonic clock, comparable with listener times. */
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val ManifestWarning = "[graft][manifest] WARNING"

  /** Counts the engine's manifest warnings on their way to stderr. */
  private final class CountingErr(out: PrintStream) extends PrintStream(out, true) {
    val hits = new AtomicLong
    override def println(x: String): Unit = {
      if (x != null && x.contains(ManifestWarning)) hits.incrementAndGet()
      super.println(x)
    }
  }

  /** Cumulative process counters, read around every key. */
  private final case class Gauges(compiles: Long, compileNs: Long, jitMs: Long, gcMs: Long, warnings: Long)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val err = new CountingErr(System.err)
    System.setErr(err)
    def gauges(): Gauges = Gauges(
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount, CodeGenerator.compileTime,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum,
      err.hits.get)

    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = System.currentTimeMillis()
    warmUp(spark, a.sf, a.warmStreams)
    val readyMs = System.currentTimeMillis()
    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "jvm_start_epoch_ms" -> ManagementFactory.getRuntimeMXBean.getStartTime,
      "session_epoch_ms" -> sessionMs, "ready_epoch_ms" -> readyMs, "cpus" -> cpus.toInt, "sf" -> a.sf,
      "scratch_root" -> scratchRoot.toString)
    val queries = SparkEntry.queries
    val keys = a.plan.headOption.getOrElse(Nil)
    require(keys.nonEmpty, "--plan names no keys")
    require(a.plan.forall(_.sorted == keys.sorted), "every pass of the plan must hold the same keys")
    val missing = keys.filterNot(queries.contains)
    require(missing.isEmpty, s"unknown query keys: ${missing.mkString(",")}")
    val sc = spark.sparkContext
    val attr = new Attribution
    val listeners = new Listeners(spark, attr)

    def runKey(pass: Int, key: String, traced: Boolean): Map[String, Any] = {
      val tag = s"$pass/$key"
      val memosBefore = memoDirs()
      val g0 = gauges()
      if (traced) attr.openSpan(tag)
      sc.setLocalProperty(Listeners.SpanProperty, tag)
      val t0 = nowMs
      var t1 = Double.NaN
      var error: String = null
      try {
        val df: DataFrame = queries(key)(spark, a.sf)
        t1 = nowMs
        df.write.format("noop").mode("overwrite").save()
      } catch { case NonFatal(e) => error = e.toString }
      val t2 = nowMs
      if (t1.isNaN) t1 = t2
      Housekeeping.releaseAll()
      val t3 = nowMs
      sc.setLocalProperty(Listeners.SpanProperty, null)
      val g1 = gauges()
      val base = Map[String, Any](
        "key" -> key, "pass" -> pass, "traced" -> traced, "error" -> error,
        "start_ms" -> t0, "build_end_ms" -> t1, "materialize_end_ms" -> t2, "end_ms" -> t3,
        "memo" -> (memoDirs() -- memosBefore).toSeq.sorted,
        "codegen.compiles" -> (g1.compiles - g0.compiles),
        "codegen.compile_s" -> (g1.compileNs - g0.compileNs) / 1e9,
        "jvm.jit_s" -> (g1.jitMs - g0.jitMs) / 1e3,
        "jvm.gc_s" -> (g1.gcMs - g0.gcMs) / 1e3,
        "manifest.warnings" -> (g1.warnings - g0.warnings))
      if (!traced) base
      else {
        val drained = PerfbenchBus.drain(sc, 10000)
        val deadline = System.nanoTime() + 5000L * 1000000L
        while (attr.openJobs(tag) > 0 && System.nanoTime() < deadline) Thread.sleep(5)
        val unclosed = attr.openJobs(tag)
        val c = attr.closeSpan(tag)
        base ++ Map("counters" -> c.sums.toMap, "drained" -> drained, "unclosed_jobs" -> unclosed,
          "children" -> c.children.toSeq.map(spanJson))
      }
    }

    // In a traced run the cold pass is traced (cold-side counters come from
    // it) and the warm passes alternate untraced/traced, so the tracing
    // overhead is measured in the same window.
    val passes = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
    def runPass(pass: Int, traced: Boolean): Unit = {
      if (traced) listeners.attach()
      val t0 = nowMs
      val records = a.plan(pass).map(k => runKey(pass, k, traced))
      val t1 = nowMs
      if (traced) listeners.detach()
      passes += Map("pass" -> pass, "traced" -> traced, "start_ms" -> t0, "end_ms" -> t1, "keys" -> records)
    }
    runPass(0, a.trace)
    // The untimed output check runs between the cold and the warm passes:
    // its executions then also carry the JIT further before warm timing.
    a.checkDir.foreach { dir =>
      report("check") = keys.map { key =>
        val error = try {
          queries(key)(spark, a.sf).coalesce(1).write.mode("overwrite").parquet(s"$dir/$key")
          null
        } catch { case NonFatal(e) => e.toString }
        Housekeeping.releaseAll()
        Map("key" -> key, "error" -> error)
      }
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) }
        .map { case (k, sql) => k -> Stage.resolve(sql, a.sf) }
      Json.write(Paths.get(dir, "oracle_sql.json"), oracles)
    }
    (1 until a.plan.size).foreach(i => runPass(i, a.trace && i % 2 == 0))
    report("passes") = passes.toSeq
    report("late_events") = attr.late
    report("scratch_mb_left") = (dirBytes(scratchRoot) + dirBytes(tmpDir)) / (1024.0 * 1024.0)
    report("rss_peak_mb") = rssPeakMb()
    Json.write(Paths.get(a.out), report)
    spark.stop()
  }

  private def spanJson(s: Span): Map[String, Any] =
    Map("name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs) ++ s.attrs

  private val tmpDir: Path = Paths.get(System.getProperty("java.io.tmpdir"))

  /** Housekeeping's disposable-scratch root (same rule as the engine). */
  private val scratchRoot: Path = Paths.get(sys.env.getOrElse("SPARK_GRAFT_SCRATCH", "/dev/shm"), "graft-scratch")

  /** Live `memo_*` generations: `Housekeeping.memoPut` creates each one as a
    * fresh temp directory, so the set difference around a key names what it
    * built. */
  private def memoDirs(): Set[String] =
    Option(tmpDir.toFile.list()).fold(Set.empty[String])(_.filter(_.startsWith("memo_")).toSet)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val walk = Files.walk(p)
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).map(f =>
        try Files.size(f) catch { case NonFatal(_) => 0L }).sum
      finally walk.close()
    }

  /** Peak resident set of this JVM (VmHWM). */
  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** First use of the batch and streaming machinery, as `graft.Bench` warms
    * it: a parquet aggregate and, for workloads that stream, a file-source
    * windowed stream on a memory sink and a MemoryStream through
    * flatMapGroupsWithState. Each would otherwise put seconds of class
    * loading on whichever key ran first. */
  private def warmUp(spark: SparkSession, sf: String, streams: Boolean): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
    spark.read.parquet(s"$sf/lineitem.parquet").groupBy("l_returnflag").count().count()
    if (!streams) return
    val src = Files.createTempDirectory("perfbench_warm_src")
    val ckpt = Files.createTempDirectory("perfbench_warm_ckpt")
    val ckpt2 = Files.createTempDirectory("perfbench_warm_ckpt2")
    try {
      spark.read.schema(Tables.rawEventsSchema).parquet(s"$sf/events.parquet").limit(512)
        .write.mode("overwrite").parquet(src.toString)
      Housekeeping.withShufflePartitions(spark, 8) {
        spark.readStream.schema(Tables.rawEventsSchema).parquet(src.toString)
          .withColumn("ts", Tables.ntzColToTimestamp("ts"))
          .withWatermark("ts", "10 minutes")
          .groupBy(window(col("ts"), "1 hour")).count()
          .writeStream.format("memory").queryName("perfbench_warm").outputMode("complete")
          .option("checkpointLocation", ckpt.toString).trigger(Trigger.AvailableNow())
          .start().awaitTermination()
        implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
        import spark.implicits._
        val in = MemoryStream[Int]
        in.addData(1, 2, 3)
        in.toDS().groupByKey(_ % 2)
          .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
            (k: Int, rows: Iterator[Int], state: GroupState[Int]) =>
              val n = state.getOption.getOrElse(0) + rows.size
              state.update(n)
              Iterator((k, n))
          }
          .toDF("k", "n").writeStream.format("memory").queryName("perfbench_warm2")
          .outputMode("update").option("checkpointLocation", ckpt2.toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      }
      spark.catalog.dropTempView("perfbench_warm")
      spark.catalog.dropTempView("perfbench_warm2")
    } finally Seq(src, ckpt, ckpt2).foreach(Housekeeping.deleteRecursively)
  }
}

/** Just enough JSON for the harness's report: maps, sequences, strings,
  * numbers, booleans and null. */
object Json {
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => render(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def write(p: Path, v: Any): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.writeString(tmp, render(v))
    Files.move(tmp, p, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
