package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: set up one workload several times, run its ops
  * in a closed loop for a fixed time, check their outputs, and write the raw
  * record (op times, set-up times, storage, and in trace mode spans and
  * Spark/Catalyst counters) as JSON. `perfbench/run.py` turns the record
  * into metrics.
  *
  * Arguments: workload seed seconds trace data-dir input-dir out-dir cores
  * setups corrupt-check slots (comma-separated, for the catalogue)
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, inputDir, outDir, coresS, setupsS, corruptS,
      slots) = args
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = traceS == "1"
    val cores = coresS.toInt
    val tracer = new Tracer
    tracer.on = trace

    val spark = tracer.span("session") {
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$outDir/tmp")
        .withExtensions(new graft.functions.GraftFunctions.GraftExtensions)
        .getOrCreate()
    }
    val sc = spark.sparkContext
    sc.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    val sparkProbe = if (trace) Some(new SparkProbe) else None
    val catalyst = if (trace) Some(new CatalystProbe) else None
    sparkProbe.foreach(sc.addSparkListener)
    catalyst.foreach(spark.listenerManager.register)

    val ctx = new Ctx(spark, tracer, catalyst, dataDir, inputDir, outDir, seedS.toLong, corruptS == "1")
    val w = tracer.span("inputs")(Workload(workload, ctx, slots.split(",").toSeq.filter(_.nonEmpty)))

    // Set-up, several times; the last one is kept for the timed phase.
    val setups = (0 until setupsS.toInt).map { r =>
      val first = tracer.spans.size
      val t0 = tracer.nowNs
      tracer.span("setup")(w.setUp(r))
      val s = (tracer.nowNs - t0) / 1e9
      val ingest = tracer.spans.drop(first).filter(_.name == "ingest").map(_.seconds).sum
      if (r < setupsS.toInt - 1) w.tearDown()
      (s, ingest)
    }
    tracer.span("warmup")(w.warmUp())

    // Timed phase: a closed loop, the next op only after the last one.
    isolate()
    val firstOpMs = System.currentTimeMillis()
    val (mb0, _) = ctx.storage()
    ctx.peakMb = 0.0
    val ops = scala.collection.mutable.ArrayBuffer.empty[(OpResult, Long, Long, String, Boolean)]
    var gcS = 0.0
    val deadline = tracer.nowNs + secondsS.toLong * 1000000000L
    while (tracer.nowNs < deadline && w.hasNext) {
      val i = ops.size
      // in trace mode every other op runs untraced, to measure the overhead
      val traced = trace && i % 2 == 0
      tracer.on = traced
      tracer.op = i
      sc.setLocalProperty(SparkProbe.OpKey, if (traced) i.toString else null)
      val gc0 = gcMs()
      val a = tracer.nowNs
      val (r, err) =
        try (tracer.span("op")(w.run()), null)
        catch { case e: Throwable => (OpResult("error", -1), s"${e.getClass.getName}: ${e.getMessage}") }
      val b = tracer.nowNs
      gcS += (gcMs() - gc0) / 1000.0
      sc.setLocalProperty(SparkProbe.OpKey, null)
      tracer.op = -1
      tracer.on = trace
      ops += ((r, a, b, err, traced))
      isolate()
    }
    val (mbEnd, blocksEnd) = ctx.storage()

    val failures = tracer.span("check")(w.check(ops.map(_._1).toIndexedSeq))
    // oracle SQL is read after the check runs: some literals are captured
    // while a query runs
    val oracles = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$outDir/oracles.json"), w.written.flatMap(n =>
      oracles.get(n).map(sql => s"${Json.quote(n)}:${Json.quote(sql)}")).mkString("{", ",", "}"))
    w.close()
    isolate()
    PerfbenchBus.drain(sc)
    val (_, blocksAfterClose) = ctx.storage()

    val j = new StringBuilder
    def num(d: Double) = if (d.isNaN || d.isInfinite) "null" else d.toString
    def str(s: String) = if (s == null) "null" else Json.quote(s)
    j ++= s"""{"workload":${str(workload)},"cores":$cores,"""
    j ++= s""""jvm_start_ms":$jvmStartMs,"first_op_ms":$firstOpMs,"""
    j ++= s""""setups":[${setups.map { case (s, g) => s"[${num(s)},${num(g)}]" }.mkString(",")}],"""
    j ++= s""""gc_s":${num(gcS)},"""
    j ++= s""""storage_start_mb":${num(mb0)},"storage_end_mb":${num(mbEnd)},"""
    j ++= s""""storage_peak_mb":${num(ctx.peakMb)},"blocks_end":$blocksEnd,"""
    j ++= s""""blocks_after_close":$blocksAfterClose,"""
    j ++= s""""written":[${w.written.map(str).mkString(",")}],"ops":["""
    j ++= ops.zipWithIndex.map { case ((r, a, b, err, traced), i) =>
      val fail = if (err != null) err else failures.getOrElse(i, null)
      val parts = r.parts.map { case (n, rows, ns) => s"[${str(n)},$rows,$ns]" }.mkString(",")
      s"""{"name":${str(r.name)},"start_ns":$a,"end_ns":$b,"rows":${r.rows},""" +
        s""""delta_rows":${r.deltaRows},"traced":$traced,"failure":${str(fail)},"parts":[$parts]}"""
    }.mkString(",")
    j ++= "]"
    if (trace) {
      val sp = sparkProbe.get
      j ++= ""","spark":{"""
      j ++= sp.synchronized(sp.ops.toSeq.sortBy(_._1).map { case (op, c) =>
        s""""$op":{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
          s""""task_ms":${c.taskMs},"shuffle_write":${c.shuffleWrite},""" +
          s""""shuffle_read":${c.shuffleRead},"spill":${c.spill},"records_read":${c.recordsRead},""" +
          s""""job_intervals":[${c.jobIntervals.map { case (id, s, e) => s"[$id,$s,$e]" }.mkString(",")}]}"""
      }.mkString(","))
      j ++= "},"
      val cp = catalyst.get
      j ++= s""""catalyst":[${cp.synchronized(cp.events.map { case (t, s) => s"[$t,${num(s)}]" }.mkString(","))}],"""
      j ++= s""""spans":[${tracer.spans.map(s =>
        s"""[${s.id},${s.parent},${str(s.name)},${s.op},${s.startNs},${s.endNs}]""").mkString(",")}]"""
    }
    j ++= "}"
    Files.writeString(Paths.get(s"$outDir/record.json"), j.toString)
    spark.stop()
  }

  /** Untimed isolation between ops, as in the project's bench: Spark frees
    * shuffle files, broadcasts and unreferenced checkpoints only after a GC
    * clears their references, so without this the clean-up debt of one op
    * lands inside a later one. Two collections with a drain gap each.
    */
  private def isolate(): Unit = {
    System.gc(); Thread.sleep(100)
    System.gc(); Thread.sleep(100)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
}

object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'          => "\\\""
    case '\\'         => "\\\\"
    case '\n'         => "\\n"
    case '\r'         => "\\r"
    case '\t'         => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c            => c.toString
  } + "\""
}

/** Prints the oracle SQL of the named registry slots as one JSON object. */
object Oracles {
  def main(args: Array[String]): Unit = {
    val sql = graft.SparkEntry.oracleSql
    println(args.flatMap(n => sql.get(n).map(q => s"${Json.quote(n)}:${Json.quote(q)}"))
      .mkString("{", ",", "}"))
  }
}
