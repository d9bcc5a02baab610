package perfbench

import graft.{GraftSession, SparkEntry}
import graft.sinks.Sinks
import graft.sources.Tables
import org.apache.spark.sql.SparkSession
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods.{compact, render}

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One benchmark run in one fresh JVM: session start, warm-up passes,
  * timed passes for a fixed number of seconds, then an untimed pass
  * that writes every entry's result for the oracle check. Entries run
  * one after another (a closed loop with one client) in an order the
  * seed shuffles anew for every pass.
  *
  * Usage: Harness <dataDir> <outDir> <entries,comma,separated> <seed>
  *   <seconds> <cores> <trace 0|1> <launchEpochMs>
  *
  * Everything measured goes to `<outDir>/run.json`; with trace on, the
  * span list goes to `<outDir>/spans.jsonl`. The caller turns both into
  * the metrics.
  */
object Harness {

  case class EntryTiming(name: String, buildS: Double, execS: Double, ok: Boolean,
      heapMb: Double)

  def main(args: Array[String]): Unit = {
    val Array(dataDir, outDir, entryList, seedS, secondsS, coresS, traceS,
      launchS) = args
    val entries = entryList.split(",").toSeq
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val cores = coresS.toInt
    val traced = traceS == "1"
    val launchMs = launchS.toDouble
    new java.io.File(outDir).mkdirs()

    val builder = GraftSession.configure(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"),
      shufflePartitions = cores)
      .config("spark.sql.warehouse.dir", s"$outDir/warehouse")
      .config("spark.local.dir", s"$outDir/spark-local")
    // Listeners named in static confs attach to every session, also the
    // ones `spark.newSession()` makes inside the streaming entries.
    if (traced) builder
      .config("spark.sql.queryExecutionListeners", classOf[PlanListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners",
        classOf[StreamListener].getName)
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.assertFixtureContract(spark, dataDir)
    val sessionReadyMs = Trace.nowMs
    val sessionStartS = (sessionReadyMs - launchMs) / 1e3

    val rng = new scala.util.Random(seed)
    var failures = 0L
    var attempted = 0L

    // Build = the call that returns the frame (driver-side loops and
    // eager jobs run here); execute = the noop write that runs it.
    def runEntry(name: String, passSpan: Long): EntryTiming = {
      attempted += 1
      val entrySpan = Trace.open("entry", name, passSpan)
      val t0 = System.nanoTime()
      var t1 = t0
      val ok =
        try {
          val buildSpan = Trace.open("build", name, entrySpan)
          val df = SparkEntry.queries(name)(spark, dataDir)
          Trace.close(buildSpan)
          t1 = System.nanoTime()
          val execSpan = Trace.open("execute", name, entrySpan)
          df.write.format("noop").mode("overwrite").save()
          Trace.close(execSpan)
          true
        } catch {
          case e: Throwable =>
            System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
            failures += 1
            false
        }
      val t2 = System.nanoTime()
      Trace.close(entrySpan)
      // Between-entry hygiene outside the timed region, as Bench.runOnce,
      // but blocking, so no block removal overlaps the next entry. The
      // full collection that reads the live heap also starts every entry
      // on an empty young generation.
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      EntryTiming(name, (t1 - t0) / 1e9, (t2 - t1) / 1e9, ok, oldGenAfterGcMb())
    }

    case class Pass(traced: Boolean, entries: Seq[EntryTiming],
        costUsd: Double, heapMb: Double, index: Long)

    // Sinks.withMetrics drains the listener bus before it returns, so
    // every event of a traced pass is recorded before tracing stops.
    def runPass(tracedPass: Boolean): Pass = {
      val sc = spark.sparkContext
      Trace.pass += 1
      Trace.recording = tracedPass
      if (tracedPass) sc.addSparkListener(JobListener)
      val passSpan = Trace.open("pass", "pass", 0L)
      val (timings, jm) = Sinks.withMetrics(spark) {
        rng.shuffle(entries).map(runEntry(_, passSpan))
      }
      Trace.close(passSpan)
      Trace.recording = false
      if (tracedPass) sc.removeSparkListener(JobListener)
      Pass(tracedPass, timings, jm.estimatedCostUsd(), timings.map(_.heapMb).max,
        Trace.pass)
    }

    // Warm-up: codegen, JIT and the in-JVM memos. Passes keep speeding up
    // for a while as HotSpot compiles, so the warm-up lasts as long as the
    // measurement, and at least two passes.
    val tWarm = System.nanoTime()
    var warmPasses = 0
    while (warmPasses < 2 || (System.nanoTime() - tWarm) / 1e9 < seconds) {
      runPass(tracedPass = false)
      warmPasses += 1
    }
    val setupS = (Trace.nowMs - launchMs) / 1e3
    val warmupS = (Trace.nowMs - sessionReadyMs) / 1e3
    failures = 0; attempted = 0

    // With trace on, traced and untraced passes alternate in the same
    // JVM, so their difference is the tracing overhead.
    val passes = ArrayBuffer.empty[Pass]
    val tStart = System.nanoTime()
    while (passes.size < 2 || (System.nanoTime() - tStart) / 1e9 < seconds)
      passes += runPass(traced && passes.size % 2 == 1)
    val timedWallS = (System.nanoTime() - tStart) / 1e9

    // Untimed check pass: every entry's result, one file each.
    val checked = entries.map { name =>
      attempted += 1
      try {
        SparkEntry.queries(name)(spark, dataDir).coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/results/$name")
        true
      } catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] $name check run failed: ${e.getMessage}")
          failures += 1
          false
      } finally spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
    }
    org.apache.spark.graftbus.drainListenerBus(spark.sparkContext)

    val run =
      ("session_start_s" -> sessionStartS) ~
      ("warmup_s" -> warmupS) ~
      ("setup_s" -> setupS) ~
      ("timed_wall_s" -> timedWallS) ~
      ("attempted" -> attempted) ~
      ("failed" -> failures) ~
      ("check_failed" -> entries.zip(checked).filterNot(_._2).map(_._1)) ~
      ("oracle_sql" -> entries.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap) ~
      ("passes" -> passes.toList.map { p =>
        ("traced" -> p.traced) ~ ("pass" -> p.index) ~
        ("cost_usd" -> p.costUsd) ~ ("heap_mb" -> p.heapMb) ~
        ("entries" -> p.entries.toList.map { e =>
          ("name" -> e.name) ~ ("build_s" -> e.buildS) ~
          ("exec_s" -> e.execS) ~ ("ok" -> e.ok)
        })
      })
    Files.write(Paths.get(s"$outDir/run.json"), compact(render(run)).getBytes(UTF_8))
    if (traced) Trace.write(s"$outDir/spans.jsonl")
    spark.stop()
  }

  /** Old-generation heap in use right after a full collection. */
  def oldGenAfterGcMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(p => Option(p.getCollectionUsage).getOrElse(p.getUsage).getUsed)
      .sum / 1e6
  }
}

/** Prints `Tables.assertFixtureContract` of a data directory as JSON:
  * the program's own check that every table it reads has an encoding it
  * understands. Usage: Contract <dataDir>
  */
object Contract {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.configure(
      SparkSession.builder().master("local[1]").appName("perfbench-contract"),
      shufflePartitions = 1).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println(compact(render(Tables.assertFixtureContract(spark, args(0)))))
    spark.stop()
  }
}
