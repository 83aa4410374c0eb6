package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.{GraftSession, SessionCaches, SparkEntry, Tables}

/** The benchmark's JVM side: one client, one session on `local[N]`, a
  * closed loop over one workload's entries. It fingerprints every result in
  * a warm-up pass, times warm passes (one of them traced in a traced run)
  * and writes a raw record as JSON; `perfbench/run.py` turns the record
  * into metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <dataDir> <record.json>
  */
object Harness {
  private val groupPrefix = "perfbench:"
  private val probes = 5
  /** Untraced warm passes a run times at least; the entry quantiles pool
    * exactly these, whatever the number that fits in `seconds`. */
  private val quantilePasses = 2

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, dataDir, recordPath) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val traced = traceArg == "1"
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cores = Runtime.getRuntime.availableProcessors()

    val entries = Entries.all(declaredShared(), untimed()) match {
      case Left(problems) =>
        problems.foreach(p => System.err.println(s"perfbench coverage: $p"))
        sys.exit(3)
      case Right(all) =>
        if (!Entries.workloads.contains(workload)) {
          System.err.println(s"perfbench: unknown workload $workload"); sys.exit(2)
        }
        Entries.ordered(all, workload, seed)
    }

    // set-up counts from JVM start: class loading, JIT, session, warm-up
    // and table relations, as a user of a fresh JVM pays them
    val spark = setUp(cores, dataDir)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val trace = new LayerTrace(groupPrefix)

    // The first pass is the warm-up: each entry's first run in the JVM pays
    // code generation, and its result is collected and fingerprinted for
    // the correctness check. Untraced warm passes then give the end-to-end
    // times until `seconds` have passed (at least `quantilePasses`). A traced run instead
    // does a traced pass between two untraced ones; its excess over their
    // mean, which cancels the JIT's drift across passes, is the overhead.
    val fingerprints = scala.collection.mutable.Map.empty[String, (Long, String)]
    def run(kind: String): Map[String, Any] = {
      val tr = if (kind == "traced") Some(trace) else None
      tr.foreach { t => sc.addSparkListener(t); spark.listenerManager.register(t) }
      val fp = if (kind == "warmup") Some(fingerprints) else None
      val p = pass(spark, entries, dataDir, tr, fp) + ("kind" -> kind)
      tr.foreach { t => sc.removeSparkListener(t); spark.listenerManager.unregister(t) }
      p
    }
    val passes = Vector.newBuilder[Map[String, Any]]
    passes += run("warmup")
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    if (traced) Seq("timed", "traced", "timed").foreach(k => passes += run(k))
    else {
      var n = 0
      var last = 0L
      while (n < quantilePasses || System.nanoTime() + last <= deadline) {
        val t0 = System.nanoTime()
        passes += run("timed")
        last = System.nanoTime() - t0
        n += 1
      }
    }

    val probeS = (1 to probes).map { _ =>
      val t0 = System.nanoTime(); probe(spark); (System.nanoTime() - t0) / 1e9 }

    val checks = entries.map { e =>
      val r: Map[String, Any] = fingerprints.get(e.name) match {
        case Some((rows, hash)) => Map("rows" -> rows, "hash" -> hash)
        case None => Map("error" -> "no result")
      }
      e.name -> (r ++ Map("layer" -> e.layer, "shared" -> e.shared,
        "oracle" -> SparkEntry.oracleSql.contains(e.name)))
    }.toMap

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores" -> cores,
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "order" -> entries.map(_.name),
      "setup_s" -> setupS,
      "quantile_passes" -> quantilePasses,
      "passes" -> passes.result(),
      "probe_s" -> probeS,
      "entries" -> checks)
    Files.write(Paths.get(recordPath),
      new ObjectMapper().registerModule(DefaultScalaModule)
        .writeValueAsString(record).getBytes(StandardCharsets.UTF_8))
    stop(spark)
  }

  /** Shared entry names the engine's own bench declares: the benchmark
    * refuses to run while one of them belongs to no workload. */
  private def declaredShared(): Set[String] = {
    val p = Paths.get("src", "main", "scala", "graft", "Bench.scala")
    if (!Files.exists(p)) Set.empty
    else "\"(_shared_[a-z0-9_]+)\"".r
      .findAllMatchIn(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      .map(_.group(1)).toSet
  }

  /** Registered entries a run does not time (`perfbench/untimed.txt`, one
    * name a line): a new entry must be added to it or to a timed sample. */
  private def untimed(): Set[String] = {
    val p = Paths.get("perfbench", "untimed.txt")
    if (!Files.exists(p)) Set.empty
    else Files.readAllLines(p, StandardCharsets.UTF_8).asScala
      .map(_.trim).filter(_.nonEmpty).toSet
  }

  private def setUp(cores: Int, dataDir: String): SparkSession = {
    val spark = GraftSession.tune(
      SparkSession.builder().master(s"local[$cores]").appName("perfbench"), cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.ensureOptimizations(spark)
    noop(SparkEntry.queries("q01_agg")(spark, dataDir))
    val t = Tables(spark, dataDir)
    Tables.names.foreach(t.table)
    probe(spark)
    spark
  }

  private def stop(spark: SparkSession): Unit = {
    SessionCaches.release(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** The engine bench's trivial job: one exchange, 32 tasks, an aggregate. */
  private def probe(spark: SparkSession): Unit =
    spark.range(0L, 3200L, 1L, 32).selectExpr("id % 97 as k", "id")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("id")).count()

  /** Compute every output column: a noop sink, unlike count(), keeps
    * Catalyst from pruning the columns nobody reads. */
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def brief(t: Throwable): String =
    s"${t.getClass.getName}: ${String.valueOf(t.getMessage).linesIterator.take(2).mkString(" | ")}"

  private def pass(spark: SparkSession, entries: Seq[Entry], dataDir: String,
                   trace: Option[LayerTrace],
                   fingerprints: Option[scala.collection.mutable.Map[String, (Long, String)]]
                  ): Map[String, Any] = {
    val sc = spark.sparkContext
    // each pass re-pays every shared materialization, as in the engine bench
    SessionCaches.release(spark)
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcBeans.map(_.getCollectionTime).sum
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val counters = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Long]]
    val t0 = System.nanoTime()
    for (e <- entries) {
      sc.setJobGroup(groupPrefix + e.name, e.name, interruptOnCancel = false)
      trace.foreach(_.current = e.name)
      val s = System.nanoTime()
      try {
        e.run(spark, dataDir) match {
          case r if fingerprints.isDefined => fingerprints.get(e.name) = Fingerprint.of(r)
          case ds: Dataset[_] => noop(ds.toDF())
          case _: Long => ()
          case other => throw new IllegalStateException(s"unexpected result $other")
        }
        times(e.name) = (System.nanoTime() - s) / 1e9
      } catch { case NonFatal(t) => errors(e.name) = brief(t) }
      sc.clearJobGroup()
      trace.foreach { tr =>
        PerfbenchBus.drain(sc)
        val c = tr.counters(e.name)
        counters(e.name) = Map("jobs" -> c.jobs, "tasks" -> c.tasks,
          "task_ms" -> c.taskMs, "input_bytes" -> c.inputBytes,
          "shuffle_write_bytes" -> c.shuffleWriteBytes,
          "shuffle_read_bytes" -> c.shuffleReadBytes,
          "spill_bytes" -> c.spillBytes, "plan_ms" -> c.planMs)
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    Map("wall_s" -> wall, "times" -> times,
      "errors" -> errors, "counters" -> counters,
      "ungrouped_jobs" -> trace.map(_.ungrouped).getOrElse(0L),
      "gc_s" -> (gcBeans.map(_.getCollectionTime).sum - gc0) / 1e3,
      "heap_peak_mb" -> heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
      "cache_entries" -> SessionCaches.entriesFor(spark))
  }
}
