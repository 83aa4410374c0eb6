package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Bench, GraftSession}

/** Write `.explain("formatted")` for named queries to files — the
  * plan-evidence artifact the optimization rounds commit
  * (`plans/r15/<query>_<tag>.txt`). Each query first runs into the `noop`
  * sink, and the dump is that run's plan: the final adaptive plan
  * (`isFinalPlan=true`) under the write node, as executed. Usage:
  *   ExplainDump <sfDir> <outDir> <tag> <queryName> [queryName...]
  * Pass `all` as the single query name to dump every registered query.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1); val tag = args(2)
    val queries = graft.SparkEntry.queries
    val names =
      if (args.length == 4 && args(3) == "all") queries.keys.toSeq.sorted
      else args.drop(3).toSeq
    val spark = GraftSession.local(Bench.cores)
    spark.sparkContext.setLogLevel("ERROR")
    // optional session conf overrides ("k=v;k=v") — lets a plan dump show a
    // size-routed operator's ABOVE-threshold shape (e.g. d17's candidate-
    // bounded df route) without synthesizing a big corpus
    sys.env.get("SPARK_GRAFT_EXPLAIN_CONF").foreach(_.split(";").foreach { kv =>
      kv.split("=", 2) match {
        case Array(k, v) if k.trim.nonEmpty => spark.conf.set(k.trim, v.trim)
        case _ => ()
      }
    })
    // the write's own QueryExecution is only handed out to listeners, and
    // the listener bus is asynchronous: queue them and wait for the write
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.isInstanceOf[V2WriteCommand]) writes.put(qe)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    Files.createDirectories(Paths.get(outDir))
    names.foreach { name =>
      try {
        writes.clear()
        queries(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
        val qe = Option(writes.poll(60, TimeUnit.SECONDS)).getOrElse(
          throw new IllegalStateException("no plan reported for the noop write"))
        Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
          qe.explainString(FormattedMode).getBytes(StandardCharsets.UTF_8))
        println(s"wrote $name")
      } catch { case e: Throwable => System.err.println(s"SKIP $name: $e") }
    }
    spark.stop()
  }
}
