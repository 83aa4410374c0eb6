package graft

import org.scalatest.funsuite.AnyFunSuite

/** Full-surface execution smoke: every registered query must run against the
  * REAL testdata without throwing.
  *
  * Exists because of round 7: the driver regenerated `events.parquet` with a
  * different physical timestamp type and all 17 events-family queries started
  * failing analysis — yet `sbt test` stayed green, because every spec either
  * used synthetic frames or touched only the unaffected tables. Verify/Bench
  * then silently dropped the queries (stderr-only), so the breakage surfaced
  * only in the round's bench artifact. This spec makes `sbt test` the first
  * tripwire for any schema/data drift in /root/testdata.
  *
  * Execution (not just analysis): `.count()` forces the physical plan, so
  * runtime failures (codegen, UDF-adjacent expressions, corrupt input
  * handling) trip it too. sf0.001 keeps the whole sweep to seconds.
  */
class SurfaceSmokeSpec extends AnyFunSuite {
  import SparkTestSession._

  test("every SparkEntry query executes on the driver testdata") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, sf).count(); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, s"\n${failures.size} queries failed:\n${failures.mkString("\n")}")
  }

  test("entry (flagship) returns rows on the driver testdata") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every Bench.shared entry executes on the sf0.001 testdata") {
    val failures = Bench.shared.flatMap { case (name, run) =>
      try { run(spark, sf); None }
      catch { case e: Throwable =>
        Some(s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).linesIterator.take(1).mkString}")
      }
    }
    assert(failures.isEmpty, s"\n${failures.size} shared entries failed:\n${failures.mkString("\n")}")
  }

  test("Bench.shared names are distinct, _shared_-prefixed and all that a literal scan of Bench.scala finds") {
    val names = Bench.shared.map(_._1)
    assert(names.distinct == names, s"duplicate shared names: ${names.diff(names.distinct)}")
    assert(names.forall(_.startsWith("_shared_")))
    // the scan perfbench's coverage check runs over the same file
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src", "main", "scala", "graft", "Bench.scala")),
      java.nio.charset.StandardCharsets.UTF_8)
    val scanned = "\"(_shared_[a-z0-9_]+)\"".r.findAllMatchIn(src).map(_.group(1)).toSet
    assert(scanned == names.toSet)
  }

  test("the scaling harness subset names only registered queries or its own direct probes") {
    val names = Scaling.subset.map(_._1)
    assert(names.distinct == names, s"duplicate Scaling.subset names: ${names.diff(names.distinct)}")
    val missing = names
      .filterNot(n => SparkEntry.queries.contains(n) || Scaling.direct.contains(n))
    assert(missing.isEmpty,
      s"Scaling.subset references unresolvable queries: $missing")
    // every entry names the table whose growth its exponent divides by
    assert(Scaling.subset.forall(p => Scaling.tables.contains(p._2)))
    // direct probes are scaling-only by contract: never on the
    // correctness surface, and x_-prefixed so artifacts self-describe
    assert(Scaling.direct.keys.forall(n =>
      n.startsWith("x_") && !SparkEntry.queries.contains(n)))
    assert(Scaling.direct.keys.forall(names.contains))
  }
}
