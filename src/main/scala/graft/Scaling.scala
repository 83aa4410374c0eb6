package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Measured scaling evidence: run a family-covering query subset on every
  * input — the SF dirs given as arguments, then ×m amplified copies of the
  * last one — and fit each query's scaling exponent between the two
  * largest distinct row counts of the table that drives it.
  *
  * Why this exists: the 100 TB claims in SURVEY §8.4 are plan-shape
  * arguments (partial aggregation bounds the exchange, banding bounds the
  * candidate set, serve cost is corpus-free). This harness turns the
  * claims into numbers, read as CONTRASTS between a declared-quadratic
  * baseline and its shipped scale route over the same input growth:
  * d05's exact all-pairs vs d06's IVF-bucketed near-dup, s01's q×n brute
  * force vs s02's served IVF. The baseline's exponent must exceed its
  * scale route's by a wide margin or the harness isn't measuring anything.
  *
  * Reading the exponents: per-job fixed overhead (~0.1-0.4 s/job,
  * measured by Bench's calibration probes) flattens small-input times, so
  * every exponent UNDERSTATES the asymptotic slope — they are lower
  * bounds, and even the quadratic controls can read sub-linear while the
  * pair term still sits under the overhead floor. The signal is ordinal:
  * scan-shaped operators pin near 0–0.2, the quadratic baselines read
  * several times higher. The amplified inputs exist to push data cost
  * above that floor.
  *
  * Each timed query runs into the `noop` sink, which materializes every
  * row (a `count()` lets the optimizer prune the work it measures), after
  * dropping every session memo so it pays its own shared kernels at every
  * input size.
  *
  * Env: `$SPARK_GRAFT_CPUS` (session slots), `$SPARK_GRAFT_REPS` (default
  * 3, per-query median), `$SPARK_GRAFT_SCALE_MULTS` (default "2,4"; values
  * ≤ 1 are ignored), `$SPARK_GRAFT_ONLY` (subset), `$SPARK_GRAFT_ANCHOR_N`
  * (0 skips the anchor). Output: one JSON line per (input, query) as it
  * runs, then one summary line {"metric":"scaling",...}, also written to
  * SCALING_LOCAL.json (SCALING_LOCAL.subset.json for a subset run).
  */
object Scaling {
  /** Family-covering subset: relational agg/join/window/top-k, exact and
    * LSH dedup, brute and served ANN, text scan ops, pipeline ops, the
    * declared-quadratic controls (d05 pairs, s01 q×n, d03's banded
    * contrast to d05, d06/s02 as the corpus-free serve contrasts), and the
    * rewritten entries whose growth the amplified inputs test (d15, q93,
    * t27, d17, p34).
    * Each query is tagged with the table whose growth drives its cost, so
    * the exponent divides by THAT table's measured row ratio — the
    * testdata generations do NOT scale every table uniformly with SF
    * (e.g. embeddings grew 4× over a decade of SF while lineitem grew
    * 10×, and amplification grows documents and lineitem only). */
  val subset: Seq[(String, String)] = Seq(
    "q01_agg" -> "lineitem", "q03_join_agg" -> "lineitem",
    "q08_window_rank" -> "lineitem", "q10_topk" -> "lineitem",
    "q93_basket_affinity" -> "lineitem",
    "d01_dedup_exact" -> "documents", "d03_minhash_lsh" -> "documents",
    "d15_incremental_clusters" -> "documents",
    "d17_pair_evidence" -> "documents",
    "d05_embedding_dup" -> "embeddings",
    "d06_embedding_dup_ivf" -> "embeddings",
    "s01_knn_brute" -> "embeddings", "s02_knn_ivf" -> "embeddings",
    "x_d06_ivf_pairs" -> "embeddings", "x_s02_ivf_serve" -> "embeddings",
    "t03_quality" -> "documents", "t08_bpe_encode" -> "documents",
    "t27_chi2_keyness" -> "documents",
    "p02_decontaminate" -> "documents", "p05_pack_sequences" -> "documents",
    "p21_shard_manifest" -> "documents", "p34_neardup_contamination" -> "documents",
    "p57_chunk_windows" -> "documents")

  /** Scaling-only probes (`x_` prefix — not part of the correctness
    * surface): the round-14 promotions re-registered s02/d06 as
    * exact-parity frames (corpus-LINEAR assignment checks), so the
    * quadratic-baseline-vs-scale-route CONTRAST — d05's all-pairs vs the
    * IVF-bucketed pair generator, s01's q×n vs the served IVF top-k —
    * keeps being measured here against the same serve functions the
    * routed operators (d38/s32) dispatch to. */
  val direct: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
    "x_s02_ivf_serve" -> ((s, d) =>
      graft.similarity.Knn.ivf(Tables(s, d).embeddings)),
    "x_d06_ivf_pairs" -> ((s, d) =>
      graft.dedup.Dedup.embeddingDupPairsIvf(Tables(s, d).embeddings)))

  /** The driving tables whose row counts every input records. */
  private[graft] val tables = Seq("lineitem", "documents", "embeddings")

  /** Write the ×m amplification of `src` into `outDir`. Only documents and
    * lineitem grow; every other table is a symlink to the source file.
    *
    *   - documents ×m: copy i remaps doc_id by +i·(max+1) and SUFFIXES every
    *     token with a copy-specific marker (i = 0 keeps the original text) —
    *     a per-copy renaming of the token alphabet, so each copy's shingle
    *     set is ISOMORPHIC to the original's (identical per-copy jaccard
    *     structure, identical pair counts) while NO shingle is shared across
    *     copies: the pair/cluster workload grows exactly linearly in m.
    *     (Plain replication would make every doc an m-way duplicate and
    *     measure a quadratically blown-up problem; an earlier interleaved-
    *     marker variant created token-level shingles that INFLATED pair
    *     density in the marked copies — both measure the wrong thing.);
    *   - lineitem ×m: copy i remaps l_orderkey by +i·(max+1) (part keys keep
    *     their domain, so q93's per-part basket counts grow m-fold — the
    *     real growth mode of a co-occurrence table). */
  private def amplify(spark: SparkSession, src: String, outDir: String,
                      m: Int): Unit = {
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docSpan = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (0 until m).map { i =>
      val copy = docs.withColumn("doc_id", col("doc_id") + lit(i * docSpan))
      if (i == 0) copy
      else copy.withColumn("text",
        array_join(transform(split(col("text"), " "),
          t => concat(t, lit(s"zz${i}qq"))), " "))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
    val li = spark.read.parquet(s"$src/lineitem.parquet")
    val liSpan = li.agg(max(col("l_orderkey"))).head().getLong(0) + 1L
    (0 until m).map(i =>
        li.withColumn("l_orderkey", col("l_orderkey") + lit(i * liSpan)))
      .reduce(_ unionByName _)
      .write.mode("overwrite").parquet(s"$outDir/lineitem.parquet")
    val srcPath = Paths.get(src).toAbsolutePath
    Files.list(srcPath).forEach { f =>
      val link = Paths.get(outDir).resolve(f.getFileName)
      if (!Files.exists(link) || Files.isSymbolicLink(link)) {
        Files.deleteIfExists(link)
        Files.createSymbolicLink(link, f)
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt)
    val mults = sys.env.getOrElse("SPARK_GRAFT_SCALE_MULTS", "2,4")
      .split(",").map(_.trim.toInt).filter(_ > 1).distinct.sorted.toSeq
    val only = Bench.only(subset.map(_._1))
    val names = only.fold(subset)(keep => subset.filter(p => keep(p._1)))
    val loadAvg = try {
      scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
    } catch { case _: Throwable => -1.0 }
    val cpus = Bench.cores
    val spark = GraftSession.local(cpus)
    // (label, dir): the given SF dirs, then the amplified copies of the last
    val inputs = sfDirs.map(d => d -> d) ++ mults.map { m =>
      val d = Paths.get(System.getProperty("java.io.tmpdir"), "graft_scaling", s"m$m")
      amplify(spark, sfDirs.last, d.toString, m)
      s"${sfDirs.last} x$m" -> d.toString
    }
    val queries = SparkEntry.queries
    // input -> query -> median sec; also record the driving tables' row
    // counts so exponents divide by actual input growth, not nominal SF
    val times = scala.collection.mutable.Map.empty[(String, String), Double]
    val rows = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    for ((label, dir) <- inputs) {
      val t = Tables(spark, dir)
      rows(label) = tables.map(n => n -> t.table(n).count()).toMap
      // warmup per input: footers, codegen, broadcast of dims
      try queries("q01_agg")(spark, dir).count()
      catch { case _: Throwable => () }
      for ((name, _) <- names) {
        val samples = (1 to reps).map { _ =>
          SessionCaches.release(spark)
          val t0 = System.nanoTime()
          val ok = try {
            queries.getOrElse(name, direct(name))(spark, dir)
              .write.format("noop").mode("overwrite").save(); true
          } catch { case e: Throwable =>
            System.err.println(s"SCALING FAIL $name @ $label: $e"); false }
          if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
        }
        val m = if (samples.exists(_ < 0)) -1.0 else Bench.median(samples)
        times((label, name)) = m
        println(s"""{"input":"$label","query":"$name","sec":$m}""")
      }
      SessionCaches.release(spark)
    }
    val labels = inputs.map(_._1)
    // exponent between the two largest distinct row counts of the query's
    // driving table (least overhead-dominated pair); at each count the
    // LAST input having it stands for it. Fewer than two counts: no fit.
    val qs = names.map { case (n, tbl) =>
      val fit = labels.reverse.distinctBy(l => rows(l)(tbl))
        .sortBy(l => -rows(l)(tbl)).take(2).reverse
      val (exp, ratio) = fit match {
        case Seq(lo, hi) =>
          val ratio = rows(hi)(tbl).toDouble / rows(lo)(tbl)
          val (tl, th) = (times((lo, n)), times((hi, n)))
          (if (tl > 0 && th > 0) math.log(th / tl) / math.log(ratio)
            else Double.NaN, ratio)
        case _ => (Double.NaN, 1.0)
      }
      val tsJs = labels.map(l => f"${times((l, n))}%.3f").mkString("[", ",", "]")
      val eJs = if (exp.isNaN) "null" else f"$exp%.3f"
      val fitJs = fit.map("\"" + _ + "\"").mkString("[", ",", "]")
      s""""$n":{"sec":$tsJs,"exponent":$eJs,"table":"$tbl","fit":$fitJs,"input_ratio":$ratio}"""
    }.mkString("{", ",", "}")
    val rowsJs = labels.map { l =>
      s""""$l":{${rows(l).map { case (k, v) => s""""$k":$v""" }.mkString(",")}}"""
    }.mkString("{", ",", "}")
    // anchor: the d05-vs-d06 contrast at a size where the pair term
    // clearly dominates overhead (N² pairs ≈ 1000× the sf0.1 testdata's),
    // on a DETERMINISTIC synthetic frame (hash-derived coordinates — no
    // RNG, so the run is reproducible bit-for-bit). One rep: at this size
    // the signal is minutes-vs-seconds, not tenths.
    val anchorN = sys.env.getOrElse("SPARK_GRAFT_ANCHOR_N", "12000").toInt
    val anchorJs = if (anchorN <= 0) "null" else {
      val emb = spark.range(0L, anchorN.toLong, 1L, 32)
        .selectExpr("id as vec_id",
          """transform(sequence(1, 16), j ->
            | cast(pmod(xxhash64(id * 31 + j), 1000) / 1000.0 - 0.5 as float)
            |) as embedding""".stripMargin)
      def time(f: => Long): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      SessionCaches.release(spark)
      val tExact = time(graft.dedup.Dedup.embeddingDupPairs(emb).count())
      SessionCaches.release(spark)
      // cells scale with the corpus (the d06 scaladoc's own prescription:
      // cells ∝ corpus keeps per-cell work bounded) — 64 cells at 12k
      // vectors ≈ the sf0.1 cell density
      val tIvf = time(
        graft.dedup.Dedup.embeddingDupPairsIvf(emb, nCells = 64).count())
      SessionCaches.release(spark)
      s"""{"n":$anchorN,"d05_exact_sec":${f"$tExact%.3f"},"d06_ivf_sec":${f"$tIvf%.3f"},"ivf_cells":64}"""
    }
    val line = s"""{"metric":"scaling","cpus":$cpus,"reps":$reps,"pre_run_load_1m":$loadAvg,"inputs":${labels.map("\"" + _ + "\"").mkString("[", ",", "]")},"rows":$rowsJs,"anchor":$anchorJs,"queries":$qs}"""
    println(line)
    val out = if (only.nonEmpty) "SCALING_LOCAL.subset.json" else "SCALING_LOCAL.json"
    try Files.write(Paths.get(out), (line + "\n").getBytes(StandardCharsets.UTF_8))
    catch { case e: Throwable => System.err.println(s"SCALING write failed: $e") }
    spark.stop()
  }
}
