package graft.perfbench

import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Tables}
import graft.dedup.Dedup
import graft.similarity.{GraphSearch, IvfPq, Knn, Pq, Srp}
import graft.sources.ZoneMaps

/** One timed unit of a workload: a registered query or a shared
  * materialization. `run` returns the entry's result (a DataFrame, or the
  * Long an ingest warm-up returns). */
final case class Entry(name: String, workload: String, layer: String,
                       shared: Boolean, run: (SparkSession, String) => Any)

/** Assigns every registered query and every shared materialization to
  * exactly one workload and one layer. */
object Entries {
  val workloads: Seq[String] = Seq("olap", "corpus")

  val layers: Seq[String] = Seq("operators.relational", "operators.text",
    "operators.pipeline", "dedup", "similarity", "multimodal",
    "sources.write", "sources.read")

  private def docs(s: SparkSession, d: String) = Tables(s, d).documents
  private def emb(s: SparkSession, d: String) = Tables(s, d).embeddings

  /** The shared materializations, in the order they must run: a consumer
    * of a memo never runs before the entry that builds it. */
  val shared: Seq[(String, String, (SparkSession, String) => Any)] = Seq(
    ("_shared_shingles", "dedup", (s, d) => Dedup.sharedShingles(docs(s, d))),
    ("_shared_weighted_shingles", "dedup", (s, d) => Dedup.sharedWeightedShingles(docs(s, d))),
    ("_shared_shingle_arrays", "dedup", (s, d) => Dedup.sharedShingleArraysFor(docs(s, d))),
    ("_shared_weighted_arrays", "dedup", (s, d) => Dedup.sharedWeightedArraysFor(docs(s, d))),
    ("_shared_lsh_pairs", "dedup", (s, d) => Dedup.minHashLshPairs(docs(s, d))),
    ("_shared_cws_sig", "dedup", (s, d) => Dedup.sharedCwsSignatures(docs(s, d))),
    ("_shared_jaccard_pairs", "dedup", (s, d) => Dedup.sharedJaccardPairs(docs(s, d))),
    ("_shared_weighted_pairs", "dedup", (s, d) => Dedup.sharedWeightedJaccardPairs(docs(s, d))),
    ("_shared_edit_pairs", "dedup", (s, d) => Dedup.sharedEditPairs(docs(s, d))),
    ("_shared_containment_pairs", "dedup", (s, d) => Dedup.sharedContainmentPairs(docs(s, d))),
    ("_shared_ivf_index", "similarity", (s, d) => Knn.ivfIndex(emb(s, d))),
    ("_shared_ivfpq_index", "similarity", (s, d) => IvfPq.encodedIndex(emb(s, d))),
    ("_shared_pq_index", "similarity", (s, d) => Pq.encodedIndex(emb(s, d))),
    ("_shared_knn_graph", "similarity", (s, d) => GraphSearch.sharedEdges(emb(s, d))),
    ("_shared_srp_pairs", "similarity", (s, d) => Srp.srpPairs(emb(s, d))),
    ("_shared_srp_probe", "similarity",
      (s, d) => Srp.srpPairsMultiProbe(emb(s, d), nBands = 8, rowsPerBand = 8)),
    ("_shared_tokens", "operators.text",
      (s, d) => graft.operators.TextQueries.sharedTokens(docs(s, d))),
    ("_shared_zonemap_layout_r", "sources.write", (s, d) => ZoneMaps.warmDemoLayoutsRange(s, d)),
    ("_shared_zonemap_layout_z2", "sources.write", (s, d) => ZoneMaps.warmDemoLayoutsZ2(s, d)),
    ("_shared_zonemap_layout_z3", "sources.write", (s, d) => ZoneMaps.warmDemoLayoutsZ3(s, d)),
    ("_shared_zonemap_layout_w", "sources.write", (s, d) => ZoneMaps.warmDemoLayoutsWrite(s, d)),
    ("_shared_zonemap_manifest", "sources.write", (s, d) => ZoneMaps.warmDemoManifests(s, d)),
    ("_shared_index_parity", "similarity", (s, d) => Knn.warmParityRebuilds(emb(s, d))))

  private val qNum = """q(\d+)_.*""".r

  private def ingestQuery(n: String): Boolean = n match {
    case qNum(k) => k.toInt >= 133 && k.toInt <= 146
    case _ => false
  }

  /** (workload, layer, rule) for registered queries; a name must match
    * exactly one rule. */
  private val queryRules: Seq[(String, String, String => Boolean)] = Seq(
    ("olap", "operators.relational", n => n.matches("q\\d+_.*") && !ingestQuery(n)),
    ("olap", "sources.write", n => n == "q144_insert_maintained"),
    ("olap", "sources.read", n => ingestQuery(n) && n != "q144_insert_maintained"),
    ("corpus", "operators.text", n => n.matches("t\\d+_.*")),
    ("corpus", "operators.pipeline", n => n.matches("p\\d+_.*")),
    ("corpus", "dedup", n => n.matches("d\\d+_.*")),
    ("corpus", "similarity", n => n.matches("s\\d+_.*")),
    ("corpus", "multimodal", n => n.matches("m\\d+_.*")))

  private def sharedWorkload(layer: String): String =
    if (layer.startsWith("sources.")) "olap" else "corpus"

  /** Every entry, or the coverage problems that make the benchmark refuse
    * to run: a query or shared name in no workload or in more than one, a
    * shared name the engine's bench declares but this list lacks, and an
    * entry neither timed nor listed in `untimed` (or in both), so that a
    * new entry forces a decision on whether a run times it. */
  def all(declaredShared: Set[String],
          untimed: Set[String]): Either[Seq[String], Seq[Entry]] = {
    val problems = Seq.newBuilder[String]
    val queries = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      queryRules.filter(_._3(name)) match {
        case Seq((w, l, _)) => Some(Entry(name, w, l, shared = false, fn))
        case Seq() => problems += s"$name: in no workload"; None
        case many => problems += s"$name: in ${many.size} workloads"; None
      }
    }
    val sharedNames = shared.map(_._1)
    sharedNames.diff(sharedNames.distinct).foreach(n => problems += s"$n: listed twice")
    (declaredShared -- sharedNames).toSeq.sorted
      .foreach(n => problems += s"$n: shared entry in no workload")
    shared.filterNot(s => layers.contains(s._2))
      .foreach(s => problems += s"${s._1}: unknown layer ${s._2}")
    val sharedEntries = shared.map { case (n, l, f) =>
      Entry(n, sharedWorkload(l), l, shared = true, f) }
    val byName = (sharedEntries ++ queries).map(e => e.name -> e).toMap
    for ((w, names) <- timed; n <- names) byName.get(n) match {
      case Some(e) if e.workload == w => ()
      case Some(e) => problems += s"$n: timed in $w but belongs to ${e.workload}"
      case None => problems += s"$n: timed in $w but not registered"
    }
    val timedNames = timed.values.flatten.toSet
    for (n <- byName.keys.toSeq.sorted) (timedNames(n), untimed(n)) match {
      case (false, false) => problems += s"$n: neither timed nor listed untimed"
      case (true, true) => problems += s"$n: both timed and listed untimed"
      case _ => ()
    }
    (untimed -- byName.keys).toSeq.sorted
      .foreach(n => problems += s"$n: listed untimed but not registered")
    val ps = problems.result()
    if (ps.nonEmpty) Left(ps) else Right(sharedEntries ++ queries)
  }

  /** The entries each workload times in a run. A pass over every entry
    * takes 80-110 s per workload in a fresh JVM on 4 cores (corpus: 60 s
    * warm), too long for one run, so each workload times a fixed sample
    * that spans its layers.
    * Over half of each sample is cheap entries, as on the full surface, so
    * the median entry does not sit in the gap between cheap and heavy ones
    * and jump with the seed order (which decides what pays a memo build).
    * The shared entries are the ones its queries read; olap's ingest part
    * keeps the range-clustered layout and the reads it serves, because
    * each further layout or table write costs seconds. */
  val timed: Map[String, Seq[String]] = Map(
    "olap" -> Seq("_shared_zonemap_layout_r", "_shared_zonemap_manifest",
      "q01_agg", "q03_join_agg", "q08_window_rank", "q10_topk", "q12_cube",
      "q14_distinct", "q86_weighted_median", "q93_basket_affinity",
      "q133_zonemap_prune", "q134_zonemap_join", "q137_metadata_agg",
      "q138_zonemap_topk", "q17_case_null", "q28_math", "q54_sequence",
      "q59_date_arith"),
    "corpus" -> Seq("_shared_shingles", "_shared_lsh_pairs", "_shared_ivf_index",
      "_shared_tokens", "d03_minhash_lsh", "d05_embedding_dup", "d07_dup_clusters",
      "p01_clean_corpus", "s02_knn_ivf", "t01_token_stats", "t09_bigram_ppl",
      "m01_media_features", "m02_decoded_features", "t03_quality",
      "t04_fingerprint", "s03_quantize", "s19_vector_quality", "t11_readability",
      "t26_pii_density", "p04_pii_scrub", "p13_quality_gate"))

  /** The workload's timed entries in run order: its shared entries first,
    * in their fixed dependency order, then its queries shuffled by `seed`. */
  def ordered(all: Seq[Entry], workload: String, seed: Long): Seq[Entry] = {
    val keep = timed(workload).toSet
    val (sh, qs) = all.filter(e => keep(e.name)).partition(_.shared)
    sh ++ new scala.util.Random(seed).shuffle(qs)
  }
}
