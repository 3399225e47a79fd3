package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Pipeline, SparkEntry, Tables}
import graft.operators._

/** What one call of a workload does and returns. */
sealed trait Kind
/** Builds an INDEX-class artifact (kept across passes); timed as `count()`. */
case object IndexBuild extends Kind
/** A query relation; timed as `collect()`, its rows are the checked output. */
case object Query extends Kind
/** A sink writer; its output is what it wrote under the pass's sink dir. */
case object Sink extends Kind

/** One harness call. The span is named `<module>.<fn>`; `oracle` names the
  * `SparkEntry.oracleSql` entry that checks the output, if any.
  */
final case class Call(module: String, fn: String, kind: Kind,
    oracle: Option[String], run: Call.Ctx => Out) {
  def span: String = s"$module.$fn"
}

/** A call's output: rows for a query, row counts for a builder or sink. */
final case class Out(rows: Array[org.apache.spark.sql.Row],
    schema: org.apache.spark.sql.types.StructType, counts: Map[String, Long])

object Call {
  /** Session, input dir, and this pass's private sink dir. */
  final case class Ctx(spark: SparkSession, dir: String, sinkDir: String)

  def index(module: String, fn: String)(df: Ctx => DataFrame): Call =
    Call(module, fn, IndexBuild, None, c => Out(Array.empty, null, Map("rows" -> df(c).count())))

  /** A query through its `SparkEntry.queries` entry, so the timed plan is
    * exactly the one the oracle mirrors.
    */
  def query(module: String, fn: String, q: String): Call = {
    val f = SparkEntry.queries(q)
    Call(module, fn, Query, Some(q), { c =>
      val df = f(c.spark, c.dir)
      Out(df.collect(), df.schema, Map.empty)
    })
  }
}

object Workloads {
  import Call._

  /** Layers the per-layer metrics are reported for (a span belongs to the
    * module whose public function it calls).
    */
  val modules = Seq("Tables", "TokenPipeline", "Hierarchy", "TextAnalysis",
    "Dedup", "Sketches", "Similarity", "Pipeline")

  private def scan(table: String): Call =
    Call("Tables", table, Query, None, { c =>
      Out(Array.empty, null, Map("rows" -> Tables.load(c.spark, c.dir, table).count()))
    })

  /** The reference program: token index builders, the three reference
    * sinks, then the cosine and hierarchy reads over the same index.
    */
  private val etl = Seq(
    scan("documents"),
    index("TokenPipeline", "docTokenCounts")(c => TokenPipeline.docTokenCounts(c.spark, c.dir)),
    index("TokenPipeline", "tokenDictionary")(c => TokenPipeline.tokenDictionary(c.spark, c.dir)),
    index("TokenPipeline", "docAggregates")(c => TokenPipeline.docAggregates(c.spark, c.dir)),
    // each written collection is checked by the oracle of the query that
    // produces the same relation
    Call("Pipeline", "writeReferenceSinks", Sink,
      Some("wikibooks=q48_wikibook_records,tokens=q15_postings," +
        "token_vectors=q17_token_vector_map"),
      c => Out(Array.empty, null,
        Pipeline.writeReferenceSinks(c.spark, c.dir, s"${c.sinkDir}/reference"))),
    query("TokenPipeline", "docCosineTopK", "q47_doc_cosine_topk"),
    query("Hierarchy", "childAgg", "q19_doc_children"))

  /** Near-dup detection and clustering, decontamination, and kNN over the
    * jittered embeddings of a dup-dense corpus: index builders first, then
    * the queries.
    */
  private val dedup = Seq(
    scan("documents"),
    scan("embeddings"),
    index("Dedup", "shingles")(c => Dedup.shingles(c.spark, c.dir)),
    index("Dedup", "minhashSignatures")(c => Dedup.minhashSignatures(c.spark, c.dir)),
    index("Dedup", "simhashSignature")(c => Dedup.simhashSignature(c.spark, c.dir, 32)),
    index("Dedup", "fingerprints")(c => Dedup.fingerprints(c.spark, c.dir)),
    index("TextAnalysis", "hashSplit")(c => TextAnalysis.hashSplit(c.spark, c.dir)),
    index("Sketches", "bloomEvalBits")(c => Sketches.bloomEvalBits(c.spark, c.dir)),
    index("Similarity", "vectorIndex")(c => Similarity.vectorIndex(c.spark, c.dir)),
    query("Dedup", "minhashNearDups", "q23_minhash_neardups"),
    query("Dedup", "dupClusters", "q52_dup_clusters"),
    query("Dedup", "simhashNearDups", "q53_simhash_hamming"),
    query("Sketches", "bloomDecontamination", "q102_bloom_decontamination"),
    query("Similarity", "knnBruteForce", "q28_knn_bruteforce"))

  def calls(workload: String): Seq[Call] = workload match {
    case "etl-wikibooks" => etl
    case "dedup-dense" => dedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
}
