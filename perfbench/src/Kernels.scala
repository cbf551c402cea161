package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.core.{Analyzer, Blocks, Codec, PostingBlock}
import graft.index.Indexer
import graft.io.Catalog
import graft.io.Catalog.IndexPaths
import graft.search.{SearchEngine, Wand}

/** Single-thread timings of the pure-JVM kernel on the workload's own text
  * and blocks (traced runs only, outside the timed phase).
  */
object Kernels {
  private val MinNs = 200L * 1000 * 1000

  /** Repeats `body` until at least 200 ms have passed; ns per unit of work. */
  private def nsPer(units: Long)(body: => Unit): Double = {
    body // warm
    var reps = 0L
    val t0 = System.nanoTime()
    while (System.nanoTime() - t0 < MinNs) { body; reps += 1 }
    (System.nanoTime() - t0).toDouble / (reps * math.max(1L, units))
  }

  def tokenizeNsPerToken(texts: Seq[String]): Double = {
    val arr = texts.toArray
    val tokens = arr.map(t => Analyzer.tokenize(t).length.toLong).sum
    var sink = 0
    val ns = nsPer(tokens) { arr.foreach(t => sink += Analyzer.tokenize(t).length) }
    if (sink == 42) print("") // keep the loop live
    ns
  }

  final case class QueryBlocks(terms: Seq[String], byTerm: Map[String, Array[PostingBlock]]) {
    def postings: Long = byTerm.valuesIterator.flatten.map(_.n_docs.toLong).sum
  }

  /** The posting blocks of each query's terms, read once from the index. */
  def blocksOf(spark: SparkSession, root: String, queries: Seq[Seq[String]]): Seq[QueryBlocks] = {
    import spark.implicits._
    val terms = queries.flatten.distinct
    val all = Catalog.readPostings(spark, IndexPaths(root))
      .filter($"term".isin(terms: _*)).collect()
      .groupBy(_.term).map { case (t, bs) => t -> bs.sortBy(_.first_doc) }
    queries.map(q => QueryBlocks(q, q.flatMap(t => all.get(t).map(t -> _)).toMap))
  }

  /** (decode, encode) ns per posting over all the queries' blocks. */
  def codecNsPerPosting(qbs: Seq[QueryBlocks]): (Double, Double) = {
    val blocks = qbs.flatMap(_.byTerm.valuesIterator.flatten).distinct.toArray
    val postings = blocks.map(_.n_docs.toLong).sum
    if (postings == 0) return (0.0, 0.0)
    var sink = 0L
    val dec = nsPer(postings) { blocks.foreach(b => sink += Blocks.decode(b).docs.length) }
    val docs = blocks.map(b => Blocks.decode(b).docs)
    val enc = nsPer(postings) { docs.foreach(d => sink += Codec.encodeDeltas(d).length) }
    if (sink == 42) print("")
    (dec, enc)
  }

  /** Median ms of `Wand.scoreShard` over each query's whole index as one
    * shard, one thread, k = 10.
    */
  def wandMs(spark: SparkSession, root: String, qbs: Seq[QueryBlocks]): Double = {
    val meta = Indexer.readMeta(spark, root)
    val times = qbs.filter(_.byTerm.nonEmpty).map { qb =>
      val qm = SearchEngine.queryModel(spark, IndexPaths(root), qb.terms, Client.K)
      def once(): Unit = {
        val cursors = qm.terms.indices.flatMap { i =>
          qb.byTerm.get(qm.terms(i)).map(bs =>
            new Wand.TermCursor(qm.idfs(i), bs, qm.avgdl, meta.doc_id_space, meta.incremental))
        }.toArray
        Wand.scoreShard(cursors, 0L, Client.K)
      }
      once()
      val reps = (0 until 5).map { _ =>
        val t0 = System.nanoTime(); once(); Stats.ms(System.nanoTime() - t0)
      }
      Stats.median(reps)
    }
    if (times.isEmpty) 0.0 else Stats.median(times)
  }
}
