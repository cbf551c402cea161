package graft.perfbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.index.Indexer
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.search.{BruteForce, SearchEngine}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted.toArray
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else xs.sum / xs.size
  def ms(ns: Long): Double = ns / 1e6
  def secs(ns: Long): Double = ns / 1e9
}

/** Everything a workload shares: the session, options, counters, tracing. */
final class Ctx(val spark: SparkSession, val opts: Opts) {
  val tracer = new Tracer(opts.trace)
  val sparkTrace: Option[SparkTrace] =
    if (!opts.trace) None
    else {
      val t = new SparkTrace
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
      Some(t)
    }
  val attempted = new AtomicLong(0)
  val failed = new AtomicLong(0)
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  /** untimed facts about the run: sizes, host, checks */
  val context = mutable.LinkedHashMap[String, Any]()
  private val reqSeq = new AtomicLong(0)

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)


  private val reqCounts = new java.util.concurrent.ConcurrentHashMap[String, AtomicLong]()
  /** Traced requests of one class (`q`, `b`, `w`, `c`). */
  def requests(cls: String): Long =
    Option(reqCounts.get(cls)).map(_.get()).getOrElse(0L)

  /** In a traced run, runs `body` as a traced request of class `cls`: its
    * Spark jobs carry the request id as job description and its spans share
    * it. Otherwise (or with `traced` false) it just runs `body`.
    */
  def asRequest[T](cls: String, traced: Boolean = true)(body: String => T): T = {
    val req = s"$cls:${reqSeq.getAndIncrement()}"
    if (!opts.trace || !traced) body(req)
    else {
      reqCounts.computeIfAbsent(cls, _ => new AtomicLong(0)).incrementAndGet()
      val sc = spark.sparkContext
      sc.setJobDescription(req)
      try tracer.request(req)(body(req))
      finally sc.setJobDescription(null)
    }
  }

  /** Counts one operation; an exception counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch {
      case e: Throwable =>
        failed.incrementAndGet()
        System.err.println(s"perfbench: FAILED $what: $e")
        None
    }
  }

  /** Counts one answer check; a mismatch counts as a failure. */
  def check(what: String)(ok: => Boolean): Unit =
    attempt(what)(ok).foreach { pass =>
      if (!pass) {
        failed.incrementAndGet()
        System.err.println(s"perfbench: WRONG ANSWER $what")
      }
    }

  /** Heap in use after forced full collections: the least of three
    * readings, so garbage freed by finalization or reference processing in
    * between does not count.
    */
  def liveHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(100)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  def dirBytes(path: String): Long = Fs.listDataFiles(path).map(_._2).sum

  private val phaseStart = System.nanoTime()
  private var phaseMark = phaseStart
  /** Records the wall time since the previous phase ended, as context. */
  def phase(name: String): Unit = synchronized {
    val now = System.nanoTime()
    context(s"phase_s.$name") = Stats.secs(now - phaseMark)
    phaseMark = now
  }
}

/** One engine call's timings. */
final case class Call(kind: String, startNs: Long, constructNs: Long, endNs: Long,
    traced: Boolean) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** A closed-loop query client: draws from its own seeded stream and calls
  * only `SearchEngine.topKWand` (k = 10). In a traced run every other call
  * is traced, and every fourth first times the io-layer reads the engine
  * makes on the driver (outside the call's latency).
  */
final class Client(ctx: Ctx, root: String, id: Int, markedConv: SplittableRandom => Long) {
  private val stream = new QueryStream(ctx.opts.seed, id)
  val calls = mutable.ArrayBuffer[Call]()
  /** distinct plain queries this client ran, for the answer checks */
  val plainQueries = mutable.LinkedHashSet[Seq[String]]()
  private var n = 0L

  def runOne(record: Boolean): Unit = {
    val q = stream.next(markedConv)
    ctx.attempt(s"${q.kind} ${q.terms.mkString(" ")}") {
      q.kind match {
        case "page2" =>
          val p1 = call(q, None, record)
          if (p1.length == Client.K) call(q, Some((p1.last._2, p1.last._1)), record)
        case _ =>
          call(q, None, record)
          if (q.kind == "plain" && record) plainQueries += q.terms
      }
    }
  }

  private def call(q: Query, after: Option[(Double, Long)], record: Boolean): Array[(Long, Double)] = {
    val spark = ctx.spark
    // traced runs alternate traced and untraced calls, whose latency
    // difference is the tracing overhead; every other traced call also
    // times the io-layer reads (their listings cost as much as a query)
    val traced = ctx.opts.trace && n % 2 == 0
    val probe = ctx.opts.trace && n % 4 == 0
    n += 1
    ctx.asRequest("q", traced) { req =>
      if (probe) Client.ioProbe(ctx, root)
      val t0 = System.nanoTime()
      val df = ctx.tracer.span("search.construct") {
        SearchEngine.topKWand(spark, root, q.terms, Client.K, minMatch = q.minMatch, after = after)
      }
      val t1 = System.nanoTime()
      if (traced) ctx.sparkTrace.foreach(_.register(df.queryExecution, req))
      val rows = ctx.tracer.span("search.execute")(Client.hits(df))
      val t2 = System.nanoTime()
      if (record) calls += Call(q.kind, t0, t1, t2, traced)
      rows
    }
  }
}

object Client {
  val K = 10

  def hits(df: DataFrame): Array[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1)))

  /** The driver-side index reads the engine makes before any job, timed as
    * the benchmark's own calls into the io layer.
    */
  def ioProbe(ctx: Ctx, root: String): Unit = {
    val spark = ctx.spark
    val paths = IndexPaths(root)
    val t = ctx.tracer
    t.span("index.read_meta")(Indexer.readMeta(spark, root))
    t.span("io.corpus_stats")(Catalog.readCorpusStats(spark, paths))
    t.span("io.dict")(Catalog.dictEntriesCached(spark, paths))
    val postings = paths.postings
    t.span("io.fingerprint")(Catalog.fingerprint(postings))
    t.span("io.list")(Fs.listDataFiles(postings))
  }
}

/** Answer checks: the engine against the index-free brute-force scorer over
  * the index's own numbered corpus. They run outside the timed phases.
  */
object Checks {
  def same(a: Array[(Long, Double)], b: Array[(Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((da, sa), (db, sb)) =>
      da == db && (math.abs(sa - sb) < 1e-9 || math.round(sa * 1e4) == math.round(sb * 1e4))
    }

  /** Seeded sample of the run's distinct plain queries, `n` of them. */
  def sample(seed: Long, queries: Seq[Seq[String]], n: Int): Seq[Seq[String]] = {
    val rng = new SplittableRandom(Gen.mix(seed, 0xC4EC4L))
    val pool = queries.distinct.sortBy(_.mkString(" ")).toBuffer
    (0 until math.min(n, pool.size)).map(_ => pool.remove(rng.nextInt(pool.size)))
  }

  /** Page 1 and its search_after page 2 equal the brute force's top 2k. */
  def againstBruteForce(ctx: Ctx, root: String, queries: Seq[Seq[String]]): Unit = {
    val spark = ctx.spark
    val docs = Catalog.readNumbered(spark, IndexPaths(root)).select("doc_id", "text")
    queries.zipWithIndex.foreach { case (terms, i) =>
      ctx.check(s"brute-force pages 1 and 2 of ${terms.mkString(" ")}") {
        val brute = Client.hits(BruteForce.topK(docs, terms, 2 * Client.K))
        val p1 = Client.hits(SearchEngine.topKWand(spark, root, terms, Client.K))
        val p2 = if (p1.length < Client.K) Array.empty[(Long, Double)]
          else Client.hits(SearchEngine.topKWand(spark, root, terms, Client.K,
            after = Some((p1.last._2, p1.last._1))))
        val got = if (ctx.opts.plantWrong && i == 0) p1.drop(1) else p1
        same(got, brute.take(Client.K)) && same(p2, brute.drop(Client.K))
      }
    }
  }

  /** A marker lookup for each conversation returns exactly its marked turns. */
  def markers(ctx: Ctx, root: String, convs: Seq[Long]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val ids = convs.map(Gen.convId).toSet
    val expected = Catalog.readNumbered(spark, IndexPaths(root))
      .filter($"turn_idx" % Gen.MarkEvery === 0 && $"conv_id".isin(ids.toSeq: _*))
      .select($"conv_id", $"doc_id").as[(String, Long)].collect()
      .groupBy(_._1).map { case (c, ds) => c -> ds.map(_._2).sorted.toSeq }
    convs.foreach { conv =>
      ctx.check(s"marker ${Gen.marker(conv)}") {
        val got = Client.hits(SearchEngine.topKWand(spark, root, Seq(Gen.marker(conv)),
          Client.K, minMatch = 2)).map(_._1).sorted.toSeq
        val want = expected.getOrElse(Gen.convId(conv), Nil)
        want.size == Gen.TurnsPerConv / Gen.MarkEvery && got == want
      }
    }
  }
}
