package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.index.{Compaction, IndexBuildJob}
import graft.io.{Catalog, Fs}
import graft.io.Catalog.IndexPaths
import graft.streaming.StreamingIngest

/** What a workload hands to the layer report. */
final case class Ran(root: String, calls: Seq[Call], plainQueries: Seq[Seq[String]],
    queryP50Ms: Double, builds: Seq[IndexBuildJob.Summary] = Nil,
    commits: Seq[(Long, Long)] = Nil, compactS: Seq[Double] = Nil,
    filesAdded: Seq[Int] = Nil)

object Workloads {
  val Clients = 4
  val WarmupQueries = 2
  val ChecksPerRun = 1
  /** set-ups per run; setup_s is their median */
  val SetupReps = 3
  /** search: corpora written per run, so that setup_s, their median, falls
    * past the first writes' warm-up; the last SetupReps are built
    */
  val SearchSetupReps = 5
  /** search: conversations (of 200 turns) per corpus */
  val SearchConvs = 50

  private def parallel(n: Int)(body: Int => Unit): Unit = {
    val ts = (0 until n).map(i => new Thread(() => body(i), s"perfbench-client-$i"))
    ts.foreach(_.start())
    ts.foreach(_.join())
  }

  private def reps(ctx: Ctx): Int = if (ctx.opts.toy) 1 else SetupReps

  /** Latency and throughput of the recorded calls over `elapsedNs`. */
  private def queryMetrics(ctx: Ctx, calls: Seq[Call], elapsedNs: Long): Double = {
    val lat = calls.map(_.ms)
    ctx.metric("query_qps", calls.size / Stats.secs(elapsedNs), "1/s")
    ctx.metric("query_p50_ms", Stats.median(lat), "ms")
    // p80: the highest percentile with at least ten samples beyond it in
    // one run (about 60 calls); on ingest it also stays below the ~12% of
    // reads that follow a commit
    ctx.metric("query_p80_ms", Stats.quantile(lat, 0.8), "ms")
    ctx.context("queries") = calls.size
    Stats.median(lat)
  }

  private def indexBytes(ctx: Ctx, root: String): (Long, Long) = {
    val p = IndexPaths(root)
    (ctx.dirBytes(p.postings), ctx.dirBytes(p.dictionary))
  }

  private def sizes(ctx: Ctx, turns: Long, textBytes: Long, root: String): Double = {
    val (post, dict) = indexBytes(ctx, root)
    ctx.context("turns") = turns
    ctx.context("text_bytes") = textBytes
    ctx.context("index_bytes") = post + dict
    ctx.context("dictionary_bytes") = dict
    ctx.context("dictionary_memo_gate_bytes") = Catalog.DefaultDictCacheMaxBytes
    (post + dict).toDouble / textBytes
  }

  /** `search`: cold bulk builds, then 4 closed-loop clients. */
  def search(ctx: Ctx): Ran = {
    val spark = ctx.spark
    import spark.implicits._
    val o = ctx.opts
    val seed = o.seed
    val convs = if (o.toy) 10 else SearchConvs
    val n = reps(ctx)
    val written = if (o.toy) 1 else SearchSetupReps
    val dir = s"${o.work}/search"

    // set-up: one corpus per rep, each of its own conversations, generated
    // and written to parquet
    val setupS = (0 until written).map { r =>
      val t0 = System.nanoTime()
      spark.range(r.toLong * convs, (r + 1L) * convs, 1L, 2 * o.cores).as[Long]
        .flatMap(c => Gen.conversation(seed, c))
        .write.parquet(s"$dir/turns-$r")
      Stats.secs(System.nanoTime() - t0)
    }
    ctx.metric("setup_s", Stats.median(setupS), "s")
    ctx.context("setup_s_reps") = setupS
    ctx.phase("setup")
    val turns = convs.toLong * Gen.TurnsPerConv

    // timed phase 1: a cold bulk build of each of the last n corpora. Each
    // build reads its own conversations, so nothing one build leaves behind
    // can serve the next; the clients query the last index.
    val builds = (written - n until written).map { i =>
      val out = s"$dir/idx-$i"
      if (i > written - n) Fs.delete(s"$dir/idx-${i - 1}")
      val t0 = System.nanoTime()
      val s = ctx.asRequest("b") { _ =>
        ctx.tracer.span("index.build") {
          IndexBuildJob.run(spark, IndexBuildJob.Args(input = s"$dir/turns-$i",
            output = out, buckets = 16, targetRun = 1L << 16))
        }
      }
      (Stats.secs(System.nanoTime() - t0), s)
    }
    val root = s"$dir/idx-${written - 1}"
    val firstConv = (written - 1L) * convs
    val textBytes = spark.read.parquet(s"$dir/turns-${written - 1}")
      .agg(sum(octet_length($"text"))).as[Long].head()
    val buildS = builds.map(_._1)
    ctx.metric("index_turns_per_sec", Stats.median(buildS.map(turns / _)), "turns/s")
    ctx.metric("publish_p50_s", Stats.median(buildS), "s")
    ctx.phase("build")

    // timed phase 2: closed-loop clients
    val clients = (0 until Clients).map(i =>
      new Client(ctx, root, i, rng => firstConv + rng.nextInt(convs)))
    parallel(Clients)(i => (0 until WarmupQueries).foreach(_ => clients(i).runOne(record = false)))
    ctx.phase("warmup")
    val t0 = System.nanoTime()
    val deadline = t0 + o.seconds * 1000000000L
    parallel(Clients) { i => while (System.nanoTime() < deadline) clients(i).runOne(record = true) }
    val elapsed = System.nanoTime() - t0
    ctx.metric("heap_live_mb", ctx.liveHeapMb(), "MB")
    val calls = clients.flatMap(_.calls)
    val p50 = queryMetrics(ctx, calls, elapsed)
    ctx.metric("index_bytes_per_text_byte", sizes(ctx, turns, textBytes, root), "ratio")
    ctx.context("clients") = Clients
    ctx.phase("queries")

    // answer checks, untimed
    val plain = clients.flatMap(_.plainQueries)
    Checks.againstBruteForce(ctx, root, Checks.sample(seed, plain, ChecksPerRun))
    val rng = new SplittableRandom(Gen.mix(seed, 0x3A4CL))
    Checks.markers(ctx, root, Seq.fill(2)(firstConv + rng.nextInt(convs)))
    ctx.phase("checks")
    Ran(root, calls, plain, p50, builds = builds.map(_._2))
  }

  val IngestBase = 1000000
  val IngestBuckets = 8
  val IngestTargetRun: Long = 1L << 16
  val CompactEvery = 4
  /** timed commits; with the set-up's batch 0, the third is the root's
    * fourth batch, so every run ends its writes with one compaction.
    * publish_p50_s is their median, which neither the first commit to a
    * root (the slowest: the append path is still compiling) nor one host
    * stall moves
    */
  val Commits = 3
  /** ingest: conversations (of 200 turns) per batch; a commit's cost is
    * mostly fixed, so small batches buy more commits per run
    */
  val BatchConvs = 5

  /** `ingest`: a writer committing batches to one index root (compaction
    * after every 4th batch of the root) and 4 closed-loop readers of the
    * same root, taking turns: a commit, then `2 * seconds / Commits`
    * queries from each reader. A fixed count, not a time slice, keeps the
    * share of reads that follow a commit closely the same in every run.
    */
  def ingest(ctx: Ctx): Ran = {
    val spark = ctx.spark
    import spark.implicits._
    val o = ctx.opts
    val seed = o.seed
    val perBatch = if (o.toy) 2 else BatchConvs
    val dir = s"${o.work}/ingest"
    // batch 0 (the set-up's) is one conversation, every later one perBatch
    def convsIn(batches: Int): Int = if (batches == 0) 0 else 1 + (batches - 1) * perBatch
    def batch(b: Int) = Gen.conversations(seed,
      IngestBase + convsIn(b) until IngestBase + convsIn(b + 1))
    def textOf(ts: Seq[graft.model.Turn]) = ts.map(_.text.length.toLong).sum

    // set-up: a fresh index root created by a first, small batch
    val setupS = (0 until reps(ctx)).map { r =>
      val t0 = System.nanoTime()
      StreamingIngest.ingestBatch(spark.createDataset(batch(0)), s"$dir/root-$r",
        IngestBuckets, IngestTargetRun, batchId = 0)
      Stats.secs(System.nanoTime() - t0)
    }
    ctx.metric("setup_s", Stats.median(setupS), "s")
    ctx.context("setup_s_reps") = setupS
    ctx.phase("setup")
    val root = s"$dir/root-${reps(ctx) - 1}"
    (0 until reps(ctx) - 1).foreach(r => Fs.delete(s"$dir/root-$r"))

    var committed = 1
    var textBytes = textOf(batch(0))
    val readers = (0 until Clients).map(i => new Client(ctx, root, i,
      rng => (IngestBase + rng.nextInt(convsIn(committed))).toLong))
    parallel(Clients)(i => (0 until WarmupQueries).foreach(_ => readers(i).runOne(record = false)))
    ctx.phase("warmup")

    // The readers take a slice of queries after each commit, never during
    // one: a commit appends to the live postings in place, and a reader
    // listing them meanwhile can fail on the commit's vanishing _temporary
    // directories.
    val readsPerSlice = math.max(1, 2 * o.seconds / Commits)
    val commits = mutable.ArrayBuffer[(Long, Long)]()
    val compacts = mutable.ArrayBuffer[(Long, Long)]()
    val reads = mutable.ArrayBuffer[(Long, Long)]()
    val filesAdded = mutable.ArrayBuffer[Int]()
    var ratio = Double.NaN
    for (b <- 1 to Commits) {
      val turns = batch(b)
      val ds = spark.createDataset(turns)
      val filesBefore = if (o.trace) Fs.listDataFiles(root).size else 0
      val c0 = System.nanoTime()
      ctx.attempt(s"ingestBatch $b") {
        ctx.asRequest("w") { _ =>
          ctx.tracer.span("streaming.ingestBatch") {
            StreamingIngest.ingestBatch(ds, root, IngestBuckets, IngestTargetRun, batchId = b)
          }
        }
      }
      commits += ((c0, System.nanoTime()))
      if (o.trace) filesAdded += Fs.listDataFiles(root).size - filesBefore
      textBytes += textOf(turns)
      committed = b + 1
      // batch 0 came from the set-up: compaction follows every
      // CompactEvery-th batch of the root
      if ((b + 1) % CompactEvery == 0) {
        val k0 = System.nanoTime()
        ctx.attempt(s"compact after $b") {
          ctx.asRequest("c") { _ =>
            ctx.tracer.span("streaming.compact")(Compaction.compact(spark, root))
          }
        }
        compacts += ((k0, System.nanoTime()))
        val (post, dict) = indexBytes(ctx, root)
        ratio = (post + dict).toDouble / textBytes
      }
      val r0 = System.nanoTime()
      parallel(Clients)(i => (0 until readsPerSlice).foreach(_ => readers(i).runOne(record = true)))
      reads += ((r0, System.nanoTime()))
    }
    val elapsed = reads.map { case (a, z) => z - a }.sum
    ctx.metric("heap_live_mb", ctx.liveHeapMb(), "MB")
    val calls = readers.flatMap(_.calls)
    val plain = readers.flatMap(_.plainQueries)
    val p50 = queryMetrics(ctx, calls, elapsed)
    val busyS = (commits ++ compacts).map { case (a, z) => Stats.secs(z - a) }.sum
    val turnsIn = convsIn(committed).toLong * Gen.TurnsPerConv
    ctx.metric("index_turns_per_sec",
      (convsIn(committed) - convsIn(1)).toLong * Gen.TurnsPerConv / busyS, "turns/s")
    val commitS = commits.map { case (a, z) => Stats.secs(z - a) }.toSeq
    ctx.metric("publish_p50_s", Stats.median(commitS), "s")
    ctx.context("commit_s") = commitS
    sizes(ctx, turnsIn, textBytes, root)
    // measured right after the compaction: the index as the stream keeps it
    ctx.metric("index_bytes_per_text_byte", ratio, "ratio")
    ctx.context("batches") = committed
    ctx.context("compactions") = compacts.size
    ctx.context("clients") = Clients
    ctx.phase("timed")

    // answer checks, untimed
    ctx.check("n_docs equals the turns ingested") {
      Catalog.readCorpusStats(spark, IndexPaths(root)).n_docs == turnsIn
    }
    val rng = new SplittableRandom(Gen.mix(seed, 0x3A4CL))
    Checks.markers(ctx, root, (0 until committed).map(bi =>
      (IngestBase + convsIn(bi) + rng.nextInt(convsIn(bi + 1) - convsIn(bi))).toLong))
    Checks.againstBruteForce(ctx, root, Checks.sample(seed, plain, ChecksPerRun))
    ctx.phase("checks")
    Ran(root, calls, plain, p50,
      commits = commits.toSeq,
      compactS = compacts.map { case (a, z) => Stats.secs(z - a) }.toSeq,
      filesAdded = filesAdded.toSeq)
  }
}
