package graft.perfbench

import graft.io.Fs
import graft.io.Catalog.IndexPaths

/** The per-layer metrics of a traced run, named `<layer>.<metric>` after the
  * engine's modules. A layer the workload does not run reports 0 and is
  * listed under `absent_layers` in the run's context.
  */
object Layers {
  private val MB = 1048576.0

  private def div(a: Double, b: Double): Double = if (b == 0) 0.0 else a / b

  def report(ctx: Ctx, workload: String, ran: Ran): Unit = {
    val spark = ctx.spark
    org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
    val st = ctx.sparkTrace.get
    val spans = ctx.tracer.spans
    def m(name: String, v: Double, unit: String): Unit =
      ctx.metric(name, if (v.isNaN || v.isInfinite) 0.0 else v, unit)
    def spanMs(name: String) = Stats.median(spans.filter(_.name == name).map(_.ms))
    val absent = scala.collection.mutable.ArrayBuffer[String]()

    // core: kernel timings on the workload's own text and blocks
    val firstConv = if (workload == "ingest") Workloads.IngestBase.toLong else 0L
    val texts = (0 until 5).flatMap(c => Gen.conversation(ctx.opts.seed, firstConv + c)).map(_.text)
    m("core.tokenize_ns_per_token", Kernels.tokenizeNsPerToken(texts), "ns")
    val qbs = Kernels.blocksOf(spark, ran.root,
      Checks.sample(ctx.opts.seed ^ 1L, ran.plainQueries, 20))
    val (dec, enc) = Kernels.codecNsPerPosting(qbs)
    m("core.decode_ns_per_posting", dec, "ns")
    m("core.encode_ns_per_posting", enc, "ns")

    // search: the engine calls of the traced requests
    val traced = ran.calls.filter(_.traced)
    val untraced = ran.calls.filterNot(_.traced)
    val constructMs = Stats.median(traced.map(c => Stats.ms(c.constructNs - c.startNs)))
    val nq = ctx.requests("q").toDouble
    val q = st.acc("q")
    m("search.construct_ms", constructMs, "ms")
    m("search.execute_ms", Stats.median(traced.map(c => Stats.ms(c.endNs - c.constructNs))), "ms")
    m("search.catalyst_ms", div(q.catalystMs, q.catalystN), "ms")
    m("search.jobs_per_query", div(q.jobs, nq), "count")
    m("search.stages_per_query", div(q.stages, nq), "count")
    m("search.tasks_per_query", div(q.tasks, nq), "count")
    m("search.task_ms_per_query", div(q.taskMs, nq), "ms")
    m("search.task_wait_ms", div(q.waitMs, q.tasks), "ms")
    m("search.shuffle_kb_per_query", div(q.shuffleWriteB / 1024.0, nq), "KB")
    m("search.input_kb_per_query", div(q.inputB / 1024.0, nq), "KB")
    val wand = Kernels.wandMs(spark, ran.root, qbs)
    m("search.wand_ms", wand, "ms")
    val meanPostings = Stats.mean(qbs.map(_.postings.toDouble))
    m("search.kernel_share", div(wand + dec * meanPostings / 1e6, ran.queryP50Ms), "ratio")
    m("search.construct_share", div(constructMs, ran.queryP50Ms), "ratio")

    // io + index reads: the driver-side reads, timed before traced calls
    m("index.read_meta_ms", spanMs("index.read_meta"), "ms")
    m("io.corpus_stats_ms", spanMs("io.corpus_stats"), "ms")
    m("io.dict_ms", spanMs("io.dict"), "ms")
    m("io.fingerprint_ms", spanMs("io.fingerprint"), "ms")
    m("io.list_ms", spanMs("io.list"), "ms")
    val filesEnd = Fs.listDataFiles(ran.root).size
    m("io.data_files", filesEnd, "count")

    // index: the bulk builds
    val nb = ctx.requests("b").toDouble
    val b = st.acc("b")
    if (ran.builds.isEmpty) absent += "index.build"
    def wall(stage: String) =
      Stats.median(ran.builds.flatMap(_.stageWalls.get(stage)).map(_ / 1000.0))
    m("index.docid_assign_s", wall("docid_assign"), "s")
    m("index.spimi_s", wall("spimi"), "s")
    m("index.finalize_s", wall("finalize"), "s")
    m("index.shuffle_write_mb", div(b.shuffleWriteB / MB, nb), "MB")
    m("index.shuffle_read_mb", div(b.shuffleReadB / MB, nb), "MB")
    m("index.output_mb", div(b.outputB / MB, nb), "MB")
    m("index.spill_mb", div(b.spillB / MB, nb), "MB")
    val skews = b.stageTaskMs.values.filter(_.size >= 2).map { ts =>
      div(ts.max.toDouble, Stats.median(ts.map(_.toDouble).toSeq))
    }
    m("index.task_skew", if (skews.isEmpty) 0.0 else skews.max, "ratio")
    val paths = IndexPaths(ran.root)
    m("index.postings_mb", ctx.dirBytes(paths.postings) / MB, "MB")
    m("index.dictionary_mb", ctx.dirBytes(paths.dictionary) / MB, "MB")

    // streaming: the writer's commits and compactions
    val nw = ctx.requests("w").toDouble
    val w = st.acc("w")
    if (ran.commits.isEmpty) absent += "streaming"
    m("streaming.bytes_written_mb_per_batch", div(w.outputB / MB, nw), "MB")
    m("streaming.files_added_per_batch", Stats.mean(ran.filesAdded.map(_.toDouble)), "count")
    m("streaming.jobs_per_batch", div(w.jobs, nw), "count")
    m("streaming.compact_s", Stats.median(ran.compactS), "s")
    m("streaming.data_files_end", if (ran.commits.isEmpty) 0.0 else filesEnd, "count")
    // the first read after each commit pays for what the commit invalidated
    val afterCommit = ran.commits.flatMap { case (_, z) => ran.calls.find(_.startNs >= z) }
    m("streaming.first_read_after_commit_ms", Stats.median(afterCommit.map(_.ms)), "ms")

    // tracing overhead: traced against untraced calls of the same run
    val on = Stats.median(traced.map(_.ms))
    val off = Stats.median(untraced.map(_.ms))
    m("trace.overhead_pct", 100.0 * div(on - off, off), "%")
    ctx.context("absent_layers") = absent.toSeq
    // request time no layer span covers; a large share means the layers
    // were not separated
    val reqs = spans.filter(_.name == "request")
    val selfNs = ctx.tracer.selfMs
    val unattributed = div(reqs.map(r => selfNs(r.id)).sum, reqs.map(_.ms).sum)
    m("trace.unattributed_share", unattributed, "ratio")
    ctx.context("layers_separated") = unattributed < 0.2
    ctx.context("self_ms_by_span") = selfTimes(ctx)
  }

  /** Total and median self time per span name, with span counts. */
  def selfTimes(ctx: Ctx): Map[String, Map[String, Double]] = {
    val self = ctx.tracer.selfMs
    ctx.tracer.spans.groupBy(_.name).map { case (name, ss) =>
      val selves = ss.map(s => self(s.id))
      name -> Map("count" -> ss.size.toDouble, "total_ms" -> ss.map(_.ms).sum,
        "self_total_ms" -> selves.sum, "self_p50_ms" -> Stats.median(selves))
    }
  }
}
