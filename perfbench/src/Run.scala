package perfbench

import java.nio.file.{Files, Paths}

import graft.service.FlockService

/** One run of `serve_read` or `write_mix`: set-up, warm-up, then either the timed
  * window with its concurrent clients (trace 0) or the traced single-client window plus
  * the per-layer probes (trace 1).
  */
final class Run(a: Main.Args, report: Report) {
  import Main._

  private val shape = Gen.StoreShape
  private val serving = a.workload == "serve_read"
  private val info = report.info
  /** Writer batches whose execute latency makes `op_ms` on `write_mix`: about 15 s of a
    * 20 s window on a 4-vCPU VM, so they finish in every run unless the write path slows.
    */
  private val HeadlineBatches = 4

  def go(): Unit = {
    info("nproc") = Cpus
    info("workload") = a.workload
    info("seed") = a.seed
    val load0 = loadAvg
    val (spark, sessionS) = timeS(session(a.out))
    val tracer = if (a.trace) Some(new SparkTrace) else None
    tracer.foreach(spark.sparkContext.addSparkListener)

    val (model, modelS) = timeS(Model.base(a.seed, shape))
    info("model_build_s") = modelS
    info("store_edges") = model.size
    val builds = (1 to (if (a.trace) 1 else SetupRepeats)).map(_ => timeS(buildStore(spark, a.seed, shape)))
    val base = new FlockService(builds.last._1)
    val buildS = Stats.median(builds.map(_._2))
    info("store_build_s") = builds.map(_._2)

    val clients = if (a.trace) 1 else if (serving) 4 else 2
    val warmS = warmUp(base, clients, model)
    val writerWarmS = if (serving || a.trace) 0.0 else timeS(writerWarmUp(base))._2
    val setupS = sessionS + buildS + warmS + writerWarmS
    info("setup_parts_s") = Map("session" -> sessionS, "store_build_median" -> buildS,
      "read_warmup" -> warmS, "writer_warmup" -> writerWarmS)

    if (!a.trace) {
      if (serving) serveWindow(base, model) else writeWindow(base, model)
      report.metric("setup_s", setupS, "s")
      report.metric("heap_live_mb", liveHeapMb, "MB")
      info("host.cal_s") = calibrate(spark)
      info("host.loadavg_start") = load0
      info("host.loadavg_end") = loadAvg
      info("jvm.gc_ms") = gcMs
    } else {
      val t = new Traced(spark, a, report, tracer.get, shape, model)
      val store = t.window(base)
      t.layerProbes(store)
      report.metric("host.cal_s", calibrate(spark), "s")
      report.metric("host.loadavg_start", load0, "load")
      report.metric("host.loadavg_end", loadAvg, "load")
      t.batch()
      report.metric("jvm.gc_ms", gcMs.toDouble, "ms")
      t.writeChain()
      t.writeSpans()
    }
  }

  private def readStream(client: Int): Long => Gen.Read =
    i => Gen.cycled(if (serving) Gen.MixCycle else Gen.ReaderCycle, a.seed, shape, skewed = serving, client, i)

  /** Rounds of reads on `clients` threads until a round is no longer >10% faster than
    * the best earlier one (at least 3 rounds, at most 10 s). A fixed 5-call warm-up was
    * measured to leave latency still falling.
    */
  private def warmUp(svc: FlockService, clients: Int, model: Model): Double = {
    val t0 = System.nanoTime()
    var best = Double.MaxValue
    var round = 0
    var done = false
    while (!done) {
      val threads = (0 until clients).map { c =>
        val next = readStream(1000 + c)
        val t = new Thread(() => (0 until 2).foreach { k =>
          Reader.perform(svc, next(round * 2L + k), Some(model), report, traced = false, _ => ())
        })
        t.setDaemon(true)
        t.start()
        t
      }
      val (_, s) = timeS(threads.foreach(_.join()))
      round += 1
      val elapsed = (System.nanoTime() - t0) / 1e9
      done = (round >= 3 && s > 0.9 * best) || elapsed > 10
      best = math.min(best, s)
    }
    info("warmup_rounds") = round
    (System.nanoTime() - t0) / 1e9
  }

  /** Two executes (with read-back) on a throwaway chain from the base store. */
  private def writerWarmUp(svc: FlockService): Unit = {
    val warmModel = Model.base(a.seed, shape)
    var cur = svc
    (0 until 2).foreach { k =>
      val ops = Gen.writeBatch(a.seed + 1, shape, k)
      cur = cur.execute(ops)
      warmModel.execute(ops)
      Writer.readBack(cur, ops, warmModel, report)
    }
  }

  /** Readers finish or hit their deadline; stuck ones count one failed request each. */
  private def settle(cs: Seq[Client]): (Seq[Call], Int) = {
    val stuck = cs.count(_.finish())
    (cs.flatMap(_.calls), stuck)
  }

  /** Read metrics of a window: throughput end to end; medians and tail in the summary. */
  private def readMetrics(calls: Seq[Call], windowS: Double): Unit = {
    val lat = Calls.lat(calls)
    Gen.ReadOps.foreach { op =>
      val xs = Calls.lat(calls.filter(_.op == op))
      if (xs.nonEmpty) info(s"${op}_p50_ms") = Map("value" -> Stats.median(xs), "samples" -> xs.size)
    }
    info("read_p50_ms") = Map("value" -> Stats.median(lat), "samples" -> lat.size)
    report.metric("ops_s", lat.size / windowS, "1/s", lat.size)
    Stats.tail(lat).foreach { case (q, v) =>
      info("read_tail_ms") = Map("value" -> v, "percentile" -> q, "samples" -> lat.size)
    }
    Files.write(Paths.get(a.out, "calls.tsv"),
      calls.map(c => s"${c.op}\t${c.startUs}\t${c.ms}\t${c.status}").mkString("\n").getBytes("UTF-8"))
  }

  private def serveWindow(svc: FlockService, model: Model): Unit = {
    val start = Clock.nowUs
    val until = start + a.seconds * 1000000L
    val cs = (0 until 4).map(c => new Client(readStream(c), () => svc, Some(model), report, until))
    cs.foreach(_.start())
    cs.foreach(c => c.join(math.max(1L, (until - Clock.nowUs) / 1000)))
    val (calls, stuck) = settle(cs)
    val windowS = a.seconds.toDouble
    report.attempted = calls.size + stuck
    report.failed = Calls.failed(calls) + stuck
    readMetrics(calls, windowS)
    val lat = Calls.lat(calls)
    report.metric("op_ms", Stats.mean(lat), "ms", lat.size)
    info("stuck_clients") = stuck
  }

  private def writeWindow(base: FlockService, model: Model): Unit = {
    val start = Clock.nowUs
    val until = start + a.seconds * 1000000L
    val writer = new Writer(a.seed, shape, base, model, report, until)
    writer.setUncaughtExceptionHandler((_, e) => report.error(e))
    val cs = (0 until 2).map(c => new Client(readStream(c), () => writer.current, None, report, until))
    writer.start()
    cs.foreach(_.start())
    cs.foreach(c => c.join(math.max(1L, (until - Clock.nowUs) / 1000)))
    val (calls, stuckReaders) = settle(cs)
    // the writer's batch in flight gets until its deadline
    val inf = writer.inflightUs
    if (inf >= 0)
      writer.join(math.max(0L, math.min((inf - Clock.nowUs) / 1000 + ExecuteDeadlineMs,
        (remainingS * 1000).toLong)) + 200)
    val batches = writer.batches
    val windowS = (math.max(Clock.nowUs, until) - start) / 1e6
    // a writer still busy past its deadline is stuck: that batch fails, and so does
    // every batch of its script it would have issued once per deadline since
    val stuckFrom = if (writer.isAlive) writer.inflightUs else -1L
    val unattempted =
      if (stuckFrom < 0) Seq.empty
      else {
        val over = math.max(0L, Clock.nowUs - stuckFrom - ExecuteDeadlineMs * 1000L)
        val n = 1 + (over / (ExecuteDeadlineMs * 1000L)).toInt
        (writer.inflightBatch until writer.inflightBatch + n)
      }
    val failedBatches = batches.filter(_.status != "ok").map(_.index) ++ unattempted
    info("write_batches") = batches
    info("write.first_failed_op") = if (failedBatches.isEmpty) 0 else failedBatches.min + 1
    info("writer_stuck") = stuckFrom >= 0
    val okBatches = batches.filter(_.status == "ok")
    // the writer's first HeadlineBatches batches are the same requests in every run at
    // this seed; one that did not finish in time counts as its deadline
    val headline = (0 until HeadlineBatches).map { i =>
      batches.find(_.index == i).filter(_.status == "ok").map(_.executeMs).getOrElse(ExecuteDeadlineMs.toDouble)
    }
    report.attempted = calls.size + stuckReaders + batches.size + unattempted.size
    report.failed = Calls.failed(calls) + stuckReaders + failedBatches.size
    // readers stop at the window's end; the writer may run on to its deadline
    readMetrics(calls, a.seconds.toDouble)
    report.metric("op_ms", Stats.mean(headline), "ms", headline.size)
    info("execute_p50_ms") = Map("value" -> (if (okBatches.isEmpty) 0.0 else Stats.median(okBatches.map(_.executeMs))),
      "samples" -> okBatches.size)
    info("write_edge_ops_s") = okBatches.map(_.ops).sum / windowS
  }
}

/** Writes spans as JSON lines. */
object SpanFile {
  def write(path: String, spans: Seq[Span]): Unit =
    Files.write(Paths.get(path), spans.map(s => Json(s)).mkString("", "\n", "\n").getBytes("UTF-8"))
}
