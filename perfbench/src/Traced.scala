package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.model._
import graft.queries._
import graft.service.FlockService
import graft.store.EdgeStore
import graft.testgraph.TestGraph

/** The traced run: one client thread, spans around every call into a layer, and the
  * listener's jobs attributed to the call whose time window they started in.
  */
final class Traced(spark: SparkSession, a: Main.Args, report: Report, tracer: SparkTrace,
    shape: Gen.Shape, model: Model) {
  import Main._

  private val spans = new Spans
  private val serving = a.workload == "serve_read"
  private var request = 1000000L

  private def drain(): Unit = org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)

  /** Times `f` as a span; returns its result and the span. */
  private def span[A](name: String)(f: => A): (A, Span) = {
    request += 1
    val t0 = Clock.nowUs
    val r = f
    (r, spans.record(0L, request, name, t0, Clock.nowUs))
  }

  /** Spark job spans, parented to the call span each job started in. */
  private def jobSpans(calls: Seq[Span]): Unit = {
    drain()
    tracer.allJobs.foreach { j =>
      val parent = calls.find(c => j.startUs >= c.startUs - 1000 && j.startUs <= c.endUs)
      spans.record(parent.map(_.id).getOrElse(0L), parent.map(_.request).getOrElse(0L),
        s"spark.job.${j.id}", j.startUs, if (j.endUs < 0) Clock.nowUs else j.endUs)
    }
  }

  private val callSpans = mutable.ArrayBuffer.empty[Span]

  private def perOp(op: String, windows: Seq[(Long, Long)]): Unit = {
    val ws = windows.map { case (s, e) => (tracer.work(s, e), (e - s) / 1000.0) }
    def mean(f: SparkWork => Double): Double = Stats.mean(ws.map(w => f(w._1)))
    val n = ws.size
    report.metric(s"spark.jobs.$op", mean(_.jobs), "count", n)
    if (op != "execute") {
      report.metric(s"spark.stages.$op", mean(_.stages), "count", n)
      report.metric(s"spark.tasks.$op", mean(_.tasks), "count", n)
      report.metric(s"spark.task_ms.$op", mean(_.taskMs.toDouble), "ms", n)
      report.metric(s"spark.shuffle_bytes.$op", mean(w => (w.shuffleReadBytes + w.shuffleWriteBytes).toDouble), "bytes", n)
      report.metric(s"driver.ms.$op", Stats.median(ws.map { case (w, ms) => ms - w.busyUs / 1000.0 }), "ms", n)
    }
    val first = ws.flatMap(_._1.firstJobUs).map(_ / 1000.0)
    report.metric(s"driver.first_job_ms.$op", if (first.isEmpty) 0.0 else Stats.median(first), "ms", first.size)
  }

  /** The traced window: reads cycle through every op type so each gets samples;
    * blocks of six alternate between traced (spans kept) and untraced, and the latency
    * difference between them is the tracing overhead. On `write_mix` each block follows
    * one writer batch, and the single client thread checks reads against the model,
    * which then matches the service it reads. Returns the store the window ended on.
    */
  def window(base: FlockService): EdgeStore = {
    val until = Clock.nowUs + a.seconds * 1000000L
    var svc = base
    val window = mutable.ArrayBuffer.empty[Call]
    val execWindows = mutable.ArrayBuffer.empty[Batch]
    var block = 0
    var stuck = false
    while (Clock.nowUs < until && !stuck) {
      val traced = block % 2 == 0
      if (!serving) {
        val step = Reader.withDeadline(ExecuteDeadlineMs + ReadDeadlineMs) {
          span("service.execute") {
            Writer.step(a.seed, shape, block, svc, model, report, s => svc = s)
          }
        }
        step match {
          case Some((b, s)) =>
            execWindows += b
            callSpans += s
          case None => stuck = true
        }
      }
      if (!stuck) Gen.ReadOps.zipWithIndex.foreach { case (op, k) =>
        val r = Gen.read(a.seed, shape, skewed = serving, 0, block * 6L + k, only = Some(op))
        Reader.perform(svc, r, Some(model), report, traced, c => {
          window += c
          if (traced) callSpans += spans.record(0L, block * 6L + k, s"service.${c.op}", c.startUs, c.endUs)
        })
      }
      block += 1
    }
    drain()
    val calls = window.toList
    report.attempted += calls.size + execWindows.size + (if (stuck) 1 else 0)
    report.failed += Calls.failed(calls) + execWindows.count(_.status != "ok") + (if (stuck) 1 else 0)
    Gen.ReadOps.foreach { op =>
      perOp(op, Calls.ok(calls.filter(c => c.op == op && c.traced)).map(c => (c.startUs, c.endUs)))
    }
    val p50 = (on: Boolean) => Gen.ReadOps.flatMap { op =>
      val xs = Calls.lat(calls.filter(c => c.op == op && c.traced == on))
      if (xs.isEmpty) None else Some(op -> Stats.median(xs))
    }.toMap
    val (on, off) = (p50(true), p50(false))
    val both = on.keySet intersect off.keySet
    report.metric("trace.overhead_pct",
      if (both.isEmpty) 0.0 else 100.0 * (both.toSeq.map(on).sum / both.toSeq.map(off).sum - 1), "%",
      calls.size)
    report.info("window_execute_batches") = execWindows.toList
    svc.store
  }

  /** Direct calls into the `queries` and `store` layers on the window's store. */
  def layerProbes(store: EdgeStore): Unit = {
    val programs = (0 until 5).flatMap { i =>
      Gen.read(a.seed, shape, skewed = serving, 2, i, only = Some("count2")) match {
        case Gen.Count2(ps) => ps
        case _ => Nil
      }
    }
    val compileMs = (0 until 20).flatMap(_ => programs).map { p =>
      val t = System.nanoTime(); SelectCompiler(p); (System.nanoTime() - t) / 1e6
    }
    report.metric("queries.compile_ms", Stats.median(compileMs), "ms", compileMs.size)
    val leaf = programs.grouped(10).toSeq.take(3).map { batch =>
      span("queries.leaf_stats")(QueryNode.leafStats(store, batch.flatMap(SelectCompiler(_).leafTerms)))._2
    }
    report.metric("queries.leaf_stats_ms", Stats.median(leaf.map(s => (s.endUs - s.startUs) / 1000.0)), "ms", leaf.size)
    val fold = (0 until 3).map { _ =>
      span("store.snapshot_fold")(store.snapshot.write.format("noop").mode("overwrite").save())._2
    }
    report.metric("store.snapshot_fold_ms", Stats.median(fold.map(s => (s.endUs - s.startUs) / 1000.0)), "ms", fold.size)
    callSpans ++= leaf ++ fold
  }

  /** The FlockDB core operators and fixpoint loops of the graph batch, in order. */
  val BatchQueries: Seq[String] = Seq(
    "g01_lww_snapshot", "g03_intersection", "g04_difference", "g05_union", "g07_metadata",
    "g08_count2_estimates", "g09_cursor_page", "g10_contains", "g12_execute_lww",
    "g13_bulk_archive", "g14_copy_repair", "g18_vertex_domination", "g20_metadata_registers",
    "g26_metadata_patched", "g42_churn_between",
    "g29_connected_components", "g52_scc_reachability", "g57_msf")

  private lazy val eventsDir: String = {
    import spark.implicits._
    val dir = s"${a.out}/batch/input"
    val tmp = s"${a.out}/batch/events_tmp"
    val seed = a.seed
    spark.range(0L, Gen.EventRows.toLong, 1L, 4).map(i => Gen.event(seed, i))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.option("compression", "snappy")
      .mode("overwrite").parquet(tmp)
    Files.createDirectories(Paths.get(dir))
    val part = Files.list(Paths.get(tmp)).filter(_.toString.endsWith(".parquet")).findFirst().get
    Files.move(part, Paths.get(dir, "events.parquet"))
    dir
  }

  /** One pass over the batch operators on the generated events table. Each result is
    * written as parquet so `run.py` can check it against the DuckDB oracle after the
    * run; the write is the pass's sink.
    */
  def batch(): Unit = {
    val dir = eventsDir
    val results = s"${a.out}/batch/results"
    var totals = Seq.empty[SparkWork]
    var gaps = 0.0
    BatchQueries.foreach { q =>
      val (_, s) = span(s"batch.$q") {
        SparkEntry.queries(q)(spark, dir).write.mode("overwrite").parquet(s"$results/$q")
      }
      drain()
      callSpans += s
      val w = tracer.work(s.startUs, s.endUs)
      val wallMs = (s.endUs - s.startUs) / 1000.0
      val gap = wallMs - w.busyUs / 1000.0
      report.metric(s"batch.$q.s", wallMs / 1000.0, "s")
      report.metric(s"batch.$q.jobs", w.jobs.toDouble, "count")
      report.metric(s"batch.$q.driver_gap_ms", gap, "ms")
      totals :+= w
      gaps += gap
    }
    report.metric("batch.jobs", totals.map(_.jobs).sum.toDouble, "count")
    report.metric("batch.stages", totals.map(_.stages).sum.toDouble, "count")
    report.metric("batch.tasks", totals.map(_.tasks).sum.toDouble, "count")
    report.metric("batch.task_ms", totals.map(_.taskMs).sum.toDouble, "ms")
    report.metric("batch.shuffle_read_bytes", totals.map(_.shuffleReadBytes).sum.toDouble, "bytes")
    report.metric("batch.shuffle_write_bytes", totals.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    report.metric("batch.spill_bytes", totals.map(_.spillBytes).sum.toDouble, "bytes")
    report.metric("batch.driver_gap_ms", gaps, "ms")
    val oracle = BatchQueries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    Files.writeString(Paths.get(s"${a.out}/batch/oracle_sql.json"), Json(oracle))
    report.attempted += BatchQueries.size
  }

  /** Node count of a plan, stopping at `cap` (shared subtrees count once per use). */
  private def planNodes(df: org.apache.spark.sql.DataFrame, cap: Int = 1000000): Int = {
    var n = 0
    val stack = mutable.Stack[org.apache.spark.sql.catalyst.plans.logical.LogicalPlan](df.queryExecution.logical)
    while (stack.nonEmpty && n < cap) {
      val p = stack.pop()
      n += 1
      p.children.foreach(stack.push)
    }
    n
  }

  /** The writer chain on the batch phase's store (`TestGraph.compactedStore` of the
    * generated events), with `EdgeStore.applyOperations` called directly and timed, a
    * read-your-write after each batch and compaction every [[Main.CompactEvery]]. The
    * chain runs until a batch misses its deadline, 24 batches, or the run's time budget.
    * Runs last: a batch stuck in planning keeps its thread busy until the JVM exits.
    */
  def writeChain(): Unit = {
    val chainShape = Gen.Shape(vertices = Gen.EventUsers, writesPerGraph = 0, zipfS = 1.0, graphs = 3)
    val m = new Model
    var i = 0L
    while (i < Gen.EventRows) {
      val e = Gen.event(a.seed, i)
      val sb = (i * 13) % 10
      val st = if (sb < 7) State.Normal else if (sb == 7) State.Removed else if (sb == 8) State.Archived else State.Negative
      m.write((1 + i % 3).toInt, e._3, 1 + (i * 7919) % 97, i, (1000000 + (i * 31) % 500).toInt, st)
      i += 1
    }
    var store = TestGraph.compactedStore(spark, eventsDir)
    var logRows = m.size.toLong
    val apply = mutable.ArrayBuffer.empty[(Long, Long)]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    val nodes = mutable.ArrayBuffer.empty[Int]
    val rowsPerLive = mutable.ArrayBuffer.empty[Double]
    var firstFailed = 0
    var k = 0
    while (firstFailed == 0 && k < 24 && remainingS > ExecuteDeadlineMs / 1000.0 + 4) {
      val ops = Gen.writeBatch(a.seed, chainShape, k)
      val df = opsDF(spark, ops)
      val cur = store
      val step = Reader.withDeadline(ExecuteDeadlineMs) {
        val (next, s) = span("store.apply")(cur.applyOperations(df))
        val svc = new FlockService(next)
        m.execute(ops)
        Writer.readBack(svc, ops, m, report)
        (next, s)
      }
      report.attempted += 1
      step match {
        case None =>
          firstFailed = k + 1
          report.failed += 1
        case Some((next, s)) =>
          callSpans += s
          apply += ((s.startUs, s.endUs))
          store = next
          logRows += m.lastRows
          nodes += planNodes(store.log)
          rowsPerLive += logRows.toDouble / m.liveEdges
          if (k % CompactEvery == CompactEvery - 1) {
            Reader.withDeadline(ExecuteDeadlineMs)(span("store.compact")(compact(store))) match {
              case Some((c, s)) =>
                store = c
                logRows = m.size
                compactMs += (s.endUs - s.startUs) / 1000.0
                callSpans += s
              case None =>
                firstFailed = k + 1
                report.failed += 1
            }
          }
      }
      k += 1
    }
    drain()
    perOp("execute", apply.toSeq)
    report.metric("store.apply_ms", Stats.median(apply.map { case (s, e) => (e - s) / 1000.0 }.toSeq), "ms", apply.size)
    report.metric("store.compact_ms", if (compactMs.isEmpty) 0.0 else Stats.median(compactMs.toSeq), "ms", compactMs.size)
    val at = math.min(CompactEvery, nodes.size) - 1
    report.metric("store.log_plan_nodes", if (at < 0) 0.0 else nodes(at).toDouble, "count")
    report.metric("store.log_rows_per_live_edge", if (at < 0) 0.0 else rowsPerLive(at), "ratio")
    report.metric("write.first_failed_op", firstFailed.toDouble, "count")
    report.info("chain_plan_nodes") = nodes.toList
    report.info("chain_apply_ms") = apply.map { case (s, e) => (e - s) / 1000.0 }.toList
    report.info("chain_batches") = k
  }

  def writeSpans(): Unit = {
    jobSpans(callSpans.toSeq)
    SpanFile.write(s"${a.out}/spans.jsonl", spans.all)
    report.info("spans") = spans.all.size
  }
}
