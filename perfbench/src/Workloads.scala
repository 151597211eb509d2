package perfbench

import scala.collection.mutable

import graft.model._
import graft.queries._
import graft.service.FlockService

/** One service call as the client saw it. `status` is ok, late (past its deadline) or
  * error; only ok calls enter latency percentiles.
  */
final case class Call(op: String, startUs: Long, endUs: Long, status: String, traced: Boolean) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** Issues one generated read against a service and checks each answer against the model. */
object Reader {

  def perform(svc: FlockService, r: Gen.Read, model: Option[Model], report: Report,
      traced: Boolean, onCall: Call => Unit): Unit = {

    def call[A](op: String)(f: => A)(check: (Model, A) => Option[String]): Option[A] = {
      val t0 = Clock.nowUs
      val res = try Right(f) catch { case e: Throwable => Left(e) }
      val t1 = Clock.nowUs
      res match {
        case Left(e) =>
          report.error(e)
          onCall(Call(op, t0, t1, "error", traced))
          None
        case Right(v) =>
          onCall(Call(op, t0, t1, if (t1 - t0 > Main.ReadDeadlineMs * 1000L) "late" else "ok", traced))
          model.foreach(m => check(m, v).foreach(msg => report.mismatch(s"$op $r: $msg")))
          Some(v)
      }
    }
    def same[A](got: A, want: A): Option[String] =
      if (got == want) None else Some(s"got ${got.toString.take(300)}, want ${want.toString.take(300)}")

    r match {
      case Gen.Contains(g, s, d) =>
        call("contains")(svc.contains(s, g, d))((m, v) => same(v, m.contains(g, s, d)))
      case Gen.GetMetadata(g, s) =>
        call("get_metadata")(svc.getMetadata(s, g))((m, v) => same(v, m.metadata(g, s)))
      case Gen.SimpleSelect(term, n) =>
        val node = SimpleNode(term)
        def page(p: Page) =
          call("select")(svc.select(Seq(TermOp(term)), p))((m, v) => same(v, m.select(node, p)))
        for {
          first <- page(Page(n, Cursor.Start)) if first.nextCursor != Cursor.End
          next <- page(Page(n, first.nextCursor)) if next.prevCursor != Cursor.End
        } page(Page(n, next.prevCursor))
      case Gen.Compound(program, n) =>
        val p = Page(n, Cursor.Start)
        call("compound")(svc.select(program, p))((m, v) => same(v, m.select(SelectCompiler(program), p)))
      case Gen.Count2(programs) =>
        call("count2")(svc.count2(programs))((m, v) => same(v, m.count2(programs)))
      case Gen.SelectEdges(term, n) =>
        val p = Page(n, Cursor.Start)
        call("select_edges")(svc.selectEdges(term, p))((m, v) => same(v, m.selectEdges(term, p)))
    }
  }

  /** Runs `f` on its own thread and waits at most `ms`; None if it has not returned.
    * A call stuck in planning cannot be interrupted, so its thread is left behind.
    */
  def withDeadline[A](ms: Long)(f: => A): Option[A] = {
    val task = new java.util.concurrent.FutureTask[A](() => f)
    val t = new Thread(task, "perfbench-deadline")
    t.setDaemon(true)
    t.start()
    try Some(task.get(math.max(1L, ms), java.util.concurrent.TimeUnit.MILLISECONDS))
    catch {
      case _: java.util.concurrent.TimeoutException => None
      case e: java.util.concurrent.ExecutionException => throw Option(e.getCause).getOrElse(e)
    }
  }
}

/** A closed-loop client thread: sends its next read only after the previous one returns. */
final class Client(next: Long => Gen.Read, svc: () => FlockService, model: Option[Model],
    report: Report, untilUs: Long) extends Thread {
  setDaemon(true)
  private val buf = mutable.ArrayBuffer.empty[Call]
  @volatile var inflightUs: Long = -1L

  def calls: Seq[Call] = buf.synchronized(buf.toList)

  override def run(): Unit = {
    var i = 0L
    while (Clock.nowUs < untilUs) {
      inflightUs = Clock.nowUs
      Reader.perform(svc(), next(i), model, report, traced = false, c => buf.synchronized(buf += c))
      inflightUs = -1L
      i += 1
    }
  }

  /** Waits for the read in flight until its deadline; true if the client is stuck. */
  def finish(): Boolean = {
    val inf = inflightUs
    val waitMs =
      if (inf < 0) 0L else math.max(0L, (inf - Clock.nowUs) / 1000 + Main.ReadDeadlineMs)
    join(math.min(waitMs, (Main.remainingS * 1000).toLong.max(1L)) + 200)
    isAlive
  }
}

/** One writer batch. */
final case class Batch(index: Int, ops: Int, executeMs: Double, readbackMs: Double,
    compactMs: Double, status: String)

/** The writer: chains `FlockService.execute`, reads its own write back, publishes the
  * returned service, and compacts every [[Main.CompactEvery]] executes with the public
  * `new EdgeStore(snapshot.localCheckpoint(eager = true), vertexLog, compactionHorizon)`
  * step (`StreamingEdgeIngest`'s cadence).
  */
final class Writer(seed: Long, shape: Gen.Shape, start: FlockService, model: Model,
    report: Report, untilUs: Long) extends Thread {
  setDaemon(true)
  @volatile var current: FlockService = start
  @volatile var inflightUs: Long = -1L
  @volatile var inflightBatch: Int = -1
  private val buf = mutable.ArrayBuffer.empty[Batch]
  def batches: Seq[Batch] = buf.synchronized(buf.toList)

  override def run(): Unit = {
    var i = 0
    while (Clock.nowUs < untilUs) {
      inflightBatch = i
      inflightUs = Clock.nowUs
      val b = Writer.step(seed, shape, i, this.current, model, report, s => current = s)
      buf.synchronized(buf += b)
      inflightUs = -1L
      i += 1
    }
  }
}

object Writer {

  /** Execute batch `i`, read the write back, check it, publish, compact on cadence. */
  def step(seed: Long, shape: Gen.Shape, i: Int, svc: FlockService, model: Model, report: Report,
      publish: FlockService => Unit): Batch = {
    val ops = Gen.writeBatch(seed, shape, i)
    val t0 = System.nanoTime()
    val next = svc.execute(ops)
    val execMs = (System.nanoTime() - t0) / 1e6
    model.execute(ops)
    val readMs = readBack(next, ops, model, report)
    publish(next)
    var compactMs = 0.0
    if (i % Main.CompactEvery == Main.CompactEvery - 1) {
      val t1 = System.nanoTime()
      val compacted = new FlockService(Main.compact(next.store), next.config)
      compactMs = (System.nanoTime() - t1) / 1e6
      publish(compacted)
    }
    val late = execMs > Main.ExecuteDeadlineMs || readMs > Main.ReadDeadlineMs
    Batch(i, ops.size, execMs, readMs, compactMs, if (late) "late" else "ok")
  }

  /** Read-your-write: the last op's edge, or a wildcard op's vertex metadata. */
  def readBack(svc: FlockService, ops: Seq[WriteOp], model: Model, report: Report): Double = {
    val op = ops.last
    val t0 = System.nanoTime()
    val (got, want) = op.destinationId match {
      case Some(other) =>
        val (s, d) = if (op.isForward) (op.sourceId, other) else (other, op.sourceId)
        (svc.get(s, op.graphId, d), model.edge(op.graphId, s, d))
      case None =>
        (svc.getMetadata(op.sourceId, op.graphId), model.metadata(op.graphId, op.sourceId))
    }
    val ms = (System.nanoTime() - t0) / 1e6
    if (got != want) report.mismatch(s"read-your-write after $op: got $got, want $want")
    ms
  }
}

/** Aggregates shared by both run modes. */
object Calls {
  def ok(calls: Seq[Call]): Seq[Call] = calls.filter(_.status == "ok")
  def lat(calls: Seq[Call]): Seq[Double] = ok(calls).map(_.ms)
  def failed(calls: Seq[Call]): Int = calls.count(_.status != "ok")
}
