package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.model._
import graft.queries._
import graft.service.FlockService
import graft.store.EdgeStore

/** One benchmark run: `--workload serve_read|write_mix --seed n --seconds s --trace 0|1
  * --out dir --budget-s b`, or `--workload selftest`. Writes `result.json` (and with
  * tracing `spans.jsonl`) into `--out`; `run.py` turns that into the result line.
  */
object Main {

  /** Per-request deadlines. A request past its deadline counts as failed. */
  val ReadDeadlineMs = 5000
  val ExecuteDeadlineMs = 10000
  /** Compaction cadence of the writer (`StreamingEdgeIngest`'s default). */
  val CompactEvery = 8
  /** Set-ups per untraced run; `setup_s` takes their median build time. */
  val SetupRepeats = 3
  val Cpus: Int = Runtime.getRuntime.availableProcessors

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, out: String, budgetS: Double)

  private val startNs = System.nanoTime()
  @volatile var budgetS: Double = 170.0
  def elapsedS: Double = (System.nanoTime() - startNs) / 1e9
  def remainingS: Double = budgetS - elapsedS

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    Args(kv("workload"), kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "20").toInt,
      kv.getOrElse("trace", "0") == "1", kv.getOrElse("out", "."), kv.getOrElse("budget-s", "170").toDouble)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    budgetS = a.budgetS
    if (a.workload == "selftest") {
      val ok = SelfTest.run()
      Runtime.getRuntime.halt(if (ok) 0 else 1)
    }
    val report = new Report
    Files.createDirectories(Paths.get(a.out))
    var code = 0
    try {
      a.workload match {
        case "serve_read" | "write_mix" => new Run(a, report).go()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        code = 2
        report.error(e)
    } finally {
      Files.writeString(Paths.get(a.out, "result.json"), report.json)
      System.out.flush()
      // a writer stuck in planning never returns; halting ends the run regardless
      Runtime.getRuntime.halt(code)
    }
  }

  def session(out: String): SparkSession = {
    val spark = GraftSession.builder(Cpus)
      .config("spark.local.dir", s"$out/spark")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The compacted base store: the generated write log folded once and materialized,
    * the shape a deployment serves from (`TestGraph.compactedStore`).
    */
  def buildStore(spark: SparkSession, seed: Long, shape: Gen.Shape): EdgeStore = {
    import spark.implicits._
    val log = spark.range(0L, shape.writes, 1L, Cpus * 2)
      .map(i => Gen.baseWrite(seed, shape, i))
      .toDF("graph_id", "source_id", "destination_id", "position", "updated_at", "state")
      .withColumn("count", lit(0))
      .select(EdgeStore.edgeCols: _*)
    new EdgeStore(EdgeStore(log).snapshot.localCheckpoint(eager = true), None, Some(Gen.BaseHorizon))
  }

  /** Write ops as the DataFrame `FlockService.execute` hands to the store. */
  def opsDF(spark: SparkSession, ops: Seq[WriteOp]): DataFrame = {
    import spark.implicits._
    ops.toDF("graphId", "sourceId", "destinationId", "state", "updatedAt", "position", "isForward")
      .select(col("graphId").as("graph_id"), col("sourceId").as("source_id"),
        col("destinationId").as("destination_id"), col("state"), col("updatedAt").as("updated_at"),
        col("position"), col("isForward").as("is_forward"))
  }

  def compact(store: EdgeStore): EdgeStore =
    new EdgeStore(store.snapshot.localCheckpoint(eager = true), store.vertexLog, store.compactionHorizon)

  def timeS[A](f: => A): (A, Double) = {
    val t = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t) / 1e9)
  }

  /** The fixed synthetic aggregation of `Bench`'s in-loop calibration: a load
    * reference that does not depend on the workload's data.
    */
  def calibrate(spark: SparkSession): Double =
    timeS {
      spark.range(0L, 40000000L, 1L, 32)
        .selectExpr("xxhash64(id) % 1024 AS k")
        .groupBy("k").count()
        .write.format("noop").mode("overwrite").save()
    }._2

  def loadAvg: Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble)
      .getOrElse(-1.0)

  def gcMs: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
  }

  /** Used heap after full collections. */
  def liveHeapMb: Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory - rt.freeMemory) / (1024.0 * 1024.0)
  }
}

/** Metrics, counts and answer-check outcomes of one run. */
final class Report {
  val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val samples = mutable.LinkedHashMap.empty[String, Int]
  val info = mutable.LinkedHashMap.empty[String, Any]
  private val mismatches = mutable.ArrayBuffer.empty[String]
  private var mismatchCount = 0
  private var errors = List.empty[String]
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String, n: Int = 0): Unit = {
    metrics(name) = (value, unit)
    if (n > 0) samples(name) = n
  }

  def mismatch(msg: String): Unit = synchronized {
    mismatchCount += 1
    if (mismatches.size < 20) mismatches += msg
    System.err.println(s"[perfbench] ANSWER MISMATCH: $msg")
  }

  def error(e: Throwable): Unit = synchronized {
    val sw = new java.io.StringWriter
    e.printStackTrace(new java.io.PrintWriter(sw))
    errors ::= sw.toString.take(4000)
    System.err.println(s"[perfbench] ERROR: $sw")
  }

  def correct: Boolean = synchronized(mismatchCount == 0 && errors.isEmpty)

  def json: String = synchronized {
    Json(mutable.LinkedHashMap[String, Any](
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) },
      "samples" -> samples,
      "mismatches" -> mismatchCount,
      "mismatch_examples" -> mismatches.toList,
      "errors" -> errors,
      "info" -> info))
  }
}
