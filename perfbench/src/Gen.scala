package perfbench

import graft.model._
import graft.queries._

/** Seeded input generators. Every value is a pure function of (seed, index), so the
  * Spark tasks that build the store and the driver-side [[Model]] derive the same
  * writes without shipping data between them, and the same seed always yields the
  * same inputs (checked by [[SelfTest]]).
  */
object Gen {

  /** SplitMix64 finalizer: the mixing step behind every draw. */
  def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Independent uniform draw in [0, 1) for stream `stream`, element `i`, field `k`. */
  def unit(seed: Long, stream: Long, i: Long, k: Int): Double =
    (mix(mix(mix(mix(seed) ^ stream) ^ i) + k) >>> 11) * (1.0 / (1L << 53))

  def below(seed: Long, stream: Long, i: Long, k: Int, n: Int): Int =
    math.min(n - 1, (unit(seed, stream, i, k) * n).toInt)

  // ---------------------------------------------------------------- graph shape

  /** Generator parameters (recorded in NOTES.md). */
  final case class Shape(vertices: Int, writesPerGraph: Int, zipfS: Double, graphs: Int = 2) {
    def writes: Long = writesPerGraph.toLong * graphs
  }

  /** 2 graphs × 160k writes over 50k vertices per graph: about 280k distinct edges
    * after last-writer-wins collapses repeated keys. Hub out-degrees reach ~14k and hub
    * in-degrees ~7k, past `intersectionPageSizeMax` (4000).
    */
  val StoreShape: Shape = Shape(vertices = 50000, writesPerGraph = 160000, zipfS = 1.0)

  private val cdfCache = new java.util.concurrent.ConcurrentHashMap[(Int, Double), Array[Double]]()

  /** Cumulative Zipf(s) weights over ranks 0 until n (rank 0 is the heaviest). */
  def zipfCdf(n: Int, s: Double): Array[Double] =
    cdfCache.computeIfAbsent((n, s), _ => {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    })

  def zipfRank(cdf: Array[Double], u: Double): Int = {
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** Rank → vertex id: a fixed bijection onto [2, n + 2), so hubs are not simply the
    * smallest ids. Ids start at 2 because a backward cursor on id 1 would read -1,
    * which `Cursor` reserves for Start.
    */
  def vertexId(rank: Int, n: Int): Long = ((rank.toLong * 1000003L) % n) + 2

  /** Write `i` of the base log: (graph, source, destination, position, updatedAt, state).
    * Sources are Zipf-distributed (power-law out-degree); destinations are Zipf half of
    * the time and uniform otherwise, so hubs also have large in-degree while hub-to-hub
    * keys do not absorb most writes.
    */
  def baseWrite(seed: Long, shape: Shape, i: Long): (Int, Long, Long, Long, Int, Int) = {
    val cdf = zipfCdf(shape.vertices, shape.zipfS)
    val g = 1 + (i % shape.graphs).toInt
    val s = vertexId(zipfRank(cdf, unit(seed, 1, i, 0)), shape.vertices)
    val d =
      if (unit(seed, 1, i, 1) < 0.5) vertexId(zipfRank(cdf, unit(seed, 1, i, 2)), shape.vertices)
      else vertexId(below(seed, 1, i, 2, shape.vertices), shape.vertices)
    val position = 1000000000L + i * 8
    val updatedAt = BaseUpdatedAt + below(seed, 1, i, 3, BaseUpdatedAtSpan)
    val sb = below(seed, 1, i, 4, 100)
    val state =
      if (sb < 80) State.Normal else if (sb < 88) State.Removed
      else if (sb < 94) State.Archived else State.Negative
    (g, s, d, position, updatedAt, state)
  }

  val BaseUpdatedAt = 1000000
  val BaseUpdatedAtSpan = 1000
  /** Compaction horizon of the compacted base store: above every base write. */
  val BaseHorizon: Int = BaseUpdatedAt + BaseUpdatedAtSpan

  // ---------------------------------------------------------------- read requests

  sealed trait Read { def op: String }
  final case class Contains(g: Int, s: Long, d: Long) extends Read { val op = "contains" }
  final case class GetMetadata(g: Int, s: Long) extends Read { val op = "get_metadata" }
  /** A simple select: first page, then a forward and a backward cursor follow-up. */
  final case class SimpleSelect(term: QueryTerm, pageSize: Int) extends Read { val op = "select" }
  final case class Compound(program: Seq[SelectOperation], pageSize: Int) extends Read { val op = "compound" }
  final case class Count2(programs: Seq[Seq[SelectOperation]]) extends Read { val op = "count2" }
  final case class SelectEdges(term: QueryTerm, pageSize: Int) extends Read { val op = "select_edges" }

  val ReadOps: Seq[String] = Seq("contains", "get_metadata", "select", "compound", "count2", "select_edges")

  /** Read `i` of client stream `client`. `skewed` draws vertices from the store's Zipf
    * law (hubs are requested often); otherwise vertices are uniform.
    * Mix: 30% contains, 15% get_metadata, 25% simple select, 15% compound select,
    * 10% count2 (batches of 10), 5% select_edges.
    */
  def read(seed: Long, shape: Shape, skewed: Boolean, client: Int, i: Long,
      only: Option[String] = None): Read = {
    val stream = 100L + client
    val cdf = zipfCdf(shape.vertices, shape.zipfS)
    var k = 0
    def u(): Double = { k += 1; unit(seed, stream, i, k) }
    // the request's first vertex comes from a Weyl sequence with a seeded start: any
    // window of requests then covers the key distribution evenly, so the share of hub
    // requests in a short run does not move with the seed
    var first = true
    def vertexDraw(): Double =
      if (!first) u()
      else {
        first = false
        val x = unit(seed, stream, -1L, 0) + i * 0.6180339887498949
        x - math.floor(x)
      }
    def vertex(): Long =
      if (skewed) vertexId(zipfRank(cdf, vertexDraw()), shape.vertices)
      else vertexId((vertexDraw() * shape.vertices).toInt min (shape.vertices - 1), shape.vertices)
    def graph(): Int = 1 + (u() * shape.graphs).toInt.min(shape.graphs - 1)
    def term(g: Int): QueryTerm = QueryTerm(vertex(), g, isForward = u() < 0.7)
    def program(g: Int): Seq[SelectOperation] = {
      val ops = Array[SelectOperation](IntersectionOp, UnionOp, DifferenceOp)
      val base = Seq(TermOp(term(g)), TermOp(term(g)), ops((u() * 3).toInt.min(2)))
      if (u() < 0.4) base ++ Seq(TermOp(term(g)), ops((u() * 3).toInt.min(2))) else base
    }
    val pick = { val x = u(); only.map(OpPick).getOrElse(x) }
    val g = graph()
    if (pick < 0.30) Contains(g, vertex(), vertex())
    else if (pick < 0.45) GetMetadata(g, vertex())
    else if (pick < 0.70) SimpleSelect(term(g), PageSize)
    else if (pick < 0.85) Compound(program(g), PageSize)
    else if (pick < 0.95)
      Count2(Seq.tabulate(10)(_ => if (u() < 0.5) Seq(TermOp(term(g))) else program(g)))
    else SelectEdges(QueryTerm(vertex(), g, isForward = u() < 0.7,
      states = Seq(State.Normal, State.Archived)), PageSize)
  }

  /** The read mix as a fixed cycle of 20: 6 contains, 3 get_metadata, 5 simple selects,
    * 3 compound selects, 2 count2 batches, 1 select_edges. A cycle instead of a draw per
    * request keeps the mix exact in short windows, so medians over the mix do not move
    * with the seed's share of slow ops.
    */
  val MixCycle: IndexedSeq[String] = IndexedSeq(
    "contains", "select", "get_metadata", "compound", "contains", "select", "count2",
    "contains", "select", "get_metadata", "compound", "contains", "select", "select_edges",
    "contains", "select", "get_metadata", "compound", "contains", "count2")

  /** Point and page reads of the `write_mix` readers: 2 contains, 2 simple selects and
    * 1 get_metadata per 5 — the reads whose answers a write changes first.
    */
  val ReaderCycle: IndexedSeq[String] = IndexedSeq("contains", "select", "get_metadata", "contains", "select")

  /** Read `i` of client `client` in `cycle` (clients start at different offsets). */
  def cycled(cycle: IndexedSeq[String], seed: Long, shape: Shape, skewed: Boolean, client: Int, i: Long): Read =
    read(seed, shape, skewed, client, i, Some(cycle(((i + client * 7L) % cycle.size).toInt)))

  /** A draw inside each op's share of the mix, to force one op type. */
  private val OpPick = Map("contains" -> 0.1, "get_metadata" -> 0.4, "select" -> 0.5,
    "compound" -> 0.8, "count2" -> 0.9, "select_edges" -> 0.97)

  val PageSize = 50

  // ---------------------------------------------------------------- write batches

  /** Batch `i` of the writer script, with keys uniform over the store's vertices.
    * Batches 3, 19, 35, ... (1 in 16) are 1,000-op bulk batches and batches 6, 22, ...
    * (1 in 16) are one wildcard vertex op; the rest hold 1–10 single-edge
    * add/remove/archive/negate ops. The fixed cadence puts one of each kind into
    * every run that gets past batch 6, so throughput does not hinge on a coin flip.
    * All ops of batch i carry updatedAt = 2,000,000 + i (newer than every base write).
    */
  def writeBatch(seed: Long, shape: Shape, i: Int): Seq[WriteOp] = {
    val stream = 7L
    var k = 0
    def u(): Double = { k += 1; unit(seed, stream, i.toLong, k) }
    def vertex(): Long = vertexId((u() * shape.vertices).toInt min (shape.vertices - 1), shape.vertices)
    def graph(): Int = 1 + (u() * shape.graphs).toInt.min(shape.graphs - 1)
    val kinds = Array(OpType.Add, OpType.Remove, OpType.Archive, OpType.Negate)
    def kind(): Int = kinds((u() * 4).toInt.min(3))
    val ts = WriteUpdatedAt + i
    def single(): WriteOp = WriteOp(graph(), vertex(), Some(vertex()), kind(), ts, isForward = u() < 0.7)
    i % 16 match {
      case 3 => Seq.fill(BulkOps)(single())
      case 6 => Seq(WriteOp(graph(), vertex(), None, kind(), ts, isForward = u() < 0.7))
      case _ => Seq.fill(1 + (u() * 10).toInt.min(9))(single())
    }
  }

  val WriteUpdatedAt = 2000000
  val BulkOps = 1000

  // ---------------------------------------------------------------- events table

  /** Row `i` of the generated `events` table for the batch phase: the columns and types
    * of the sf0.1 `events` parquet (100k rows, 1500 users), with users and payload drawn
    * from the seed. The graph operators derive their edge log from `event_id` and
    * `user_id` (`TestGraph.edgeLog`).
    */
  def event(seed: Long, i: Long): (Long, java.sql.Timestamp, Long, String, Double, String) = {
    val types = Array("signup", "click", "error", "view", "purchase")
    val ts = new java.sql.Timestamp(1704067200000L + i * 31536L)
    (i, ts, below(seed, 9, i, 0, EventUsers).toLong, types(below(seed, 9, i, 1, 5)),
      below(seed, 9, i, 2, 50000) / 100.0, s"""{"k": ${below(seed, 9, i, 3, 100)}}""")
  }

  val EventRows = 100000
  val EventUsers = 1500
}
