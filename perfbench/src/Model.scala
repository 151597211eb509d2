package perfbench

import scala.collection.mutable

import graft.model._
import graft.queries._

/** Plain-Scala last-writer-wins model of the generated graph and its write ops, used to
  * check the engine's answers. It restates the reference semantics (SURVEY §2.8) without
  * Spark:
  *  - edge LWW: per key the write with max (updatedAt, state priority, position);
  *  - vertex registers: per (graph, vertex, direction) max (updatedAt, state priority);
  *  - state domination: an edge write takes the highest-priority state of its preferred
  *    state, the source's forward register and the destination's backward register;
  *  - position rule: an existing edge keeps its position unless it is resurrected from
  *    Removed or Negative into Normal.
  */
final class Model {
  import Model._

  private val edges = new mutable.LongMap[EdgeVal]()
  private val out = new mutable.LongMap[LongBuf]()
  private val in = new mutable.LongMap[LongBuf]()
  private val registers = mutable.HashMap.empty[(Int, Long, Boolean), (Int, Int)]

  def size: Int = edges.size

  /** Fold one edge write into the snapshot. */
  def write(g: Int, s: Long, d: Long, position: Long, updatedAt: Int, state: Int): Unit = {
    val k = edgeKey(g, s, d)
    val nv = EdgeVal(position, updatedAt, state)
    edges.get(k) match {
      case None =>
        edges.update(k, nv)
        out.getOrElseUpdate(vKey(g, s), new LongBuf).add(d)
        in.getOrElseUpdate(vKey(g, d), new LongBuf).add(s)
      case Some(old) => if (wins(nv, old)) edges.update(k, nv)
    }
  }

  def edge(g: Int, s: Long, d: Long): Option[Edge] =
    edges.get(edgeKey(g, s, d)).map(v => Edge(g, s, d, v.position, v.updatedAt, 0, v.state))

  def contains(g: Int, s: Long, d: Long): Boolean =
    edge(g, s, d).exists(e => e.state == State.Normal || e.state == State.Negative)

  private def register(g: Int, v: Long, forward: Boolean): Option[Int] =
    registers.get((g, v, forward)).map(_._1)

  /** Snapshot edges on one side of a vertex: (neighbor, value). */
  private def side(g: Int, v: Long, forward: Boolean): Iterator[(Long, EdgeVal)] = {
    val buf = (if (forward) out else in).get(vKey(g, v))
    buf.iterator.flatMap(_.iterator).map { n =>
      val k = if (forward) edgeKey(g, v, n) else edgeKey(g, n, v)
      (n, edges(k))
    }
  }

  /** Per state: (edge count, newest updatedAt) on one side of a vertex. */
  private def perState(g: Int, v: Long, forward: Boolean): Map[Int, (Long, Int)] =
    side(g, v, forward).toSeq.groupBy(_._2.state).map { case (st, es) =>
      st -> (es.size.toLong, es.map(_._2.updatedAt).max)
    }

  /** Dominant state of a side: newest write, state priority breaking ties. */
  private def dominant(ps: Map[Int, (Long, Int)]): Option[Int] =
    if (ps.isEmpty) None
    else Some(ps.maxBy { case (st, (_, mu)) => (mu, State.priority(st)) }._1)

  def metadata(g: Int, s: Long): Option[Metadata] = {
    val ps = perState(g, s, forward = true)
    registers.get((g, s, true)) match {
      case Some((st, ua)) => Some(Metadata(g, s, st, ps.get(st).map(_._1).getOrElse(0L), ua))
      case None => dominant(ps).map(st => Metadata(g, s, st, ps(st)._1, ps(st)._2))
    }
  }

  /** Adjacency of a term: (neighbor, edge value) in the term's states. */
  private def adjacency(t: QueryTerm): Seq[(Long, EdgeVal)] = {
    require(t.destinationIds.isEmpty, "the generated requests never carry where-in lists")
    side(t.graphId, t.sourceId, t.isForward).filter(e => t.effectiveStates.contains(e._2.state)).toSeq
  }

  def ids(node: QueryNode): Set[Long] = node match {
    case SimpleNode(t) => adjacency(t).map(_._1).toSet
    case IntersectNode(l, r) => ids(l) intersect ids(r)
    case UnionNode(l, r) => ids(l) union ids(r)
    case DifferenceNode(l, r) => ids(l) diff ids(r)
  }

  /** Expected `select` page: simple terms page by position, compound ones by id. */
  def select(node: QueryNode, page: Page): PagedResult[Long] = node match {
    case SimpleNode(t) =>
      val byPos = adjacency(t).map(e => e._2.position -> e._1).toMap
      val p = paginate(byPos.keys.toArray, page)
      PagedResult(p.items.map(byPos), p.nextCursor, p.prevCursor)
    case _ => paginate(ids(node).toArray, page)
  }

  def selectEdges(t: QueryTerm, page: Page): PagedResult[Edge] = {
    val rows = adjacency(t).map { case (n, v) =>
      val (s, d) = if (t.isForward) (t.sourceId, n) else (n, t.sourceId)
      v.position -> Edge(t.graphId, s, d, v.position, v.updatedAt, 0, v.state)
    }.toMap
    val p = paginate(rows.keys.toArray, page)
    PagedResult(p.items.map(rows), p.nextCursor, p.prevCursor)
  }

  /** `count2` estimates, as the reference documents them. */
  def count2(programs: Seq[Seq[SelectOperation]], config: GraftConfig = GraftConfig()): Seq[Long] =
    programs.map(p => estimate(SelectCompiler(p), config))

  private def estimate(node: QueryNode, config: GraftConfig): Long = node match {
    case SimpleNode(t) =>
      val ps = perState(t.graphId, t.sourceId, t.isForward)
      val stat = register(t.graphId, t.sourceId, t.isForward) match {
        case Some(st) => Some(st -> ps.get(st).map(_._1).getOrElse(0L))
        case None => dominant(ps).map(st => st -> ps(st)._1)
      }
      stat.collect { case (st, c) if t.effectiveStates.contains(st) => c }.getOrElse(0L)
    case IntersectNode(l, r) =>
      (math.min(estimate(l, config), estimate(r, config)) * config.averageIntersectionProportion).toLong
    case UnionNode(l, r) => math.max(estimate(l, config), estimate(r, config))
    case DifferenceNode(l, _) => estimate(l, config)
  }

  /** Apply one `execute` batch. Every edge write is resolved against the pre-batch
    * snapshot and the registers including this batch's own; the rows then fold by LWW.
    */
  def execute(ops: Seq[WriteOp]): Unit = {
    ops.filter(_.destinationId.isEmpty).foreach { op =>
      val key = (op.graphId, op.sourceId, op.isForward)
      val nv = (op.state, op.updatedAt)
      registers.get(key) match {
        case Some(old) if !registerWins(nv, old) => ()
        case _ => registers.update(key, nv)
      }
    }
    case class Row(g: Int, s: Long, d: Long, state: Int, updatedAt: Int, position: Option[Long])
    val perEdge = ops.flatMap {
      case op @ WriteOp(g, v, Some(other), _, _, _, fwd) =>
        val (s, d) = if (fwd) (v, other) else (other, v)
        Seq(Row(g, s, d, op.state, op.updatedAt, op.position))
      case op @ WriteOp(g, v, None, _, _, _, fwd) =>
        side(g, v, fwd).filter(_._2.state != State.Removed).map { case (n, _) =>
          val (s, d) = if (fwd) (v, n) else (n, v)
          Row(g, s, d, op.state, op.updatedAt, None)
        }.toSeq
    }
    val resolved = perEdge.map { r =>
      val f = register(r.g, r.s, forward = true).getOrElse(State.Normal)
      val b = register(r.g, r.d, forward = false).getOrElse(State.Normal)
      val eff = Seq(f, b, r.state).maxBy(State.priority)
      val old = edges.get(edgeKey(r.g, r.s, r.d))
      val resurrected = old.exists(o => o.state == State.Removed || o.state == State.Negative) &&
        eff == State.Normal
      val position =
        if (old.isEmpty || resurrected) r.position.getOrElse((r.updatedAt.toLong * 1000L) << 20)
        else old.get.position
      (r.g, r.s, r.d, position, r.updatedAt, eff)
    }
    resolved.foreach { case (g, s, d, p, ua, st) => write(g, s, d, p, ua, st) }
    lastRows = resolved.size
  }

  /** Edge rows the last [[execute]] appended to the store's log. */
  var lastRows: Int = 0

  /** Live edges (state Normal or Negative). */
  def liveEdges: Long = edges.valuesIterator.count(v => v.state == State.Normal || v.state == State.Negative)
}

object Model {

  final case class EdgeVal(position: Long, updatedAt: Int, state: Int)

  /** Growable primitive long list (adjacency without boxing). */
  final class LongBuf {
    private var a = new Array[Long](4)
    private var n = 0
    def add(x: Long): Unit = {
      if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
      a(n) = x; n += 1
    }
    def iterator: Iterator[Long] = a.iterator.take(n)
  }

  def edgeKey(g: Int, s: Long, d: Long): Long = (g.toLong << 60) | (s << 30) | d
  def vKey(g: Int, v: Long): Long = (g.toLong << 40) | v

  def wins(a: EdgeVal, b: EdgeVal): Boolean =
    if (a.updatedAt != b.updatedAt) a.updatedAt > b.updatedAt
    else if (a.state != b.state) State.priority(a.state) > State.priority(b.state)
    else a.position > b.position

  def registerWins(a: (Int, Int), b: (Int, Int)): Boolean =
    if (a._2 != b._2) a._2 > b._2 else State.priority(a._1) > State.priority(b._1)

  /** Keyset pagination over unique keys (`Pagination.paginateRows` semantics, `Cursor`). */
  def paginate(keys: Array[Long], page: Page): PagedResult[Long] = {
    val n = page.count
    val desc = keys.sorted(Ordering.Long.reverse)
    val end = Cursor.End
    if (page.cursor == end) PagedResult(Nil, end, end)
    else if (page.cursor >= Cursor.Start) {
      val fetched = (if (page.cursor == Cursor.Start) desc else desc.filter(_ < page.cursor)).take(n + 1)
      val shown = fetched.take(n).toSeq
      if (shown.isEmpty) PagedResult(Nil, end, end)
      else {
        val next = if (fetched.length > n) shown.last else end
        val prev =
          if (page.cursor == Cursor.Start) end
          else if (desc.exists(_ > shown.head)) -shown.head else end
        PagedResult(shown, next, prev)
      }
    } else {
      val c = -page.cursor
      val fetched = desc.reverse.filter(_ > c).take(n + 1)
      val asc = fetched.take(n)
      if (asc.isEmpty) PagedResult(Nil, end, end)
      else {
        val shown = asc.reverse.toSeq
        val prev = if (fetched.length > n) -shown.head else end
        val next = if (desc.exists(_ <= c)) shown.last else end
        PagedResult(shown, next, prev)
      }
    }
  }

  /** The model of the compacted base store for `seed`. */
  def base(seed: Long, shape: Gen.Shape): Model = {
    val m = new Model
    var i = 0L
    while (i < shape.writes) {
      val (g, s, d, p, ua, st) = Gen.baseWrite(seed, shape, i)
      m.write(g, s, d, p, ua, st)
      i += 1
    }
    m
  }
}
