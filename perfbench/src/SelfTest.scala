package perfbench

import java.security.MessageDigest

import graft.model._

/** Self-tests of the harness itself: input determinism, the percentile rule, and the
  * model's state-domination truth table. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {

  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "PASS" else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  /** SHA-256 over every generated input of a seed (a prefix of each stream). */
  def inputDigest(seed: Long): String = {
    val md = MessageDigest.getInstance("SHA-256")
    def add(x: Any): Unit = md.update((x.toString + "\n").getBytes("UTF-8"))
    val shape = Gen.StoreShape
    (0L until 200000L).foreach(i => add(Gen.baseWrite(seed, shape, i)))
    for (skewed <- Seq(true, false); c <- 0 until 4; i <- 0L until 500L)
      add(Gen.read(seed, shape, skewed, c, i))
    (0 until 64).foreach(i => add(Gen.writeBatch(seed, shape, i)))
    (0L until Gen.EventRows.toLong).foreach(i => add(Gen.event(seed, i)))
    md.digest().map("%02x".format(_)).mkString
  }

  def determinism(): Unit = {
    val (a, b, c) = (inputDigest(11), inputDigest(11), inputDigest(12))
    check("same seed gives byte-identical inputs", a == b, s"$a vs $b")
    check("another seed gives other inputs", a != c)
  }

  def percentileRule(): Unit = {
    def at(n: Int): Option[Double] = Stats.tail((1 to n).map(_.toDouble)).map(_._1)
    check("1000 samples report p99", at(1000).contains(0.99), s"${at(1000)}")
    check("999 samples fall back to p90", at(999).contains(0.9), s"${at(999)}")
    check("100 samples report p90", at(100).contains(0.9), s"${at(100)}")
    check("99 samples fall back to the median", at(99).contains(0.5), s"${at(99)}")
    check("20 samples report the median", at(20).contains(0.5), s"${at(20)}")
    check("19 samples support no percentile", at(19).isEmpty, s"${at(19)}")
    val xs = (1 to 1000).map(_.toDouble)
    check("p99 of 1..1000 is the 990th value", Stats.tail(xs).map(_._2).contains(990.0))
    check("median of 1..4 is the 2nd value (nearest rank)", Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.0)
  }

  /** The reference's state-resolution matrix (`unit/JobSpec.scala:126-148`). */
  def truthTable(): Unit = {
    val (g, bob, mary) = (1, 10L, 20L)
    val matrix = Seq(
      ("normal add", State.Normal, None, None, State.Normal),
      ("add when bob archived", State.Normal, Some(State.Archived), None, State.Archived),
      ("add when mary archived", State.Normal, None, Some(State.Archived), State.Archived),
      ("normal remove", State.Removed, None, None, State.Removed),
      ("normal archive", State.Archived, None, None, State.Archived),
      ("archive when mary removed", State.Archived, None, Some(State.Removed), State.Removed),
      ("archive when bob removed", State.Archived, Some(State.Removed), None, State.Removed),
      ("add when bob negated", State.Normal, Some(State.Negative), None, State.Negative),
      ("negate when mary archived", State.Negative, None, Some(State.Archived), State.Archived))
    matrix.foreach { case (name, preferred, bobFwd, maryBwd, expected) =>
      val m = new Model
      val regs = bobFwd.map(s => WriteOp(g, bob, None, s, 100, isForward = true)).toSeq ++
        maryBwd.map(s => WriteOp(g, mary, None, s, 100, isForward = false)).toSeq
      if (regs.nonEmpty) m.execute(regs)
      m.execute(Seq(WriteOp(g, bob, Some(mary), preferred, 200)))
      val got = m.edge(g, bob, mary).map(_.state)
      check(s"truth table: $name", got.contains(expected), s"got $got, want $expected")
    }
    // position rule: archive then unarchive keeps positions; remove then add takes a new one
    val m = new Model
    m.write(g, bob, mary, 500, 50, State.Normal)
    m.execute(Seq(WriteOp(g, bob, None, State.Archived, 100)))
    m.execute(Seq(WriteOp(g, bob, None, State.Normal, 200)))
    check("unarchive keeps the original position", m.edge(g, bob, mary).map(_.position).contains(500L))
    m.execute(Seq(WriteOp(g, bob, Some(mary), State.Removed, 300)))
    m.execute(Seq(WriteOp(g, bob, Some(mary), State.Normal, 400)))
    check("resurrection from Removed takes a new position",
      m.edge(g, bob, mary).map(_.position).contains((400L * 1000L) << 20))
    // equal timestamps: the higher-priority state wins
    val t = new Model
    t.write(g, bob, mary, 1, 100, State.Normal)
    t.write(g, bob, mary, 2, 100, State.Negative)
    t.write(g, bob, mary, 3, 100, State.Normal)
    check("tie on updatedAt resolves by state priority", t.edge(g, bob, mary).map(_.state).contains(State.Negative))
  }

  def run(): Boolean = {
    determinism()
    percentileRule()
    truthTable()
    println(s"${if (failures == 0) "ALL PASS" else s"$failures FAILED"}")
    failures == 0
  }
}
